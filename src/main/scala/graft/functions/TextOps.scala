package graft.functions

import graft.{Tables, U}
import graft.plans.PolyHash64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines — SURVEY.md §2 B.6
  * `text_stats` + language-ID, token counting, quality scoring, document
  * fingerprinting. All single-scan, codegen'd built-ins (the language-ID
  * profiles are broadcast literals, not a join).
  */
object TextOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  // PII patterns — the RE2∩Java-regex common dialect (validated on both
  // engines); shared by text_pii_scrub and pipeline_corpus_prep_v3.
  private[graft] val PiiEmail =
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val PiiPhone = """\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"""
  private[graft] val PiiIp = """\b(\d{1,3}\.){3}\d{1,3}\b"""

  /** Redaction in the pinned order email → phone → IP (sequential
    * replaces only commute when no pattern matches another's residue;
    * the oracle replays the identical order). */
  private[graft] def piiScrubbed(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>"), PiiIp, "<IP>")

  /** Per-doc character Shannon entropy of `txt`: (doc_id, n,
    * n_distinct_chars, entropy). H = ln n − (Σ c·ln c)/n from exact
    * char counts; c·ln c rounds to 1e-6 BEFORE the exact decimal sum
    * (the engine-wide discipline), so H is partition-order invariant
    * and engine-identical. Keyed shuffles carry (doc_id, char) counts. */
  private[graft] def charEntropyOf(docs: DataFrame, txt: Column): DataFrame = {
    val h = log(col("n").cast("double")) - col("sl") / col("n")
    // Fused per-doc kernel (r17, plans.CharEntropyStats): the explode-
    // per-character + (doc_id, char) aggregate shape shuffled one row
    // per CORPUS CHARACTER to compute a per-doc reduction (measured
    // 20 s CPU of text_char_entropy's 2.2 s sf0.1 wall). The kernel
    // counts code points where the document already is — map-only —
    // and its micro-unit term sum is bit-identical to the old
    // round6→DECIMAL(18,6) sum (see the kernel's Scaladoc). The
    // isNotNull filter replicates explode's drop of null-text docs.
    docs.select(col("doc_id"),
        call_function("char_entropy_stats", txt).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.n").as("n"),
        col("st.n_distinct").as("n_distinct_chars"),
        (col("st.sl_micro").cast("double") / lit(1e6)).as("sl"))
      .select(col("doc_id"), col("n"), col("n_distinct_chars"),
        U.round6(h).as("entropy"))
  }

  /** W=64/S=48 overlapping word windows of `txt`: (doc_id, chunk_idx,
    * start_word, n_tokens, chunk). n_chunks = 1 + ceil(max(0, n−W)/S):
    * starts 0, S, 2S, … cover every word, the last window truncating at
    * the tail (verified n = W, W+1, kS+W±1 by hand; TextOpsSpec pins
    * planted boundaries). One codegen sequence+explode — map-only,
    * output-bounded. */
  private[graft] def chunksOf(docs: DataFrame, txt: Column): DataFrame = {
    val W = 64
    val S = 48
    val wdocs = docs.select(col("doc_id"), split(txt, " ").as("w"))
    val nc = (lit(1) + floor(
      (greatest(size(col("w")) - lit(W), lit(0)) + lit(S - 1))
        .cast("double") / lit(S))).cast("int")
    wdocs
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), nc - 1)).as("ci"))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        (col("ci").cast("long") * S).as("start_word"),
        U.lng(size(slice(col("w"), col("ci") * S + 1, lit(W))))
          .as("n_tokens"),
        array_join(slice(col("w"), col("ci") * S + 1, lit(W)), " ")
          .as("chunk"))
  }

  /** Cached (token_id, term, tf) vocabulary for dataset `d`, a
    * [[graft.Derived]] entry: the vocabulary is a property of the
    * DATASET, not of each tokenization query, so re-aggregating the
    * corpus on every apply would dominate the tokenize cost; a rewritten
    * corpus rebuilds it (and unpersists the old one).
    *
    * The entry holds a CACHED DATAFRAME, never driver rows: the vocab
    * stays executor-resident (this is the persisted-vocab-table shape a
    * 100 TB pipeline uses) and the tokenizer broadcast-joins it — no
    * collect → literal round trip through the driver. The size guard is
    * a distributed count() against the broadcast-sanity cap, checked
    * BEFORE anything could materialize on the driver, so a copy-paste
    * onto a 10^8-term corpus fails loudly instead of OOMing. */
  private def vocabDf(s: SparkSession, d: String): DataFrame =
    graft.Derived.get(s, "vocab", d, "documents", s) { _ =>
      val df = queries("vocab_build")(s, d).persist()
      val n = df.count() // distributed; also materializes the cache
      require(n <= (1L << 20),
        s"vocabulary has $n terms — beyond the broadcast-sanity cap; " +
          "persist vocab_build output and shuffle-join the table instead")
      df
    }

  /** Tiny stopword profiles per language — n-gram/stopword heuristic
    * language ID. Deterministic argmax (ties broken by profile order). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "mit", "von", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "los", "que", "es", "con"),
    "fr" -> Seq("le", "la", "et", "les", "des", "que", "est", "dans"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you", "he", "ni"))

  /** Predicted language of a token-array column: most stopword hits wins;
    * ties resolve to the earliest profile (via negated index in the
    * ordering struct, picked by array_max's lexicographic struct order). */
  def langIdCol(tokens: Column): Column = {
    val scored = langProfiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        size(array_intersect(array_distinct(tokens), typedlit(words))).as("score"),
        lit(-i).as("rank"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Shared stage of the mixture queries: per-source token mass +
    * tau=0.5 temperature scaling. One definition so the temperature and
    * the engine-stability discipline (round6 before the exact-decimal
    * normalizer sum) cannot drift between the weights query and the
    * sampling query. Columns: source, src_n_docs, n_tokens, scaled. */
  private def perSourceScaled(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("src_n_docs"),
        U.lng(sum(size(split(col("text"), " ")))).as("n_tokens"))
      .withColumn("scaled",
        U.round6(pow(col("n_tokens").cast("double"), lit(0.5))))

  /** DuckDB mirror of [[perSourceScaled]] — the `per_src`/`sc` CTE text
    * shared by both mixture oracles (identical-by-construction). */
  private val MixPerSourceSql =
    """per_src AS (
      |  SELECT source, count(*) AS src_n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |sc AS (
      |  SELECT *, round(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1000000)
      |    / 1000000 AS scaled
      |  FROM per_src)""".stripMargin

  /** 16-bit hex digest prefix of doc_id — the reproducible sampling
    * carve every hash-threshold sampler compares against. One
    * definition (with [[DigestPrefixSql]] as its oracle mirror) so the
    * digest scheme/width can never drift between samplers. */
  private def digestPrefix: Column =
    substring(md5(col("doc_id").cast("string")), 1, 4)

  /** DuckDB mirror of [[digestPrefix]]. */
  private val DigestPrefixSql = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"

  /** DuckDB mirror of [[qualityCol]] + round6 — a scalar SQL snippet
    * over column `text`, shared by the quality-score oracle and the
    * quality-weighted sampling oracle (identical-by-construction). */
  private val QualityScoreSql =
    """round((
      |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 20.0, 1.0) * 0.4 +
      |  (1.0 - least(CAST(length(text) -
      |      length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |      * 10.0 / length(text), 1.0)) * 0.3 +
      |  least(CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |      ['the','and','of','to','in','is','that','with',
      |       'der','die','und','das','ist','mit','von','nicht',
      |       'el','la','de','y','los','que','es','con',
      |       'le','et','les','des','est','dans',
      |       'shi','zai','wo','you','he','ni'])) AS DOUBLE) / 3.0, 1.0) * 0.3
      |  ) * 1000000) / 1000000""".stripMargin

  /** Quality score in [0,1]: penalizes too-short docs, high punctuation
    * density, and stopword-free (non-linguistic) content. */
  def qualityCol(text: Column): Column = {
    val tokens = split(text, " ")
    val nTok = size(tokens)
    val lenScore = least(nTok.cast("double") / 20.0, lit(1.0))
    val punct = length(text) - length(regexp_replace(text, "[.,!?;:]", ""))
    val punctScore = lit(1.0) - least(punct.cast("double") * 10.0 / length(text), lit(1.0))
    val stops = typedlit(langProfiles.flatMap(_._2).distinct)
    val stopScore =
      least(size(array_intersect(array_distinct(tokens), stops)).cast("double") / 3.0,
        lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // N-gram novelty — what fraction of a document's 3-word shingles
    // appear in NO earlier document (by doc id): the per-document
    // freshness signal behind dedup-aware curation (near-zero novelty
    // = template spam even when no single pair crosses the Jaccard
    // threshold) and train-set ordering studies. First-occurrence
    // attribution is one min-aggregate on the gram key + a join back —
    // both shuffles carry (gram, doc) pairs with map-side partial
    // aggregation; the shingle set reuses the fused word_kgrams
    // codegen kernel (distinct per doc by construction).
    "text_gram_novelty" -> ((s, d) => {
      graft.plans.WordKGrams.register(s)
      val grams = Tables.t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.dedup.Dedup.wordKShingles(col("text"), 3))
            .as("g"))
      val firstSeen = grams.groupBy("g")
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(firstSeen, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L)
            .otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          U.round6(col("n_novel").cast("double") / col("n_grams")))
        .orderBy("doc_id")
    }),

    // RAKE keyword extraction (Rose et al. 2010) — unsupervised
    // per-document keyphrases: candidate phrases are maximal runs
    // between stopword/punctuation delimiters; a word's score is
    // degree/freq over the doc's phrase multiset (words that appear in
    // long phrases rank above words that appear often alone); a
    // phrase's score is the sum of its word scores; top 3 per doc.
    // All relational: explode to (doc, word), two aggregations, one
    // per-doc-partitioned rank window — shuffles carry (doc, word) and
    // (doc, phrase) keys, linear in token count. Determinism: word
    // scores are round6 integer ratios; phrase scores sum them through
    // exact decimals (a double sum would be partition-order dependent).
    // Regex classes stay in the Java∩RE2 common dialect (char classes
    // + \b on ASCII) so the DuckDB oracle replays them verbatim.
    "text_keyword_rake" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      def squish(p: Column): Column = trim(regexp_replace(p, " +", " "))
      val stops = "\\b(the|a|of|and|or|to|in)\\b"
      val seg = regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z ]", "|"), stops, "|")
      // NOT U.fan-ed (measured: warm min 7.6 s → 7.9 s with it): the
      // regex segmentation is planned twice at scan parallelism, but
      // fanning trades that for a full shuffle of the text column —
      // a wash here and strictly worse at production scale, where the
      // scan is already wide. Same negative result as feat_winsorize's.
      val base = t(s, d, "documents")
        .select(col("doc_id"),
          filter(transform(split(seg, "\\|"), p => squish(p)),
            p => p =!= "").as("phrases"))
      val inst = base
        .select(col("doc_id"), explode(col("phrases")).as("phrase"))
        .withColumn("wlen", size(split(col("phrase"), " ")))
      val wstats = inst
        .select(col("doc_id"), col("wlen"),
          explode(split(col("phrase"), " ")).as("word"))
        .groupBy("doc_id", "word")
        .agg(count(lit(1)).as("freq"), sum(col("wlen")).as("degree"))
        .withColumn("wscore",
          U.round6(U.dbl(col("degree")) / U.dbl(col("freq"))))
        .select(col("doc_id"), col("word"), col("wscore"))
      val scored = inst.select("doc_id", "phrase").distinct()
        .withColumn("word", explode(split(col("phrase"), " ")))
        .join(wstats, Seq("doc_id", "word"))
        .groupBy("doc_id", "phrase")
        .agg(U.round6(U.dbl(sum(U.dec6(col("wscore"))))).as("score"))
      scored
        .withColumn("rnk", row_number().over(
          W.partitionBy("doc_id").orderBy(col("score").desc, col("phrase"))))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("phrase"), col("score"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    // Per-document surface statistics (oracle-checked).
    "text_stats" -> ((s, d) => {
      val text = col("text")
      val tokens = split(text, " ")
      val stops = typedlit(Seq("the", "a", "of", "and", "or", "to", "in"))
      t(s, d, "documents").select(
        col("doc_id"),
        U.lng(length(text)).as("n_chars"),
        U.lng(size(tokens)).as("n_tokens"),
        U.round6(length(regexp_replace(text, " ", "")).cast("double") /
          size(tokens)).as("avg_token_len"),
        U.round6((length(text) - length(regexp_replace(text, "[.,!?;:]", "")))
          .cast("double") / length(text)).as("punct_ratio"),
        U.round6(size(array_intersect(array_distinct(tokens), stops))
          .cast("double") / size(array_distinct(tokens))).as("stop_hit_ratio"))
        .orderBy("doc_id")
    }),

    // Whitespace + BPE-ish regex token counts (oracle-checked).
    // Type-token ratio — per-doc lexical diversity (distinct words /
    // total words): low TTR marks repetitive/templated text, the
    // per-document twin of the corpus-level Zipf fit. Map-only array
    // math inside the scan; the ratio is small-integer division →
    // round6 with the engine-stable spelling.
    "text_ttr" -> ((s, d) => {
      val words = split(lower(col("text")), " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          size(words).cast("long").as("n_tokens"),
          size(array_distinct(words)).cast("long").as("n_types"))
        .withColumn("ttr", U.round6(
          col("n_types").cast("double") / col("n_tokens")))
        .orderBy("doc_id")
    }),

    // Feature hashing (the hashing trick): every token maps to one of
    // 64 buckets by md5, with a ±1 sign from the next hash nibble so
    // collisions cancel in expectation (Weinberger et al.'s signed
    // variant) — the vocabulary-free featurizer. This is the 100 TB
    // counterpart of vocab_build+vocab_apply: NO vocabulary state, no
    // broadcast, bounded output dimensionality; the whole operator is
    // map-side token math plus one (doc, bucket) aggregate that
    // collapses to ≤64 rows per doc before the exchange. Bucket and
    // sign are INTEGER functions of the md5 hex (conv here; the oracle
    // spells the same two nibbles via strpos — integer-exact either
    // way, no float bridge needed).
    "text_feature_hash" -> ((s, d) => {
      val h = md5(col("term"))
      val b16 = conv(substring(h, 1, 2), 16, 10).cast("int")
      val sign = when(substring(h, 3, 1) < "8", 1).otherwise(-1)
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("term"))
        .select(col("doc_id"), (b16 % 64).as("bucket"), sign.as("s"))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("s")).as("weight"))
        .filter(col("weight") =!= 0)
        .orderBy("doc_id", "bucket")
    }),

    "text_token_count" -> ((s, d) => {
      val text = col("text")
      val bpeish = regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
      t(s, d, "documents").select(
        col("doc_id"),
        U.lng(size(split(text, " "))).as("ws_tokens"),
        U.lng(size(bpeish)).as("bpe_tokens"),
        U.round6(length(text).cast("double") / size(bpeish))
          .as("chars_per_token"))
        .orderBy("doc_id")
    }),

    // Vocabulary construction — the tokenizer-prep step: corpus term
    // frequencies, a min-count floor, then CONTIGUOUS token ids by
    // (freq desc, term). Ids come from the block-stitched numbering
    // (graft.operators.Windows.stitchedRowNumber) — a web-scale vocab is
    // 10^7+ rows, and Window.orderBy would sort it on one task. The
    // block key subdivides the Zipf mass: (-tf, first char) is monotone
    // along the (tf desc, term) order and splits the huge low-frequency
    // tail into per-letter blocks.
    "vocab_build" -> ((s, d) => {
      val terms = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .filter(col("tf") >= 3)
      graft.operators.Windows.stitchedRowNumber(
        terms,
        struct((-col("tf")).as("a"), substring(col("term"), 1, 1).as("b")),
        Seq(col("tf").desc, col("term")), out = "token_id")
        .select(col("token_id"), col("term"), col("tf"))
        .orderBy("token_id")
    }),

    // Tokenization against the vocabulary — text to token-id sequences,
    // the pretraining pipeline's output format. Terms explode WITH
    // position, inner-join the vocab (drops OOV — min-count filtering
    // and id assignment live in vocab_build), and reassemble in document
    // order. The vocab side is the memoized CACHED DataFrame (vocabDf —
    // executor-resident, never a driver literal) and broadcasts
    // (10^5-10^7 rows — dims-sized); the corpus shuffles once on doc_id
    // for the reassembly, carrying (doc_id, pos, token_id) longs only,
    // never text. token_ids is emitted as the space-joined id string —
    // a sequence-file line, exactly what a tokenized-shard sink writes —
    // which also keeps the checked output scalar (flat comparators
    // can't sort ARRAY cells; OracleShapeSpec pins the convention).
    "vocab_apply" -> ((s, d) => {
      val vocab = vocabDf(s, d).select(col("term"), col("token_id"))
      // U.fan before the tokenize-explode: the per-word fan-out + the
      // broadcast probe are the query's cost and otherwise run at scan
      // parallelism (r13 sf1 profile: 1.9 s on 2 tasks, the single
      // largest stage)
      val exploded = U.fan(t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
        .filter(length(col("term")) > 0)
      exploded.join(broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("token_id")))),
          e => e.getField("token_id")).as("ids"))
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), " ").as("token_ids"),
          U.lng(size(col("ids"))).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Training-mix stratified sampling: per-source keep rates applied via
    // a CONTENT-HASH threshold — the reproducible "random" sample every
    // data-mixing pipeline needs. No RNG: the same rows survive on any
    // cluster, partitioning, run, or engine (md5 of the id compared
    // against the stratum's 16-bit hex threshold). Map-only: the filter
    // rides the scan, no shuffle, no sampleBy() seed drift.
    "sample_stratified" -> ((s, d) => {
      val rates = Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
        "src3" -> 0.25)
      val defaultRate = 0.1
      def hex(r: Double): String = {
        // round(r*65536) = 65536 for r in (~0.99996, 1.0); %04x would emit
        // 5 chars ("10000") which sorts BELOW "ffff" and inverts the keep
        // rate — treat the overflow like r >= 1.0
        val q = math.round(r * 65536)
        if (r >= 1.0 || q >= 65536L) "zzzz" // above every hex digest
        else f"${math.max(0L, q).toInt}%04x"
      }
      val thr = rates.foldLeft(lit(hex(defaultRate))) { case (acc, (src, r)) =>
        when(col("source") === src, lit(hex(r))).otherwise(acc)
      }
      t(s, d, "documents")
        .filter(digestPrefix < thr)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    }),

    // Sequence packing for pretraining batches: concatenate documents in
    // order and cut at a token budget — pack_id = which context window a
    // document STARTS in. Packing is per language shard (the realistic
    // unit), so the running sum is a partitioned window, never a
    // single-partition sort; token sums are integers (exact, no decimal
    // bridge needed).
    // PII scrubbing — the redaction pass every shipped training corpus
    // runs: email / dotted-or-dashed phone / IPv4 literals counted on
    // the ORIGINAL text (counts are audit evidence) and replaced by
    // typed placeholders. Replacement order (email → phone → IP) is
    // pinned identically in the oracle — sequential replaces only
    // commute when no pattern matches another's placeholder or residue,
    // so the order is part of the operator contract, not cosmetics.
    // Map-only over the fanned corpus; the
    // patterns are RE2∩Java-regex common dialect (validated on both
    // engines), so counts and scrubbed text are engine-identical.
    "text_pii_scrub" -> ((s, d) =>
      U.fan(t(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"),
          U.lng(regexp_count(col("text"), lit(PiiEmail))).as("n_emails"),
          U.lng(regexp_count(col("text"), lit(PiiPhone))).as("n_phones"),
          U.lng(regexp_count(col("text"), lit(PiiIp))).as("n_ips"),
          piiScrubbed(col("text")).as("scrubbed"))
        .orderBy("doc_id")),

    // Character-level Shannon entropy — the gibberish/binary-noise gate
    // (natural language sits ~2.5-3.0 NATS per char — measured
    // 2.55-2.93 on this corpus; repeated-char spam scores near 0, so
    // the low_entropy flag cuts at 2.0). H = ln n − (Σ c·ln c)/n from exact per-char counts; the
    // transcendental c·ln c rounds to 1e-6 BEFORE the exact decimal
    // per-doc sum (the engine-wide discipline), so H is partition-order
    // invariant and engine-identical. The char explode is length×rows —
    // fanned, keyed shuffles only carry (doc_id, char) counts.
    // Empty documents are filtered IDENTICALLY on both engines (ADVICE
    // r10): Spark's split('', '') yields [''] (the doc would surface as
    // n=1, entropy 0) while DuckDB's string_split('', '') yields [] (the
    // doc would vanish) — entropy of an empty string is undefined either
    // way, so both sides pin `length(text) > 0` explicitly.
    "text_char_entropy" -> ((s, d) =>
      charEntropyOf(
        U.fan(t(s, d, "documents").select("doc_id", "text")
          .filter(length(col("text")) > 0)), col("text"))
        .select(col("doc_id"), col("n").as("n_chars_total"),
          col("n_distinct_chars"),
          col("entropy"),
          (col("entropy") < 2.0).as("low_entropy"))
        .orderBy("doc_id")),

    // Fixed-window overlapping chunking — the context-window splitter
    // every pretraining/RAG pipeline runs before embedding or packing:
    // W = 64-word windows at stride S = 48 (16-word overlap), the tail
    // window truncating rather than padding. Chunk starts come from ONE
    // codegen sequence+explode over the fanned corpus (map-only after
    // the fan exchange; the k-per-doc fan-out is length-bounded, never
    // corpus-squared), so at 100 TB this is a single pass that scales
    // with output size. chunk_idx/starts are exact integer arithmetic —
    // no rounding bridge anywhere.
    "text_chunk_overlap" -> ((s, d) =>
      chunksOf(U.fan(t(s, d, "documents").select("doc_id", "text")),
          col("text"))
        .orderBy("doc_id", "chunk_idx")),

    // Curriculum shard ordering — shortest-first curriculum over the
    // corpus, dealt round-robin into 8 shards so every shard sees the
    // same difficulty ramp (the data-ordering step curriculum-training
    // pipelines run after filtering): global rank by (n_chars, doc_id)
    // via the block-stitched numbering helper (per-block windows + a
    // broadcast offset table — NEVER a global single-partition window),
    // then shard = (rank-1) mod 8, position = (rank-1) div 8. All
    // integer arithmetic; scales as one keyed window + one broadcast.
    "order_curriculum_shards" -> ((s, d) => {
      val Shards = 8
      val ranked = graft.operators.Windows.stitchedRowNumber(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        floor(col("n_chars") / 256).cast("long"),
        Seq(col("n_chars"), col("doc_id")), "rank")
      ranked.select(col("doc_id"), col("n_chars"), col("rank"),
          ((col("rank") - 1) % Shards).cast("long").as("shard"),
          floor((col("rank") - 1).cast("double") / Shards).cast("long")
            .as("pos_in_shard"))
        .orderBy("rank")
    }),

    // Length-bucketed batching efficiency (batch_padding_waste): the
    // eval that justifies sorting-by-length before batching — per
    // strategy ('arrival' = doc_id order, 'sorted' = token-count
    // order), docs deal into consecutive batches of 32 and every batch
    // pads to its longest member; waste = Σ(batch_max − len). Exact
    // integer accounting end to end (the ratio rounds once at the
    // edge). Rankings come from the block-stitched numbering helper —
    // NEVER a global single-partition window — and the per-batch
    // aggregate is one keyed shuffle, linear in documents.
    "batch_padding_waste" -> ((s, d) => {
      val B = 32
      // null text would yield null n_tokens, and Spark (NULLS FIRST asc)
      // vs DuckDB row_number() (NULLS LAST) would rank it differently,
      // shifting every 'sorted' batch boundary — filter it like
      // pack_nextfit does (ADVICE r15).
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          U.lng(size(split(col("text"), " "))).as("n_tokens"))
      def waste(df: DataFrame, block: Column, order: Seq[Column],
          name: String): DataFrame = {
        val ranked = graft.operators.Windows.stitchedRowNumber(
          df, block, order, "rank")
        ranked
          .withColumn("batch_id", ((col("rank") - 1) / B).cast("long"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("cnt"), max(col("n_tokens")).as("mx"),
            sum(col("n_tokens")).as("tot"))
          .agg(count(lit(1)).as("n_batches"),
            U.lng(sum(col("tot"))).as("real_tokens"),
            U.lng(sum(col("cnt") * col("mx"))).as("padded_tokens"))
          .select(lit(name).as("strategy"), col("n_batches"),
            col("real_tokens"), col("padded_tokens"),
            (col("padded_tokens") - col("real_tokens")).as("waste"),
            U.round6((col("padded_tokens") - col("real_tokens"))
              .cast("double") / col("padded_tokens")).as("pad_ratio"))
      }
      waste(toks, floor(col("doc_id") / 8192).cast("long"),
          Seq(col("doc_id")), "arrival")
        .unionByName(waste(toks, floor(col("n_tokens") / 64).cast("long"),
          Seq(col("n_tokens"), col("doc_id")), "sorted"))
        .orderBy("strategy")
    }),

    "pack_sequences" -> ((s, d) => {
      val budget = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          U.lng(size(split(col("text"), " "))).as("n_tokens"))
        .withColumn("start_tok",
          sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("pack_id", floor(col("start_tok") / lit(budget.toDouble)))
        .select("doc_id", "lang", "n_tokens", "start_tok", "pack_id")
        .orderBy("doc_id")
    }),

    // No-split next-fit sequence packing — pack_sequences' concat-and-
    // chunk layout (GPT-style pretraining) slices documents across pack
    // boundaries; instruction-tuning and contrastive batches need WHOLE
    // documents, so this packs greedily without splitting: a doc that
    // would overflow the 512-token budget closes the pack and opens the
    // next (an oversized doc rides alone in its own pack). The fold is
    // inherently sequential — the house secondary-sort shape (one
    // exchange, partition-local sort, O(1) state; the window_cusum_drift
    // pattern) — but keyed by (lang, SHARD of 256 doc_ids), not lang
    // alone: per-lang chains would cap parallelism at the language count
    // at 100 TB, while sharding scales parallelism with data and bounds
    // the cost at one partial pack per shard boundary. The oracle
    // replays the identical fold as a recursive CTE per (lang, shard).
    "pack_nextfit" -> ((s, d) => {
      import s.implicits._
      val budget = 512L
      val src = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("lang"),
          floor(col("doc_id") / 256).cast("long").as("shard"),
          col("doc_id"),
          U.lng(size(split(col("text"), " "))).as("n_tokens"))
        .as[(String, Long, Long, Long)]
      src.repartition(col("lang"), col("shard"))
        .sortWithinPartitions("lang", "shard", "doc_id")
        .mapPartitions { it =>
          var curLang: String = null; var curShard = Long.MinValue
          var pack = 1L; var fill = 0L
          it.map { case (lang, shard, did, n) =>
            if (lang != curLang || shard != curShard) {
              curLang = lang; curShard = shard; pack = 1L; fill = n
            } else if (fill + n > budget) { pack += 1L; fill = n }
            else fill += n
            (did, lang, shard, n, pack, fill)
          }
        }
        .toDF("doc_id", "lang", "shard", "n_tokens", "pack_seq",
          "pack_fill")
        .orderBy("doc_id")
    }),

    // Heuristic language ID (deterministic stopword-hit argmax, ties to
    // the earliest profile — oracled as a CASE cascade in DuckDB).
    "text_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), col("lang").as("labeled_lang"),
        langIdCol(split(lower(col("text")), " ")).as("predicted_lang"))
        .orderBy("doc_id")),

    // Composite quality score (deterministic per-row double arithmetic —
    // oracled; see graft.U scaladoc for the cross-engine float rules).
    "text_quality_score" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), U.round6(qualityCol(col("text"))).as("quality"))
        .orderBy("doc_id")),

    // Quality-weighted sampling — per-ROW adaptive keep rate (the
    // soft-filter between a hard quality gate and uniform sampling):
    // keep probability proportional to the doc's quality score,
    // realized as the same reproducible md5-threshold carve as
    // sample_stratified, but with the 16-bit threshold computed from
    // each row's own quality. Map-only, no RNG, no shuffle; the 0.9
    // cap keeps the %04x encoding below its 65536 overflow.
    // Weighted sampling WITHOUT replacement, exact k (Efraimidis-
    // Spirakis A-Res): each row gets key = ln(u)/w with u a
    // hash-derived uniform in (0,1) and w its weight (n_chars here);
    // the k LARGEST keys are the sample — equivalent to u^(1/w)
    // ranking, monotone-transformed to avoid pow. Deterministic end to
    // end: u = (unsigned(xxhash64(doc_id)) + 0.5) / 2^64 (no RNG —
    // the repo's hash-not-random doctrine), ln rounded per row to 12
    // decimals (transcendental bridge), tie-broken by doc_id. Top-k
    // compiles to TakeOrderedAndProject — no global sort, no shuffle
    // of the corpus, the 100 TB shape for "give me k docs sampled
    // ∝ weight". Bernoulli keep-rate sampling (sample_quality_weighted
    // below) cannot hit an exact k; this does.
    "sample_weighted_ares" -> ((s, d) => {
      val two64 = 1.8446744073709552e19 // 2^64 as the same double both engines see
      val h = xxhash64(col("doc_id"))
      val unsigned = h.cast("double") +
        when(h < 0, lit(two64)).otherwise(lit(0.0))
      val u = (unsigned + lit(0.5)) / lit(two64)
      val w = col("n_chars").cast("double")
      val key = round(log(u) / w * lit(1e12)) / lit(1e12)
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), key.as("ares_key"))
        .orderBy(col("ares_key").desc, col("doc_id"))
        .limit(50)
    }),

    "sample_quality_weighted" -> ((s, d) => {
      // null quality (null text) must mean keep-rate 0, not threshold
      // "null": format_string renders a null arg as the literal string
      // "null", which sorts ABOVE every hex digest and would keep the
      // row always — while the oracle's printf(NULL) drops it.
      val rate = coalesce(U.round6(qualityCol(col("text"))), lit(0.0)) *
        lit(0.9)
      val thr = format_string("%04x", floor(rate * lit(65536.0)).cast("int"))
      t(s, d, "documents")
        .filter(digestPrefix < thr)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Document fingerprint via the native codegen'd expression. Oracled:
    // the 64-bit wraparound polynomial is replayed in DuckDB with
    // HUGEINT mod-2^64 arithmetic over the same UTF-8 bytes.
    "text_fingerprint" -> ((s, d) => {
      PolyHash64.register(s)
      t(s, d, "documents")
        .select(col("doc_id"), expr("poly_hash64(text)").as("fingerprint"))
        .orderBy("doc_id")
    }),

    // PII-style redaction over the raw event payloads: mask email-shaped
    // tokens and digit runs, count what was masked. One codegen'd scan —
    // the shape of a scrubbing pass over 100 TB of crawl text.
    "text_pii_redact" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "[0-9]+"
      val p = col("props")
      t(s, d, "events").select(
        col("event_id"),
        regexp_replace(regexp_replace(p, emailRe, "<EMAIL>"), numRe, "<NUM>")
          .as("redacted"),
        U.lng(size(regexp_extract_all(p, lit(numRe), lit(0)))).as("n_num_runs"))
        .orderBy("event_id")
    }),

    // Token-window chunking with overlap (chunk=16 tokens, stride=12):
    // the standard context-window prep for LLM training corpora. Chunks
    // are derived per row with array ops — no shuffle until the output agg.
    "text_chunk_tokens" -> ((s, d) => {
      val chunk = 16
      val stride = 12
      val toks = split(col("text"), " ")
      val nChunks = when(size(toks) <= chunk, lit(1))
        .otherwise(ceil((size(toks) - chunk).cast("double") / stride)
          .cast("int") + 1)
      t(s, d, "documents")
        .select(col("doc_id"), toks.as("toks"), nChunks.as("nc"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), col("nc") - 1),
            i => slice(col("toks"), i * stride + 1, lit(chunk)))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          U.lng(size(col("col"))).as("n_toks"),
          element_at(col("col"), 1).as("first_tok"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Gopher-style repetition quality rules (Rae et al. 2021 §A1.1):
    // per document, the fraction of word 2-grams that are duplicates of
    // an earlier occurrence and the fraction taken by the single most
    // frequent 2-gram. Repetition is a PER-DOCUMENT reduction, so it is
    // computed where the document already is: the fused `gram_stats`
    // expression (plans.GramStats) counts positional grams in one pass
    // inside the scan — map-only, no Generate, no gram-string shuffle
    // (the explode + two-level groupBy formulation this replaces
    // shuffled every gram of the corpus just to count within doc_id).
    // Small-integer ratios → the engine-stable round6 spelling both sides.
    "text_repetition_stats" -> ((s, d) => {
      graft.plans.GramStats.register(s) // no-op under GraftExtensions
      val words = split(lower(col("text")), " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          call_function("gram_stats", words, lit(2)).as("g"))
        .filter(col("g").isNotNull) // < 2 words → no grams (explode-drop analog)
        .select(col("doc_id"),
          U.round6(lit(1.0) -
            col("g.n_distinct") / col("g.total").cast("double"))
            .as("dup_2gram_frac"),
          U.round6(col("g.max_n") / col("g.total").cast("double"))
            .as("top_2gram_frac"))
        .orderBy("doc_id")
    }),

    // Gopher REPETITION gate (Rae et al. 2021 §A1.1, the
    // character-weighted family): fraction of characters inside the
    // most frequent word 2-gram, inside duplicated 5-grams, and inside
    // repeated words — the signals that catch boilerplate/spam pages
    // whose count-based cousins (text_repetition_stats) under-weight
    // long repeated phrases. Contract pinned for the oracle: grams are
    // U+0001-joined word windows (the separator keeps "ab c"/"a bc"
    // distinct), a gram's character weight is its word characters only
    // (length − (n−1) separators), the doc denominator is its
    // space-stripped length, the top 2-gram breaks frequency ties by
    // (char-weight, gram) via struct-max — replayed field-for-field in
    // DuckDB — and dup fractions cap at 1.0 (overlapping occurrences
    // can over-count characters). Scale shape (r17): the fused
    // plans.GopherRep kernel counts all three gram widths per doc in
    // one map-only pass — no Generate, no gram-string shuffle, no
    // joins, no windows. Keep thresholds are
    // Gopher's (top-2-gram ≤ 0.20, dup-5-gram ≤ 0.15), compared on
    // ROUNDED values so the boolean cannot flip across engines; the
    // length(text) > 0 gate matches the oracle's WHERE (the
    // text_char_entropy empty-doc discipline).
    "text_gopher_repetition" -> ((s, d) => {
      // Fused per-doc kernel (r17, plans.GopherRep): the three-width
      // gram Generate + two string-keyed hash aggregates shuffled every
      // gram string of the corpus to compute a PER-DOC reduction
      // (measured 32 s CPU of the query's 2.5 s sf0.1 wall); the kernel
      // counts all three widths in one pass where the document already
      // is — map-only, exact same (count, char-length) accounting, the
      // oracle unchanged. U.fan: the kernel otherwise runs at scan
      // parallelism (one row group = one task at test SF).
      // Gate on non-space chars, not raw length (ADVICE r12): a doc of
      // ONLY spaces has dchars=0, and the fraction denominators diverge
      // between engines at /0 (Spark non-ANSI → NULL → coalesce 0.0;
      // DuckDB IEEE → NaN). Such a doc carries no repetition signal, so
      // both engines exclude it at the source.
      U.fan(t(s, d, "documents")
        .filter(length(regexp_replace(col("text"), " ", "")) > 0)
        .select(col("doc_id"), split(col("text"), " ").as("w"),
          U.lng(length(regexp_replace(col("text"), " ", ""))).as("dchars")))
        .select(col("doc_id"), col("dchars"),
          call_function("gopher_rep", col("w")).as("g"))
        .select(col("doc_id"),
          U.round6(coalesce(
            U.dbl(col("g.top2_c") * col("g.top2_gl")) / U.dbl(col("dchars")),
            lit(0.0))).as("top2gram_frac"),
          U.round6(least(lit(1.0),
            U.dbl(col("g.dup5")) / U.dbl(col("dchars")))).as("dup5gram_frac"),
          U.round6(least(lit(1.0),
            U.dbl(col("g.dupw")) / U.dbl(col("dchars")))).as("dup_word_frac"))
        .withColumn("keep",
          col("top2gram_frac") <= 0.2 && col("dup5gram_frac") <= 0.15)
        .orderBy("doc_id")
    }),

    // Gopher-style hard quality GATE (Rae et al. 2021 §A1.1 adapted to
    // the synthetic corpus): word-count band, mean-word-length band, and
    // a minimum distinct-word ratio, conjoined into a keep flag. The
    // filter step of a corpus pipeline — one codegen'd scan, no shuffle;
    // thresholds compare ROUNDED values so the boolean is bit-identical
    // across engines.
    "text_gopher_rules" -> ((s, d) => {
      val words = split(col("text"), " ")
      val nWords = U.lng(size(words))
      val meanLen = U.round6(
        length(regexp_replace(col("text"), " ", "")).cast("double") / nWords)
      val distinctRatio = U.round6(
        size(array_distinct(words)).cast("double") / nWords)
      t(s, d, "documents").select(
        col("doc_id"), nWords.as("n_words"),
        meanLen.as("mean_word_len"),
        distinctRatio.as("distinct_ratio"),
        (nWords.between(20, 1000) && meanLen.between(3.0, 10.0) &&
          distinctRatio > lit(0.2)).as("keep"))
        .orderBy("doc_id")
    }),

    // Deterministic fixed-size per-stratum sample: top-k by CONTENT HASH
    // within each source — "give me exactly k docs per source" with no
    // RNG, stable under re-runs/engines/partitioning (the companion to
    // sample_stratified's rate-based carve). The window partitions by
    // source (bounded state, never global) and shuffles only
    // (doc_id, source) + the 32-char digest.
    "sample_topk_hash_group" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .orderBy("source", "rn")
    }),

    // Corpus document-frequency / IDF top terms: the posting-list shape —
    // per-doc DISTINCT terms explode (map-side), partial+final count per
    // term, then the corpus-size scalar joins in as a 1-row broadcast and
    // top-k plans as TakeOrderedAndProject. The building block of
    // TF-IDF featurization and stopword discovery over a 100 TB corpus.
    "text_idf_topterms" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val total = docs.agg(count(lit(1)).as("n_docs"))
      docs
        .select(explode(array_distinct(split(lower(col("text")), " ")))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(total))
        .select(col("term"), col("df"),
          U.round6(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
            + lit(1.0)).as("idf"))
        .orderBy(col("df").desc, col("term")).limit(25)
    }),

    // End-to-end corpus preparation — the LLM-data ops COMPOSED in one
    // declarative plan: Gopher-style quality gate → exact-dedup survivor
    // election + soft weight (digest window) → language allowlist →
    // token-budget sequence packing (per-lang running sum) → digest
    // shard assignment. Two shuffles total (digest window, lang window);
    // every stage is the scale shape its standalone query pinned. The
    // output is the manifest a trainer consumes: one row per surviving
    // doc with its pack, shard, and loss weight.
    // The round-8 composed pipeline — paragraph-level dedup feeding the
    // TRAINED quality gate feeding the leakage-safe split, end to end
    // in one lineage: documents → dedup_paragraph reassembly →
    // ml.Logreg score over the CLEANED text (gate trained once on the
    // raw corpus, applied downstream — the realistic deployment order)
    // → length + score filter → group-holdout subset. Every stage is
    // individually replayable, so the oracle is the CONCATENATION of
    // their CTE stacks — the composability proof that the per-operator
    // replay discipline buys. Scale: stage shuffles are the operators'
    // own (chunk digests, one GD aggregation amortized via the weight
    // memo, map-only hash routing).
    // The round-10 stages composed end-to-end in one lineage: PII
    // redaction → char-entropy gibberish gate over the SCRUBBED text
    // (the realistic order — redaction changes the char distribution)
    // → exact dedup on the scrubbed text (min-doc_id survivor per md5
    // digest) → overlapping chunking → shortest-chunk-first curriculum
    // rank dealt round-robin into 8 shards. Every stage is the
    // registered operator's helper, so the oracle is the concatenation
    // of their CTE stacks (the composability proof, v2's discipline).
    // Scale: map-only scrub, keyed (doc_id, char) counts, digest
    // window, output-bounded chunk Generate, block-stitched rank — no
    // stage shuffles more than the operators' own.
    "pipeline_corpus_prep_v3" -> ((s, d) => {
      // EAGER localCheckpoint (r17): the scrubbed corpus has two
      // consumers (the entropy gate and the kept-join), and the
      // 3-pattern regexp scrub re-ran once per consumer without the cut.
      val scrubbed = U.fan(t(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"), piiScrubbed(col("text")).as("st"))
        .localCheckpoint(true)
      val gate = charEntropyOf(scrubbed, col("st"))
        .filter(col("entropy") >= 2.0).select("doc_id")
      val kept = scrubbed
        .join(gate, Seq("doc_id"), "left_semi")
        .withColumn("kid", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(md5(col("st")))))
        .filter(col("doc_id") === col("kid"))
        .select(col("doc_id"), col("st"))
      val chunks = chunksOf(kept, col("st"))
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
      graft.operators.Windows.stitchedRowNumber(chunks,
          col("n_tokens"),
          Seq(col("n_tokens"), col("doc_id"), col("chunk_idx")), "rank")
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("rank"), ((col("rank") - 1) % 8).cast("long").as("shard"))
        .orderBy("rank")
    }),

    // The round-11 composed pipeline: cross-document substring-span
    // REMOVAL (dedup_substring_strip — the later doc loses each shared
    // ≥16-word passage) → retention gate (docs that kept ≥ 10 words AND
    // ≥ half their content — the cross-multiplied INTEGER comparison
    // n_clean·2 ≥ n_words, no rounding boundary; retention is reported
    // round6 for humans, never compared) → source/lang manifest join →
    // deterministic 16-way shard routing on xxhash64(doc_id) (replayed
    // in the oracle via the XxhSqlOracle hashLong chain). Every stage
    // is the registered operator's own shape; the oracle is the
    // concatenation of their CTE stacks (the composability discipline
    // of v2/v3).
    "pipeline_corpus_prep_v4" -> ((s, d) => {
      val stripped = graft.dedup.Dedup.queries("dedup_substring_strip")(s, d)
      stripped
        .withColumn("n_tokens_clean", col("n_words") - col("n_dropped"))
        .filter(col("n_tokens_clean") >= 10 &&
          col("n_tokens_clean") * 2 >= col("n_words"))
        .join(t(s, d, "documents").select("doc_id", "source", "lang"),
          "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens_clean"), col("n_dropped"),
          U.round6(col("n_tokens_clean").cast("double") / col("n_words"))
            .as("retention"),
          pmod(xxhash64(col("doc_id")), lit(16L)).as("shard"))
        .orderBy("doc_id")
    }),

    "pipeline_corpus_prep_v2" -> ((s, d) => {
      val cleaned = graft.dedup.Dedup.queries("dedup_paragraph")(s, d)
      val w = graft.ml.Logreg.weights(s, d)
      val score = graft.ml.Logreg.scoreOf(col("clean_text"), w)
      val nTok = size(split(col("clean_text"), " ")).cast("long")
      cleaned
        .join(t(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .withColumn("n_tokens_clean", nTok)
        .withColumn("score", score)
        .filter(col("n_tokens_clean") >= 10 && col("score") >= 0.15)
        .withColumn("b", pmod(xxhash64(col("source")), lit(10)))
        .withColumn("subset",
          when(col("b") <= 7, "train").when(col("b") === 8, "val")
            .otherwise("test"))
        .select(col("doc_id"), col("source"), col("subset"),
          col("n_tokens_clean"), col("n_dropped"),
          U.round6(col("score")).as("score"))
        .orderBy("doc_id")
    }),

    "pipeline_corpus_prep" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val words = split(col("text"), " ")
      val nWords = U.lng(size(words))
      val meanLen = U.round6(
        length(regexp_replace(col("text"), " ", "")).cast("double") / nWords)
      val distinctRatio = U.round6(
        size(array_distinct(words)).cast("double") / nWords)
      val digestW = W.partitionBy("text_md5")
      val packW = W.partitionBy("lang").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("text_md5"), nWords.as("n_tokens"),
          meanLen.as("mwl"), distinctRatio.as("dr"))
        .filter(col("n_tokens").between(20, 1000) &&
          col("mwl").between(3.0, 10.0) && col("dr") > lit(0.2) &&
          col("lang").isin("en", "de", "es"))
        // survivor election + soft weight over the post-gate corpus
        .withColumn("keep_id", min(col("doc_id")).over(digestW))
        .withColumn("n_copies", count(lit(1)).over(digestW))
        .filter(col("doc_id") === col("keep_id"))
        .withColumn("weight", U.round6(lit(1.0) / col("n_copies")))
        // token-budget packing per language shard
        .withColumn("start_tok",
          sum(col("n_tokens")).over(packW) - col("n_tokens"))
        .withColumn("pack_id", floor(col("start_tok") / lit(512.0)))
        .withColumn("shard", U.lng(
          expr("instr('0123456789abcdef', substring(text_md5, 1, 1)) - 1")))
        .select("doc_id", "lang", "source", "n_tokens", "weight",
          "pack_id", "shard")
        .orderBy("doc_id")
    }),

    // Exact-count stratified train/val/test split (80/10/10 per lang):
    // the reproducible-split op every training pipeline needs when
    // hash-rate splits (sample_stratified) aren't exact enough. The
    // per-stratum position comes from ONE stitched global numbering
    // over (lang, doc_id-block) — no per-stratum global window (a
    // dominant lang at 100 TB would otherwise sort on one partition) —
    // then each stratum's start offset and size join back as a
    // #strata-row broadcast and the split is a map-side CASE.
    // GROUP-holdout split (GroupKFold semantics): every doc of a SOURCE
    // lands in the same subset, so near-duplicate/continuation leakage
    // across train/test cannot happen through shared provenance — the
    // leakage mode a per-doc split silently permits. Routing is
    // pmod(xxhash64(source), 10): deterministic, data-independent,
    // map-only (no shuffle at all — the hash is computed per row; at
    // 100 TB this is a free column). 0–7 train, 8 val, 9 test. The
    // oracle replays the string hash bit-exactly (stringHashCtes) over
    // the DISTINCT sources and joins back.
    "split_group_holdout" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          pmod(xxhash64(col("source")), lit(10)).as("b"))
        .withColumn("subset",
          when(col("b") <= 7, "train").when(col("b") === 8, "val")
            .otherwise("test"))
        .select("doc_id", "source", "subset")
        .orderBy("doc_id")),

    // Deterministic T5-style span corruption: the masking schedule is
    // pure positional arithmetic — token i of doc d is a span START iff
    // (i + d) mod 7 = 0 (replaced by the sentinel) and a span
    // CONTINUATION iff (i + d) mod 7 = 1 (dropped); everything else
    // passes through. The doc_id offset de-phases the schedule across
    // documents so the corpus-level mask rate is uniform without any
    // RNG — same hash-not-random doctrine as every sampler here, and
    // exactly replayable. Targets carry the masked-out tokens in order.
    // Map-only: transform/filter/concat_ws inside one projection.
    "text_span_corrupt" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val corrupted = transform(toks, (tok, i) =>
        when((i + col("doc_id")) % 7 === 0, lit("<X>"))
          .when((i + col("doc_id")) % 7 === 1, lit(null))
          .otherwise(tok))
      val masked = transform(toks, (tok, i) =>
        when((i + col("doc_id")) % 7 <= 1, tok))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(filter(masked, x => x.isNotNull)).cast("long").as("n_masked"),
          concat_ws(" ", filter(corrupted, x => x.isNotNull)).as("corrupted"),
          concat_ws(" ", filter(masked, x => x.isNotNull)).as("target"))
        .orderBy("doc_id")
    }),

    "split_train_val_test" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val rn = graft.operators.Windows.stitchedRowNumber(
        docs, struct(col("lang"), expr("doc_id div 499")),
        Seq(col("doc_id")), out = "grn")
      val st = rn.groupBy("lang")
        .agg(min(col("grn")).as("start"), count(lit(1)).as("n"))
      rn.join(broadcast(st), "lang")
        .withColumn("lrn", col("grn") - col("start") + lit(1L))
        .withColumn("subset",
          when(col("lrn") <= floor(col("n") * lit(0.8)), "train")
            .when(col("lrn") <= floor(col("n") * lit(0.8)) +
              floor(col("n") * lit(0.1)), "val")
            .otherwise("test"))
        .select("doc_id", "lang", "subset")
        .orderBy("doc_id")
    }),

    // BM25 lexical retrieval for a literal query-term set — the ranking
    // half of every retrieval/RAG data pipeline. One corpus scan
    // produces per-doc (dl, matched-term tf) with the query filter
    // applied BEFORE the explode aggregation, so the shuffle carries
    // only docs containing a query term (at 100 TB the posting list,
    // not the corpus). df is a ≤|Q|-row broadcast; the corpus scalars
    // (N, avgdl) a 1-row broadcast. Per-term scores round to 1e-6
    // before the exact decimal per-doc sum (partition-order invariant,
    // engine-identical); top-k plans as TakeOrderedAndProject.
    "text_bm25_topk" -> ((s, d) => {
      val qTerms = Seq("spark", "merge", "window")
      val k1 = 1.2; val b = 0.75
      val words = split(lower(col("text")), " ")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), words.as("w"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        U.lng(sum(size(col("w")))).as("tot_dl"))
      val tf = docs
        .select(col("doc_id"), U.lng(size(col("w"))).as("dl"),
          explode(col("w")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl",
          U.round6(col("tot_dl").cast("double") / col("n_docs")))
        .withColumn("idf", U.round6(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))))
        .withColumn("term_score", U.round6(
          col("idf") * (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl") / col("avgdl")))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matched"),
          U.dbl(sum(U.dec6(col("term_score")))).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(15)
    }),

    // Batch BM25 — ONE corpus scan answers a whole query workload (the
    // retrieval-engine shape, lexical sibling of sim_batch_topk): the
    // query set explodes to (qid, term) and BROADCASTS onto the
    // postings, per-(qid, doc) scores aggregate, and top-k is a window
    // PARTITIONED by qid (never a global sort). df/avgdl are computed
    // once for the union of query terms, shared across queries.
    "text_bm25_batch" -> ((s, d) => {
      val batch: Seq[(Int, String)] =
        Seq(1 -> "spark join", 2 -> "window merge sort", 3 -> "fast stream")
      val k1 = 1.2; val b = 0.75; val topK = 5
      val sess = s; import sess.implicits._
      val qterms = batch.toDF("qid", "q")
        .select(col("qid"), explode(split(col("q"), " ")).as("term"))
      val allTerms = batch.flatMap(_._2.split(" ")).distinct
      val words = split(lower(col("text")), " ")
      val docs = t(s, d, "documents").select(col("doc_id"), words.as("w"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        U.lng(sum(size(col("w")))).as("tot_dl"))
      val tf = docs
        .select(col("doc_id"), U.lng(size(col("w"))).as("dl"),
          explode(col("w")).as("term"))
        .filter(col("term").isin(allTerms: _*))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df_), "term")
        .join(broadcast(qterms), "term")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl",
          U.round6(col("tot_dl").cast("double") / col("n_docs")))
        .withColumn("idf", U.round6(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))))
        .withColumn("term_score", U.round6(
          col("idf") * (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl") / col("avgdl")))))
        .groupBy("qid", "doc_id")
        .agg(U.dbl(sum(U.dec6(col("term_score")))).as("bm25"))
      scored
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rnk") <= topK)
        .select(col("qid"), col("rnk"), col("doc_id"), col("bm25"))
        .orderBy("qid", "rnk")
    }),

    // Bigram LM surprisal with add-one smoothing (the KenLM-filter
    // shape one order up from text_unigram_logprob): bigram instances
    // come from codegen-native arrays_zip(slice, slice) — NOT a
    // transform() lambda (interpreted) and NOT word_kgrams (distinct
    // semantics; LM counts need multiplicity). Corpus bigram and
    // unigram counts are Zipf-unbounded at 100 TB, so their joins
    // carry no broadcast hint (AQE decides); V is a 1-row broadcast.
    // Same 1e-6-before-decimal-sum determinism discipline.
    "text_bigram_logprob" -> ((s, d) => {
      val words = split(lower(col("text")), " ")
      // ONE fanned corpus subtree feeds BOTH the bigram and the unigram
      // paths: the raw text scan is the dominant cost here (single row
      // group → 1 task, ~2.7 s at sf0.1) and with an identical
      // scan+fan subtree under both consumers AQE reuses the exchange —
      // one scan instead of two. The fan itself is the documented
      // test-layout remedy (tokenization otherwise also runs 1-task); a
      // multi-file production scan already has its parallelism.
      val corpus = U.fan(t(s, d, "documents").select("doc_id", "text"))
      // ≥2 words ⟺ text contains a space: split-on-' ' yields
      // separators+1 tokens (empties included), so size(split)≥2 is
      // EXACTLY instr(text,' ')≥1 — and the cheap predicate matters
      // because Catalyst pushes this filter BELOW the fan exchange onto
      // the 1-task scan, where the size(split(...)) spelling re-tokenized
      // the whole corpus serially (measured 2.6 s of the 0.77 s stage).
      val docs = corpus
        .filter(instr(col("text"), " ") >= 1)
        .select(col("doc_id"), words.as("w"))
      // Instance table cut with an EAGER localCheckpoint (r17): it has
      // two consumers (the bigram-count aggregate and the scoring join)
      // whose exchanges differ in shape (partial-agg rows vs raw rows),
      // so AQE reuse cannot dedup them — without the cut the whole
      // tokenize+explode subtree ran once per consumer. Executor-disk
      // materialization, same storage class as the shuffle it feeds.
      val inst = docs.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("g"))
        .select(col("doc_id"),
          concat_ws(" ", col("g").getField("0"), col("g").getField("1"))
            .as("gram"))
        .localCheckpoint(true)
      val bc = inst.groupBy("gram").agg(count(lit(1)).as("c_xy"))
      val uc = corpus // unigrams count ALL docs (no ≥2-word filter)
        .select(explode(split(lower(col("text")), " ")).as("wd"))
        .groupBy("wd").agg(count(lit(1)).as("c1"))
      val v = uc.agg(count(lit(1)).as("v"))
      // Per-GRAM surprisal computed on the vocab²-bounded gram table,
      // not per instance (r17): the old shape joined the data-scaled
      // instance table twice (by gram for c_xy, then by w1 for c1);
      // attaching c1/v to the gram rows first makes the instance table
      // cross exactly ONE join — same term per gram, identical result.
      val gramTerm = bc
        .withColumn("w1", split_part(col("gram"), lit(" "), lit(1)))
        .join(uc.withColumnRenamed("wd", "w1"), "w1")
        .crossJoin(broadcast(v))
        .select(col("gram"), U.round6(-log(
          (col("c_xy") + lit(1)).cast("double") /
            (col("c1") + col("v")).cast("double"))).as("term"))
      inst.join(gramTerm, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          U.dbl(sum(U.dec6(col("term")))).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          U.round6(col("ssum") / col("n_bigrams")).as("mean_surprisal"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney bigram probabilities (D = 0.75) — the
    // smoothing every serious n-gram LM filter uses instead of
    // add-one: the backoff weight is the DIVERSITY of continuations
    // (how many distinct words follow w1), and the unigram fallback is
    // the continuation probability (in how many distinct contexts does
    // w2 appear), not raw frequency — so "francisco" scores low after
    // anything but "san" even though it is frequent. Entirely
    // relational: the bigram count table (same arrays_zip instance
    // contract as text_bigram_logprob), its two marginals, and one
    // scalar type count; every statistic is an exact integer, the
    // closed form is per-row double math, so no decimal bridging is
    // needed anywhere. Shuffles carry (w1, w2) / (w1) / (w2) keys with
    // map-side combine — Zipf-bounded vocab, never corpus-scaled rows.
    "text_kneser_ney_bigram" -> ((s, d) => {
      val D = 0.75
      val words = split(lower(col("text")), " ")
      val docs = t(s, d, "documents")
        .filter(size(words) >= 2)
        .select(words.as("w"))
      val inst = docs.select(
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("g"))
        .select(col("g").getField("0").as("w1"),
          col("g").getField("1").as("w2"))
      val bg = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      // c_x = bigram-table left marginal (token count of w1 as a
      // context); n1p_fwd = |{w2 : c(w1 w2) > 0}| rides the same agg
      val cx = bg.groupBy("w1").agg(sum(col("c_xy")).as("c_x"),
        count(lit(1)).as("n1p_fwd"))
      val cont = bg.groupBy("w2").agg(count(lit(1)).as("n1p_rev"))
      val types = bg.agg(count(lit(1)).as("n_types"))
      bg.filter(col("c_xy") >= 2)
        .join(cx, "w1").join(cont, "w2")
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("c_xy"),
          U.round6(
            greatest(col("c_xy") - lit(D), lit(0.0)) / col("c_x")
              + lit(D) * col("n1p_fwd") / col("c_x")
              * (col("n1p_rev").cast("double") / col("n_types")))
            .as("p_kn"))
        .orderBy("w1", "w2")
    }),

    // DSIR importance resampling (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — public method):
    // score every document by the log-likelihood ratio of a TARGET
    // hashed-bigram model (here: the lang='en' slice) vs the RAW model
    // (whole corpus), keep positive-weight docs. Feature hashing makes
    // the models FIXED-SIZE — 256 buckets regardless of corpus size —
    // which is the whole scale story: both model fits are 256-row
    // aggregations with map-side partial combine, the ratio table is a
    // 256-row broadcast, and the apply side is one bounded groupBy per
    // doc (≤256 buckets/doc). No vocabulary-sized state anywhere.
    // Determinism: bucket = pmod(xxhash64(bigram), 256) (replayed in
    // the oracle via the XxhSqlOracle vocabulary hash); the per-bucket
    // log-ratio is transcendental → round6 per BUCKET (256 values),
    // then per-doc sums run in exact decimal (the text_unigram_logprob
    // discipline). Docs under 2 words carry no bigram evidence and are
    // excluded up front (both engines).
    //
    // Lifecycle: the model FIT is one 256-row aggregation collected to
    // the driver (bounded by construction — the feature-hash modulus,
    // not the data; same guarded-contraction rule as the IVF centroid
    // memo), ratios become a 256-row broadcast, and the APPLY side is
    // instance → broadcast-join → one groupBy(doc_id) in exact decimal
    // (summing r per instance ≡ n·r per bucket — decimal addition is
    // exact). The corpus is read twice (fit + apply), never more.
    "sample_dsir" -> ((s, d) => {
      val B = 256
      val words = split(lower(col("text")), " ")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), words.as("w"))
        .filter(size(col("w")) >= 2)
      val inst = docs.select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("g"))
        .select(col("doc_id"), col("lang"),
          pmod(xxhash64(concat_ws(" ",
            col("g").getField("0"), col("g").getField("1"))), lit(B)).as("b"))
      // fit: (bucket → raw count, target count), ≤B rows by construction
      val counts = inst.groupBy("b").agg(
        count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        .collect()
      require(counts.length <= B, s"dsir fit produced ${counts.length} buckets")
      val nr = counts.map(_.getLong(1)).sum
      val nt = counts.map(_.getLong(2)).sum
      import scala.jdk.CollectionConverters._
      val ratio = s.createDataFrame(
        counts.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), r.getLong(2))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cr",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ct",
            org.apache.spark.sql.types.LongType))))
        .select(col("b"), U.round6(
          log((col("ct") + lit(1.0)) / (lit(nt) + lit(B.toDouble))) -
          log((col("cr") + lit(1.0)) / (lit(nr) + lit(B.toDouble)))).as("r"))
      inst.join(broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(U.dbl(sum(U.dec6(col("r")))).as("dsir_weight"))
        .select(col("doc_id"), col("dsir_weight"),
          (col("dsir_weight") > 0).as("kept"))
        .orderBy("doc_id")
    }),

    // The perplexity GATE composed end-to-end (CCNet's actual filter):
    // bigram-LM doc scores → exact p90 threshold (1-row broadcast, the
    // feat_winsorize 4-decimal precision) → keep docs at or below it.
    // Composition evidence: the LM scorer is the registered query
    // re-used as a stage, not re-derived.
    "filter_perplexity_gate" -> ((s, d) => {
      // percentile input = one score per document → enforce + attribute
      // the dimension bound (VERDICT r13 item 4)
      graft.operators.Aggregates.pctBoundGuard(s, d, "documents",
        "filter_perplexity_gate")
      // EAGER localCheckpoint (r17): the scored table has two consumers
      // (the threshold aggregate and the gate filter), and the entire
      // composed LM-scoring pipeline re-ran once per consumer — the cut
      // materializes one row per document (executor disk) and both
      // consumers read that.
      val scores = queries("text_bigram_logprob")(s, d)
        .select(col("doc_id"), col("mean_surprisal"))
        .localCheckpoint(true)
      val thr = scores.agg(
        round(expr("percentile(mean_surprisal, 0.9)"), 4).as("thr"))
      scores.crossJoin(broadcast(thr))
        .filter(col("mean_surprisal") <= col("thr"))
        .select(col("doc_id"), col("mean_surprisal"))
        .orderBy("doc_id")
    }),

    // Unigram LM surprisal (the CCNet-style perplexity filter shape):
    // corpus unigram distribution — explode, partial+final count, 1-row
    // token total — then each doc scores mean -ln p(w) against the
    // broadcast vocabulary. Two passes over the corpus by nature (fit
    // the distribution, then apply it; at 100 TB the vocabulary is
    // persisted once and only the apply pass remains). Per-token
    // surprisal rounds to 1e-6 BEFORE the exact decimal per-doc sum, so
    // doc scores are partition-order invariant and engine-identical.
    "text_unigram_logprob" -> ((s, d) => {
      val toks = U.fan(t(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("tot"))
      // Per-WORD surprisal precomputed on the Zipf-bounded vocabulary
      // (r17): the old shape joined raw counts and evaluated
      // round6(-log(...)) once per corpus TOKEN; the term is a function
      // of the word alone, so computing it on the vocab rows and
      // broadcasting (w, term) gives identical per-token terms with the
      // transcendental evaluated |vocab| times instead of |corpus|.
      val terms = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          U.round6(-log(col("cnt").cast("double") / col("tot"))).as("term"))
      toks.join(broadcast(terms), "w")
        .select(col("doc_id"), col("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          U.dbl(sum(U.dec6(col("term")))).as("ssum"))
        .select(col("doc_id"), col("n_tokens"),
          U.round6(col("ssum") / col("n_tokens")).as("mean_surprisal"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled source mixture (the multilingual / multi-source
    // rebalancing step every training mix needs): per-source token masses
    // c_s from one fact scan, then w_s = c_s^tau / sum(c_s^tau) with
    // tau = 0.5 — upweights small sources, downweights dominant ones.
    // The per-source rollup is a partial+final aggregate (20 rows out of
    // the shuffle); the normalizing total is a 1-row broadcast. Powers
    // round to 1e-6 and sum through exact decimal, so the weights are
    // partition-order invariant and engine-identical. The tau constant
    // and precision discipline live ONCE in perSourceScaled /
    // MixPerSourceSql, shared with sample_mixture_budget below.
    "mix_temperature_weights" -> ((s, d) => {
      val perSrc = perSourceScaled(s, d)
        .withColumn("n_docs", col("src_n_docs"))
      val tot = perSrc.agg(U.dbl(sum(U.dec6(col("scaled")))).as("tot"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          U.round6(col("scaled") / col("tot")).as("weight"))
        .orderBy("source")
    }),

    // Token-budget mixture sampling — the temperature weights APPLIED:
    // each source's keep rate is min(1, budget * w_s / c_s), realized as
    // a reproducible content-hash threshold (no RNG — the same docs
    // survive on any cluster or engine). The budget is half the corpus
    // token mass (computed in the same pass), so the thresholds bite at
    // every SF instead of degenerating to keep-everything. The 20-row
    // rate table broadcasts back onto the fact, so the sample itself is
    // one map-only pass over the corpus: the shape that holds at 100 TB,
    // where the rate table is dims-sized and the fact never shuffles.
    "sample_mixture_budget" -> ((s, d) => {
      val perSrc = perSourceScaled(s, d)
      val tot = perSrc.agg(U.dbl(sum(U.dec6(col("scaled")))).as("tot"),
        U.lng(sum(col("n_tokens"))).as("tot_tokens"))
      val rates = perSrc.crossJoin(broadcast(tot))
        .select(col("source").as("r_source"),
          least(lit(1.0), U.round6(
            lit(0.5) * col("tot_tokens") * U.round6(col("scaled") / col("tot"))
              / col("n_tokens"))).as("rate"))
        // 16-bit hex threshold; rate >= 1 maps above every hex digest
        // (the %04x overflow guard sample_stratified documents)
        .withColumn("thr",
          when(col("rate") >= 1.0, lit("zzzz"))
            .otherwise(format_string("%04x",
              floor(col("rate") * 65536.0).cast("int"))))
      t(s, d, "documents")
        .join(broadcast(rates), col("source") === col("r_source"))
        .filter(digestPrefix < col("thr"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Bigram PMI — collocation mining over the corpus (the phrase-table /
    // tokenizer-merge shape), estimated over DOCUMENT frequencies (one
    // occurrence per doc — word_kgrams emits distinct grams, so unigrams
    // dedup per doc to match): unigram and bigram DF are two
    // partial+final aggregates (bigrams via the fused word_kgrams
    // expression — map-only shingling), the two count totals broadcast as
    // 1-row scalars, and the vocabulary joins back per bigram endpoint.
    // PMI arithmetic is all-double over exact long counts, identical on
    // any engine; output is bounded by the c_xy >= 5 support floor +
    // top-25, so the result is dims-sized at any corpus scale.
    // Zipf-law fit — corpus health profiling: natural text follows
    // freq ∝ rank^(-s) with s ≈ 1; a slope far off flags synthetic,
    // templated or degenerate corpora before they poison training.
    // ln-ln least squares over the ranked term table via the
    // agg_regression_exact closed form (decimal-bridged co-moments);
    // the only unpartitioned window ranks the AGGREGATED term counts
    // (≤ top-500 rows — the bounded-summary convention), never raw
    // rows. Transcendentals round at 1e-6 before the exact sums.
    "text_zipf_fit" -> ((s, d) => {
      val wc = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w")).limit(500)
      val ranked = wc.withColumn("r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("w"))).cast("long"))
        .withColumn("x", U.round6(log(col("r").cast("double"))))
        .withColumn("y", U.round6(log(col("f").cast("double"))))
      val n = col("n")
      val vx = col("sxx") - col("sx") * col("sx") / n
      val slope = (col("sxy") - col("sx") * col("sy") / n) / vx
      ranked.agg(count(lit(1)).as("n"),
          U.dbl(sum(U.dec6(col("x")))).as("sx"),
          U.dbl(sum(U.dec6(col("y")))).as("sy"),
          U.dbl(sum(U.dec6(col("x") * col("y")))).as("sxy"),
          U.dbl(sum(U.dec6(col("x") * col("x")))).as("sxx"))
        .select(n,
          when(n > 1 && vx > 0, U.round6(slope)).as("zipf_slope"),
          when(n > 1 && vx > 0,
            U.round6((col("sy") - slope * col("sx")) / n)).as("intercept"))
    }),

    "text_pmi_bigrams" -> ((s, d) => {
      graft.plans.WordKGrams.register(s)
      val words = split(lower(col("text")), " ")
      val docs = t(s, d, "documents")
      val uni = docs.select(explode(array_distinct(words)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nUni = uni.agg(U.lng(sum(col("c"))).as("n_uni"))
      val bi = docs.filter(size(words) >= 2)
        .select(explode(call_function("word_kgrams", words, lit(2)))
          .as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c_xy"))
      val nBi = bi.agg(U.lng(sum(col("c_xy"))).as("n_bi"))
      bi.filter(col("c_xy") >= 5)
        .withColumn("w1", split_part(col("gram"), lit(" "), lit(1)))
        .withColumn("w2", split_part(col("gram"), lit(" "), lit(2)))
        // NO broadcast hint on the vocabulary joins: uni is corpus-
        // vocabulary-sized (Zipf-unbounded at 100 TB, far past any
        // broadcast limit). The support-floored bigram side is the small
        // side; AQE picks broadcast at test scale and a shuffle join at
        // vocabulary scale on its own.
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("gram"), col("c_xy"),
          U.round6(log(
            (col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
              (col("n_bi").cast("double") * col("c1") * col("c2"))))
            .as("pmi"))
        .orderBy(col("c_xy").desc, col("gram")).limit(25)
    }),

    // Deterministic negative-pair sampling for contrastive training:
    // each doc gets k pseudo-random partner ids from a multiplicative
    // mixing of (doc_id, j) over the corpus-size ring — reproducible on
    // any engine/cluster (exact integer math, no RNG), map-only after a
    // 1-row corpus-size broadcast. Self-pairs shift by one slot. The
    // engine-side production variant would use xxhash64 mixing; the
    // Knuth multiplicative constant keeps the oracle SQL-expressible.
    // doc_id reduces mod 2^31 BEFORE the multiply: the product is then
    // bounded by 2^31 * 2654435761 < 2^63 at ANY corpus size (the raw
    // doc_id * K form overflows int64 past ~3.5e9 docs — silently under
    // non-ANSI Spark, loudly in the oracle engine).
    "pair_negative_sample" -> ((s, d) => {
      val k = 4
      val docs = t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      docs.select(col("doc_id"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_docs"),
          explode(sequence(lit(0L), lit(k - 1L))).as("j"))
        .withColumn("slot",
          pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L)
            + col("j") * lit(40503L), col("n_docs")))
        // ids are 0-based dense [0, n); shift self-hits forward one slot
        .withColumn("neg_id",
          when(col("slot") === col("doc_id"),
            pmod(col("slot") + 1, col("n_docs")))
            .otherwise(col("slot")))
        .select(col("doc_id"), col("j"), col("neg_id"))
        .orderBy("doc_id", "j")
    }),

    // One-pass corpus report — the data card a corpus release ships
    // with: volume, token mass, length distribution, language spread,
    // exact-dup rate, all from ONE scan + one tiny digest aggregate.
    // Every number is exact integer/decimal math (engine-identical).
    "corpus_report" -> ((s, d) => {
      // the median-tokens percentile buffers one entry per document →
      // enforce + attribute the dimension bound (VERDICT r13 item 4)
      graft.operators.Aggregates.pctBoundGuard(s, d, "documents",
        "corpus_report")
      val docs = t(s, d, "documents")
      val toks = U.lng(size(split(col("text"), " ")))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        U.lng(sum(toks)).as("n_tokens"),
        U.lng(min(toks)).as("min_tokens"),
        // floor() explicitly: a bare long cast truncates in Spark but
        // rounds in the oracle engine on interpolated .5 medians
        U.lng(floor(expr("percentile(size(split(text, ' ')), 0.5)")))
          .as("med_tokens"),
        U.lng(max(toks)).as("max_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val dups = docs.groupBy(md5(col("text")).as("dg"))
        .agg(count(lit(1)).as("c"))
        .agg(U.lng(sum(col("c") - 1)).as("dup_docs"))
      base.crossJoin(broadcast(dups))
    }),

    // Per-document TF-IDF top terms — the featurization counterpart of
    // text_idf_topterms: term frequency per (doc, term) and corpus DF
    // are two partial+final aggregates over one tokenization; the IDF
    // table (vocabulary-sized) joins the TF table on term — a plain
    // equi join AQE broadcasts at test scale and shuffles at corpus
    // scale — then a per-doc window keeps the top-3 scoring terms.
    // Scores round to 1e-6 with an exact-integer (tf, term) tiebreak, so
    // the kept terms are engine-identical.
    "text_tfidf_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tf = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val idf = df.crossJoin(broadcast(n))
        .select(col("term"),
          U.round6(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
            + lit(1.0)).as("idf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("score").desc, col("tf").desc, col("term"))
      tf.join(idf, "term")
        .withColumn("score", U.round6(col("tf") * col("idf")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("tf"),
          col("score"))
        .orderBy("doc_id", "rn")
    }),

    // Shard assignment for training-data output layout: 16 shards keyed
    // on the first hex digit of the content digest — map-only, uniform,
    // reproducible. At 100 TB this column feeds the writer's partitionBy
    // (co-locating a shard's files); the balance aggregate here proves
    // uniformity. instr() on the hex alphabet avoids conv(), which the
    // oracle engine lacks.
    // Readability scoring (Flesch-style): syllables approximated as
    // vowel GROUPS ([aeiouy]+ runs — the standard cheap proxy), the
    // whole document treated as one sentence (this corpus has no
    // sentence punctuation; the convention is part of the contract).
    // Pure per-row regex counting + double math → exact cross-engine.
    "text_reading_level" -> ((s, d) => {
      val words = split(col("text"), " ")
      val nw = size(words).cast("double")
      val syll = size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0))).cast("double")
      t(s, d, "documents").select(
        col("doc_id"),
        nw.cast("long").as("n_words"),
        syll.cast("long").as("n_syllables"),
        U.round6(syll / nw).as("syll_per_word"),
        U.round6(lit(206.835) - lit(1.015) * nw -
          lit(84.6) * (syll / nw)).as("flesch"))
        .orderBy("doc_id")
    }),

    "shard_assign" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("shard", U.lng(
          expr("instr('0123456789abcdef', " +
            "substring(md5(cast(doc_id as string)), 1, 1)) - 1")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("shard"))
  ,

    // SIZE-balanced shard assignment — hash sharding (above) balances
    // COUNTS but a heavy-tailed size distribution still skews bytes per
    // shard; training shards want equal token budgets. Deterministic
    // distributed near-FFD: global size-descending order via the
    // block-stitched numbering (no raw-row global window), then
    // serpentine round-robin over N shards (big items spread first,
    // each N-block reverses direction so the shard that got the largest
    // item gets the smallest of the next block — the classic
    // boustrophedon balance trick, fully positional and replayable,
    // unlike true FFD whose greedy state is inherently sequential).
    // Emits per-shard load evidence; the spread (max−min) is what
    // ShardBalanceSpec-style checks bound.
    "shard_balance_size" -> ((s, d) => {
      val n = 8
      val ranked = graft.operators.Windows.stitchedRowNumber(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        expr("- (n_chars div 64)"),
        Seq(col("n_chars").desc, col("doc_id")), out = "rn")
      ranked
        .withColumn("blk", expr(s"(rn - 1) div $n"))
        .withColumn("pos", expr(s"(rn - 1) % $n"))
        .withColumn("shard", U.lng(
          when(col("blk") % 2 === 0, col("pos"))
            .otherwise(lit(n - 1) - col("pos"))))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("shard")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    md5(unnest(string_split(lower(text), ' '))) AS h
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
        |      % 64 AS bucket,
        |    CASE WHEN substring(h, 3, 1) < '8' THEN 1 ELSE -1 END AS s
        |  FROM toks)
        |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
        |  CAST(SUM(s) AS BIGINT) AS weight
        |FROM feat GROUP BY doc_id, bucket
        |HAVING SUM(s) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,
    "text_gram_novelty" ->
      s"""WITH toks AS (
        |${graft.plans.XxhSqlOracle.kgramToksSql(3)}),
        |fs AS (SELECT g, min(doc_id) AS first_doc FROM toks GROUP BY g)
        |SELECT t.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fs.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN fs.first_doc = t.doc_id
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000)
        |    / 1000000 AS novelty
        |FROM toks t JOIN fs USING (g)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "text_keyword_rake" ->
      """WITH ph0 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(text), '[^a-z ]', '|', 'g'),
        |      '\b(the|a|of|and|or|to|in)\b', '|', 'g') AS s
        |  FROM documents),
        |inst AS (
        |  SELECT doc_id, trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
        |  FROM ph0, unnest(string_split(s, '|')) AS t(p)
        |  WHERE trim(regexp_replace(p, ' +', ' ', 'g')) <> ''),
        |wi AS (SELECT doc_id, phrase,
        |         len(string_split(phrase, ' ')) AS wlen
        |       FROM inst),
        |words AS (SELECT doc_id, wlen,
        |            unnest(string_split(phrase, ' ')) AS word
        |          FROM wi),
        |ws AS (
        |  SELECT doc_id, word,
        |    round(CAST(sum(wlen) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      * 1000000) / 1000000 AS wscore
        |  FROM words GROUP BY doc_id, word),
        |dp AS (SELECT DISTINCT doc_id, phrase FROM wi),
        |pw AS (SELECT doc_id, phrase,
        |         unnest(string_split(phrase, ' ')) AS word
        |       FROM dp),
        |sc AS (
        |  SELECT p.doc_id, p.phrase,
        |    round(CAST(sum(CAST(wscore AS DECIMAL(18, 6))) AS DOUBLE)
        |      * 1000000) / 1000000 AS score
        |  FROM pw p JOIN ws USING (doc_id, word)
        |  GROUP BY p.doc_id, p.phrase),
        |rk AS (
        |  SELECT doc_id, phrase, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT doc_id, phrase, score, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_reading_level" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |       AS BIGINT) AS n_syllables,
        |  round(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000000)
        |    / 1000000 AS syll_per_word,
        |  round((206.835
        |    - 1.015 * CAST(len(string_split(text, ' ')) AS DOUBLE)
        |    - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE)))
        |    * 1000000) / 1000000 AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,
    // serpentine balance replayed with a plain global rank — equality
    // doubles as the block-stitch proof (same contract as
    // ids_contiguous_assign)
    "shard_balance_size" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |a AS (SELECT doc_id, n_chars, (rn - 1) // 8 AS blk,
        |             (rn - 1) % 8 AS pos
        |      FROM r),
        |s AS (SELECT *, CASE WHEN blk % 2 = 0 THEN pos
        |                     ELSE 7 - pos END AS shard
        |      FROM a)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // poly_hash64 replayed in SQL: UTF-8 bytes recovered by hex()
    // pair-parsing, the h*31+b fold done in HUGEINT with an explicit
    // mod 2^64 (Java long wraparound), result re-signed to BIGINT.
    // Seed must equal plans.PolyHash64.Seed.
    "text_fingerprint" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |bytes AS (
        |  SELECT doc_id,
        |    CASE WHEN hx IS NULL THEN NULL ELSE
        |      list_transform(range(0, CAST(len(hx) AS BIGINT) // 2), i ->
        |        CAST((strpos('0123456789ABCDEF',
        |                     substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |                     substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1)
        |          AS HUGEINT))
        |    END AS bs
        |  FROM b)
        |SELECT doc_id,
        |  CASE WHEN bs IS NULL THEN NULL ELSE
        |    CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |              THEN h - CAST('18446744073709551616' AS HUGEINT)
        |              ELSE h END AS BIGINT)
        |  END AS fingerprint
        |FROM (
        |  SELECT doc_id, bs,
        |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), bs),
        |      (a, x) -> (a * 31 + x) %
        |        CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM bytes)
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, source, lang
        |FROM documents
        |WHERE $DigestPrefixSql <
        |  CASE source
        |    WHEN 'src0' THEN 'zzzz'
        |    WHEN 'src1' THEN 'c000'
        |    WHEN 'src2' THEN '8000'
        |    WHEN 'src3' THEN '4000'
        |    ELSE '199a' END
        |ORDER BY doc_id""".stripMargin,
    // the round-10 stages' CTE stacks concatenated (the v2 discipline)
    "pipeline_corpus_prep_v3" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
        |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS st
        |  FROM documents),
        |ch0 AS (SELECT doc_id, unnest(string_split(st, '')) AS c FROM sc),
        |cc AS (SELECT doc_id, c, count(*) AS cc FROM ch0 GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(cc * ln(cc) * 1000000) / 1000000
        |      AS DECIMAL(18, 6))) AS DOUBLE) AS sl
        |  FROM cc GROUP BY doc_id),
        |gate AS (SELECT doc_id FROM ent
        |         WHERE round((ln(n) - sl / n) * 1000000) / 1000000 >= 2.0),
        |kept AS (
        |  SELECT doc_id, st FROM (
        |    SELECT doc_id, st,
        |      min(doc_id) OVER (PARTITION BY md5(st)) AS kid
        |    FROM sc WHERE doc_id IN (SELECT doc_id FROM gate))
        |  WHERE doc_id = kid),
        |w AS (SELECT doc_id, string_split(st, ' ') AS w FROM kept),
        |nc AS (SELECT doc_id, w,
        |         1 + (greatest(len(w) - 64, 0) + 47) // 48 AS n_chunks
        |       FROM w),
        |chk AS (SELECT doc_id, w,
        |          unnest(generate_series(0, n_chunks - 1)) AS ci
        |        FROM nc),
        |out0 AS (
        |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |    CAST(len(w[ci * 48 + 1 : ci * 48 + 64]) AS BIGINT) AS n_tokens
        |  FROM chk),
        |r AS (SELECT *, row_number()
        |        OVER (ORDER BY n_tokens, doc_id, chunk_idx) AS rank
        |      FROM out0)
        |SELECT doc_id, chunk_idx, n_tokens, CAST(rank AS BIGINT) AS rank,
        |  CAST((rank - 1) % 8 AS BIGINT) AS shard
        |FROM r ORDER BY rank""".stripMargin,
    // composed replay: the strip's full CTE stack + the retention gate
    // (integer cross-multiplication) + the hashLong shard chain
    "pipeline_corpus_prep_v4" ->
      s"""WITH ${graft.dedup.Dedup.substringStripCtes},
        |gated AS (
        |  SELECT doc_id, n_words, n_dropped,
        |    n_words - n_dropped AS n_tokens_clean
        |  FROM stripped
        |  WHERE n_words - n_dropped >= 10
        |    AND (n_words - n_dropped) * 2 >= n_words),
        |v4ids AS (SELECT doc_id AS v FROM gated),
        |${graft.plans.XxhSqlOracle.longHashCtes("v4ids", "v4h")}
        |SELECT g.doc_id, dd.source, dd.lang,
        |  g.n_tokens_clean, g.n_dropped,
        |  round(CAST(g.n_tokens_clean AS DOUBLE) / g.n_words * 1000000)
        |    / 1000000 AS retention,
        |  ((v4h.h % 16) + 16) % 16 AS shard
        |FROM gated g
        |JOIN documents dd USING (doc_id)
        |JOIN v4h ON v4h.v = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // regexp_extract_all-len = Spark regexp_count; 'g' flag required for
    // replace-all; replacement order email → phone → IP mirrors the query.
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |cc AS (SELECT doc_id, c, count(*) AS cc FROM ch GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |    CAST(sum(CAST(round(cc * ln(cc) * 1000000) / 1000000
        |      AS DECIMAL(18, 6))) AS DOUBLE) AS sl
        |  FROM cc GROUP BY doc_id)
        |SELECT doc_id, n AS n_chars_total, n_distinct_chars,
        |  round((ln(n) - sl / n) * 1000000) / 1000000 AS entropy,
        |  (round((ln(n) - sl / n) * 1000000) / 1000000) < 2.0
        |    AS low_entropy
        |FROM agg ORDER BY doc_id""".stripMargin,
    // DuckDB list slicing truncates past the end exactly like Spark's
    // slice(); `//` is integer floor division on the non-negative count.
    "text_chunk_overlap" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |nc AS (
        |  SELECT doc_id, w,
        |    1 + (greatest(len(w) - 64, 0) + 47) // 48 AS n_chunks
        |  FROM docs),
        |ch AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, n_chunks - 1)) AS ci
        |  FROM nc)
        |SELECT doc_id,
        |  CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(ci * 48 AS BIGINT) AS start_word,
        |  CAST(len(w[ci * 48 + 1 : ci * 48 + 64]) AS BIGINT) AS n_tokens,
        |  array_to_string(w[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "order_curriculum_shards" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank,
        |  CAST((rank - 1) % 8 AS BIGINT) AS shard,
        |  CAST((rank - 1) // 8 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY rank""".stripMargin,
    "batch_padding_waste" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |ra AS (SELECT n_tokens,
        |         row_number() OVER (ORDER BY doc_id) AS rank FROM toks),
        |rs AS (SELECT n_tokens,
        |         row_number() OVER (ORDER BY n_tokens, doc_id) AS rank
        |       FROM toks),
        |ba AS (
        |  SELECT (rank - 1) // 32 AS batch_id, count(*) AS cnt,
        |    max(n_tokens) AS mx, sum(n_tokens) AS tot
        |  FROM ra GROUP BY 1),
        |bs AS (
        |  SELECT (rank - 1) // 32 AS batch_id, count(*) AS cnt,
        |    max(n_tokens) AS mx, sum(n_tokens) AS tot
        |  FROM rs GROUP BY 1),
        |agg AS (
        |  SELECT 'arrival' AS strategy, count(*) AS n_batches,
        |    CAST(sum(tot) AS BIGINT) AS real_tokens,
        |    CAST(sum(cnt * mx) AS BIGINT) AS padded_tokens
        |  FROM ba
        |  UNION ALL
        |  SELECT 'sorted', count(*),
        |    CAST(sum(tot) AS BIGINT), CAST(sum(cnt * mx) AS BIGINT)
        |  FROM bs)
        |SELECT strategy, n_batches, real_tokens, padded_tokens,
        |  padded_tokens - real_tokens AS waste,
        |  round(CAST(padded_tokens - real_tokens AS DOUBLE)
        |    / padded_tokens * 1000000) / 1000000 AS pad_ratio
        |FROM agg ORDER BY strategy""".stripMargin,
    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM toks)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(floor(start_tok / 512.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // identical left fold as the scan, per (lang, shard) chain
    "pack_nextfit" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(doc_id / 256) AS BIGINT) AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang, floor(doc_id / 256)
        |                       ORDER BY doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, lang, shard, n_tokens, rn,
        |    CAST(1 AS BIGINT) AS pack_seq, n_tokens AS pack_fill
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.lang, s.shard, s.n_tokens, s.rn,
        |    CASE WHEN r.pack_fill + s.n_tokens > 512
        |         THEN r.pack_seq + 1 ELSE r.pack_seq END,
        |    CASE WHEN r.pack_fill + s.n_tokens > 512
        |         THEN s.n_tokens ELSE r.pack_fill + s.n_tokens END
        |  FROM s JOIN r ON s.lang IS NOT DISTINCT FROM r.lang
        |    AND s.shard = r.shard AND s.rn = r.rn + 1)
        |SELECT doc_id, lang, shard, n_tokens, pack_seq, pack_fill
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_gopher_rules" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |        len(string_split(text, ' ')) * 1000000) / 1000000
        |    AS mean_word_len,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |        len(string_split(text, ' ')) * 1000000) / 1000000
        |    AS distinct_ratio,
        |  (len(string_split(text, ' ')) BETWEEN 20 AND 1000
        |   AND (round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |        len(string_split(text, ' ')) * 1000000) / 1000000)
        |        BETWEEN 3.0 AND 10.0
        |   AND (round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |        len(string_split(text, ' ')) * 1000000) / 1000000) > 0.2)
        |    AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Validated against a python mirror of the Spark contract over all
    // sf0.01 docs before wiring (struct-max tie order replays
    // field-for-field; chr(1) is the gram separator the Scala side
    // spells "\u0001").
    "text_gopher_repetition" ->
      """WITH d0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         length(replace(text, ' ', '')) AS dchars
        |  FROM documents WHERE length(replace(text, ' ', '')) > 0),
        |g AS (
        |  SELECT doc_id, dchars, ns.n,
        |         unnest(list_transform(range(1, len(w) - ns.n + 2),
        |                i -> array_to_string(w[i:i+ns.n-1], chr(1)))) AS gm
        |  FROM d0 CROSS JOIN (VALUES (1), (2), (5)) ns(n)),
        |c AS (
        |  SELECT doc_id, dchars, n, gm, count(*) AS c,
        |         length(gm) - (n - 1) AS gl
        |  FROM g GROUP BY ALL),
        |per AS (
        |  SELECT doc_id, dchars,
        |    max(CASE WHEN n = 2
        |        THEN struct_pack(c := c, gl := gl, gm := gm) END) AS top2,
        |    coalesce(sum(CASE WHEN n = 5 AND c >= 2 THEN c * gl END), 0)
        |      AS dup5,
        |    coalesce(sum(CASE WHEN n = 1 AND c >= 2 THEN c * gl END), 0)
        |      AS dupw
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  round(coalesce(CAST(top2.c * top2.gl AS DOUBLE) / dchars, 0.0)
        |        * 1000000) / 1000000 AS top2gram_frac,
        |  round(least(1.0, CAST(dup5 AS DOUBLE) / dchars)
        |        * 1000000) / 1000000 AS dup5gram_frac,
        |  round(least(1.0, CAST(dupw AS DOUBLE) / dchars)
        |        * 1000000) / 1000000 AS dup_word_frac,
        |  (round(coalesce(CAST(top2.c * top2.gl AS DOUBLE) / dchars, 0.0)
        |         * 1000000) / 1000000 <= 0.2
        |   AND round(least(1.0, CAST(dup5 AS DOUBLE) / dchars)
        |         * 1000000) / 1000000 <= 0.15) AS keep
        |FROM per ORDER BY doc_id""".stripMargin,
    "sample_topk_hash_group" ->
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents) t
        |WHERE rn <= 20 ORDER BY source, rn""".stripMargin,
    "text_idf_topterms" ->
      """WITH tf AS (
        |  SELECT unnest(list_distinct(string_split(lower(text), ' ')))
        |    AS term
        |  FROM documents),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, df,
        |  round((ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1000000) / 1000000
        |    AS idf
        |FROM df, n
        |ORDER BY df DESC, term LIMIT 25""".stripMargin,
    // the composability proof: paragraph stack + unrolled trainer +
    // cleaned-text apply + group-hash routing, concatenated
    "pipeline_corpus_prep_v2" ->
      ("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
         |            FROM documents),
         |mx AS (SELECT CAST(max(ceil(len(w) / 10.0)) AS BIGINT) AS m
         |       FROM tk),
         |ch AS (
         |  SELECT doc_id, ix.i AS chunk_idx,
         |    array_to_string(w[CAST(ix.i * 10 + 1 AS INT)
         |                      :CAST(ix.i * 10 + 10 AS INT)], ' ') AS chunk
         |  FROM tk, (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) ix
         |  WHERE ix.i < ceil(len(w) / 10.0)),
         |marked AS (
         |  SELECT doc_id, chunk_idx, chunk,
         |    row_number() OVER (PARTITION BY chunk
         |                       ORDER BY doc_id, chunk_idx) = 1 AS kept
         |  FROM ch),
         |cleaned AS (
         |  SELECT doc_id,
         |    CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dropped,
         |    coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
         |                        ORDER BY chunk_idx), '') AS clean_text
         |  FROM marked GROUP BY doc_id),
         |""".stripMargin +
        graft.ml.Logreg.trainSqlCtes.stripPrefix("WITH ") +
        s""",
           |feats2 AS (
           |  SELECT c.doc_id, d.source, c.n_dropped, c.clean_text,
           |    ${graft.ml.Logreg.featureSql("c.clean_text")}
           |  FROM cleaned c JOIN documents d USING (doc_id)),
           |scored AS (
           |  SELECT doc_id, source, n_dropped,
           |    CAST(len(string_split(clean_text, ' ')) AS BIGINT)
           |      AS n_tokens_clean,
           |    ${graft.ml.Logreg.applySql(s"w${graft.ml.Logreg.Iters}")}
           |      AS score
           |  FROM feats2, w${graft.ml.Logreg.Iters}),
           |srcs AS (SELECT DISTINCT source AS g FROM documents),
           |""".stripMargin +
        graft.plans.XxhSqlOracle.stringHashCtes("srcs", "shash") +
        """,
          |asg AS (SELECT g, ((h % 10) + 10) % 10 AS b FROM shash)
          |SELECT s.doc_id, s.source,
          |  CASE WHEN a.b <= 7 THEN 'train' WHEN a.b = 8 THEN 'val'
          |       ELSE 'test' END AS subset,
          |  s.n_tokens_clean, s.n_dropped,
          |  round(s.score * 1000000) / 1000000 AS score
          |FROM scored s JOIN asg a ON a.g = s.source
          |WHERE s.n_tokens_clean >= 10 AND s.score >= 0.15
          |ORDER BY s.doc_id""".stripMargin),
    "pipeline_corpus_prep" ->
      """WITH gated AS (
        |  SELECT doc_id, lang, source, md5(text) AS text_md5,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
        |    AND (round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |         len(string_split(text, ' ')) * 1000000) / 1000000)
        |         BETWEEN 3.0 AND 10.0
        |    AND (round(CAST(len(list_distinct(string_split(text, ' ')))
        |         AS DOUBLE) /
        |         len(string_split(text, ' ')) * 1000000) / 1000000) > 0.2
        |    AND lang IN ('en', 'de', 'es')),
        |surv AS (
        |  SELECT *,
        |    min(doc_id) OVER (PARTITION BY text_md5) AS keep_id,
        |    count(*) OVER (PARTITION BY text_md5) AS n_copies
        |  FROM gated),
        |kept AS (SELECT * FROM surv WHERE doc_id = keep_id),
        |packed AS (
        |  SELECT doc_id, lang, source, text_md5, n_tokens,
        |    round(CAST(1.0 AS DOUBLE) / n_copies * 1000000) / 1000000
        |      AS weight,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM kept)
        |SELECT doc_id, lang, source, n_tokens, weight,
        |  CAST(floor(start_tok / 512.0) AS BIGINT) AS pack_id,
        |  CAST(strpos('0123456789abcdef', substring(text_md5, 1, 1)) - 1
        |       AS BIGINT) AS shard
        |FROM packed ORDER BY doc_id""".stripMargin,
    // group routing replayed bit-exactly: hash the ~20 DISTINCT sources
    // through the xxh64 string chain, pmod via double-% on the signed
    // value, join back to docs
    "split_group_holdout" ->
      ("""WITH srcs AS (SELECT DISTINCT source AS g FROM documents),
         |""".stripMargin +
        graft.plans.XxhSqlOracle.stringHashCtes("srcs", "shash") +
        """,
          |asg AS (SELECT g, ((h % 10) + 10) % 10 AS b FROM shash)
          |SELECT doc_id, source,
          |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
          |       ELSE 'test' END AS subset
          |FROM documents JOIN asg ON asg.g = documents.source
          |ORDER BY doc_id""".stripMargin),
    "text_span_corrupt" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents),
        |m AS (SELECT doc_id, len(w) AS n,
        |  list_transform(range(0, len(w)), i ->
        |    CASE WHEN (i + doc_id) % 7 = 0 THEN '<X>'
        |         WHEN (i + doc_id) % 7 = 1 THEN NULL
        |         ELSE w[CAST(i + 1 AS INT)] END) AS corr,
        |  list_transform(range(0, len(w)), i ->
        |    CASE WHEN (i + doc_id) % 7 <= 1
        |         THEN w[CAST(i + 1 AS INT)] END) AS tgt
        |  FROM tk)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tgt, x -> x IS NOT NULL)) AS BIGINT)
        |    AS n_masked,
        |  array_to_string(list_filter(corr, x -> x IS NOT NULL), ' ')
        |    AS corrupted,
        |  array_to_string(list_filter(tgt, x -> x IS NOT NULL), ' ')
        |    AS target
        |FROM m ORDER BY doc_id""".stripMargin,
    "split_train_val_test" ->
      """WITH rn AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS lrn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN lrn <= floor(n * 0.8) THEN 'train'
        |       WHEN lrn <= floor(n * 0.8) + floor(n * 0.1) THEN 'val'
        |       ELSE 'test' END AS subset
        |FROM rn ORDER BY doc_id""".stripMargin,
    "text_bm25_topk" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS tot_dl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          unnest(w) AS term FROM docs)
        |  WHERE term IN ('spark', 'merge', 'window')
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT doc_id,
        |    round(
        |      (round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000)
        |        / 1000000)
        |      * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl /
        |          (round(CAST(tot_dl AS DOUBLE) / n_docs * 1000000)
        |            / 1000000)))
        |      * 1000000) / 1000000 AS term_score
        |  FROM tf JOIN df USING (term), stats)
        |SELECT doc_id, count(*) AS n_matched,
        |  CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    "text_bm25_batch" ->
      """WITH qs AS (
        |  SELECT * FROM (VALUES (1, 'spark join'),
        |    (2, 'window merge sort'), (3, 'fast stream')) AS t(qid, q)),
        |qterms AS (
        |  SELECT qid, unnest(string_split(q, ' ')) AS term FROM qs),
        |docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS tot_dl
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          unnest(w) AS term FROM docs)
        |  WHERE term IN (SELECT DISTINCT term FROM qterms)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT qid, doc_id,
        |    CAST(SUM(CAST(
        |      round(
        |        (round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000)
        |          / 1000000)
        |        * (tf * 2.2)
        |        / (tf + 1.2 * (0.25 + 0.75 * dl /
        |            (round(CAST(tot_dl AS DOUBLE) / n_docs * 1000000)
        |              / 1000000)))
        |        * 1000000) / 1000000
        |    AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |  FROM tf JOIN df USING (term) JOIN qterms USING (term), stats
        |  GROUP BY qid, doc_id),
        |ranked AS (
        |  SELECT qid,
        |    row_number() OVER (
        |      PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk,
        |    doc_id, bm25
        |  FROM scored)
        |SELECT qid, rnk, doc_id, bm25 FROM ranked
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // DSIR replay: hash the DISTINCT bigram vocabulary once
    // (XxhSqlOracle.hashBucketCtes — pmod(xxhash64, 256)), join
    // instances back, then the same 256-bucket model/ratio/decimal-sum
    // pipeline in plain SQL.
    "sample_dsir" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w
         |  FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= 2),
         |grams AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest(list_transform(
         |    generate_series(1, len(w) - 1),
         |    i -> array_to_string(w[i:i+1], ' '))) AS g
         |  FROM docs),
         |vocab AS (SELECT DISTINCT g FROM grams),
         |${graft.plans.XxhSqlOracle.hashBucketCtes("vocab", 256)},
         |db AS MATERIALIZED (
         |  SELECT grams.doc_id, grams.lang, bkt.b, count(*) AS n
         |  FROM grams JOIN bkt USING (g)
         |  GROUP BY grams.doc_id, grams.lang, bkt.b),
         |raw AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cr FROM db GROUP BY b),
         |tgt AS (SELECT b, CAST(SUM(n) AS BIGINT) AS ct FROM db
         |        WHERE lang = 'en' GROUP BY b),
         |tot AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS nr,
         |               (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS nt),
         |ratio AS (
         |  SELECT raw.b,
         |    round((ln((COALESCE(tgt.ct, 0) + 1.0) / (tot.nt + 256.0))
         |         - ln((raw.cr + 1.0) / (tot.nr + 256.0)))
         |      * 1000000) / 1000000 AS r
         |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot)
         |SELECT db.doc_id,
         |  CAST(SUM(CAST(ratio.r AS DECIMAL(18,6)) * db.n) AS DOUBLE)
         |    AS dsir_weight,
         |  CAST(SUM(CAST(ratio.r AS DECIMAL(18,6)) * db.n) AS DOUBLE) > 0
         |    AS kept
         |FROM db JOIN ratio USING (b)
         |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |inst AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> array_to_string(w[i:i+1], ' '))) AS gram
        |  FROM docs),
        |bc AS (SELECT gram, count(*) AS c_xy FROM inst GROUP BY gram),
        |uc AS (
        |  SELECT wd, count(*) AS c1
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS wd
        |        FROM documents)
        |  GROUP BY wd),
        |v AS (SELECT count(*) AS v FROM uc),
        |terms AS (
        |  SELECT doc_id,
        |    round(-ln(CAST(c_xy + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
        |      * 1000000) / 1000000 AS term
        |  FROM inst JOIN bc USING (gram)
        |  JOIN uc ON uc.wd = string_split(gram, ' ')[1], v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |    * 1000000) / 1000000 AS mean_surprisal
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram instances WITH multiplicity (the LM contract), then the
    // interpolated-KN closed form on exact integer marginals
    "text_kneser_ney_bigram" ->
      """WITH docs AS (
        |  SELECT string_split(lower(text), ' ') AS w
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |inst AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM docs, unnest(generate_series(1, len(w) - 1)) AS t(i)),
        |bg AS (SELECT w1, w2, count(*) AS c_xy
        |       FROM inst GROUP BY w1, w2),
        |cx AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x,
        |         count(*) AS n1p_fwd
        |       FROM bg GROUP BY w1),
        |cont AS (SELECT w2, count(*) AS n1p_rev FROM bg GROUP BY w2),
        |ty AS (SELECT count(*) AS n_types FROM bg)
        |SELECT b.w1, b.w2, b.c_xy,
        |  round((greatest(b.c_xy - 0.75, 0.0) / c_x
        |      + 0.75 * n1p_fwd / c_x * (CAST(n1p_rev AS DOUBLE) / n_types))
        |    * 1000000) / 1000000 AS p_kn
        |FROM bg b JOIN cx USING (w1) JOIN cont USING (w2), ty
        |WHERE b.c_xy >= 2 ORDER BY w1, w2""".stripMargin,
    "filter_perplexity_gate" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |inst AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> array_to_string(w[i:i+1], ' '))) AS gram
        |  FROM docs),
        |bc AS (SELECT gram, count(*) AS c_xy FROM inst GROUP BY gram),
        |uc AS (
        |  SELECT wd, count(*) AS c1
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS wd
        |        FROM documents)
        |  GROUP BY wd),
        |v AS (SELECT count(*) AS v FROM uc),
        |terms AS (
        |  SELECT doc_id,
        |    round(-ln(CAST(c_xy + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
        |      * 1000000) / 1000000 AS term
        |  FROM inst JOIN bc USING (gram)
        |  JOIN uc ON uc.wd = string_split(gram, ' ')[1], v),
        |scores AS (
        |  SELECT doc_id,
        |    round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) * 1000000) / 1000000 AS mean_surprisal
        |  FROM terms GROUP BY doc_id),
        |thr AS (
        |  SELECT round(quantile_cont(mean_surprisal, 0.9), 4) AS thr
        |  FROM scores)
        |SELECT doc_id, mean_surprisal
        |FROM scores, thr WHERE mean_surprisal <= thr
        |ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab),
        |terms AS (
        |  SELECT doc_id,
        |    round(-ln(CAST(cnt AS DOUBLE) / tot) * 1000000) / 1000000
        |      AS term
        |  FROM toks JOIN vocab USING (w), tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*) * 1000000) / 1000000 AS mean_surprisal
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
        |          AS term FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT term,
        |    round((ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1000000)
        |      / 1000000 AS idf
        |  FROM df, n),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    round(tf * idf * 1000000) / 1000000 AS score
        |  FROM tf JOIN idf USING (term)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, tf, score
        |FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    "pair_negative_sample" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, j,
        |    ((doc_id % 2147483648) * 2654435761 + j * 40503) % n_docs
        |      AS slot, n_docs
        |  FROM documents, n, (SELECT unnest(generate_series(0, 3)) AS j))
        |SELECT doc_id, CAST(j AS BIGINT) AS j,
        |  CASE WHEN slot = doc_id THEN (slot + 1) % n_docs
        |       ELSE slot END AS neg_id
        |FROM s ORDER BY doc_id, j""".stripMargin,
    "corpus_report" ->
      """WITH base AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
        |    CAST(floor(quantile_cont(len(string_split(text, ' ')), 0.5))
        |         AS BIGINT) AS med_tokens,
        |    CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources
        |  FROM documents),
        |dups AS (
        |  SELECT CAST(SUM(c - 1) AS BIGINT) AS dup_docs
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY text))
        |SELECT * FROM base, dups""".stripMargin,
    "text_zipf_fit" ->
      """WITH wc AS (
        |  SELECT w, count(*) AS f
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents)
        |  GROUP BY w ORDER BY f DESC, w LIMIT 500),
        |rk AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM wc),
        |pts AS (
        |  SELECT round(ln(CAST(r AS DOUBLE)) * 1000000) / 1000000 AS x,
        |         round(ln(CAST(f AS DOUBLE)) * 1000000) / 1000000 AS y
        |  FROM rk),
        |a AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 1 AND sxx - sx * sx / n > 0 THEN
        |    round((sxy - sx * sy / n) / (sxx - sx * sx / n) * 1000000)
        |      / 1000000 END AS zipf_slope,
        |  CASE WHEN n > 1 AND sxx - sx * sx / n > 0 THEN
        |    round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
        |      * 1000000) / 1000000 END AS intercept
        |FROM a""".stripMargin,
    "text_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT string_split(lower(text), ' ') AS w FROM documents),
        |uc AS (
        |  SELECT wd, count(*) AS c
        |  FROM (SELECT unnest(list_distinct(w)) AS wd FROM toks)
        |  GROUP BY wd),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uc),
        |bc AS (
        |  SELECT gram, count(*) AS c_xy
        |  FROM (
        |    SELECT unnest(list_distinct(list_transform(
        |      generate_series(1, len(w) - 1),
        |      i -> array_to_string(w[i:i+1], ' ')))) AS gram
        |    FROM toks WHERE len(w) >= 2)
        |  GROUP BY gram),
        |nb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bc)
        |SELECT gram, c_xy,
        |  round(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni) /
        |           (CAST(n_bi AS DOUBLE) * u1.c * u2.c)) * 1000000)
        |    / 1000000 AS pmi
        |FROM bc
        |CROSS JOIN nt CROSS JOIN nb
        |JOIN uc u1 ON u1.wd = split_part(gram, ' ', 1)
        |JOIN uc u2 ON u2.wd = split_part(gram, ' ', 2)
        |WHERE c_xy >= 5
        |ORDER BY c_xy DESC, gram LIMIT 25""".stripMargin,
    "mix_temperature_weights" ->
      s"""WITH $MixPerSourceSql,
        |tot AS (
        |  SELECT CAST(SUM(CAST(scaled AS DECIMAL(18,6))) AS DOUBLE) AS tot
        |  FROM sc)
        |SELECT source, src_n_docs AS n_docs, n_tokens,
        |  round(scaled / tot * 1000000) / 1000000 AS weight
        |FROM sc, tot ORDER BY source""".stripMargin,
    "sample_mixture_budget" ->
      s"""WITH $MixPerSourceSql,
        |tot AS (
        |  SELECT CAST(SUM(CAST(scaled AS DECIMAL(18,6))) AS DOUBLE) AS tot,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
        |  FROM sc),
        |rates AS (
        |  SELECT source AS r_source,
        |    least(1.0, round(0.5 * tot_tokens *
        |      (round(scaled / tot * 1000000) / 1000000)
        |      / n_tokens * 1000000) / 1000000) AS rate
        |  FROM sc, tot),
        |thr AS (
        |  SELECT r_source,
        |    CASE WHEN rate >= 1.0 THEN 'zzzz'
        |         ELSE printf('%04x', CAST(floor(rate * 65536.0) AS INT))
        |    END AS thr
        |  FROM rates)
        |SELECT doc_id, source
        |FROM documents JOIN thr ON source = r_source
        |WHERE $DigestPrefixSql < thr
        |ORDER BY doc_id""".stripMargin,
    "shard_assign" ->
      """SELECT CAST(strpos('0123456789abcdef',
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)
        |    AS shard,
        |  count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1 ORDER BY shard""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |        len(string_split(text, ' ')) * 1000000) / 1000000
        |    AS avg_token_len,
        |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |        AS DOUBLE) / length(text) * 1000000) / 1000000 AS punct_ratio,
        |  round(CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |        ['the','a','of','and','or','to','in'])) AS DOUBLE) /
        |        len(list_distinct(string_split(text, ' '))) * 1000000) / 1000000
        |    AS stop_hit_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "vocab_build" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS tf FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0 GROUP BY term HAVING count(*) >= 3)
        |SELECT row_number() OVER (ORDER BY tf DESC, term) AS token_id,
        |  term, tf
        |FROM tf ORDER BY token_id""".stripMargin,
    "vocab_apply" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS tf FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0 GROUP BY term HAVING count(*) >= 3),
        |vocab AS (
        |  SELECT row_number() OVER (ORDER BY tf DESC, term) AS token_id,
        |    term FROM tf),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w))) AS pos,
        |    unnest(w) AS term
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
        |        FROM documents)),
        |tok AS (
        |  SELECT p.doc_id, p.pos, v.token_id
        |  FROM pos p JOIN vocab v USING (term)
        |  WHERE len(p.term) > 0)
        |SELECT doc_id,
        |  array_to_string(list(token_id ORDER BY pos), ' ') AS token_ids,
        |  CAST(len(list(token_id)) AS BIGINT) AS n_tokens
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_ttr" ->
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
        |    AS n_types,
        |  round(CAST(len(list_distinct(string_split(lower(text), ' ')))
        |      AS DOUBLE) / len(string_split(lower(text), ' '))
        |    * 1000000) / 1000000 AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
        |  round(CAST(length(text) AS DOUBLE) /
        |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |        * 1000000) / 1000000 AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same op order as qualityCol so the per-row double math is
    // bit-identical; CASTs keep DuckDB in DOUBLE (not DECIMAL) arithmetic.
    "text_quality_score" ->
      s"""SELECT doc_id, $QualityScoreSql AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    // A-Res replay: hashLong chain over the ids, then the SAME two-step
    // double spelling (cast-then-conditional-add — one shared rounding
    // sequence, not CAST(h + 2^64) which rounds once) and per-row ln
    // bridge
    "sample_weighted_ares" ->
      ("""WITH ids AS (SELECT DISTINCT doc_id AS v FROM documents),
         |""".stripMargin +
        graft.plans.XxhSqlOracle.longHashCtes("ids", "lhash") +
        """,
          |keys AS (
          |  SELECT d.doc_id, d.n_chars,
          |    round(ln(((CAST(h AS DOUBLE) +
          |        CASE WHEN h < 0 THEN 1.8446744073709552e19
          |             ELSE 0.0 END) + 0.5) / 1.8446744073709552e19)
          |      / CAST(d.n_chars AS DOUBLE) * 1e12) / 1e12 AS ares_key
          |  FROM documents d JOIN lhash ON lhash.v = d.doc_id)
          |SELECT doc_id, n_chars, ares_key FROM keys
          |ORDER BY ares_key DESC, doc_id LIMIT 50""".stripMargin),
    "sample_quality_weighted" ->
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE $DigestPrefixSql <
        |  printf('%04x', CAST(floor(coalesce(($QualityScoreSql), 0.0)
        |                            * 0.9 * 65536.0) AS INT))
        |ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    list_distinct(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, labeled_lang,
        |    len(list_intersect(w, ['the','and','of','to','in','is','that','with'])) AS s_en,
        |    len(list_intersect(w, ['der','die','und','das','ist','mit','von','nicht'])) AS s_de,
        |    len(list_intersect(w, ['el','la','de','y','los','que','es','con'])) AS s_es,
        |    len(list_intersect(w, ['le','la','et','les','des','que','est','dans'])) AS s_fr,
        |    len(list_intersect(w, ['de','shi','le','zai','wo','you','he','ni'])) AS s_zh
        |  FROM s)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """SELECT event_id,
        |  regexp_replace(regexp_replace(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_num_runs
        |FROM events ORDER BY event_id""".stripMargin,
    "text_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CASE WHEN len(string_split(text, ' ')) <= 16 THEN 1
        |         ELSE CAST(ceil((len(string_split(text, ' ')) - 16) / 12.0)
        |              AS BIGINT) + 1 END AS nc
        |  FROM documents),
        |c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i
        |      FROM t)
        |SELECT doc_id, i AS chunk_idx,
        |  CAST(len(toks[i*12+1 : i*12+16]) AS BIGINT) AS n_toks,
        |  toks[i*12+1] AS first_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(w[i : i+1], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) u),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total,
        |        count(*) AS n_distinct, max(n) AS maxn
        |      FROM c GROUP BY 1)
        |SELECT doc_id,
        |  round((1 - n_distinct / CAST(total AS DOUBLE)) * 1000000) / 1000000
        |    AS dup_2gram_frac,
        |  round((maxn / CAST(total AS DOUBLE)) * 1000000) / 1000000
        |    AS top_2gram_frac
        |FROM a ORDER BY doc_id""".stripMargin
  )
}
