package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cut, Tables, U}

/** Unigram-LM subword tokenizer (the SentencePiece family) — the other
  * mainstream tokenizer next to BPE ([[Bpe]]): pieces carry log
  * probabilities and a word's tokenization is its Viterbi-best
  * segmentation under the piece LM, rather than a greedy merge replay.
  *
  * Training (hard-EM, the standard simplification of Kudo 2018's
  * lattice EM — documented contract, deterministic):
  *  1. seed: every substring (length ≤ [[MaxPiece]]) of the corpus's
  *     distinct words, frequency-weighted; top [[SeedTarget]] by
  *     count·length plus ALL single characters (segmentability
  *     invariant: any word over the corpus alphabet has at least the
  *     per-character segmentation);
  *  2. E-step (DISTRIBUTED): Viterbi-segment every distinct word under
  *     the current piece log-probs (broadcast map), emit the path's
  *     pieces weighted by word frequency — one flatMap + one keyed sum,
  *     no driver loop over words;
  *  3. M-step (driver): log p = ln(count/total) over the collected
  *     piece-count table — bounded by [[SeedTarget]], never data-scaled;
  *  4. after [[EmIters]] rounds, prune to [[VocabTarget]] pieces by
  *     (count desc, piece asc), chars always kept, probs renormalized.
  *
  * Scale posture: the word table is VOCABULARY-scaled (Heaps' law), the
  * E-step is embarrassingly parallel over it, and every driver collect
  * is piece-table-sized by construction — there is no cap/fast-path
  * split to maintain (contrast [[Bpe]], whose merge loop is inherently
  * sequential). At 100 TB the same code runs with the word table as a
  * persisted aggregate.
  *
  * Determinism/oracle: piece counts are exact longs; log-probs are
  * doubles derived from them identically everywhere; the apply oracle
  * replays the TRAINED model as SQL literals (shortest-round-trip
  * doubles) and reruns the exact Viterbi DP in DuckDB as unrolled
  * MATERIALIZED stages — max-logprob then min-pieces per position, the
  * same two-level tie rule the Scala kernel uses, so (logprob,
  * n_pieces) are bit-identical. (The IVF/PQ trained-model-replay
  * pattern; the trainer itself is pinned by UnigramSpec against a
  * brute-force reference.)
  */
object Unigram {
  /** Longest piece considered (SentencePiece default regime). */
  val MaxPiece = 8
  /** Words longer than this are excluded from the tokenizer contract
    * (both at train and apply, both engines): they are URLs/garbage in
    * real corpora and the oracle DP unrolls one stage per character. */
  val MaxWordLen = 24
  /** The qualifying-word predicate of the tokenizer contract: length
    * 1..[[MaxWordLen]]; `noHash` also drops `#`-bearing words (the
    * WordPiece universe — `#` is its continuation marker). Every filter
    * of a word universe (this object's word table and apply,
    * [[WordPiece]], [[TokenizerCompare]]) goes through here, so the
    * compare totals cannot drift from the applies they replay. */
  def qualifying(w: Column, noHash: Boolean = false): Column = {
    val len = length(w).between(1, MaxWordLen)
    if (noHash) len && !w.contains("#") else len
  }

  /** Seed candidate pieces kept after substring counting. */
  val SeedTarget = 4096
  /** Final vocabulary size (plus any single chars beyond it). */
  val VocabTarget = 1024
  /** Hard-EM rounds. */
  val EmIters = 2

  /** Model last served — the apply/segment oracles replay it as
    * literals (graft.Verify reads oracle SQL AFTER running queries, so
    * by then this is the verified dataset's model). */
  private def lastModel: Option[Seq[(String, Double)]] =
    graft.Derived.latest("unigram_model")

  /** Unicode CODE POINTS of `w` — the indexing unit of every position
    * in this object (ADVICE r14): Spark's `length()` filters and the
    * DuckDB oracle's `substr`/`length` both count code points, so a
    * UTF-16 code-unit kernel would segment non-BMP words (emoji)
    * differently from both and could split surrogate pairs into
    * invalid pieces. */
  private[graft] def codePoints(w: String): Array[Int] =
    w.codePoints().toArray

  private def cpSub(c: Array[Int], from: Int, until: Int): String =
    new String(c, from, until - from)

  /** Viterbi-best segmentation of `w` under piece log-probs:
    * (total logprob, piece count, path). Code-point position DP; per
    * position the winner maximizes logprob, then minimizes piece
    * count, then takes the SHORTEST last piece (first candidate in
    * plen order) — only the first two levels are observable in query
    * output (max/min are order-free); the third pins the E-step's path
    * counts. None iff some character has no piece (cannot happen for
    * corpus words — the seed keeps every char). */
  private[graft] def viterbi(w: String, lp: collection.Map[String, Double])
      : Option[(Double, Int, List[String])] = {
    val c = codePoints(w)
    val n = c.length
    // dp(k): best (logprob, pieces, backpointer start) covering c[0,k)
    val best = new Array[Double](n + 1)
    val np = new Array[Int](n + 1)
    val bp = new Array[Int](n + 1)
    val ok = new Array[Boolean](n + 1)
    ok(0) = true
    var k = 1
    while (k <= n) {
      var plen = 1
      while (plen <= math.min(MaxPiece, k)) {
        val j = k - plen
        if (ok(j)) {
          lp.get(cpSub(c, j, k)) match {
            case Some(l) =>
              val cl = best(j) + l
              val cn = np(j) + 1
              if (!ok(k) || cl > best(k) || (cl == best(k) && cn < np(k))) {
                ok(k) = true; best(k) = cl; np(k) = cn; bp(k) = j
              }
            case None => ()
          }
        }
        plen += 1
      }
      k += 1
    }
    if (!ok(n)) None
    else {
      var path = List.empty[String]
      var p = n
      while (p > 0) { path = cpSub(c, bp(p), p) :: path; p = bp(p) }
      Some((best(n), np(n), path))
    }
  }

  /** Distinct qualifying words of the corpus with frequencies. */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    U.fan(Tables.t(s, d, "documents").select(col("text")))
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(qualifying(col("word")))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  def model(s: SparkSession, d: String): Seq[(String, Double)] =
    graft.Derived.get(s, "unigram_model", d, "documents")(_ => train(s, d))

  private def train(s: SparkSession, d: String): Seq[(String, Double)] = {
    val sess = s; import sess.implicits._
    Cut.scoped(wordTable(s, d).as[(String, Long)]) { words =>
      // 1. seed: distributed substring counting (vocab × ≤len·MaxPiece
      // emissions), top SeedTarget by count·length with a total (piece)
      // tie order, plus every character with its true count
      val (top, chars) = Cut.scoped(words.flatMap { case (w, f) =>
        val c = codePoints(w) // code-point units, like the DP (ADVICE r14)
        for {
          st <- 0 until c.length
          en <- (st + 1) to math.min(st + MaxPiece, c.length)
        } yield (cpSub(c, st, en), f)
      }.toDF("piece", "f").groupBy("piece").agg(sum(col("f")).as("cnt"))) {
        subs =>
          (subs
            .orderBy((col("cnt") * length(col("piece"))).desc, col("piece"))
            .limit(SeedTarget)
            .as[(String, Long)].collect(),
           subs.filter(length(col("piece")) === 1)
            .as[(String, Long)].collect())
      }
      var pieces: Map[String, Long] = (chars ++ top).toMap
      def logprobs(cs: Map[String, Long]): Map[String, Double] = {
        val total = cs.valuesIterator.sum.toDouble
        cs.map { case (p, c) => p -> math.log(c / total) }
      }
      var probs = logprobs(pieces)
      // 2-3. hard-EM rounds: distributed E (Viterbi paths, keyed sum),
      // driver M over the piece-bounded count table
      for (_ <- 1 to EmIters) {
        val bc = s.sparkContext.broadcast(probs)
        val counts = words.flatMap { case (w, f) =>
          viterbi(w, bc.value).toList.flatMap(_._3.map(p => (p, f)))
        }.toDF("piece", "f").groupBy("piece").agg(sum(col("f")).as("cnt"))
          .as[(String, Long)].collect().toMap
        bc.destroy()
        // chars stay segmentation-complete at a floor count of 1 (a
        // "char" is one CODE POINT — String.length would miss astral
        // single-char pieces, ADVICE r14)
        def isChar(p: String) = p.codePointCount(0, p.length) == 1
        pieces = pieces.map { case (p, _) =>
          p -> math.max(counts.getOrElse(p, 0L), if (isChar(p)) 1L else 0L)
        }.filter(_._2 > 0L)
        probs = logprobs(pieces)
      }
      // 4. prune to the target vocabulary (chars always kept), renormalize
      val kept = pieces.toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(VocabTarget)
        .map(_._1).toSet ++
        pieces.keysIterator.filter(p => p.codePointCount(0, p.length) == 1)
      val finalCounts = pieces.filter { case (p, _) => kept(p) }
      logprobs(finalCounts).toSeq.sortBy(_._1)
    }
  }

  /** (word, wlp, wnp) for every distinct qualifying corpus word under
    * the memoized model — the shared core of both registered queries.
    * Distinct words are vocabulary-bounded, so the result broadcasts. */
  private[functions] def scoredWords(s: SparkSession, d: String): DataFrame =
    scoredOf(s, d, wordTable(s, d).select("word"))

  /** Viterbi-score an explicit distinct-word table under the trained
    * model — the seam [[TokenizerCompare]] uses to feed all tokenizers
    * from ONE shared corpus scan instead of re-deriving this object's
    * [[wordTable]] (r18). Callers must pass exactly the qualifying-word
    * universe ([[qualifying]]) for apply-identical results. */
  private[functions] def scoredOf(s: SparkSession, d: String,
      words: DataFrame): DataFrame = {
    val sess = s; import sess.implicits._
    val probs = model(s, d).toMap
    val bc = s.sparkContext.broadcast(probs)
    words.as[String]
      .mapPartitions { it =>
        val lp = bc.value
        it.flatMap(w => viterbi(w, lp).map(v => (w, v._1, v._2)))
      }.toDF("word", "wlp", "wnp")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The segmentation table itself — per distinct word: Viterbi piece
    // count and total log-probability (round6 for display; the raw
    // doubles are identical cross-engine because they are sums of the
    // same literals in the same order). What a tokenizer ships as its
    // evidence of how the corpus tokenizes.
    "vocab_unigram_segment" -> ((s, d) =>
      scoredWords(s, d)
        .select(col("word"), col("wnp").cast("long").as("n_pieces"),
          U.round6(col("wlp")).as("word_logprob"))
        .orderBy("word")),

    // Tokenize the corpus: per-document word/piece accounting + the
    // document's unigram-LM log-probability — the compression and
    // LM-score readout a corpus pipeline reports per shard. Words
    // score ONCE (distinct-word table, broadcast back onto the
    // occurrence counts); the per-doc sum runs through the dec6r
    // decimal bridge so it is partition-order invariant.
    "vocab_unigram_apply" -> ((s, d) => {
      val scored = scoredWords(s, d)
      val wc = U.fan(Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(qualifying(col("word")))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      wc.join(broadcast(scored), "word")
        .groupBy("doc_id")
        .agg(U.lng(sum(col("cnt"))).as("n_words"),
          U.lng(sum(col("cnt") * col("wnp"))).as("n_pieces"),
          U.lng(sum(col("cnt") * length(col("word")))).as("n_chars"),
          U.round6(U.dbl(sum(U.dec6r(
            U.round6(col("wlp")) * col("cnt"))))).as("unigram_logprob"))
        .orderBy("doc_id")
    }))

  /** The Viterbi DP as DuckDB SQL over the trained model's literals:
    * candidates = (word, start, end, lp) via one substr join; then one
    * unrolled MATERIALIZED stage per position 1..MaxWordLen — max
    * logprob, then min pieces among the max achievers (exact double
    * equality is safe: both engines compute the same sums of the same
    * literals). MATERIALIZED is load-bearing: stage k is referenced by
    * up to MaxPiece later stages, and plain CTE inlining would expand
    * the tree exponentially (the XxhSqlOracle lesson). */
  private def dpSql(m: Seq[(String, Double)]): String = {
    def esc(x: String) = x.replace("'", "''")
    val values = m.map { case (p, l) =>
      s"('${esc(p)}', CAST($l AS DOUBLE))"
    }.mkString(",\n    ")
    val stages = (1 to MaxWordLen).map { k =>
      s"""sc$k AS MATERIALIZED (
         |  SELECT c.word, d.best + c.lp AS cl, d.np + 1 AS cn
         |  FROM cand c JOIN dpall${k - 1} d
         |    ON d.word = c.word AND d.pos = c.s - 1
         |  WHERE c.e = $k),
         |mx$k AS MATERIALIZED (
         |  SELECT word, max(cl) AS mb FROM sc$k GROUP BY word),
         |dp$k AS MATERIALIZED (
         |  SELECT s.word, $k AS pos, m.mb AS best, min(s.cn) AS np
         |  FROM sc$k s JOIN mx$k m ON m.word = s.word
         |  WHERE s.cl = m.mb GROUP BY s.word, m.mb),
         |dpall$k AS MATERIALIZED (
         |  SELECT * FROM dpall${k - 1} UNION ALL SELECT * FROM dp$k)""".stripMargin
    }.mkString(",\n")
    s"""pieces(piece, lp) AS (VALUES
       |    $values),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |tw AS (
       |  SELECT doc_id, w AS word, count(*) AS cnt FROM tok
       |  WHERE length(w) BETWEEN 1 AND $MaxWordLen GROUP BY doc_id, w),
       |words AS (SELECT DISTINCT word FROM tw),
       |cand AS MATERIALIZED (
       |  SELECT w.word, s, s + plen - 1 AS e, p.lp
       |  FROM words w
       |  CROSS JOIN range(1, ${MaxWordLen + 1}) AS rs(s)
       |  CROSS JOIN range(1, ${MaxPiece + 1}) AS rp(plen)
       |  JOIN pieces p ON p.piece = substr(w.word, s::INT, plen::INT)
       |  WHERE s + plen - 1 <= length(w.word)),
       |dpall0 AS (
       |  SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS best, 0 AS np
       |  FROM words),
       |$stages,
       |scored AS (
       |  SELECT w.word, d.best AS wlp, d.np AS wnp
       |  FROM words w JOIN dpall$MaxWordLen d
       |    ON d.word = w.word AND d.pos = length(w.word))""".stripMargin
  }

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until the model has trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    lastModel.map(applyOracleSql)

  def oracles: Map[String, String] = lastModel match {
    case None => Map.empty
    case Some(m) =>
      Map(
        "vocab_unigram_segment" ->
          s"""WITH ${dpSql(m)}
             |SELECT word, CAST(wnp AS BIGINT) AS n_pieces,
             |  round(wlp * 1000000) / 1000000 AS word_logprob
             |FROM scored ORDER BY word""".stripMargin,
        "vocab_unigram_apply" -> applyOracleSql(m))
  }

  private def applyOracleSql(m: Seq[(String, Double)]): String =
    s"""WITH ${dpSql(m)}
             |SELECT t.doc_id,
             |  CAST(sum(t.cnt) AS BIGINT) AS n_words,
             |  CAST(sum(t.cnt * sc.wnp) AS BIGINT) AS n_pieces,
             |  CAST(sum(t.cnt * length(t.word)) AS BIGINT) AS n_chars,
             |  round(CAST(sum(CAST(round(
             |      (round(sc.wlp * 1000000) / 1000000) * t.cnt * 1000000
             |    ) / 1000000 AS DECIMAL(18,6))) AS DOUBLE) * 1000000)
             |    / 1000000 AS unigram_logprob
             |FROM tw t JOIN scored sc ON sc.word = t.word
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
}
