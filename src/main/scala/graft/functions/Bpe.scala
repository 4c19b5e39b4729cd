package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bounded, Cut, Tables, U}

/** BPE subword tokenizer — training and apply (Sennrich et al. 2016,
  * the `tokenizers`/SentencePiece shape), built Spark-first.
  *
  * The two halves have opposite scale profiles, and the implementation
  * keeps them apart:
  *
  *   - '''Training''' iterates on the WORD-FREQUENCY vocabulary, not
  *     the corpus: one corpus scan builds (word, freq); every merge
  *     iteration is a pair-count aggregate + 1-row argmax collect +
  *     map-side `bpe_merge` over vocab rows ([[BpeTrainer]]). Corpus size only
  *     ever affects the first scan; iterations cost O(|vocab|), the
  *     same contraction argument as `graph_pagerank_types`. The
  *     deterministic argmax tiebreak (count desc, then pair lexical)
  *     makes the learned rules engine-stable.
  *   - '''Apply''' is embarrassingly parallel: the learned rules are a
  *     ≤nMerges literal array, and tokenization is one map-only pass —
  *     `bpe_merge` (codegen) per word occurrence, no join, no shuffle
  *     except the per-doc reassembly aggregate.
  *
  * Simplifications vs production BPE, by design: no end-of-word marker
  * and word-level pre-tokenization on single spaces (the corpus is
  * space-normalized synthetic text); both are representation choices,
  * not structural ones. Rules are memoized per (dataset, signature)
  * like the IVF centroids and the token vocabulary — training is a
  * property of the DATASET, not of each apply call.
  *
  * BOTH halves are oracled. TRAINING: the fixed-depth greedy loop
  * unrolls into nMerges SQL rounds (pair counts → tie-broken argmax →
  * replace()-merge), so DuckDB independently recomputes the learned
  * rule table from the corpus — not the engine's rules echoed back
  * (see [[trainOracleSql]]; BpeSpec additionally pins training against
  * an independent driver reference implementation). APPLY: the learned
  * rules are a fixed input parameter (like the IVF centroid literals),
  * and each rule pass is one left-to-right non-overlapping `replace()`
  * over a double-delimited token string (see [[applyOracleSqlFor]]).
  */
object Bpe extends BpeTrainer {
  protected def name = "bpe"

  protected def seed(word: Column): Column = array_remove(split(word, ""), "")

  protected def seedLocal(word: String): Array[String] =
    word.split("").filter(_.nonEmpty)

  protected def merged(a: String, b: String): String = a + b

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table itself — what a tokenizer ships as
    // merges.txt. Deterministic (exact counts, total tiebreak) but not
    // SQL-expressible; BpeSpec pins it against an independent driver
    // reference implementation.
    "vocab_bpe_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      trainRules(s, d).toDF("rank", "left_sym", "right_sym", "pair_freq")
        .orderBy("rank")
    }),

    // Tokenize the corpus with the learned rules: map-only codegen
    // kernel per word occurrence, then one per-doc aggregate for the
    // compression accounting a pipeline reports (chars → subword
    // tokens). The rules reach the kernel as a BROADCAST scalar (1-row
    // array DF, crossJoin(broadcast(...))), not a plan literal: a
    // production merges.txt is 50k-100k rules, and embedding that in
    // every task's plan/codegen blob is the thing that breaks first —
    // the broadcast ships it once per executor. PlanSpec whitelists
    // this 1-row BNLJ (the scalar-broadcast pattern).
    "vocab_bpe_apply" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val rules = Seq(Tuple1(trainRules(s, d).map(r => s"${r._2} ${r._3}")))
        .toDF("rules")
      // U.fan the DOCUMENTS (pre-explode — 350 MB of text rows beats
      // shuffling the 60M-row word stream): the per-word merge kernel
      // is the query's whole cost and otherwise runs at scan
      // parallelism — r13 stage profile: 8.9 s on 2 tasks at sf1, 97%
      // of the query's wall time
      val toks = U.fan(Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .crossJoin(broadcast(rules))
        .select(col("doc_id"),
          call_function("bpe_merge", seed(col("word")),
            col("rules")).as("toks"),
          length(col("word")).as("n_chars"))
      toks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(col("n_chars"))).as("n_chars"),
          U.lng(sum(size(col("toks")))).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }))

  /** The vocab_bpe_apply replay for a fixed rule list. Token arrays are
    * encoded as `|t1||t2||...|` (every token wrapped in `|` on both
    * sides), which makes one greedy left-to-right non-overlapping merge
    * pass of rule (a, b) EXACTLY one `replace(s, '|a||b|', '|ab|')`:
    * the full double-`|` boundaries prevent prefix/suffix false matches
    * against longer tokens, and replace's resume-after-replacement scan
    * is the same skip-2 the BpeMerge kernel does. Chained once per rule
    * in rank order over the DISTINCT word vocabulary (words re-join by
    * occurrence), then token count = `||` boundary count + 1. A word
    * containing the delimiter would corrupt the encoding, so it fails
    * with a named error() instead. */
  private def applyOracleSqlFor(rules: Seq[(Int, String, String, Long)]): String = {
    def esc(x: String) = x.replace("'", "''")
    val passes = rules.sortBy(_._1).zipWithIndex.map { case ((_, a, b, _), i) =>
      val src = if (i == 0) "v0" else s"v$i"
      s"v${i + 1} AS (SELECT word, replace(s, '|${esc(a)}||${esc(b)}|'," +
        s" '|${esc(a + b)}|') AS s FROM $src)"
    }
    val last = s"v${rules.size}"
    s"""WITH words AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0),
       |vocab AS (SELECT DISTINCT word FROM words),
       |v0 AS (
       |  SELECT word,
       |    CASE WHEN word LIKE '%|%'
       |         THEN error('bpe oracle: word contains the | delimiter')
       |         ELSE '|' || array_to_string(string_split(word, ''), '||') || '|'
       |    END AS s
       |  FROM vocab),
       |${if (passes.isEmpty) "" else passes.mkString(",\n") + ",\n"}vt AS (SELECT word,
       |         CAST((len(s) - len(replace(s, '||', ''))) // 2 + 1 AS BIGINT)
       |           AS n_toks
       |       FROM $last)
       |SELECT w.doc_id,
       |  count(*) AS n_words,
       |  CAST(sum(len(w.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(vt.n_toks) AS BIGINT) AS n_bpe_tokens
       |FROM words w JOIN vt USING (word)
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
  }

  /** The vocab_bpe_train replay: the greedy merge loop UNROLLED as
    * nMerges SQL rounds — each round recomputes weighted adjacent-pair
    * counts over the current symbol encoding (the same `|t1||t2||…|`
    * string the apply oracle uses), takes the (cnt DESC, a, b) argmax
    * with the cnt >= 2 floor, and applies the merge as one `replace()`
    * (COALESCE to a never-occurring chr(1) pattern keeps exhausted
    * rounds a no-op, mirroring the engine's early break — once no pair
    * repeats, merges stop changing anything and every later round's
    * argmax is empty too). Working CTEs are MATERIALIZED: each round
    * references its predecessor twice, and plain CTE inlining would
    * expand 2^nMerges scans. This is an independent recomputation of
    * training, NOT the engine's learned rules echoed back. */
  private def trainOracleSql: String = {
    val rounds = (0 until nMerges).map { r =>
      s"""tt$r AS (SELECT string_split(substr(s, 2, len(s) - 2), '||') AS t,
         |  freq FROM w$r),
         |pp$r AS (
         |  SELECT t, freq, unnest(generate_series(1, len(t) - 1)) AS i
         |  FROM tt$r),
         |cnts$r AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM pp$r GROUP BY 1, 2),
         |top$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM cnts$r WHERE cnt >= 2
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(s,
         |    COALESCE((SELECT '|' || a || '||' || b || '|' FROM top$r), chr(1)),
         |    COALESCE((SELECT '|' || a || b || '|' FROM top$r), chr(1))) AS s,
         |    freq
         |  FROM w$r)""".stripMargin
    }
    val union = (0 until nMerges).map { r =>
      s"SELECT ${r + 1} AS rank, a AS left_sym, b AS right_sym, cnt AS pair_freq FROM top$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT CASE WHEN word LIKE '%|%' THEN error('bpe oracle: | in word')
       |    ELSE '|' || array_to_string(string_split(word, ''), '||') || '|' END
       |    AS s, freq
       |  FROM words),
       |${rounds.mkString(",\n")}
       |SELECT * FROM (
       |$union) ORDER BY rank""".stripMargin
  }

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until rules have trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    lastRules.map(applyOracleSqlFor)

  def oracles: Map[String, String] =
    Map("vocab_bpe_train" -> trainOracleSql) ++ (lastRules match {
      case None => Map.empty
      case Some(rs) => Map("vocab_bpe_apply" -> applyOracleSqlFor(rs))
    })
}

/** The greedy most-frequent-pair merge trainer of [[Bpe]] (characters,
  * merged by concatenation) and [[ByteBpe]] (UTF-8 bytes, merged with
  * `_`). Each round counts adjacent pairs weighted by word frequency,
  * keeps pairs seen at least twice, takes the (count desc, left, right)
  * argmax and merges it greedily left to right without overlap; the loop
  * stops after [[nMerges]] rules or when no pair repeats.
  *
  * Training reads the (word, freq) vocabulary, which the language
  * bounds, not the corpus: one [[Bounded]] probe, then [[trainLocal]] on
  * the driver under [[Bounded.DriverVocabCap]], else [[trainDistributed]]
  * (the 100 TB path). The two are pinned rule for rule by the BpeSpec and
  * ByteBpeSpec twin tests. Rules are a [[graft.Derived]] entry of the
  * documents table: training is a property of the dataset, not of each
  * apply call.
  */
abstract class BpeTrainer {
  /** Merge-rule budget; small because the synthetic corpus vocabulary
    * is small. */
  val nMerges = 12

  /** Derived kind `<name>_rules`, path note `<name>_train_path` and
    * vocabulary note `<name>_vocab`. */
  protected def name: String

  /** A word column's initial symbols. */
  protected def seed(word: Column): Column

  /** The driver twin of [[seed]]. */
  protected def seedLocal(word: String): Array[String]

  /** The spelling of a merged pair. */
  protected def merged(a: String, b: String): String

  /** Learned merge rules (rank, left, right, pair_freq), rank 1-based in
    * merge order. */
  def trainRules(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    graft.Derived.get(s, s"${name}_rules", d, "documents")(_ => train(s, d))

  /** Rules last served — the apply oracle replays them as literals. */
  protected def lastRules: Option[Seq[(Int, String, String, Long)]] =
    graft.Derived.latest(s"${name}_rules")

  /** A merge as a `bpe_merge` rule: the kernel's `"a b"` form merges by
    * concatenation, any other spelling ships as `"a b m"`. */
  private def rule(a: String, b: String): String = {
    val m = merged(a, b)
    if (m == a + b) s"$a $b" else s"$a $b $m"
  }

  /** The driver trainer. */
  private[graft] def trainLocal(words: Seq[(String, Long)])
      : Seq[(Int, String, String, Long)] = {
    var vocab: Array[(Array[String], Long)] = words.iterator
      .map { case (w, f) => (seedLocal(w), f) }.toArray
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts(k) + f
          i += 1
        }
      }
      val eligible = counts.filter(_._2 >= 2L)
      if (eligible.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = eligible.minBy { case ((x, y), c) => (-c, x, y) }
        rules += ((rank, a, b, cnt))
        val m = merged(a, b)
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += m; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
        rank += 1
      }
    }
    rules.toSeq
  }

  /** The distributed trainer: per round one pair-count aggregate, a
    * 1-row argmax collect and a map-side `bpe_merge` over the vocabulary
    * rows, each round's rows a [[graft.Cut.rounds]] generation. */
  private[graft] def trainDistributed(words: DataFrame)
      : Seq[(Int, String, String, Long)] = {
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    Cut.rounds(words.select(seed(col("word")).as("syms"), col("freq"))) {
      vocab =>
        var exhausted = false
        while (rules.size < nMerges && !exhausted) {
          val top = vocab.current
            .select(explode(arrays_zip(
              slice(col("syms"), lit(1), size(col("syms")) - 1),
              slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"),
              col("freq"))
            .select(col("p").getField("0").as("a"),
              col("p").getField("1").as("b"), col("freq"))
            .groupBy("a", "b").agg(sum(col("freq")).as("cnt"))
            // repeat floor 2: a pair seen once total can't compress
            .filter(col("cnt") >= 2)
            .orderBy(col("cnt").desc, col("a"), col("b"))
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val (a, b, cnt) =
              (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            rules += ((rules.size + 1, a, b, cnt))
            vocab.advance(vocab.current.withColumn("syms",
              call_function("bpe_merge", col("syms"), array(lit(rule(a, b))))))(
              _.count())
          }
        }
    }
    rules.toSeq
  }

  private def train(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
    // U.fan: the explode + count partial otherwise runs at scan
    // parallelism (2 row groups at sf1 — measured 3.0 s on 2 tasks)
    val words = U.fan(Tables.t(s, d, "documents")
        .select(col("text")))
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // one bounded probe: under the cap it holds the complete vocabulary
    Bounded.path(s"${name}_train")(
        Bounded.rows(words, Bounded.DriverVocabCap)) match {
      case Some(vocab) =>
        graft.Attrib.note(s"${name}_vocab", vocab.length.toLong)
        trainLocal(vocab.toSeq.map(r => (r.getString(0), r.getLong(1))))
      case None => trainDistributed(words)
    }
  }
}
