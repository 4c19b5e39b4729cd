package graft.ml

import graft.{Bounded, Cut, Tables, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes language classifier with Laplace smoothing —
  * the trained sibling of the heuristic `text_lang_id` gate: learns
  * P(word|lang) from the corpus' own labels instead of shipping a
  * stopword list, the classic strong-baseline text classifier every
  * data pipeline reaches for before anything neural.
  *
  * Model: P(ℓ|doc) ∝ P(ℓ)·∏ P(w|ℓ); log-likelihood per (word, lang) =
  * ln((c+1)/(totℓ+V)) (add-one smoothing over the corpus vocabulary V),
  * prior = ln(ndℓ/ND). Unseen (word, lang) pairs score the smoothed
  * floor ln(1/(totℓ+V)).
  *
  * Determinism: each transcendental (ln) rounds to 1e-6 the moment it
  * is computed; per-doc scores sum those rounded likelihoods through
  * DECIMAL(18,6) — partition-order invariant and engine-exact — so the
  * argmax compares identical doubles on both engines (ties break to the
  * lexicographically smallest language).
  *
  * At 100 TB: training is two aggregations over the exploded token
  * stream ((lang, word) counts + per-lang totals via a window over the
  * AGGREGATE); the model is a vocabulary-sized table pivoted to one
  * column per language — broadcast-able in practice (vocabularies cap
  * around 10⁶ while corpora don't), so scoring is one map-side join +
  * one per-doc aggregation. The per-language stats (a handful of rows)
  * are the only driver-side state, collected under a loud guard.
  *
  * Reference ancestry: none — beyond-reference engine surface.
  */
object NaiveBayes {

  private def docs(s: SparkSession, d: String) =
    Tables.t(s, d, "documents")

  /** Exploded token stream — the corpus convention (space-separated).
    * U.fan before the explode: this stream is consumed by SEPARATE
    * actions (vocab count, per-language stats, the scoring plan), each
    * of which re-executes it, and on the single-row-group test layout
    * the tokenize would otherwise run 1-task per action (the dominant
    * cost of ml_nb_apply's measured 3.2 s). */
  private def tok(s: SparkSession, d: String): DataFrame =
    U.fan(docs(s, d).select("doc_id", "lang", "text"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))

  /** The (lang, word, c) count table, materialized ONCE as a
    * [[Cut.eager]] cut. Everything the model needs — vocabulary size,
    * per-language token totals, smoothed likelihoods — derives from
    * this VOCABULARY-SIZED table, so the corpus-wide tokenize+explode
    * pass runs once here (plus once in apply's scoring join) instead of
    * four times across the v-count / lang-stats / likelihood / scoring
    * plans (measured: the repeated tokenize was the dominant cost of
    * ml_nb_apply's 4.5 s at sf0.1). */
  private def countsTable(s: SparkSession, d: String): DataFrame =
    Cut.eager(tok(s, d).groupBy("lang", "word").agg(count(lit(1)).as("c")))

  /** (lang, word, c, loglik) — rounded smoothed log-likelihoods over a
    * materialized counts table. `v` = corpus vocabulary size. */
  private def loglikTable(counts: DataFrame, v: Long): DataFrame = {
    val perLang = Window.partitionBy("lang")
    counts
      .withColumn("tot", sum(col("c")).over(perLang))
      .withColumn("loglik", U.round6(log((col("c").cast("double") + 1.0)
        / (col("tot") + lit(v)))))
  }

  /** Per-language stats collected under a guard: (lang, nDocs,
    * totTokens) — cardinality = |languages|, never data-scaled. Token
    * totals fold from the counts table (Σc per lang ≡ the token count),
    * not from a fresh corpus pass. */
  private def langStats(s: SparkSession, d: String,
      counts: DataFrame): Seq[(String, Long, Long)] = {
    val st = docs(s, d).groupBy("lang").agg(count(lit(1)).as("ndocs"))
      .join(counts.groupBy("lang").agg(sum(col("c")).as("tot")), "lang")
    // a data-scaled label set must keep scoring fully distributed
    Bounded.collect(st, 100, "NaiveBayes per-language stats")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  private def r6(x: Double): Double = math.round(x * 1e6) / 1e6

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the trained model: smoothed log-likelihood per (lang, word)
    "ml_nb_train" -> ((s, d) => {
      val counts = countsTable(s, d)
      val v = counts.select("word").distinct().count()
      loglikTable(counts, v)
        .select(col("lang"), col("word"), col("c"), col("loglik"))
        .orderBy("lang", "word")
    }),

    // score every document under every language, predict the argmax —
    // one keyed join (token → pivoted likelihood row) + one per-doc
    // aggregation; priors and smoothing floors enter as literals from
    // the guarded per-language stats.
    "ml_nb_apply" -> ((s, d) => {
      val counts = countsTable(s, d)
      val v = counts.select("word").distinct().count()
      val stats = langStats(s, d, counts)
      val nd = stats.map(_._2).sum
      val langs = stats.map(_._1)
      val prior = stats.map { case (l, n, _) =>
        l -> r6(math.log(n.toDouble / nd)) }.toMap
      val miss = stats.map { case (l, _, tot) =>
        l -> r6(math.log(1.0 / (tot + v))) }.toMap
      val pivoted = loglikTable(counts, v)
        .groupBy("word").pivot("lang", langs).agg(first(col("loglik")))
      val filled = langs.foldLeft(pivoted) { (df, l) =>
        df.withColumn(l, coalesce(col(l), lit(miss(l)))) }
      val scored = tok(s, d).join(filled, "word")
        .groupBy("doc_id")
        .agg(first(col("lang")).as("lang"),
          langs.map(l => U.dbl(sum(U.dec6(col(l)))).as(s"s_$l")): _*)
        .select(col("doc_id") +: col("lang") +:
          langs.map(l => (lit(prior(l)) + col(s"s_$l")).as(s"sc_$l")): _*)
      val best = greatest(langs.map(l => col(s"sc_$l")): _*)
      // ties break to the smallest language: first match in asc order
      val pred = langs.foldRight(lit(null).cast("string")) { (l, acc) =>
        when(col(s"sc_$l") === best, l).otherwise(acc) }
      scored
        .select(col("doc_id"), col("lang"),
          pred.as("pred_lang"),
          when(pred === col("lang"), 1).otherwise(0).as("hit"),
          best.as("best_score"))
        .orderBy("doc_id")
    }))

  private val tokSql =
    """SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |FROM documents""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_nb_train" ->
      s"""WITH tok AS ($tokSql),
        |v AS (SELECT count(DISTINCT word) AS v FROM tok),
        |lt AS (SELECT lang, count(*) AS tot FROM tok GROUP BY 1),
        |pairs AS (SELECT lang, word, count(*) AS c
        |          FROM tok GROUP BY 1, 2)
        |SELECT p.lang, p.word, p.c,
        |  round(ln((CAST(p.c AS DOUBLE) + 1) / (lt.tot + v.v))
        |    * 1000000) / 1000000 AS loglik
        |FROM pairs p JOIN lt USING (lang), v
        |ORDER BY p.lang, p.word""".stripMargin,
    "ml_nb_apply" ->
      s"""WITH tok AS ($tokSql),
        |v AS (SELECT count(DISTINCT word) AS v FROM tok),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |ls AS (SELECT lang, count(*) AS ndocs FROM documents GROUP BY 1),
        |lt AS (SELECT lang, count(*) AS tot FROM tok GROUP BY 1),
        |lstat AS (
        |  SELECT ls.lang,
        |    round(ln(CAST(ndocs AS DOUBLE) / nd) * 1000000)
        |      / 1000000 AS prior,
        |    round(ln(1.0 / (tot + v)) * 1000000) / 1000000 AS miss
        |  FROM ls JOIN lt USING (lang), v, nd),
        |ll AS (
        |  SELECT p.lang, p.word,
        |    round(ln((CAST(p.c AS DOUBLE) + 1) / (lt.tot + v.v))
        |      * 1000000) / 1000000 AS loglik
        |  FROM (SELECT lang, word, count(*) AS c
        |        FROM tok GROUP BY 1, 2) p
        |  JOIN lt USING (lang), v),
        |scored AS (
        |  SELECT t.doc_id, t.lang AS actual, l.lang AS cand,
        |    l.prior + CAST(sum(CAST(coalesce(ll.loglik, l.miss)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS score
        |  FROM tok t CROSS JOIN lstat l
        |  LEFT JOIN ll ON ll.word = t.word AND ll.lang = l.lang
        |  GROUP BY t.doc_id, t.lang, l.lang, l.prior),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        |       FROM scored)
        |SELECT doc_id, actual AS lang, cand AS pred_lang,
        |  CASE WHEN cand = actual THEN 1 ELSE 0 END AS hit,
        |  score AS best_score
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
