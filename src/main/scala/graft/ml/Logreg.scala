package graft.ml

import graft.{Tables, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trainable quality-classifier gate: logistic regression by
  * deterministic full-batch gradient descent, trained and applied as
  * Spark aggregations — the fastText-style learned filter a training-data
  * pipeline puts after the rule-based gates (Gopher rules score surface
  * shape; a trained model learns the weighting from labels).
  *
  * Task here: predict `lang = 'en'` from four exact surface features
  * (word count, mean word length, type-token ratio, char length) — a
  * real signal in this corpus, and every feature is rational per-row
  * arithmetic, so the whole pipeline replays in DuckDB.
  *
  * Determinism engineering (the whole point — a trained model whose
  * weights are bit-identical on any partitioning and any engine):
  *  - full-batch GD, fixed 3 iterations, lr = 0.5, w₀ = 0: no RNG, no
  *    convergence race;
  *  - the margin z = w·x is a FIXED left-assoc chain (w0·1 + w1·x1 + …)
  *    so both engines fold the same doubles in the same order;
  *  - σ(z) = 1/(1+exp(−z)) is the one transcendental — rounded per ROW
  *    to 12 decimals before it enters the gradient (Java Math.exp and
  *    libm exp agree to <1 ulp; the round makes the residual
  *    disagreement probability vanish, the same discipline as the
  *    engine's log-based scores);
  *  - gradient components sum through DECIMAL(18,6) (U.dec6) — the
  *    partition-order-invariant double-sum bridge every trainer here
  *    uses — then divide by N exactly.
  *
  * At 100 TB: each GD iteration is ONE map-side-combined aggregation
  * over the corpus (5 decimal sums), the model is a handful of driver
  * doubles broadcast back — the classic "statistics small, data big"
  * shape. Minibatch/LBFGS are drop-in upgrades of the same plan. */
object Logreg {

  val Lr = 0.5
  val Iters = 3
  val NFeatures = 4 // + bias

  /** Exact per-row features + label. nw ≥ 1 for any text (split of ""
    * is [""]), so the rationals are total. */
  def features(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.t(s, d, "documents")
    val words = split(col("text"), " ")
    val nw = size(words).cast("double")
    docs.select(
      col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      (nw / 100.0).as("x1"),
      ((length(col("text")).cast("double") - (nw - 1.0)) / nw).as("x2"),
      (size(array_distinct(words)).cast("double") / nw).as("x3"),
      (length(col("text")).cast("double") / 1000.0).as("x4"))
  }

  /** round(σ(z), 12) as a Column — the per-row transcendental bridge. */
  private def sigma12(z: Column): Column =
    round((lit(1.0) / (lit(1.0) + exp(-z))) * 1e12) / 1e12

  /** Model applied to an arbitrary text column (features built inline,
    * same fixed left-assoc margin + sigmoid bridge as training) — the
    * reusable gate for composed pipelines. */
  def scoreOf(text: Column, w: Array[Double]): Column = {
    val words = split(text, " ")
    val nw = size(words).cast("double")
    val xs = Seq(
      nw / 100.0,
      (length(text).cast("double") - (nw - 1.0)) / nw,
      size(array_distinct(words)).cast("double") / nw,
      length(text).cast("double") / 1000.0)
    val z = xs.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (x, j)) => acc + lit(w(j + 1)) * x
    }
    sigma12(z)
  }

  /** SQL spelling of σ(w·x) with weights from CTE `prefix` and feature
    * columns x1..x4 in scope — for oracles that re-apply the replayed
    * trained weights to a different feature source. */
  def applySql(prefix: String): String = sqlSigma(sqlMargin(prefix))

  /** SQL SELECT list computing x1..x4 from a text expression — must
    * stay textually in lockstep with [[scoreOf]]/[[features]]. */
  def featureSql(text: String): String =
    s"""len(string_split($text, ' ')) / 100.0 AS x1,
       |    (length($text) - (len(string_split($text, ' ')) - 1.0))
       |      / len(string_split($text, ' ')) AS x2,
       |    len(list_distinct(string_split($text, ' ')))
       |      / CAST(len(string_split($text, ' ')) AS DOUBLE) AS x3,
       |    length($text) / 1000.0 AS x4""".stripMargin

  /** Fixed left-assoc margin chain from literal weights. */
  private def margin(w: Array[Double]): Column =
    (1 to NFeatures).foldLeft(lit(w(0)): Column)((acc, j) =>
      acc + lit(w(j)) * col(s"x$j"))

  /** Deterministic full-batch GD. Returns (w0..w4). One aggregation per
    * iteration; the feature frame is persisted across iterations so the
    * corpus is scanned from cache, not re-derived. */
  def train(s: SparkSession, d: String): Array[Double] = {
    val f = features(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = f.count().toDouble
      val w = Array.fill(NFeatures + 1)(0.0)
      for (_ <- 0 until Iters) {
        val err = col("y") - sigma12(margin(w))
        val gradCols = U.dbl(sum(U.dec6(err))).as("g0") +:
          (1 to NFeatures).map(j =>
            U.dbl(sum(U.dec6(err * col(s"x$j")))).as(s"g$j"))
        val grads = f.select(gradCols: _*).head()
        for (j <- 0 to NFeatures)
          w(j) = w(j) + Lr * (grads.getDouble(j) / n)
      }
      w
    } finally f.unpersist()
  }

  /** Trained weights, a [[graft.Derived]] entry of the documents table. */
  def weights(s: SparkSession, d: String): Array[Double] =
    graft.Derived.get(s, "logreg_weights", d, "documents")(_ => train(s, d))

  /** Bounded per-group top-k as a typed Aggregator — the scale shape
    * for grouped ranking: the buffer holds AT MOST k (score, id) pairs,
    * partials combine map-side, and the merge is a sorted take(k) under
    * a TOTAL order (score, then id), so the result is independent of
    * partitioning. A `row_number` window would sort entire data-scaled
    * groups through one task each; this is the B.8 custom-UDAF answer.
    * `best = true` keeps the highest scores (desc, id asc);
    * `best = false` the lowest (asc, id desc) — the two orders are
    * exact mirrors so a group's k-th best and k-th worst pair up. */
  final class TopKAgg(k: Int, best: Boolean)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def precedes(a: (Double, Long), b: (Double, Long)): Boolean =
      if (best) a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
      else a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    def zero: Seq[(Double, Long)] = Seq.empty
    def reduce(buf: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      merge(buf, Seq(a))
    def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (x ++ y).sortWith(precedes).take(k)
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the learned model itself — one row of weights (round6 for the
    // driver compare; the apply query consumes the unrounded doubles)
    "ml_logreg_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      def r6(x: Double): Double = math.round(x * 1e6) / 1e6
      val w = weights(s, d)
      Seq((r6(w(0)), r6(w(1)), r6(w(2)), r6(w(3)), r6(w(4))))
        .toDF("w0", "w1", "w2", "w3", "w4")
    }),
    // confusion matrix + derived metrics at the 0.5 threshold — the
    // eval row every trained gate ships with: one aggregation over the
    // scored corpus, metrics as exact ratios of counts.
    "ml_logreg_eval" -> ((s, d) => {
      val w = weights(s, d)
      val pred = sigma12(margin(w)) >= 0.5
      val pos = col("y") === 1.0
      val agg = features(s, d).agg(
        sum(when(pred && pos, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !pos, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && !pos, 1L).otherwise(0L)).as("tn"),
        sum(when(!pred && pos, 1L).otherwise(0L)).as("fn"))
      agg.select(col("tp"), col("fp"), col("tn"), col("fn"),
        U.round6((col("tp") + col("tn")).cast("double")
          / (col("tp") + col("fp") + col("tn") + col("fn"))).as("accuracy"),
        when(col("tp") + col("fp") > 0, U.round6(col("tp").cast("double")
          / (col("tp") + col("fp")))).as("precision"),
        when(col("tp") + col("fn") > 0, U.round6(col("tp").cast("double")
          / (col("tp") + col("fn")))).as("recall"))
    }),

    // calibration curve (reliability diagram): decile score bins ×
    // observed positive rate — whether 0.3 means 30%. Deterministic
    // binning on the rounded score; one aggregation.
    "ml_logreg_calibration" -> ((s, d) => {
      val w = weights(s, d)
      val score = sigma12(margin(w))
      features(s, d)
        .select(col("y"), score.as("sc"))
        .withColumn("bin", least(floor(col("sc") * 10), lit(9.0))
          .cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          U.round6(U.dbl(sum(U.dec6(col("sc")))) / count(lit(1)))
            .as("mean_score"),
          U.round6(sum(col("y").cast("long")).cast("double")
            / count(lit(1))).as("pos_rate"))
        .orderBy("bin")
    }),

    // scored corpus: the quality gate a pipeline filters/samples on
    "ml_logreg_apply" -> ((s, d) => {
      val w = weights(s, d)
      features(s, d).select(
        col("doc_id"),
        U.round6(sigma12(margin(w))).as("score"),
        (sigma12(margin(w)) >= 0.5).as("pred_en"),
        col("y").cast("long").as("label_en"))
        .orderBy("doc_id")
    }),

    // Decile lift/gains table — the campaign-targeting readout: rank
    // the corpus by gate score, cut at the score deciles (exact
    // interpolated percentiles, the events_rfm discipline: boundary
    // compares are flip-safe because an interpolated quantile either
    // equals a data value or lies strictly between distinct values),
    // and report each decile's response rate, lift over the base
    // rate, and cumulative gains. One percentile aggregate (1-row
    // broadcast) + one map-side decile assignment + a 10-row window.
    "ml_logreg_lift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // the decile fit buffers one score per document → enforce +
      // attribute the dimension bound (VERDICT r13 item 4)
      graft.operators.Aggregates.pctBoundGuard(s, d, "documents",
        "ml_logreg_lift")
      val w = weights(s, d)
      val sc = features(s, d).select(
        U.round6(sigma12(margin(w))).as("sc"), col("y"))
      val probs = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
      val qs = sc.groupBy().agg(
        expr(s"percentile(sc, $probs)").as("q"),
        count(lit(1)).as("n_all"),
        sum(col("y").cast("long")).as("pos_all"))
      def decile(v: org.apache.spark.sql.Column,
          q: org.apache.spark.sql.Column) =
        (1 to 9).foldLeft(lit(1): org.apache.spark.sql.Column)(
          (acc, i) => acc + (v > element_at(q, i)).cast("int"))
      val dec = sc.crossJoin(broadcast(qs))
        // decile 1 = TOP scores (11 - raw bucket), targeting order
        .withColumn("decile",
          (lit(11) - decile(col("sc"), col("q"))).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast("long")).as("pos"),
          first(col("n_all")).as("n_all"),
          first(col("pos_all")).as("pos_all"))
      val base = col("pos_all").cast("double") / col("n_all")
      dec
        .withColumn("cum_pos", sum(col("pos")).over(Window
          .orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n"), col("pos"),
          U.round6(col("pos").cast("double") / col("n")).as("resp_rate"),
          U.round6((col("pos").cast("double") / col("n")) / base)
            .as("lift"),
          U.round6(col("cum_pos").cast("double") / col("pos_all"))
            .as("cum_gain"))
        .orderBy("decile")
    }),

    // ROC AUC of the scored corpus — threshold-free ranking quality,
    // the metric that actually orders candidate gates. AUC is the
    // Mann-Whitney U statistic normalized: P(score⁺ > score⁻) + ½
    // P(=), computed from cumulative NEGATIVE counts below each
    // distinct score. Scale shape (the stats-family discipline):
    // ONE data-scaled stage (groupBy distinct score, map-side
    // combined), then block-stitched cumulatives — per-block
    // partitioned windows plus a ≤101-row offset table — so no
    // unpartitioned window ever sees the data-scaled distinct-score
    // Preference-pair construction for DPO/RLHF-style training data:
    // within each source, the k best-scoring documents (by the trained
    // quality gate) pair 1-1 with the k worst — rank i best vs rank i
    // worst, margin = score gap — producing the (chosen, rejected)
    // table a preference-tuning run consumes. Composition evidence:
    // the scorer is the registered trained gate, reused, not
    // re-derived. Shape: ONE map-side-combining aggregate per group
    // via the bounded [[TopKAgg]] buffers (both extremes in the same
    // aggregate — never a row_number sort of a data-scaled group
    // through one task), then a ≤k-row explode. Degenerate pairs
    // (chosen score ≤ rejected — tiny or uniform groups, incl. the
    // same doc as both extremes) are filtered: a non-positive margin
    // teaches nothing.
    "pair_preference_build" -> ((s, d) => {
      val k = 10
      val w = weights(s, d)
      val sc = features(s, d).select(col("doc_id"),
        U.round6(sigma12(margin(w))).as("sc"))
      val scored = sc.join(
        Tables.t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id")
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong)
      val topA = udaf(new TopKAgg(k, best = true), enc)
      val botA = udaf(new TopKAgg(k, best = false), enc)
      scored.groupBy("source")
        .agg(topA(col("sc"), col("doc_id")).as("top"),
          botA(col("sc"), col("doc_id")).as("bot"))
        .select(col("source"),
          posexplode(arrays_zip(col("top"), col("bot"))).as(Seq("i", "p")))
        .select(col("source"), (col("i") + 1).cast("long").as("pair_rank"),
          col("p.top._2").as("chosen_doc"),
          col("p.bot._2").as("rejected_doc"),
          U.round6(col("p.top._1") - col("p.bot._1")).as("margin"))
        .filter(col("margin") > 0.0)
        .orderBy("source", "pair_rank")
    }),

    // set. Per-group contributions quantize through U.dec6r (the
    // computed-double cast bridge) before the final exact sum.
    "ml_logreg_auc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = weights(s, d)
      val sc = features(s, d).select(
        U.round6(sigma12(margin(w))).as("sc"), col("y"))
      val g = sc.groupBy("sc").agg(
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") =!= 1.0, 1L).otherwise(0L)).as("nn"))
      // scores live in [0,1]: floor(sc*100) splits the distinct-score
      // mass into ≤101 range blocks, monotone along the score order
      val blk = g.withColumn("b", floor(col("sc") * 100).cast("int"))
      val wIn = Window.partitionBy("b").orderBy("sc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = blk.withColumn("cn_in", sum(col("nn")).over(wIn))
      val boff = blk.groupBy("b").agg(sum(col("nn")).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(
          Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("b"), col("off"))
      val cum = local.join(broadcast(boff), "b")
        .withColumn("cb", col("off") + col("cn_in") - col("nn"))
      val t = cum.agg(
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(U.dec6r(col("np").cast("double")
          * (col("cb").cast("double")
            + col("nn").cast("double") / lit(2.0))))
          .cast("double").as("u"))
      t.select(col("n_pos"), col("n_neg"),
        U.round6(col("u") / (col("n_pos").cast("double")
          * col("n_neg").cast("double"))).as("auc"))
    })
  )

  /** The full training REPLAYED in SQL (BPE-train-style unrolled
    * iterations, not weight literals — the oracle checks the trainer,
    * not just the apply): feats once, then per iteration a 1-row
    * gradient aggregate cross-joined forward into the next weights CTE.
    * 3 unrolled stages reference feats 3× — linear duplication, nowhere
    * near the exponential-CTE trap (each stage is one aggregate, not a
    * self-join). */
  private def sqlSigma(z: String): String =
    s"round((1.0 / (1.0 + exp(-($z)))) * 1e12) / 1e12"

  private def sqlMargin(p: String): String =
    (1 to NFeatures).foldLeft(s"$p.w0")((acc, j) =>
      s"($acc + $p.w$j * x$j)")

  private def gradStage(i: Int): String = {
    val prev = s"w$i"
    val err = s"(y - ${sqlSigma(sqlMargin(prev))})"
    val gs = (0 to NFeatures).map { j =>
      val e = if (j == 0) err else s"$err * x$j"
      s"CAST(SUM(CAST($e AS DECIMAL(18,6))) AS DOUBLE) / (SELECT n FROM nn) AS g$j"
    }.mkString(",\n    ")
    val ws = (0 to NFeatures)
      .map(j => s"$prev.w$j + $Lr * g.g$j AS w$j").mkString(", ")
    s"""g${i + 1} AS (
       |  SELECT $gs
       |  FROM feats, $prev),
       |w${i + 1} AS (SELECT $ws FROM $prev, g${i + 1} g)""".stripMargin
  }

  val trainSqlCtes: String = {
    val stages = (0 until Iters).map(gradStage).mkString(",\n")
    s"""WITH feats AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    len(string_split(text, ' ')) / 100.0 AS x1,
       |    (length(text) - (len(string_split(text, ' ')) - 1.0))
       |      / len(string_split(text, ' ')) AS x2,
       |    len(list_distinct(string_split(text, ' ')))
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3,
       |    length(text) / 1000.0 AS x4
       |  FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
       |              0.0 AS w4),
       |$stages""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ml_logreg_eval" -> (trainSqlCtes +
      s""",
         |sc AS (
         |  SELECT y, ${sqlSigma(sqlMargin(s"w$Iters"))} >= 0.5 AS pred
         |  FROM feats, w$Iters),
         |cm AS (
         |  SELECT
         |    CAST(count(*) FILTER (pred AND y = 1.0) AS BIGINT) AS tp,
         |    CAST(count(*) FILTER (pred AND y <> 1.0) AS BIGINT) AS fp,
         |    CAST(count(*) FILTER (NOT pred AND y <> 1.0) AS BIGINT) AS tn,
         |    CAST(count(*) FILTER (NOT pred AND y = 1.0) AS BIGINT) AS fn
         |  FROM sc)
         |SELECT tp, fp, tn, fn,
         |  round((tp + tn) / CAST(tp + fp + tn + fn AS DOUBLE) * 1000000)
         |    / 1000000 AS accuracy,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(tp / CAST(tp + fp AS DOUBLE) * 1000000) / 1000000 END
         |    AS precision,
         |  CASE WHEN tp + fn > 0 THEN
         |    round(tp / CAST(tp + fn AS DOUBLE) * 1000000) / 1000000 END
         |    AS recall
         |FROM cm""".stripMargin),
    "ml_logreg_calibration" -> (trainSqlCtes +
      s""",
         |sc AS (
         |  SELECT y, ${sqlSigma(sqlMargin(s"w$Iters"))} AS s
         |  FROM feats, w$Iters),
         |binned AS (
         |  SELECT CAST(least(floor(s * 10), 9.0) AS BIGINT) AS bin, y, s
         |  FROM sc)
         |SELECT bin, count(*) AS n,
         |  round(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    * 1000000) / 1000000 AS mean_score,
         |  round(CAST(count(*) FILTER (y = 1.0) AS DOUBLE) / count(*)
         |    * 1000000) / 1000000 AS pos_rate
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin),
    "ml_logreg_train" -> (trainSqlCtes +
      s"""
         |SELECT ${(0 to NFeatures).map(j =>
              s"round(w$j * 1000000) / 1000000 AS w$j").mkString(", ")}
         |FROM w$Iters""".stripMargin),
    "ml_logreg_apply" -> (trainSqlCtes +
      s"""
         |SELECT doc_id,
         |  round(${sqlSigma(sqlMargin(s"w$Iters"))} * 1000000) / 1000000
         |    AS score,
         |  ${sqlSigma(sqlMargin(s"w$Iters"))} >= 0.5 AS pred_en,
         |  CAST(y AS BIGINT) AS label_en
         |FROM feats, w$Iters ORDER BY doc_id""".stripMargin),
    "ml_logreg_lift" -> (trainSqlCtes +
      s"""
         |,
         |sc AS (
         |  SELECT round(${sqlSigma(sqlMargin(s"w$Iters"))} * 1000000)
         |      / 1000000 AS sc, y
         |  FROM feats, w$Iters),
         |qs AS (
         |  SELECT quantile_cont(sc, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,
         |    0.8,0.9]) AS q,
         |    count(*) AS n_all, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT)
         |      AS pos_all
         |  FROM sc),
         |dec AS (
         |  SELECT CAST(11 - (1
         |      ${(1 to 9).map(i =>
               s"+ CASE WHEN sc > q[$i] THEN 1 ELSE 0 END").mkString(" ")})
         |    AS BIGINT) AS decile, y
         |  FROM sc, qs),
         |g AS (
         |  SELECT decile, count(*) AS n,
         |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
         |  FROM dec GROUP BY decile),
         |c AS (
         |  SELECT g.*, qs.n_all, qs.pos_all,
         |    SUM(pos) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_pos
         |  FROM g, qs)
         |SELECT decile, n, pos,
         |  round(CAST(pos AS DOUBLE) / n * 1000000) / 1000000
         |    AS resp_rate,
         |  round((CAST(pos AS DOUBLE) / n)
         |      / (CAST(pos_all AS DOUBLE) / n_all) * 1000000) / 1000000
         |    AS lift,
         |  round(CAST(cum_pos AS DOUBLE) / pos_all * 1000000) / 1000000
         |    AS cum_gain
         |FROM c ORDER BY decile""".stripMargin),
    // replayed weights → scores → the window spelling of the grouped
    // top/bottom-k (the oracle need not scale; the engine's bounded
    // TopKAgg buffers are pinned equivalent to row_number under the
    // same total order)
    "pair_preference_build" -> (trainSqlCtes +
      s"""
         |,
         |sc AS (
         |  SELECT f.doc_id, d.source,
         |    round(${sqlSigma(sqlMargin(s"w$Iters"))} * 1000000)
         |      / 1000000 AS sc
         |  FROM feats f JOIN documents d ON d.doc_id = f.doc_id, w$Iters),
         |top AS (
         |  SELECT source, doc_id, sc, row_number() OVER (
         |    PARTITION BY source ORDER BY sc DESC, doc_id) AS pr
         |  FROM sc),
         |bot AS (
         |  SELECT source, doc_id, sc, row_number() OVER (
         |    PARTITION BY source ORDER BY sc ASC, doc_id DESC) AS pr
         |  FROM sc),
         |paired AS (
         |  SELECT t.source, CAST(t.pr AS BIGINT) AS pair_rank,
         |    t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
         |    round((t.sc - b.sc) * 1000000) / 1000000 AS margin
         |  FROM top t JOIN bot b ON b.source = t.source AND b.pr = t.pr
         |  WHERE t.pr <= 10)
         |SELECT * FROM paired WHERE margin > 0.0
         |ORDER BY source, pair_rank""".stripMargin),
    "ml_logreg_auc" -> (trainSqlCtes +
      s"""
         |,
         |sc AS (
         |  SELECT round(${sqlSigma(sqlMargin(s"w$Iters"))} * 1000000)
         |      / 1000000 AS sc, y
         |  FROM feats, w$Iters),
         |g AS (
         |  SELECT sc,
         |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS np,
         |    CAST(SUM(CASE WHEN y <> 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nn
         |  FROM sc GROUP BY sc),
         |c AS (
         |  SELECT np, nn,
         |    coalesce(SUM(nn) OVER (ORDER BY sc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cb
         |  FROM g),
         |t AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         |    CAST(SUM(nn) AS BIGINT) AS n_neg,
         |    CAST(SUM(CAST(round(CAST(np AS DOUBLE)
         |        * (CAST(cb AS DOUBLE) + CAST(nn AS DOUBLE) / 2.0)
         |        * 1000000) / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
         |      AS u
         |  FROM c)
         |SELECT n_pos, n_neg,
         |  round(u / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         |    * 1000000) / 1000000 AS auc
         |FROM t""".stripMargin)
  )
}
