package graft.ml

import graft.{Tables, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed-form ridge regression (2 features, L2 λ = 1): the normal
  * equations (XᵀX + λI)w = Xᵀy solved exactly from five sufficient
  * statistics — the "statistics small, data big" trainer in its purest
  * form. One map-side-combined aggregation over the fact produces the
  * 2×2 Gram matrix and the 2-vector moment; Cramer's rule solves it in
  * closed form, so there is no iteration, no RNG, and nothing that
  * depends on partitioning.
  *
  * Task: predict `l_extendedprice` from (`l_quantity`, `l_discount`)
  * over lineitem — quantity carries nearly all the signal (price ≈
  * unit·qty), so w₁ lands near the mean unit price and w₂ soaks up the
  * discount correlation; λ = 1 is felt only in the 4th decimal, which
  * the exact algebra resolves identically on both engines.
  *
  * Determinism: every sufficient statistic sums through DECIMAL(18,4)
  * ([[U.dsum]]); the closed-form solve is per-row IEEE arithmetic on
  * identical doubles (bit-identical across engines); weights round to
  * 1e-6 only at the output/consumption boundary.
  *
  * At 100 TB: the train pass is ONE aggregation (5 decimal sums + a
  * count) — partial aggregates combine map-side, the driver sees six
  * numbers. The eval pass re-reads the fact once with the solved
  * weights as literals (broadcast-free scalar fold). d features cost a
  * d²-entry Gram matrix per partition — closed form stays the right
  * shape until d² outgrows executor memory (~10³ features), LBFGS
  * territory.
  *
  * Reference ancestry: none — beyond-reference engine surface (the
  * reference pipeline computes summary stats, not models).
  */
object Ridge {

  val Lambda = 1.0

  /** (n, S11, S12, S22, b1, b2) — the sufficient statistics, one
    * aggregation. */
  // U.fan on the narrow 3-column projection: the five decimal sums are
  // the cost, and on the single-row-group test layout they would run at
  // scan parallelism (3 tasks, measured 2.4 s of ml_conformal_interval);
  // one ~10 MB shuffle buys 32-way partial aggregation. On a multi-file
  // production layout this is one redundant narrow exchange.
  private def stats(s: SparkSession, d: String): DataFrame =
    // keyed exchange (r18; was round-robin U.fan — the near-unique
    // price spreads evenly with no SPARK-23207 pre-shuffle sort)
    Tables.t(s, d, "lineitem")
      .select("l_quantity", "l_discount", "l_extendedprice")
      .repartition(col("l_extendedprice")).agg(
      count(lit(1)).as("n"),
      U.dsum(col("l_quantity") * col("l_quantity")).as("s11"),
      U.dsum(col("l_quantity") * col("l_discount")).as("s12"),
      U.dsum(col("l_discount") * col("l_discount")).as("s22"),
      U.dsum(col("l_quantity") * col("l_extendedprice")).as("b1"),
      U.dsum(col("l_discount") * col("l_extendedprice")).as("b2"))

  /** Cramer solve of (G + λI)w = b on the one-row stats frame. */
  private def solved(st: DataFrame): DataFrame = {
    val a11 = col("s11") + lit(Lambda)
    val a22 = col("s22") + lit(Lambda)
    st.withColumn("det", a11 * a22 - col("s12") * col("s12"))
      .select(col("n"),
        U.round6((a22 * col("b1") - col("s12") * col("b2"))
          / col("det")).as("w1"),
        U.round6((a11 * col("b2") - col("s12") * col("b1"))
          / col("det")).as("w2"))
  }

  /** Driver-side weights for the eval query (same algebra as the
    * train query), a [[graft.Derived]] entry like [[Logreg.weights]]. */
  def weights(s: SparkSession, d: String): (Double, Double) =
    graft.Derived.get(s, "ridge_weights", d, "lineitem") { _ =>
      val r = solved(stats(s, d)).head()
      (r.getDouble(1), r.getDouble(2))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the trained model — one row: n + the two ridge weights
    "ml_ridge_train" -> ((s, d) => solved(stats(s, d))),

    // train-set RMSE and mean absolute error at the solved (rounded)
    // weights — the fit-quality row. Residuals QUANTIZE to exact 1e-4
    // integers per row before any aggregation (the double→decimal cast
    // itself is engine-divergent at the last ulp on large-magnitude
    // values — Spark casts the shortest decimal string, DuckDB the
    // binary value — and this query's first draft hit exactly that
    // boundary); integer squares stay < 2⁶³ per row and sum exactly
    // through unbounded decimals, so both engines fold identical
    // integers and the final ratios are identical doubles.
    "ml_ridge_eval" -> ((s, d) => {
      val (w1, w2) = weights(s, d)
      val resid = col("l_extendedprice") -
        (lit(w1) * col("l_quantity") + lit(w2) * col("l_discount"))
      val r4 = round(resid * lit(1e4)).cast("long")
      // keyed exchange (r18) — same rationale as `stats` above
      Tables.t(s, d, "lineitem")
          .select("l_quantity", "l_discount", "l_extendedprice")
          .repartition(col("l_extendedprice"))
        .agg(count(lit(1)).as("n"),
          sum((r4 * r4).cast("decimal(38,0)")).as("ss4"),
          sum(abs(r4).cast("decimal(38,0)")).as("sa4"))
        .select(col("n"),
          U.round6(sqrt(U.dbl(col("ss4")) / lit(1e8) / col("n")))
            .as("rmse"),
          U.round6(U.dbl(col("sa4")) / lit(1e4) / col("n")).as("mae"))
    }),

    // Split conformal prediction — the distribution-free uncertainty
    // wrapper every deployed regressor should ship with: hash-split
    // the rows 50/50 (md5 of the natural key — deterministic, engine-
    // identical), take the ⌈0.9·(n+1)⌉-th smallest absolute residual
    // on the calibration half as the interval half-width q, then
    // measure empirical coverage of ŷ ± q on the held-out half
    // (guaranteed ≥ 90% in expectation by exchangeability — the test
    // pins it ≥ 88% on this data). Residuals quantize to exact 1e-4
    // integers (the ml_ridge_eval discipline), so the order statistic
    // is an integer threshold — no interpolation, no rounding bridge.
    // The rank is found distributively: per-value counts + one
    // cumulative window OVER that aggregate; only the two scalars
    // (n_cal, q) come to the driver.
    "ml_conformal_interval" -> ((s, d) => {
      val (w1, w2) = weights(s, d)
      val resid = col("l_extendedprice") -
        (lit(w1) * col("l_quantity") + lit(w2) * col("l_discount"))
      // Parallelizing exchange BEFORE the md5/residual projection (that
      // per-row compute is what must run at shuffle parallelism, not
      // the one-row-group scan parallelism). Hash on the natural key
      // (r17; was round-robin U.fan): same spread — (orderkey,
      // linenumber) is unique — without the SPARK-23207
      // sort-before-repartition that round-robin pays on every row.
      val base = Tables.t(s, d, "lineitem")
        .select("l_extendedprice", "l_quantity", "l_discount",
          "l_orderkey", "l_linenumber")
        .repartition(col("l_orderkey"), col("l_linenumber")).select(
        round(abs(resid) * lit(1e4)).cast("long").as("a4"),
        (substring(md5(concat(col("l_orderkey").cast("string"),
          lit("_"), col("l_linenumber").cast("string"))), 1, 1) < "8")
          .as("is_cal"))
      // ONE scan, ZERO head() round-trips (round-10 rewrite): per-value
      // counts in a single keyed aggregate, MATERIALIZED ONCE as an
      // eager localCheckpoint (self-join re-aliasing defeats AQE
      // exchange reuse here — measured 3× recompute of the fan+md5+
      // aggregate, 1-1.8 s each, without it; checkpoint blocks are
      // GC-released, the Iterate discipline). The calibration total and
      // the ⌈0.9·(n+1)⌉-rank threshold then reduce to 1-row broadcasts
      // (the sanctioned scalar-broadcast shape, whitelisted in
      // PlanSpec), and coverage is one final aggregate over the counts
      // joined to both scalars.
      // The cumulative count BLOCK-STITCHES (the abcClassify /
      // exactQuantiles discipline): per-distinct-residual rows are NOT
      // bounded — residuals are near-continuous, so distinct a4 grows
      // with the data, and the r13 sf1 attribution caught the old
      // single `Window.orderBy(a4)` materializing a 64 MB checkpoint
      // through ONE task (6.2 s of an 8.9 s query). Local running sums
      // per (a4 div 2^16) block in parallel; the only unpartitioned
      // window consumes the block-total summary, whose cardinality is
      // bounded by the residual DOMAIN. cum over all rows (not the
      // cc>0 view) is identity-preserving — cum only increases at
      // cc>0 rows, so "min a4 with cum ≥ k" lands on the same row.
      // checkpointed BEFORE the stitch: the block-offset branch and the
      // local-window branch both consume this aggregate, and without
      // the cut the whole fan+md5+aggregate lineage runs once per
      // branch (measured: task-time doubled at sf1)
      val cnts0 = base.groupBy("a4").agg(
        sum(when(col("is_cal"), 1L).otherwise(0L)).as("cc"),
        sum(when(!col("is_cal"), 1L).otherwise(0L)).as("tc"))
        .withColumn("blk", expr("a4 div 65536"))
        .localCheckpoint(true)
      val wLoc = Window.partitionBy("blk").orderBy("a4")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.orderBy("blk")
      val offs = cnts0.groupBy("blk").agg(sum(col("cc")).as("bs"))
        .withColumn("off", coalesce(sum(col("bs")).over(
          wBlk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("blk"), col("off"))
      val counts = cnts0
        .withColumn("lc", sum(col("cc")).over(wLoc))
        .join(broadcast(offs), Seq("blk"))
        .withColumn("cum", col("off") + col("lc"))
        .select(col("a4"), col("cc"), col("tc"), col("cum"))
        .localCheckpoint(true)
      val tot = counts.agg(sum(col("cc")).as("n_cal"),
        sum(col("tc")).as("n_test"))
      // same ceil spelling as the SQL oracle (exact integer-valued
      // doubles — engine-identical)
      val q4 = counts.filter(col("cc") > 0)
        .crossJoin(broadcast(tot))
        .filter(col("cum") >=
          ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"))
        .agg(min(col("a4")).as("q4"))
      counts.crossJoin(broadcast(q4))
        .agg(sum(when(col("a4") <= col("q4"), col("tc")).otherwise(0L))
          .as("covered"), first(col("q4")).as("q4f"))
        .crossJoin(broadcast(tot))
        .select(col("n_cal"), col("n_test"),
          (col("q4f").cast("double") / 1e4).as("q"),
          U.round6(col("covered").cast("double") / col("n_test"))
            .as("coverage"))
    }))

  private val statsSql =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4)))
      |    AS DOUBLE) AS s11,
      |  CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,4)))
      |    AS DOUBLE) AS s12,
      |  CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,4)))
      |    AS DOUBLE) AS s22,
      |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4)))
      |    AS DOUBLE) AS b1,
      |  CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(18,4)))
      |    AS DOUBLE) AS b2
      |FROM lineitem""".stripMargin

  private val solveSql =
    """SELECT n,
      |  round(((s22 + 1.0) * b1 - s12 * b2)
      |    / ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) * 1000000)
      |    / 1000000 AS w1,
      |  round(((s11 + 1.0) * b2 - s12 * b1)
      |    / ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) * 1000000)
      |    / 1000000 AS w2
      |FROM st""".stripMargin

  val oracles: Map[String, String] = Map(
    "ml_ridge_train" -> s"WITH st AS ($statsSql)\n$solveSql",
    "ml_ridge_eval" ->
      s"""WITH st AS ($statsSql),
        |w AS ($solveSql),
        |r AS (
        |  SELECT CAST(round((l_extendedprice
        |      - (w.w1 * l_quantity + w.w2 * l_discount)) * 10000)
        |    AS BIGINT) AS r4
        |  FROM lineitem, w),
        |e AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(r4 * r4) AS DOUBLE) AS ss,
        |    CAST(sum(abs(r4)) AS DOUBLE) AS sa
        |  FROM r)
        |SELECT n,
        |  round(sqrt(ss / 100000000.0 / n) * 1000000) / 1000000 AS rmse,
        |  round(sa / 10000.0 / n * 1000000) / 1000000 AS mae
        |FROM e""".stripMargin,
    "ml_conformal_interval" ->
      s"""WITH st AS ($statsSql),
        |w AS ($solveSql),
        |r AS (
        |  SELECT CAST(round(abs(l_extendedprice
        |      - (w.w1 * l_quantity + w.w2 * l_discount)) * 10000)
        |    AS BIGINT) AS a4,
        |    CASE WHEN substring(md5(concat(
        |        CAST(l_orderkey AS VARCHAR), '_',
        |        CAST(l_linenumber AS VARCHAR))), 1, 1) < '8'
        |      THEN 1 ELSE 0 END AS is_cal
        |  FROM lineitem, w),
        |cnt AS (SELECT a4, count(*) AS c FROM r
        |        WHERE is_cal = 1 GROUP BY a4),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM cnt),
        |k AS (SELECT CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT) AS k,
        |        n_cal FROM n),
        |cc AS (SELECT a4, sum(c) OVER (ORDER BY a4
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS cum FROM cnt),
        |q AS (SELECT min(a4) AS q4 FROM cc, k WHERE cc.cum >= k.k),
        |tst AS (
        |  SELECT count(*) AS n_test,
        |    CAST(sum(CASE WHEN r.a4 <= q.q4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS covered
        |  FROM r, q WHERE is_cal = 0)
        |SELECT k.n_cal, tst.n_test,
        |  CAST(q.q4 AS DOUBLE) / 10000.0 AS q,
        |  round(CAST(covered AS DOUBLE) / n_test * 1000000) / 1000000
        |    AS coverage
        |FROM tst, q, k""".stripMargin)
}
