package graft.ml

import graft.{Tables, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-component 1-D Gaussian mixture by EM — the unsupervised
  * segmentation counterpart to [[Logreg]]'s supervised gate: split the
  * customer base into low/high spenders with soft responsibilities, no
  * labels required.
  *
  * Shape at 100 TB: the fact collapses FIRST to one row per customer
  * (keyed aggregate, map-side combined), and each EM iteration is ONE
  * aggregation over that persisted frame producing six numbers — the
  * "statistics small, data big" EM. Nothing data-scaled crosses the
  * driver; `Iters` passes over a cached narrow column.
  *
  * Determinism bridge (the [[Logreg]] discipline, iteration-proof):
  *   - responsibilities round at 1e-12 (absorbs the ≤1-ulp libm `exp`
  *     divergence between engines) and then quantize to DECIMAL(18,6)
  *     inside every M-step sum — partition-order-invariant, engine-
  *     exact. Every COMPUTED double is passed through the engine-
  *     stable `round(y*1e6)/1e6` BEFORE the decimal cast: the bare
  *     double→DECIMAL cast is engine-divergent at 1e-6 ties (Spark
  *     casts the shortest decimal string, DuckDB the binary value —
  *     the ml_ridge_eval lesson; measured here: 2/1500 per-customer
  *     means flipped, drifting π₁ by 2.4e-8 and one round6-boundary
  *     responsibility by a full 1e-6 step), while round-then-cast has
  *     the tie at least ~1e-10 away on both sides. Raw parquet
  *     columns (≤2 decimal digits) cast safely without the wrap;
  *   - parameter updates are per-row IEEE arithmetic on those exact
  *     sums, spelled token-for-token like the SQL replay;
  *   - init is closed-form from one moment aggregate (μ ± σ, equal
  *     weights, pooled variance) — no RNG anywhere.
  *
  * The oracle REPLAYS the full training (unrolled iteration CTEs, the
  * [[Logreg.trainSqlCtes]] pattern — each stage is one aggregate over
  * `base`, linear duplication), so the gate checks the trainer, not
  * just the apply.
  *
  * Reference ancestry: none — beyond-reference ML surface.
  */
object Gmm {

  val Iters = 4
  /** o_totalprice is ~1e4–5e5; /1e5 keeps x in [0, ~6] so x² stays
    * well inside DECIMAL(18,6) and exp() arguments are moderate. */
  val Scale = 100000.0
  private val VarFloor = 0.000001
  private val MassFloor = 0.000001

  /** Per-customer mean order value, scaled — the clustering feature.
    * The only data-scaled stage (one keyed aggregate). */
  private def base(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(U.round6(sum(U.dec6(col("o_totalprice"))).cast("double")
        / count(lit(1)) / lit(Scale)).as("x"))
      .select(col("o_custkey").as("cust"), col("x"))

  /** (pi1, mu1, v1, mu2, v2) plus the training-frame row count. */
  final case class Params(n: Long, pi1: Double, mu1: Double,
    v1: Double, mu2: Double, v2: Double)

  /** Responsibility of component 1 at literal params, rounded 1e-12.
    * Spelled token-for-token like [[respSql]]. */
  private def respCol(p: Params): Column = {
    def dens(pi: Double, mu: Double, v: Double): Column =
      lit(pi) * exp(-((col("x") - lit(mu)) * (col("x") - lit(mu)))
        / (lit(2.0) * lit(v))) / lit(math.sqrt(v))
    val d1 = dens(p.pi1, p.mu1, p.v1)
    val d2 = dens(1.0 - p.pi1, p.mu2, p.v2)
    when(d1 + d2 > 0.0,
      round((d1 / (d1 + d2)) * lit(1e12)) / lit(1e12))
      .otherwise(lit(0.5))
  }

  /** Deterministic EM: closed-form moment init, `Iters` M-step
    * aggregations over the persisted per-customer frame. */
  def train(s: SparkSession, d: String): Params = {
    val f = base(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m0 = f.agg(
        count(lit(1)).as("n"),
        (sum(U.dec6(col("x"))).cast("double") / count(lit(1))).as("m"),
        (sum(U.dec6(U.round6(col("x") * col("x")))).cast("double")
          / count(lit(1))).as("q")).head()
      val n = m0.getLong(0)
      val m = m0.getDouble(1); val q = m0.getDouble(2)
      val v0 = math.max(q - m * m, VarFloor)
      var p = Params(n, 0.5, m - math.sqrt(v0), v0,
        m + math.sqrt(v0), v0)
      for (_ <- 0 until Iters) {
        val r = respCol(p)
        val a = f.agg(
          sum(U.dec6(U.round6(r))).cast("double").as("n1"),
          sum(U.dec6(U.round6(r * col("x")))).cast("double").as("s1"),
          sum(U.dec6(U.round6(r * col("x") * col("x"))))
            .cast("double").as("q1"),
          sum(U.dec6(col("x"))).cast("double").as("sx"),
          sum(U.dec6(U.round6(col("x") * col("x"))))
            .cast("double").as("qx"))
          .head()
        val n1raw = a.getDouble(0); val s1 = a.getDouble(1)
        val q1 = a.getDouble(2); val sx = a.getDouble(3)
        val qx = a.getDouble(4)
        val nd = n.toDouble
        // Mass floor: if a component's total responsibility collapses
        // to 0 (degenerate/tiny corpora), mu/v would go NaN/Inf and
        // propagate silently — VarFloor only floors variances. Clamp
        // n1 into [MassFloor, n - MassFloor], mirrored in emStage's
        // SQL so the replay stays bit-identical.
        val n1 = math.min(math.max(n1raw, MassFloor), nd - MassFloor)
        val mu1 = s1 / n1
        val mu2 = (sx - s1) / (nd - n1)
        p = Params(n, n1 / nd, mu1,
          math.max(q1 / n1 - mu1 * mu1, VarFloor), mu2,
          math.max((qx - q1) / (nd - n1) - mu2 * mu2, VarFloor))
      }
      p
    } finally f.unpersist()
  }

  /** Fitted mixture, a [[graft.Derived]] entry of the orders table. */
  def params(s: SparkSession, d: String): Params =
    graft.Derived.get(s, "gmm_params", d, "orders")(_ => train(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the fitted mixture — one row (round6 for the driver compare; the
    // assign query consumes the unrounded doubles)
    "ml_gmm_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      def r6(x: Double): Double = math.round(x * 1e6) / 1e6
      val p = params(s, d)
      Seq((p.n, r6(p.pi1), r6(p.mu1), r6(p.v1), r6(p.mu2), r6(p.v2)))
        .toDF("n", "pi1", "mu1", "v1", "mu2", "v2")
    }),

    // soft assignment of every customer at the fitted params — the
    // segmentation table a mixing/sampling stage consumes
    "ml_gmm_assign" -> ((s, d) => {
      val p = params(s, d)
      val r = respCol(p)
      base(s, d).select(
        col("cust"),
        U.round6(col("x")).as("x"),
        U.round6(r).as("resp1"),
        when(r >= 0.5, 1).otherwise(2).as("component"))
        .orderBy("cust")
    })
  )

  // ---- SQL replay (unrolled EM, the Logreg.trainSqlCtes pattern) ----

  private def respSql(w: String): String = {
    def dens(pi: String, mu: String, v: String): String =
      s"$pi * exp(-((x - $mu) * (x - $mu)) / (2.0 * $v)) / sqrt($v)"
    val d1 = dens(s"$w.pi1", s"$w.mu1", s"$w.v1")
    val d2 = dens(s"(1.0 - $w.pi1)", s"$w.mu2", s"$w.v2")
    s"""CASE WHEN ($d1) + ($d2) > 0.0
       |      THEN round((($d1) / (($d1) + ($d2))) * 1e12) / 1e12
       |      ELSE 0.5 END""".stripMargin
  }

  private def emStage(i: Int): String = {
    val prev = s"w$i"
    s"""e${i + 1} AS (
       |  SELECT x, ${respSql(prev)} AS r
       |  FROM base, $prev),
       |m${i + 1} AS (
       |  SELECT
       |    CAST(SUM(CAST(round(r * 1000000) / 1000000
       |      AS DECIMAL(18,6))) AS DOUBLE) AS n1,
       |    CAST(SUM(CAST(round(r * x * 1000000) / 1000000
       |      AS DECIMAL(18,6))) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(round(r * x * x * 1000000) / 1000000
       |      AS DECIMAL(18,6))) AS DOUBLE) AS q1,
       |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(round(x * x * 1000000) / 1000000
       |      AS DECIMAL(18,6))) AS DOUBLE) AS qx
       |  FROM e${i + 1}),
       |mc${i + 1} AS (
       |  SELECT least(greatest(m.n1, $MassFloor),
       |      $prev.n - $MassFloor) AS n1,
       |    m.s1, m.q1, m.sx, m.qx, $prev.n
       |  FROM $prev, m${i + 1} m),
       |w${i + 1} AS (
       |  SELECT m.n,
       |    m.n1 / m.n AS pi1,
       |    m.s1 / m.n1 AS mu1,
       |    greatest(m.q1 / m.n1 - (m.s1 / m.n1) * (m.s1 / m.n1),
       |      $VarFloor) AS v1,
       |    (m.sx - m.s1) / (m.n - m.n1) AS mu2,
       |    greatest((m.qx - m.q1) / (m.n - m.n1)
       |        - ((m.sx - m.s1) / (m.n - m.n1))
       |          * ((m.sx - m.s1) / (m.n - m.n1)),
       |      $VarFloor) AS v2
       |  FROM mc${i + 1} m)""".stripMargin
  }

  /** base + moment init + `Iters` unrolled EM stages; final params in
    * CTE `w$Iters`. */
  val trainSqlCtes: String = {
    val stages = (0 until Iters).map(emStage).mkString(",\n")
    s"""WITH base AS (
       |  SELECT o_custkey AS cust,
       |    round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
       |        AS DOUBLE)
       |      / count(*) / $Scale * 1000000) / 1000000 AS x
       |  FROM orders GROUP BY o_custkey),
       |p0 AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*)
       |      AS m,
       |    CAST(SUM(CAST(round(x * x * 1000000) / 1000000
       |      AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS q
       |  FROM base),
       |w0 AS (
       |  SELECT n, 0.5 AS pi1,
       |    m - sqrt(greatest(q - m * m, $VarFloor)) AS mu1,
       |    greatest(q - m * m, $VarFloor) AS v1,
       |    m + sqrt(greatest(q - m * m, $VarFloor)) AS mu2,
       |    greatest(q - m * m, $VarFloor) AS v2
       |  FROM p0),
       |$stages""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ml_gmm_train" ->
      s"""$trainSqlCtes
         |SELECT CAST(n AS BIGINT) AS n,
         |  round(pi1 * 1000000) / 1000000 AS pi1,
         |  round(mu1 * 1000000) / 1000000 AS mu1,
         |  round(v1 * 1000000) / 1000000 AS v1,
         |  round(mu2 * 1000000) / 1000000 AS mu2,
         |  round(v2 * 1000000) / 1000000 AS v2
         |FROM w$Iters""".stripMargin,
    "ml_gmm_assign" ->
      s"""$trainSqlCtes,
         |fin AS (
         |  SELECT cust, x, ${respSql(s"w$Iters")} AS r
         |  FROM base, w$Iters)
         |SELECT cust, round(x * 1000000) / 1000000 AS x,
         |  round(r * 1000000) / 1000000 AS resp1,
         |  CASE WHEN r >= 0.5 THEN 1 ELSE 2 END AS component
         |FROM fin ORDER BY cust""".stripMargin
  )
}
