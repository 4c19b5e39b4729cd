package graft.operators

import graft.{Tables, U}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Aggregation matrix — SURVEY.md §2 A.4 + B.2.
  *
  * Reference instances: cell count (`bin/concatenate.py:142-143`), id-list
  * collection (`:122-123`), product stats (`:81-96`), donor concept pivot
  * (`make_uuids_tsv.py:91-142`).
  *
  * All double sums go through exact DECIMAL casts (see [[graft.U]]) so the
  * result is independent of partitioning/merge order — the property that
  * makes these aggregations safe on a 1000-executor cluster, not just
  * reproducible against the oracle. HashAggregateExec gives partial
  * (map-side) + final aggregation automatically.
  */
object Aggregates {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Exact per-group interpolated quantiles WITHOUT per-group value
    * buffers — the 100 TB replacement for Spark's `percentile`
    * aggregate, whose accumulation buffer is a value→count map of the
    * entire group: that map rides the shuffle, so at scale the
    * "aggregate" materializes the whole column in executor heaps (and
    * at sf1 it was already the suite's worst GC producer — r13
    * attribution: 5.0 s GC of a 15.6 s query at 10% utilization).
    *
    * Shape (all plain relational operators, no driver actions):
    *  1. exact long representation: grid doubles → integer units
    *     (`round(v·scale)` — exact for values on the 1/scale grid,
    *     recoverable as `units/scale` = the identical double, and
    *     guarded per row — see the contract below), then ONE hash
    *     aggregate (flag, cents) → count: the only data-scaled
    *     shuffle, map-side-combining;
    *  2. cumulative counts by the block-stitch discipline
    *     ([[Market.abcClassify]], `Windows.stitchedRowNumber`): per
    *     (flag, cents div 2^16) partitioned running sums in parallel,
    *     one summary window over the block totals (cardinality bounded
    *     by the value DOMAIN / 2^16, not the data), offsets broadcast
    *     back — no single-partition pass over data-scaled rows;
    *  3. rank targets from Spark's own percentile arithmetic
    *     (pos = p·(N−1), lower/upper index, linear interpolation with
    *     the same operation order, so results are bit-identical) as a
    *     per-flag broadcast; a row "covers" a rank iff
    *     cum−c < rank ≤ cum, so only the 1-2 boundary rows per target
    *     survive the join, and a conditional-min aggregate extracts
    *     both order statistics in one pass.
    *
    * Returns one row per group: (fl, q0..q{k−1}) in `ps` order.
    * Contract: `valCol` holds values on the 1/`scale` decimal grid
    * (scale=100 ⇒ ≤2-decimal money, the default; pass scale=10000 for
    * 4-decimal inputs etc.); NULLs are ignored (the `percentile`
    * convention); groups are assumed non-empty (no rows → no output
    * row, same as groupBy). The grid contract is ENFORCED per row
    * (ADVICE r13): round(v·scale) must round-trip to the identical
    * double, else the query raises a descriptive error — an off-grid
    * caller would otherwise silently collapse distinct values into one
    * bucket and return wrong quantiles. The check is one fused
    * multiply+compare per row in the map stage — noise next to the
    * hash aggregate it feeds. */
  def exactQuantiles(rows: DataFrame, flagCol: String, valCol: String,
      ps: Seq[Double], scale: Long = 100L): DataFrame = {
    val cvRaw = round(col(valCol) * scale).cast("long")
    val cvGuarded = when(cvRaw.cast("double") / scale.toDouble
        === col(valCol), cvRaw)
      .otherwise(raise_error(concat(
        lit(s"graft Aggregates.exactQuantiles: $valCol value "),
        col(valCol).cast("string"),
        lit(s" is not on the 1/$scale grid — pass the matching `scale`" +
          " (values bucket as round(v*scale); an off-grid value would" +
          " silently collapse into a neighboring bucket)")))
        .cast("long"))
    // Hash-repartition directly on the GROUP KEYS (r17; replaces the
    // former round-robin U.fan): the keyed exchange both parallelizes
    // the aggregate past the one-row-group test-SF scan AND satisfies
    // the groupBy's distribution requirement, so the histogram build is
    // exactly one shuffle of the (flag, cents) rows and one aggregate —
    // the fan spelling paid a sort-before-repartition of every row
    // (SPARK-23207 determinism sort), a partial aggregate that barely
    // compresses (cents are near-distinct), and a SECOND full exchange
    // into the groupBy. (fl, cv) is near-unique, so the hash spreads
    // evenly — no skew concern at any scale.
    val cnts = rows.filter(col(valCol).isNotNull)
      .select(col(flagCol).as("fl"), cvGuarded.as("cv"))
      .repartition(col("fl"), col("cv"))
      .groupBy(col("fl"), col("cv"))
      .agg(count(lit(1)).as("c"))
      .withColumn("blk", expr("cv div 65536"))
      // eager localCheckpoint (the Ridge/Iterate discipline): the
      // offsets branch and the local-window branch both consume this
      // aggregate, and column pruning specializes the two subtrees so
      // exchange reuse cannot dedup them — without the cut the whole
      // scan+fan+aggregate lineage runs once per branch. Blocks are
      // GC-released; the checkpoint is distinct-value-sized.
      .localCheckpoint(true)
    val wLoc = Window.partitionBy("fl", "blk").orderBy("cv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBlk = Window.partitionBy("fl").orderBy("blk")
    val offs = cnts.groupBy("fl", "blk").agg(sum(col("c")).as("bs"))
      .withColumn("off", coalesce(sum(col("bs")).over(
        wBlk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bs")).over(wBlk.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("fl"), col("blk"), col("off"), col("n"))
    val cum = cnts.withColumn("lc", sum(col("c")).over(wLoc))
      .join(broadcast(offs), Seq("fl", "blk"))
      .withColumn("cum", col("off") + col("lc"))
    // rank targets, one row per (group, percentile) — same arithmetic
    // as Percentile.getPercentile: pos = p(N−1), floor/ceil indices.
    // Derived INLINE from the n the offset join already carries (a
    // separate broadcast-targets side would re-plan the whole cnts→offs
    // lineage a third time — measured as most of the sf0.1 overhead):
    // each cum row explodes |ps| ways, computes its own rank targets,
    // and only the 1-2 boundary rows per (flag, p) survive the filter.
    def covers(idx: Column): Column =
      (col("cum") - col("c") < idx + 1) && (idx + 1 <= col("cum"))
    val hits = cum
      .select(col("fl"), col("cv"), col("c"), col("cum"), col("n"),
        posexplode(typedlit(ps)).as(Seq("pi", "p")))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
      .filter(covers(col("lo")) || covers(col("hi")))
    val q = hits.groupBy("fl", "pi", "pos", "lo", "hi")
      .agg(min(when(covers(col("lo")), col("cv"))).as("vlo"),
        min(when(covers(col("hi")), col("cv"))).as("vhi"))
      .withColumn("vloD", col("vlo").cast("double") / scale.toDouble)
      .withColumn("vhiD", col("vhi").cast("double") / scale.toDouble)
      // Percentile.getPercentile's EXACT operation order (percentiles
      // .scala): equal keys short-circuit, else
      // (higher − pos)·lower + (pos − lower)·higher — the textbook
      // lo + (hi−lo)·frac form differs by an ulp on some inputs and
      // the oracle bridge is exact, not approximate
      .withColumn("q", when(col("vlo") === col("vhi"), col("vloD"))
        .otherwise(
          (col("hi").cast("double") - col("pos")) * col("vloD") +
            (col("pos") - col("lo").cast("double")) * col("vhiD")))
    q.groupBy("fl").agg(
      min(when(col("pi") === 0, col("q"))).as("q0"),
      ps.indices.drop(1).map(i =>
        min(when(col("pi") === i, col("q"))).as(s"q$i")): _*)
  }

  /** agg_hll_sketch_merge's relative standard deviation (→ p = 9,
    * m = 512 registers); shared by the query and its oracle SQL. */
  val HllMergeRsd = 0.05

  /** Boundedness cap for the few remaining Spark `percentile` call
    * sites (VERDICT r13 item 4): `percentile`'s aggregation buffer is
    * a value→count map of the WHOLE group riding the shuffle, so it
    * only belongs on inputs bounded by a dimension, and that contract
    * was documented but never enforced — a data-shape change would
    * silently re-create the heap wall [[exactQuantiles]] removed from
    * agg_percentile. 2²⁴ rows ≈ 128 MB of buffer (~8 B/entry), the
    * same ceiling agg_approx_percentile's lossless-GK regime uses. */
  val PctBoundCap: Long = 1L << 24

  /** Count-star of a base table — the cheap row bound the percentile
    * guards and routers key on. Parquet count() reads row-group
    * metadata only, and the [[graft.Derived]] entry keeps repeat bench
    * passes / multiple guarded queries from re-running even that; a
    * dataset regenerated in place within one JVM is counted again, so
    * pctBoundGuard and the window_outlier_mad route never read a stale
    * row count. */
  def tableRows(s: SparkSession, d: String, table: String): Long =
    graft.Derived.get(s, "table_rows", d, table)(_ =>
      Tables.t(s, d, table).count())

  /** Enforce + attribute the boundedness contract of one remaining
    * `percentile` call site: the site's quantile input has at most one
    * row per `boundTable` row (per-customer summary, per-document
    * score, …), so the cheap dimension count IS an upper bound on the
    * buffered group. Fails loudly past [[PctBoundCap]] with a pointer
    * at the scale-safe alternatives; records the bound class in the
    * bench attribution so every BENCH attrib names which dimension
    * bounds the site (the VERDICT-asked "input distinct-count class"
    * field). */
  def pctBoundGuard(s: SparkSession, d: String, boundTable: String,
      site: String, cap: Long = PctBoundCap): Unit = {
    val n = tableRows(s, d, boundTable)
    graft.Attrib.note("pct_bound", s"$site<=$boundTable:$n")
    require(n <= cap,
      s"$site: Spark `percentile` here buffers up to one entry per " +
        s"$boundTable row ($n > cap $cap ≈ ${cap >> 17} MB of executor-" +
        "heap buffer riding the shuffle). At this scale swap the fit " +
        "to Aggregates.exactQuantiles (exact, no per-group buffers) " +
        "or approx_percentile (GK sketch, ε·N rank bound).")
  }

  /** Typed custom aggregation (B.2 agg_typed_custom): exact money sum in
    * integer cents — associative, overflow-safe at test scale, and a
    * template for sparse-vector sums. Registered per the Aggregator API
    * (user-space, no Catalyst internals needed).
    */
  object CentSum extends Aggregator[(String, Long), Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: (String, Long)): Long = b + a._2
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Percent-of-parent hierarchical shares — the drill-down ratio
    // every BI rollup shows (nation's share of its region, region's
    // share of world): the fact aggregates ONCE to the leaf level
    // (nation), then parent totals come from windows OVER that
    // aggregate — region totals partitioned by region, the world total
    // from the same sorted pass. Exact decimal sums; shares round at
    // 1e-6 via the engine-stable spelling.
    "agg_pct_of_parent" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(U.dec4(col("o_totalprice"))).as("rev"))
      val byRegion = Window.partitionBy("r_name")
      val world = Window.partitionBy()
      rev
        .withColumn("region_rev", sum(col("rev")).over(byRegion))
        .withColumn("world_rev", sum(col("rev")).over(world))
        .select(col("r_name"), col("n_name"), U.dbl(col("rev")).as("revenue"),
          U.round6(U.dbl(col("rev")) / U.dbl(col("region_rev")))
            .as("pct_of_region"),
          U.round6(U.dbl(col("region_rev")) / U.dbl(col("world_rev")))
            .as("region_pct_of_world"))
        .orderBy("r_name", "n_name")
    }),

    // TPC-H Q1-shaped scan-heavy group-by: the canonical map-side-combine
    // aggregation (tiny key cardinality → partial agg collapses the scan).
    "agg_hash_group" -> ((s, d) =>
      // Keyed parallelizing exchange (r18; was round-robin U.fan — the
      // RR spelling pays the SPARK-23207 sort-before-repartition of
      // every row AT SCAN PARALLELISM): the four decimal sums dominate
      // (3.6 s at 3-task scan parallelism on the single-row-group
      // layout); one ~15 MB narrow shuffle keyed on the near-unique
      // price buys the same 32-way partials with no pre-shuffle sort.
      // Partial+final shape unchanged (PlanSpec asserts it).
      t(s, d, "lineitem")
          .select("l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount")
          .repartition(col("l_extendedprice"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          U.dsum(col("l_quantity")).as("sum_qty"),
          U.dsum(col("l_extendedprice")).as("sum_price"),
          U.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          (U.dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")),

    // agg_count_cells (bin/concatenate.py:142-143)
    "agg_count_rows" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n_rows"))),

    // agg_collect_ids (bin/concatenate.py:122-123): sorted collected list,
    // emitted as CSV string for a type-stable oracle compare.
    "agg_collect_sorted" -> ((s, d) =>
      t(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(
          array_join(sort_array(collect_list(col("n_name"))), ",").as("names_csv"),
          count(lit(1)).as("n_nations"))
        .orderBy("n_regionkey")),

    "agg_distinct_count" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    // HLL++ sketch — the 100 TB path for distinct counts. Oracled:
    // "approximate" is still DETERMINISTIC (register max is
    // partition-invariant), so the whole sketch — hashLong registers,
    // linear counting, kNN bias correction — replays in DuckDB
    // (plans.HllSqlOracle); error bounds additionally asserted in
    // ScalaTest.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag")),

    "agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), U.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "agg_grouping_sets" -> ((s, d) => {
      Tables.registerViews(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
          |""".stripMargin)
    }),

    // Typed Aggregator over a Dataset — exact integer-cents money sum.
    "agg_typed_custom" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(CentSum.toColumn.name("cents_total"))
        .toDF("flag", "cents_total")
        .orderBy("flag")
    }),

    // Heavy-hitters: exact top-k by frequency (oracled). At 100 TB the
    // same shape runs on a count-min/approx pass first; the exact groupBy
    // here is already partial-aggregated so the shuffle carries one row
    // per distinct key per partition.
    "agg_top_frequent" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("l_partkey"))
        .limit(10)),

    // pivot_donor_concepts (make_uuids_tsv.py:91-142): long→wide pivot
    // with an explicit value list (no extra pass to discover keys).
    "pivot_event_type" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
      p.select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("user_id")
    }),

    // One-hot encoding with an EXPLICIT category list — the feature-
    // prep step models consume; the fixed list (not a discovery pass)
    // is the production contract: schema stays stable when a category
    // vanishes from a batch, and unseen categories encode as all-zeros
    // rather than silently widening the schema. Map-only.
    "feat_one_hot" -> ((s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      t(s, d, "customer").select(
        col("c_custkey") +: segs.map(sg =>
          when(col("c_mktsegment") === sg, 1L).otherwise(0L)
            .as("seg_" + sg.toLowerCase)): _*)
        .orderBy("c_custkey")
    }),

    // Percent-of-total — the share report every revenue rollup ends in:
    // group sums plus a 1-row exact total broadcast back (the
    // bounded-scalar crossJoin convention); the fact aggregates once.
    "agg_percent_of_total" -> ((s, d) => {
      val g = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(U.dsum(col("o_totalprice")).as("rev"))
      val tot = g.agg(U.dbl(sum(U.dec4(col("rev")))).as("tot"))
      g.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"), col("rev"),
          U.round6(col("rev") / col("tot")).as("pct"))
        .orderBy("o_orderpriority")
    }),

    // k-anonymity enforcement (privacy_k_anonymity) — the governance
    // gate a dataset passes before leaving the boundary: any
    // quasi-identifier combination shared by fewer than k individuals
    // is re-identifiable, so below-k groups get their finer attribute
    // SUPPRESSED (masked to '*') and re-grouped — the suppressed rows
    // fold into coarser, safer groups. Two aggregations; the first is
    // group-cardinality-sized and broadcasts back onto itself, the fact
    // table is never shuffled twice. k=5 over (nation, segment).
    "privacy_k_anonymity" -> ((s, d) => {
      val groups = t(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      groups
        .withColumn("seg_out",
          when(col("n") >= 5, col("c_mktsegment")).otherwise(lit("*")))
        .groupBy("c_nationkey", "seg_out")
        .agg(U.lng(sum(col("n"))).as("n"))
        // after suppression the merged '*' group may itself reach k —
        // that is the point; a false here means another generalization
        // level (e.g. nation → region) is needed before release
        .withColumn("meets_k", col("n") >= 5)
        .orderBy("c_nationkey", "seg_out")
    }),

    // Weighted median — the robust center when observations carry
    // unequal mass (price per UNIT SHIPPED, not per line): smallest
    // value whose cumulative weight reaches half the group total.
    // One partitioned running-sum window over the (value, tiebreak)
    // total order + one aggregation; weights are integral quantities
    // so the cumulative compare is exact long arithmetic (2·cum ≥
    // total — no division, no float boundary).
    "agg_weighted_median" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      // The cumulative weight is BLOCK-STITCHED, not a single per-group
      // running window: with 3 return flags a plain
      // partitionBy(l_returnflag) window has parallelism 3 for the
      // whole fact (measured 11.9 s at sf1 — 6M rows on 3 tasks).
      // Blocks are price ranges (monotone in the cum order, ties stay
      // inside a block because the block is a pure function of the
      // leading sort key): local running sums parallelize over
      // (group × block), the per-group block prefix runs over a tiny
      // summary, and cum = prefix + local — the stitchedRowNumber
      // discipline applied to SUM. 11.9 → ~2 s at sf1.
      val wq = col("l_quantity").cast("long")
      val rows = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"), wq.as("q"))
        .withColumn("blk", floor(col("l_extendedprice") / 2000.0).cast("long"))
      val wLoc = W.partitionBy("l_returnflag", "blk")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val offsets = rows.groupBy("l_returnflag", "blk")
        .agg(sum(col("q")).as("bq"))
        .withColumn("off", coalesce(
          sum(col("bq")).over(W.partitionBy("l_returnflag").orderBy("blk")
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .withColumn("totq", sum(col("bq")).over(
          W.partitionBy("l_returnflag")))
        .select(col("l_returnflag"), col("blk"), col("off"), col("totq"))
      rows
        .withColumn("lcum", sum(col("q")).over(wLoc))
        .join(broadcast(offsets), Seq("l_returnflag", "blk"))
        .withColumn("cumq", col("off") + col("lcum"))
        .filter(col("cumq") * 2 >= col("totq"))
        .groupBy("l_returnflag")
        .agg(min(col("l_extendedprice")).as("weighted_median"),
          max(col("totq")).as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // l-diversity audit — k-anonymity's necessary companion: a
    // quasi-identifier group can be k-anonymous yet leak the sensitive
    // attribute if every member SHARES it (the homogeneity attack).
    // Here QI = (nation, mktsegment), sensitive = account-balance band;
    // a group passes at l=3 iff it carries ≥3 distinct bands. One
    // aggregation (count + distinct-count per group) — partial+final
    // all the way, shuffle carries group keys only.
    "privacy_l_diversity" -> ((s, d) => {
      val band = floor(col("c_acctbal") / 2000.0).cast("long")
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"), band.as("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("n_bands"))
        .withColumn("meets_l", col("n_bands") >= 3)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // Differentially-private count release (ε = 0.5, sensitivity 1 →
    // Laplace scale b = 1/ε = 2) — the privacy family's RELEASE step:
    // k-anonymity / l-diversity / t-closeness audit what may leave the
    // boundary; this is the mechanism that actually publishes a noised
    // statistic. Noise is HASH-derived, not RNG (the repo's
    // hash-not-random doctrine): u = centered uniform from
    // xxhash64(group key) via the sample_weighted_ares unsigned bridge,
    // pushed through the Laplace inverse CDF
    //   noise = −b · sgn(u−½) · ln(1 − 2|u−½|)
    // so the release is deterministic end to end and the DuckDB oracle
    // replays the exact hash→noise arithmetic (plans.XxhSqlOracle
    // longHashCtes — bit-identical XXH64). ln rounds at 1e-12 (the
    // transcendental bridge). Scale shape: one group-cardinality
    // aggregate; the noise math is per-GROUP, never per-row. NOTE a
    // real release DROPS the true n; it stays in the output because
    // the oracle gate compares both sides of the mechanism.
    "privacy_dp_count_laplace" -> ((s, d) => {
      val two64 = 1.8446744073709552e19 // 2^64, the ares spelling
      val h = xxhash64(col("c_nationkey").cast("long"))
      val unsigned = h.cast("double") +
        when(h < 0, lit(two64)).otherwise(lit(0.0))
      val u = (unsigned + lit(0.5)) / lit(two64)
      val cu = u - lit(0.5) // exactly 0 is unreachable: u=(k+½)/2^64
      val lnr = round(log(lit(1.0) - lit(2.0) * abs(cu)) * lit(1e12)) /
        lit(1e12)
      val noise = lit(-2.0) * signum(cu) * lnr
      t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey"), col("n"),
          U.round6(noise).as("noise"),
          U.round6(col("n") + noise).as("released"),
          // the integer form a count release would publish (never
          // negative); floor(x+½) of identical doubles is identical
          U.lng(greatest(lit(0.0), floor(col("n") + noise + lit(0.5))))
            .as("released_int"))
        .orderBy("c_nationkey")
    }),

    // t-closeness — the release gate one level past l-diversity: a
    // quasi-identifier group leaks even with diverse sensitive values
    // if its DISTRIBUTION skews far from the table's (Li et al. 2007).
    // For an unordered sensitive attribute the earth-mover distance
    // degenerates to total variation: t = ½ Σ_s |P(s|group) − P(s)|.
    // Relational shape: three counts (group×segment, group, segment)
    // + one scalar, a group×segment GRID built by cross-joining the
    // two marginals (missing cells must contribute |0 − P(s)|, which
    // an inner join would silently drop), per-cell deviation rounded
    // 1e-6 then decimal-summed per group. The grid is |groups|×|dom|,
    // never data-scaled; the only fact-sized work is the three counts,
    // all map-side combined.
    "privacy_t_closeness" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"))
      val gs = c.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_gs"))
      val g = c.groupBy("c_nationkey").agg(count(lit(1)).as("n_g"))
      val sg = c.groupBy("c_mktsegment").agg(count(lit(1)).as("n_s"))
      val tot = c.agg(count(lit(1)).as("n_tot"))
      g.crossJoin(broadcast(sg.crossJoin(tot)))
        .join(gs, Seq("c_nationkey", "c_mktsegment"), "left")
        .withColumn("dv", U.round6(abs(
          coalesce(col("n_gs"), lit(0L)).cast("double") / col("n_g")
            - col("n_s").cast("double") / col("n_tot"))))
        .groupBy("c_nationkey")
        .agg(max(col("n_g")).as("group_size"),
          U.round6(U.dbl(sum(U.dec6(col("dv")))) / lit(2.0))
            .as("t_dist"))
        .withColumn("meets_t", col("t_dist") <= 0.2)
        .orderBy("c_nationkey")
    }),

    // Salted two-phase aggregation — the skew pattern (SURVEY §2 intro,
    // §7.4.7): when one group key dominates, a straight groupBy sends the
    // hot key to one reducer. Phase 1 groups by (key, salt) spreading the
    // hot key over 16 partitions; phase 2 merges the partials. Decimal
    // partials keep the merged sum exact. Result is identical to the
    // plain groupBy (that's what the oracle checks).
    "agg_salted_skew" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val partials = li
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(U.dec4(col("l_quantity"))).as("psum"),
          count(lit(1)).as("pcnt"))
      partials.groupBy("l_returnflag")
        .agg(U.dbl(sum(col("psum"))).as("sum_qty"),
          sum(col("pcnt")).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // Exact interpolated percentiles per group (B.2) through
    // [[exactQuantiles]] — NOT Spark's `percentile`, whose aggregation
    // buffer is a value→count map of the whole group: at 100 TB the
    // buffer IS the data (it cannot execute), and even at sf1 the map
    // churn was the suite's worst GC (5.0 s of a 15.6 s run, 10% core
    // utilization, r13 attribution). The stitched shape is a plain
    // hash aggregate + partitioned windows; identical interpolation
    // arithmetic, same oracle.
    "agg_percentile" -> ((s, d) =>
      exactQuantiles(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.5, 0.9))
        .select(col("fl").as("l_returnflag"),
          round(col("q0"), 4).as("p50"),
          round(col("q1"), 4).as("p90"))
        .orderBy("l_returnflag")),

    // Sketch percentile through Greenwald-Khanna, registered in its
    // LOSSLESS regime so it IS oracle-able: GK only compresses once the
    // buffer exceeds the accuracy-derived threshold, so with accuracy ≥
    // the largest group's row count NO compress() ever fires, partial
    // merges are plain concatenations, and the answer is the exact
    // discrete quantile of the multiset — merge-order-free and equal to
    // DuckDB's quantile_disc (verified across p∈{.1..0.99} including
    // ties). Below that accuracy the result depends on partition
    // boundaries and merge ORDER (each compress() keeps a sample based
    // on the running g/delta bounds at that moment) and no set-oriented
    // SQL reproduces it — that compressed regime is covered by the ε·N
    // rank-bound assertion in OperatorSemanticsSpec instead. The
    // accuracy is DERIVED from a counted bound (one cheap pre-aggregate:
    // max group size, ADVICE r10) so the lossless precondition holds at
    // ANY verification SF instead of silently breaking past 1e6 rows per
    // group (sf1's ~2M-row l_returnflag groups would have resumed GK
    // compression under a fixed 1e6 and mismatched the oracle with
    // nothing naming why). Past the executor-buffer ceiling (~8 B/row,
    // 16M rows ≈ 128 MB of quantile buffer) the query fails with a
    // pointed message: at that scale a caller picks a practical accuracy
    // and gets the ε·N rank bound, not bit-equality.
    "agg_approx_percentile" -> ((s, d) => {
      // max(n) is NULL on an empty table — Option-guard it (0 keeps the
      // lossless regime trivially) instead of an unhelpful NPE
      val nMax = Option(t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(nMax <= (1L << 24),
        s"agg_approx_percentile: largest group has $nMax rows — beyond " +
          "the lossless-GK oracle regime (per-group quantile buffer would " +
          "exceed ~128 MB); use an explicit accuracy and verify the ε·N " +
          "rank bound instead of quantile_disc equality")
      val acc = math.max(1000000L, nMax)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr(s"approx_percentile(l_extendedprice, 0.5, $acc)")
          .as("ap50"))
        .orderBy("l_returnflag")
    }),

    // agg_product_stats (bin/concatenate.py:81-96): one-row product
    // metadata scalars (deterministic subset — no uuid()/now()).
    // n_cells = distinct (orderkey, linenumber) pairs, counted as a
    // two-level aggregation instead of countDistinct over the concat'd
    // cell string: no Expand row-doubling, no string building, and the
    // decimal quantity sum collapses in the same first level (partial
    // sums re-sum exactly — same result as one-level U.dsum).
    "agg_product_stats" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n"), sum(U.dec4(col("l_quantity"))).as("sq"))
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_cells"),
          U.dbl(sum(col("sq"))).as("total_quantity"))),

    // Moment statistics (mean/variance/stddev) from EXACT decimal sums:
    // the built-in stddev/var aggregates combine partial co-moments in
    // partition order (results drift run-to-run on doubles); Σx and Σx²
    // through the decimal bridge are order-invariant, and the closing
    // algebra is per-row double math — bit-identical across engines.
    "agg_stats_moments" -> ((s, d) => {
      val x = U.dec4(col("c_acctbal"))
      t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          U.dbl(sum(x)).as("sx"), U.dbl(sum(x * x)).as("sxx"))
        .select(col("c_nationkey"), col("n"),
          U.round6(col("sx") / col("n")).as("mean"),
          // n == 1 guard: Spark (ANSI off) yields NULL for x/0 but
          // DuckDB IEEE division yields NaN/inf — pin both to NULL.
          when(col("n") > 1,
            U.round6((col("sxx") - col("sx") * col("sx") / col("n"))
              / (col("n") - 1))).as("variance"),
          when(col("n") > 1,
            U.round6(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              / (col("n") - 1)))).as("stddev"))
        .orderBy("c_nationkey")
    }),

    // Per-group z-score standardization — the feature-prep normalize
    // pass: group moments from exact decimal sums (one partial+final
    // aggregate, 25 rows out), broadcast back onto the fact, map-only
    // transform. At 100 TB the stats table stays dim-sized no matter
    // the fact size; the fact itself never shuffles.
    // Wilson score interval — the correct CI for a grouped binomial
    // rate (the naive ±1.96·√(p(1−p)/n) misbehaves near 0/1 and small
    // n; Wilson stays inside [0,1]): rate of fulfilled orders per
    // priority with a 95% band. One aggregation; the interval is a
    // FIXED per-row double chain over exact counts (z embedded as the
    // literal 1.96, sqrt correctly rounded), so both engines emit
    // identical doubles before the display rounding.
    "agg_wilson_ci" -> ((s, d) => {
      val z = 1.96
      val g = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("k"))
      val n = col("n").cast("double")
      val p = col("k").cast("double") / n
      val z2 = lit(z * z)
      val denom = lit(1.0) + z2 / n
      val center = (p + z2 / (lit(2.0) * n)) / denom
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
        z2 / (lit(4.0) * n * n)) / denom
      g.select(col("o_orderpriority"), col("n"), col("k"),
        U.round6(p).as("rate"),
        U.round6(center - half).as("ci_lo"),
        U.round6(center + half).as("ci_hi"))
        .orderBy("o_orderpriority")
    }),

    // Histogram quantile — the DETERMINISTIC mergeable approximate
    // percentile (the Prometheus histogram_quantile model), and the
    // 100 TB answer to why GK approx_percentile stays rows-only here:
    // fixed equi-width bins make the sketch a plain count vector —
    // partial+final combinable, merge-order-INVARIANT (addition
    // commutes), and exactly replayable — unlike GK, whose kept
    // samples depend on insert/merge order. Estimate = linear
    // interpolation inside the bin where the cumulative count crosses
    // q·N. Error is bounded by bin width (domain/256 here) — the
    // explicit precision/replayability trade.
    "agg_histogram_quantile" -> ((s, d) => {
      val nBins = 256
      val lo = 0.0; val hi = 600000.0
      val width = (hi - lo) / nBins
      val bin = least(greatest(
        floor((col("o_totalprice") - lo) / width), lit(0.0)),
        lit((nBins - 1).toDouble)).cast("long")
      val hist = t(s, d, "orders")
        .groupBy(col("o_orderpriority"), bin.as("b"))
        .agg(count(lit(1)).as("c"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_orderpriority").orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.partitionBy("o_orderpriority")
      def q(p: Double) = {
        val target = lit(p) * col("n")
        when(col("cum") >= target && col("cum") - col("c") < target,
          U.round6(lit(lo) + (col("b") + (target - (col("cum") - col("c")))
            / col("c")) * lit(width)))
      }
      hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy("o_orderpriority")
        .agg(max(q(0.5)).as("p50_est"), max(q(0.9)).as("p90_est"),
          max(col("n")).as("n_rows"))
        .orderBy("o_orderpriority")
    }),

    // Robust scaling — (x − median) / IQR per group: the outlier-proof
    // sibling of feat_zscore (mean/σ move with every outlier; median
    // and quartiles don't). Exact grouped percentiles fit once and
    // broadcast back, the same two-stage fit/apply shape as every
    // scaler here; at 100 TB the fit swaps to approx_percentile (the
    // feat_winsorize trade, same note). round(·,4) on the fit values
    // pins the interpolated quartiles cross-engine before the division.
    "feat_robust_scale" -> ((s, d) => {
      // the quartile fit buffers one entry per customer per nation
      // group → enforce + attribute the bound (VERDICT r13 item 4)
      pctBoundGuard(s, d, "customer", "feat_robust_scale")
      val stats = t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(expr("percentile(c_acctbal, array(0.25, 0.5, 0.75))").as("q"))
        .select(col("c_nationkey").as("k"),
          round(element_at(col("q"), 2), 4).as("med"),
          (round(element_at(col("q"), 3), 4) -
            round(element_at(col("q"), 1), 4)).as("iqr"))
      t(s, d, "customer")
        .join(broadcast(stats), col("c_nationkey") === col("k"))
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("iqr") > 0,
            U.round6((col("c_acctbal") - col("med")) / col("iqr")))
            .as("robust_z"))
        .orderBy("c_custkey")
    }),

    "feat_zscore" -> ((s, d) => {
      val x = U.dec4(col("c_acctbal"))
      val stats = t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          U.dbl(sum(x)).as("sx"), U.dbl(sum(x * x)).as("sxx"))
        .select(col("c_nationkey").as("k"),
          (col("sx") / col("n")).as("m"),
          when(col("n") > 1,
            sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              / (col("n") - 1))).as("sd"))
      t(s, d, "customer")
        .join(broadcast(stats), col("c_nationkey") === col("k"))
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("sd") > 0,
            U.round6((col("c_acctbal") - col("m")) / col("sd"))).as("z"))
        .orderBy("c_custkey")
    }),

    // Per-group min-max scaling to [0, 1] — zscore's bounded sibling
    // (what embedding/feature pipelines feed to models expecting a
    // fixed range). Same shape: dim-sized bounds table broadcast back,
    // the fact never shuffles. Degenerate groups (min == max) map to
    // null — a 0/0 would silently poison training.
    "feat_minmax_scale" -> ((s, d) => {
      val bounds = t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
        .select(col("c_nationkey").as("k"), col("lo"), col("hi"))
      t(s, d, "customer")
        .join(broadcast(bounds), col("c_nationkey") === col("k"))
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("hi") > col("lo"),
            U.round6((col("c_acctbal") - col("lo")) / (col("hi") - col("lo"))))
            .as("scaled"))
        .orderBy("c_custkey")
    }),

    // Shannon entropy of each user's event-type distribution — the
    // data-profiling staple (behavioral diversity; near-zero entropy
    // flags bots/monitors). Two bounded aggregations: (user, type)
    // counts collapse map-side, the per-user entropy sums ≤5 terms.
    // -Σ p·log2(p) has one transcendental per term → per-term round6
    // before the exact decimal sum, the LM-scorer discipline.
    "agg_entropy" -> ((s, d) => {
      val tc = t(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val tot = tc.groupBy("user_id").agg(sum(col("c")).as("n"))
      tc.join(tot, "user_id")
        .select(col("user_id"), U.round6(
          -(col("c") / col("n")) * log2(col("c") / col("n"))).as("term"))
        .groupBy("user_id")
        .agg(U.dbl(sum(U.dec6(col("term")))).as("entropy"))
        .orderBy("user_id")
    }),

    // Robust outlier flags via MAD (median absolute deviation) — the
    // robust-statistics alternative to z-scores: mean/stddev are
    // themselves dragged by the outliers they're meant to find, the
    // median/MAD pair is not. Two exact-percentile fits (each a
    // dim-sized broadcast back onto the fact, the winsorize shape):
    // med = p50(x), MAD = p50(|x − med|), flag |x − med| > k·MAD.
    // Thresholds round to 4 decimals first (the established
    // percentile-precision discipline). k = 2 here because the
    // synthetic price distribution is near-uniform (max |x−med|/MAD ≈
    // 2.07 — a uniform law has no 3-sigma tail); production robust
    // z-scores use k = 3·1.4826.
    "window_outlier_mad" -> ((s, d) => {
      // ROUTED median fits (VERDICT r13 item 4's "guard that routes to
      // exactQuantiles above a cap"): the groups here are FACT-scaled
      // (orders/5 rows each), so Spark's `percentile` — whose buffer
      // is the whole group — is only taken while the memoized orders
      // count stays under [[PctBoundCap]]; above it both fits swap to
      // the stitched [[exactQuantiles]], which is bit-parity-pinned to
      // percentile (OperatorSemanticsSpec + the routed-parity test),
      // so the route moves COST, never values. An unconditional
      // stitched spelling was measured first: 1.0 → 5.1 s at sf0.1
      // (two stitched fits + the med subplan re-planned per consumer)
      // — a 5× toll on every test-scale run to pre-pay a wall that the
      // route dodges for free. Chosen path lands in the attribution.
      // The conf override exists for the parity test, not for users.
      val nOrders = tableRows(s, d, "orders")
      val routeCap = s.conf.getOption("spark.graft.percentile.routeCap")
        .map(_.toLong).getOrElse(PctBoundCap)
      val routed = nOrders > routeCap
      graft.Attrib.note("outlier_mad_fit",
        if (routed) "stitched" else "percentile")
      graft.Attrib.note("outlier_mad_bound_rows", nOrders)
      def fit(df: DataFrame, valCol: String, scale: Long,
          out: String): DataFrame =
        if (routed)
          exactQuantiles(df, "o_orderpriority", valCol, Seq(0.5), scale)
            .select(col("fl"), round(col("q0"), 4).as(out))
        else
          df.groupBy("o_orderpriority")
            .agg(round(expr(s"percentile($valCol, 0.5)"), 4).as(out))
            .select(col("o_orderpriority").as("fl"), col(out))
      val med = fit(t(s, d, "orders"), "o_totalprice", 100L, "med")
        .withColumnRenamed("fl", "p1")
      // deviation rounds to the 1e-4 grid BEFORE its median (both
      // engines, both routes): |2-decimal − 4-decimal| is within an
      // ulp of a 4-decimal value but not ON it, and the stitched route
      // requires grid values at scale=10⁴
      val withMed = t(s, d, "orders")
        .join(broadcast(med), col("o_orderpriority") === col("p1"))
        .withColumn("adev", round(abs(col("o_totalprice") - col("med")), 4))
      val mad = fit(withMed, "adev", 10000L, "mad")
        .withColumnRenamed("fl", "p2")
      withMed.join(broadcast(mad), col("o_orderpriority") === col("p2"))
        .filter(col("adev") > lit(2.0) * col("mad"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), U.round6(col("adev") / col("mad")).as("score"))
        .orderBy("o_orderkey")
    }),

    // Winsorized clipping — outlier taming before numeric features
    // enter training: exact per-group p05/p95 (the 3-row bounds table
    // broadcasts), values clamp into [lo, hi]. Bounds round to 4
    // decimals first so the clip thresholds are engine-stable (the
    // established agg_percentile precision).
    "feat_winsorize" -> ((s, d) => {
      // Thresholds from the stitched exact quantile ([[exactQuantiles]]
      // — no per-group value buffers; the old `percentile` spelling
      // was also why U.fan measured WORSE here: its partials carry
      // full value lists through any exchange).
      val qs = exactQuantiles(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.05, 0.95))
        .select(col("fl").as("rf"),
          round(col("q0"), 4).as("lo"),
          round(col("q1"), 4).as("hi"))
      t(s, d, "lineitem")
        .join(broadcast(qs), col("l_returnflag") === col("rf"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          greatest(col("lo"), least(col("hi"), col("l_extendedprice")))
            .as("clipped"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Smoothed target encoding — the categorical-feature op (CatBoost/
    // scikit category_encoders shape): per-category mean of the target
    // blended toward the global mean by pseudo-count m, so rare
    // categories shrink to the prior instead of memorizing noise.
    // One partial+final aggregate produces the ≤|categories|-row
    // encoder; the global mean is a 1-row broadcast; applying to the
    // fact is a broadcast-join map-side transform. All means go
    // decimal-sum → round6, so the encoding is partition-order
    // invariant and engine-identical.
    // Bloom-filter membership as a DATA artifact (m = 4096 bits,
    // k = 3 md5-derived positions): build the bit set from URGENT
    // orders' customer keys, probe every customer, and report the
    // flagged/true-member/false-positive accounting against the exact
    // semi-join — the sketch-vs-truth readout that tells a pipeline
    // whether a bloom pre-filter is worth shipping. The bit set is a
    // ≤4096-row DISTINCT aggregate (broadcast to the probe side); a
    // probe is flagged iff all 3 of its positions hit — one equi-join
    // + a per-key count, no bit-array state. Positions are integer
    // md5-hex arithmetic (conv here, strpos in the oracle) — exact on
    // both engines.
    "agg_bloom_membership" -> ((s, d) => {
      def positions(key: Column): Column = {
        val h = md5(key.cast("string"))
        array((0 until 3).map(i =>
          conv(substring(h, i * 3 + 1, 3), 16, 10).cast("int") % 4096): _*)
      }
      val buildKeys = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val bits = buildKeys
        .select(explode(positions(col("o_custkey"))).as("pos"))
        .distinct()
      val probes = t(s, d, "customer").select(col("c_custkey"))
      val hits = probes
        .select(col("c_custkey"),
          explode(positions(col("c_custkey"))).as("pos"))
        .join(broadcast(bits), "pos")
        .groupBy("c_custkey").agg(count(lit(1)).as("nhit"))
      val flagged = probes
        .join(hits, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          (coalesce(col("nhit"), lit(0L)) === 3L).as("flag"))
      val truth = probes
        .join(buildKeys.select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit(true).as("member"))
      flagged.join(truth, Seq("c_custkey"), "left")
        .select(col("flag"),
          coalesce(col("member"), lit(false)).as("member"))
        .agg(count(lit(1)).as("n_probe"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
          sum(when(col("flag") && !col("member"), 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(when(!col("flag") && col("member"), 1L).otherwise(0L))
            .as("n_false_neg"))
        .select(col("n_probe"), col("n_flagged"), col("n_members"),
          col("n_false_pos"), col("n_false_neg"),
          U.round6(col("n_false_pos").cast("double")
            / (col("n_probe") - col("n_members"))).as("fp_rate"))
    }),

    // Count-min sketch frequency estimation — the sketch family's
    // point-query member (HLL = distinct, bloom = membership, CMS =
    // frequency): d = 4 hash rows × w = 512 counters, estimate =
    // min over rows of the probed cell, one-sided error by
    // construction (n_cms ≥ n_true always — the report shows the
    // overestimate per key against exact truth, the sketch-vs-truth
    // readout that says whether a CMS pre-filter is worth shipping).
    // Scale shape: per-key counts PRE-aggregate before the sketch
    // explode (counters are additive, so map-side partials merge and
    // the cell table is ≤ d·w rows regardless of corpus size —
    // broadcast back to the probes); positions are integer md5-hex
    // arithmetic (conv here, strpos in the oracle — the
    // agg_bloom_membership discipline).
    "agg_countmin_freq" -> ((s, d) => {
      val rows = 4
      val width = 512
      def pos(key: Column, i: Int): Column =
        conv(substring(md5(key.cast("string")), i * 3 + 1, 3), 16, 10)
          .cast("int") % width
      def withPos(df: DataFrame): DataFrame = df.select(
        col("*"),
        explode(array((0 until rows).map(i =>
          struct(lit(i).as("r"), pos(col("user_id"), i).as("b"))): _*))
          .as("rb"))
        .select(col("user_id"), col("n_true"),
          col("rb.r").as("r"), col("rb.b").as("b"))
      val freq = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_true"))
      // withPos(freq) appears in BOTH consumers, but the subtrees stay
      // IDENTICAL below the per-key aggregate (no specializing filter,
      // unlike the pre-fix copurchase shape), so runtime AQE exchange
      // reuse shares the scan + user_id shuffle — verified in the r12
      // stage profile: ONE scan stage; only the cheap final count +
      // position explode recompute per consumer.
      val cells = withPos(freq)
        .groupBy("r", "b").agg(sum(col("n_true")).as("c"))
      withPos(freq).join(broadcast(cells), Seq("r", "b"))
        .groupBy("user_id", "n_true").agg(min(col("c")).as("n_cms"))
        .select(col("user_id"), col("n_true"), col("n_cms"),
          (col("n_cms") - col("n_true")).as("err"))
        .orderBy(col("n_true").desc, col("user_id")).limit(20)
    }),

    // Exponentially time-decayed engagement score per user (30-day
    // half-life anchored at the corpus max event time) — the recency
    // weighting every retention/ranking feature store ships. Pure
    // map-side per-row math (one exp per event) into a keyed decimal
    // aggregate; the anchor is a 1-row broadcast. The per-event terms
    // quantize through U.dec6r (computed-double cast bridge) so the
    // per-user sums are partition-order- and engine-invariant.
    "agg_decay_sum" -> ((s, d) => {
      val lambda = math.log(2.0) / 30.0
      val ev = t(s, d, "events").filter(col("value").isNotNull)
      val mx = ev.agg(max(U.tsUs(col("ts"))).as("mx"))
      val age = (col("mx") - U.tsUs(col("ts"))).cast("double") /
        lit(86400000000.0)
      val term = exp(lit(-lambda) * age) * col("value")
      ev.crossJoin(broadcast(mx))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(U.dec6r(term)).cast("double").as("sc"))
        .select(col("user_id"), col("n_events"),
          U.round6(col("sc")).as("decay_score"))
        .orderBy("user_id")
    }),

    "feat_target_encode" -> ((s, d) => {
      val m = 10.0
      val ev = t(s, d, "events")
      val global = ev
        .agg(U.dsum(col("value")).as("gs"), count(lit(1)).as("gn"))
        .select(U.round6(col("gs") / col("gn")).as("gm"))
      val enc = ev.groupBy("event_type")
        .agg(U.dsum(col("value")).as("sv"), count(lit(1)).as("n"))
        .crossJoin(broadcast(global))
        .select(col("event_type"),
          U.round6((col("sv") + lit(m) * col("gm")) / (col("n") + lit(m)))
            .as("enc"))
      ev.select(col("event_id"), col("event_type"))
        .join(broadcast(enc), "event_type")
        .select(col("event_id"), col("event_type"), col("enc"))
        .orderBy("event_id")
    }),

    // Equi-depth bucketization with PERSISTED bounds — the train/serve
    // counterpart of ntile: deciles fit once (exact percentile array,
    // 4-decimal engine-stable bounds), then applied as a broadcast
    // map-only transform — unlike ntile, the same bounds can score new
    // data without re-ranking the corpus (no skew between fit-time and
    // apply-time bucket edges). Bucket = #interior bounds strictly below
    // the value → ids 0..9, monotone, total.
    "feat_bucketize" -> ((s, d) => {
      val ps = (1 to 9).map(_ / 10.0)
      // global deciles via the stitched exact quantile — the ungrouped
      // `percentile` funneled every value into ONE aggregation buffer.
      // The constant group is spelled NON-FOLDABLE (pmod(key, 1) ≡ 0):
      // a literal would constant-fold out of the window partition spec
      // and the bounded block-summary window would plan (and warn) as
      // a global window.
      val bounds = exactQuantiles(
        t(s, d, "orders")
          .withColumn("g", pmod(col("o_orderkey"), lit(1L))),
        "g", "o_totalprice", ps)
        .select(array(ps.indices.map(i =>
          round(col(s"q$i"), 4)): _*).as("bounds"))
      t(s, d, "orders")
        .crossJoin(broadcast(bounds))
        .select(col("o_orderkey"), col("o_totalprice"),
          size(filter(col("bounds"), b => col("o_totalprice") > b))
            .cast("long").as("bucket"))
        .orderBy("o_orderkey")
    }),

    // Correlation/covariance via exact decimal CO-moments — built-in
    // corr()/covar_samp() accumulate doubles in partition order and are
    // not partition-count invariant; Σx, Σy, Σxy, Σx², Σy² through
    // DECIMAL are exact, and the closed-form combination is per-row
    // double math (deterministic). Same discipline as agg_stats_moments.
    "agg_corr_exact" -> ((s, d) => {
      val x = U.dec4(col("l_quantity"))
      val y = U.dec4(col("l_extendedprice"))
      val n = col("n")
      val vx = col("sxx") - col("sx") * col("sx") / n
      val vy = col("syy") - col("sy") * col("sy") / n
      val cxy = col("sxy") - col("sx") * col("sy") / n
      // Keyed parallelizing exchange (r18; was round-robin U.fan and
      // its SPARK-23207 pre-shuffle sort): five decimal co-moment sums
      // at 3-task scan parallelism measured 2.0 s — the jarque_bera
      // class (heavy compute, tiny aggregate state).
      t(s, d, "lineitem")
          .select("l_returnflag", "l_quantity", "l_extendedprice")
          .repartition(col("l_extendedprice"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          U.dbl(sum(x)).as("sx"), U.dbl(sum(y)).as("sy"),
          U.dbl(sum(x * y)).as("sxy"),
          U.dbl(sum(x * x)).as("sxx"), U.dbl(sum(y * y)).as("syy"))
        .select(col("l_returnflag"), n,
          when(n > 1, U.round6(cxy / (n - 1))).as("covar_samp"),
          // zero-variance guard pinned to NULL on BOTH engines (Spark
          // ANSI-off division by 0 is NULL, DuckDB would give NaN/inf)
          when(n > 1 && vx > 0 && vy > 0,
            U.round6(cxy / sqrt(vx * vy))).as("corr"))
        .orderBy("l_returnflag")
    }),

    // Least-squares regression per group (regr_slope/regr_intercept)
    // from the same exact decimal co-moments as agg_corr_exact — the
    // built-in regr_* aggregates accumulate doubles in partition order
    // and drift run-to-run; Σx, Σy, Σxy, Σx² through DECIMAL are exact
    // and the closed form is per-row double math. Fits value-vs-time per
    // event type (the feature-drift trend probe).
    "agg_regression_exact" -> ((s, d) => {
      // seconds since 2024-01-01 (rebasing keeps Σx² small — tighter
      // decimals, no large-epoch cancellation in the closed form)
      val x = U.dec6(expr("unix_micros(ts) div 1000000 - 1704067200"))
      val y = U.dec6(col("value"))
      val n = col("n")
      val vx = col("sxx") - col("sx") * col("sx") / n
      val slope = (col("sxy") - col("sx") * col("sy") / n) / vx
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          U.dbl(sum(x)).as("sx"), U.dbl(sum(y)).as("sy"),
          U.dbl(sum(x * y)).as("sxy"), U.dbl(sum(x * x)).as("sxx"))
        .select(col("event_type"), n,
          when(n > 1 && vx > 0, U.round6(slope)).as("slope"),
          when(n > 1 && vx > 0,
            U.round6((col("sy") - slope * col("sx")) / n)).as("intercept"))
        .orderBy("event_type")
    }),

    // Ordered string aggregation (Spark 4 listagg / DuckDB string_agg
    // ORDER BY): deterministic because the within-group order is total.
    "agg_listagg" -> ((s, d) =>
      t(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
          .as("nations"))
        .orderBy("n_regionkey")),

    // Equi-width histogram via width_bucket — the single-pass
    // distribution profile (partial+final count per bucket).
    "agg_histogram" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0),
          lit(20)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          U.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")),

    // Mergeable HLL sketches: per-group sketches built once, UNIONED at
    // query time — the 100 TB pattern where per-partition/day sketches
    // are precomputed and distinct counts over any group-union become a
    // cheap register merge instead of a re-scan. ORACLED (round 8,
    // verdict item 4) by re-basing on the engine's replayable HLL++
    // path: registers are built EXPLICITLY as DataFrame columns — the
    // exact update rule HllSqlOracle pins against Spark's own
    // HyperLogLogPlusPlusHelper (xxhash64 seed 42, idx = h >>> (64-p),
    // rank = nlz((h << p)|1<<(p-1)) + 1 as an integer threshold ladder,
    // register max) — per-nation sketches union via groupBy(idx).max
    // (register max IS the HLL union), and the ≤ 2^p = 512 unioned
    // registers (k-bounded metadata, like an IVF codebook) feed the
    // replayed estimator. Equality with the DuckDB global-register
    // replay is the union-correctness statement; hard equality with
    // native approx_count_distinct is additionally pinned in
    // OperatorSemanticsSpec. The DataSketches variant (stateful
    // LIST→SET→HLL promotion — the documented round-7 expressibility
    // limit) remains as a parity test there, no longer the oracle
    // surface.
    "agg_hll_sketch_merge" -> ((s, d) => {
      val rsd = HllMergeRsd
      val p = math.ceil(2.0d * math.log(1.106d / rsd) / math.log(2.0d)).toInt
      val cust = t(s, d, "customer")
      val hashed = cust
        .select(col("c_nationkey"), xxhash64(col("c_custkey")).as("h"))
        .withColumn("idx", shiftrightunsigned(col("h"), 64 - p))
        .withColumn("w", shiftleft(col("h"), p)
          .bitwiseOR(lit(1L << (p - 1))))
      // rank = nlz(w) + 1 over the UNSIGNED view of w: rank 1 is the
      // sign bit, then a descending power-of-two ladder (w has bit p-1
      // set by the padding OR, so 64-p+1 branches are exhaustive) — the
      // same integer ladder the SQL replay uses; no floating log2.
      val rank = (1 to (64 - p)).foldLeft(when(col("w") < 0, lit(1))) {
        (acc, i) => acc.when(col("w") >= lit(1L << (63 - i)), lit(i + 1))
      }
      val perNation = hashed.groupBy("c_nationkey", "idx")
        .agg(max(rank).as("mr"))
      val unioned = perNation.groupBy("idx")
        .agg(max(col("mr")).as("mr"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val est = graft.plans.HllSqlOracle.estimateFromRegisters(unioned, rsd)
      val nRows = cust.count()
      val sess = s; import sess.implicits._
      Seq((est, nRows)).toDF("est_distinct_total", "n_rows")
    }),

    // Count-min frequency sketch per group — the mergeable heavy-hitter
    // structure (bounded memory per group, partial+final combinable;
    // the streaming/distributed companion of agg_top_frequent's exact
    // count). Oracled: the query's OUTPUT surface is the serialized
    // size (a pure function of eps/confidence — computed at
    // oracle-generation time by serializing a sketch with the same
    // parameters) plus exact counts; the sketch CONTENT's
    // overestimate-bounded-by-eps·N guarantee is what
    // OperatorSemanticsSpec asserts by deserializing and probing.
    "agg_count_min_sketch" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)")
          .as("cms"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), length(col("cms")).as("sketch_bytes"),
          col("n_rows"))
        .orderBy("l_returnflag")),

    // Boolean / bitwise aggregates (B.2 long tail): every/any predicate
    // roll-ups and bit accumulators — all partial+final combinable, so
    // the shuffle carries 5 scalars per group regardless of fact size.
    "agg_bool_bit" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          bit_and(col("o_orderkey")).as("keys_band"),
          bit_or(col("o_orderkey")).as("keys_bor"),
          bit_xor(col("o_orderkey")).as("keys_bxor"))
        .orderBy("o_orderstatus")),

    // Deterministic argmax/argmin (max_by/min_by): raw double prices DO
    // tie (257 collisions at sf0.1), so the ordering value is an exact
    // integer composite — price-cents · 10^10 + unique orderkey — making
    // the argmax total and engine/partitioning-invariant. (DuckDB's
    // arg_max can't order by a struct, hence the scalar encoding.)
    "agg_min_max_by" -> ((s, d) => {
      val composite = round(col("o_totalprice") * 100).cast("long") *
        lit(10000000000L) + col("o_orderkey")
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"), composite).as("best_key"),
          min_by(col("o_orderkey"), composite).as("worst_key"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy("o_orderpriority")
    }),

    // Deterministic exact mode: the most frequent quantity per flag,
    // smallest value on ties — two-level aggregation (count per value,
    // then argmax) on an encoded (count, -value) BIGINT so the winner is
    // total-ordered; the built-in mode() leaves ties engine-defined.
    // Values are small integers stored as doubles, so the long encode is
    // exact; count dominates the low bits by construction (qty < 1024).
    "agg_mode_exact" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(
          max_by(col("l_quantity"),
            col("n") * 1024L - col("l_quantity").cast("long")).as("mode_qty"),
          max(col("n")).as("mode_n"))
        .orderBy("l_returnflag")),

    // Unpivot/melt: wide metrics → long (variable, value) — the inverse
    // of pivot_event_type; pure narrow transform, no shuffle.
    "agg_unpivot_melt" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
          col("c_acctbal").cast("double").as("acctbal"),
          col("c_nationkey").cast("double").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal"), col("nationkey")), "metric", "val")
        .orderBy("c_custkey", "metric"))
  )

  /** One 12-bit bloom position from md5 hex chars [off+1 .. off+3] of
    * `h` — integer strpos arithmetic, the oracle twin of the engine's
    * `conv(substring(h, off+1, 3), 16, 10)`. */
  /** 3-hex-char (12-bit) md5 position for the count-min oracle —
    * bloomPosSql's arithmetic at CMS width 512. */
  private def cmsPosSql(off: Int): String =
    s"""((strpos('0123456789abcdef', substring(h, ${off + 1}, 1)) - 1)
       |      * 256
       |    + (strpos('0123456789abcdef', substring(h, ${off + 2}, 1))
       |      - 1) * 16
       |    + (strpos('0123456789abcdef', substring(h, ${off + 3}, 1))
       |      - 1)) % 512""".stripMargin

  private def bloomPosSql(off: Int): String =
    s"""((strpos('0123456789abcdef', substring(h, ${off + 1}, 1)) - 1)
       |      * 256
       |    + (strpos('0123456789abcdef', substring(h, ${off + 2}, 1))
       |      - 1) * 16
       |    + (strpos('0123456789abcdef', substring(h, ${off + 3}, 1))
       |      - 1)) % 4096""".stripMargin

  val oracles: Map[String, String] = Map(
    "agg_bloom_membership" ->
      s"""WITH bk AS (
         |  SELECT DISTINCT o_custkey FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |bh AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM bk),
         |bits AS (
         |  SELECT DISTINCT unnest([${bloomPosSql(0)},
         |    ${bloomPosSql(3)}, ${bloomPosSql(6)}]) AS pos
         |  FROM bh),
         |ph AS (SELECT c_custkey,
         |         md5(CAST(c_custkey AS VARCHAR)) AS h
         |       FROM customer),
         |pp AS (
         |  SELECT c_custkey, unnest([${bloomPosSql(0)},
         |    ${bloomPosSql(3)}, ${bloomPosSql(6)}]) AS pos
         |  FROM ph),
         |hits AS (
         |  SELECT c_custkey, count(*) AS nhit
         |  FROM pp JOIN bits USING (pos) GROUP BY c_custkey),
         |fl AS (
         |  SELECT c.c_custkey,
         |    coalesce(h.nhit, 0) = 3 AS flag,
         |    EXISTS (SELECT 1 FROM bk b
         |            WHERE b.o_custkey = c.c_custkey) AS member
         |  FROM customer c LEFT JOIN hits h USING (c_custkey))
         |SELECT count(*) AS n_probe,
         |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_members,
         |  CAST(SUM(CASE WHEN flag AND NOT member THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_pos,
         |  CAST(SUM(CASE WHEN NOT flag AND member THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_neg,
         |  round(CAST(SUM(CASE WHEN flag AND NOT member THEN 1 ELSE 0
         |      END) AS DOUBLE)
         |    / (count(*) - SUM(CASE WHEN member THEN 1 ELSE 0 END))
         |    * 1000000) / 1000000 AS fp_rate
         |FROM fl""".stripMargin,
    // Validated against a python mirror over all sf0.01 keys before
    // wiring (parallel unnest zips the row index with its position).
    "agg_countmin_freq" ->
      s"""WITH f AS (
         |  SELECT user_id, count(*) AS n_true,
         |         md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events GROUP BY user_id),
         |pe AS (
         |  SELECT user_id, n_true, unnest(range(0, 4)) AS r,
         |         unnest([${cmsPosSql(0)}, ${cmsPosSql(3)},
         |                 ${cmsPosSql(6)}, ${cmsPosSql(9)}]) AS b
         |  FROM f),
         |cells AS (
         |  SELECT r, b, SUM(n_true) AS c FROM pe GROUP BY 1, 2),
         |est AS (
         |  SELECT p.user_id, p.n_true, min(c.c) AS n_cms
         |  FROM pe p JOIN cells c ON p.r = c.r AND p.b = c.b
         |  GROUP BY 1, 2)
         |SELECT user_id, n_true, CAST(n_cms AS BIGINT) AS n_cms,
         |  CAST(n_cms - n_true AS BIGINT) AS err
         |FROM est ORDER BY n_true DESC, user_id LIMIT 20""".stripMargin,
    "agg_decay_sum" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, value
        |  FROM events WHERE value IS NOT NULL),
        |mx AS (SELECT max(us) AS mx FROM ev),
        |tm AS (
        |  SELECT user_id,
        |    exp(-(ln(2) / 30.0)
        |        * (CAST(mx - us AS DOUBLE) / 86400000000.0)) * value
        |      AS term
        |  FROM ev, mx)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(SUM(CAST(round(term * 1000000) / 1000000
        |      AS DECIMAL(18,6))) AS DOUBLE) * 1000000) / 1000000
        |    AS decay_score
        |FROM tm GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_pct_of_parent" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name),
        |w AS (
        |  SELECT *,
        |    sum(rev) OVER (PARTITION BY r_name) AS region_rev,
        |    sum(rev) OVER () AS world_rev
        |  FROM rev)
        |SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE)
        |    * 1000000) / 1000000 AS pct_of_region,
        |  round(CAST(region_rev AS DOUBLE) / CAST(world_rev AS DOUBLE)
        |    * 1000000) / 1000000 AS region_pct_of_world
        |FROM w ORDER BY r_name, n_name""".stripMargin,
    // HLL++ replayed exactly — rsd/table/columns must mirror the query.
    "agg_approx_distinct" -> graft.plans.HllSqlOracle.approxCountDistinctSql(
      "lineitem", "l_returnflag", "l_partkey", 0.02, "approx_parts"),
    // union of per-nation register sketches == global registers (max is
    // associative/commutative) — the replay builds them globally
    "agg_hll_sketch_merge" -> graft.plans.HllSqlOracle.hllUnionTotalSql(
      "customer", "c_custkey", HllMergeRsd, "est_distinct_total", "n_rows"),
    // The CMS serialized size is parameter-determined, not
    // data-determined: pin it by serializing a sketch with the query's
    // exact (eps, confidence, seed) right here at generation time.
    "agg_count_min_sketch" -> {
      val cmsBytes = org.apache.spark.util.sketch.CountMinSketch
        .create(0.001d, 0.99d, 42).toByteArray.length
      s"""SELECT l_returnflag, CAST($cmsBytes AS INT) AS sketch_bytes,
         |  count(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
    "agg_hash_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_rows" -> "SELECT count(*) AS n_rows FROM lineitem",
    "agg_collect_sorted" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names_csv,
        |  count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "agg_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_typed_custom" ->
      """SELECT l_returnflag AS flag,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin,
    "agg_top_frequent" ->
      """SELECT l_partkey, count(*) AS freq FROM lineitem
        |GROUP BY l_partkey ORDER BY freq DESC, l_partkey LIMIT 10""".stripMargin,
    "pivot_event_type" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "feat_one_hot" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
        |    AS seg_automobile,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
        |    AS seg_building,
        |  CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END
        |    AS seg_furniture,
        |  CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END
        |    AS seg_household,
        |  CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END
        |    AS seg_machinery
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "agg_percent_of_total" ->
      """WITH g AS (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY o_orderpriority),
        |t AS (SELECT CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS tot
        |      FROM g)
        |SELECT o_orderpriority, rev,
        |  round(rev / tot * 1000000) / 1000000 AS pct
        |FROM g, t ORDER BY o_orderpriority""".stripMargin,
    "window_outlier_mad" ->
      """WITH med AS (
        |  SELECT o_orderpriority AS p1,
        |    round(quantile_cont(o_totalprice, 0.5), 4) AS med
        |  FROM orders GROUP BY o_orderpriority),
        |wm AS (
        |  SELECT o.*, med.med,
        |    round(abs(o_totalprice - med.med), 4) AS adev
        |  FROM orders o JOIN med ON o.o_orderpriority = med.p1),
        |mad AS (
        |  SELECT o_orderpriority AS p2,
        |    round(quantile_cont(adev, 0.5), 4) AS mad
        |  FROM wm GROUP BY o_orderpriority)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  round(adev / mad.mad * 1000000) / 1000000 AS score
        |FROM wm JOIN mad ON wm.o_orderpriority = mad.p2
        |WHERE adev > 2.0 * mad.mad
        |ORDER BY o_orderkey""".stripMargin,
    "feat_minmax_scale" ->
      """WITH b AS (
        |  SELECT c_nationkey AS k, min(c_acctbal) AS lo, max(c_acctbal) AS hi
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey, c_nationkey,
        |  CASE WHEN hi > lo THEN
        |    round((c_acctbal - lo) / (hi - lo) * 1000000) / 1000000
        |  END AS scaled
        |FROM customer JOIN b ON c_nationkey = k
        |ORDER BY c_custkey""".stripMargin,
    "agg_entropy" ->
      """WITH tc AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |tot AS (SELECT user_id, SUM(c) AS n FROM tc GROUP BY user_id),
        |terms AS (
        |  SELECT tc.user_id,
        |    round(-(CAST(tc.c AS DOUBLE) / tot.n)
        |      * log2(CAST(tc.c AS DOUBLE) / tot.n) * 1000000) / 1000000
        |      AS term
        |  FROM tc JOIN tot USING (user_id))
        |SELECT user_id,
        |  CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS entropy
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_wilson_ci" ->
      """WITH g AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS k
        |  FROM orders GROUP BY o_orderpriority),
        |e AS (
        |  SELECT o_orderpriority, n, k,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g),
        |c AS (
        |  SELECT *,
        |    (1.0 + 3.8415999999999997 / nd) AS denom,
        |    (p + 3.8415999999999997 / (2.0 * nd)) AS num,
        |    1.96 * sqrt(p * (1.0 - p) / nd
        |      + 3.8415999999999997 / (4.0 * nd * nd)) AS halfnum
        |  FROM e)
        |SELECT o_orderpriority, n, k,
        |  round(p * 1000000) / 1000000 AS rate,
        |  round((num / denom - halfnum / denom) * 1000000) / 1000000
        |    AS ci_lo,
        |  round((num / denom + halfnum / denom) * 1000000) / 1000000
        |    AS ci_hi
        |FROM c ORDER BY o_orderpriority""".stripMargin,
    // same fixed-bin sketch replayed: counts are merge-order-invariant
    // by construction, interpolation is the identical expression chain
    "agg_histogram_quantile" -> {
      val width = 600000.0 / 256
      def q(p: Double) =
        s"""max(CASE WHEN cum >= $p * n AND cum - c < $p * n
           |    THEN round((0.0 + (b + ($p * n - (cum - c)) / c) * $width)
           |         * 1000000) / 1000000 END)""".stripMargin
      s"""WITH h AS (
         |  SELECT o_orderpriority,
         |    CAST(least(greatest(floor((o_totalprice - 0.0) / $width),
         |         0.0), 255.0) AS BIGINT) AS b,
         |    count(*) AS c
         |  FROM orders GROUP BY 1, 2),
         |f AS (
         |  SELECT o_orderpriority, b, c,
         |    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY b
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER (PARTITION BY o_orderpriority) AS n
         |  FROM h)
         |SELECT o_orderpriority,
         |  ${q(0.5)} AS p50_est,
         |  ${q(0.9)} AS p90_est,
         |  CAST(max(n) AS BIGINT) AS n_rows
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "agg_weighted_median" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cumq,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS totq
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  min(l_extendedprice) AS weighted_median,
        |  CAST(max(totq) AS BIGINT) AS total_weight
        |FROM s WHERE cumq * 2 >= totq
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "privacy_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT))
        |       AS BIGINT) AS n_bands,
        |  count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) >= 3
        |    AS meets_l
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // bit-exact XXH64 replay (longHashCtes) feeding the same unsigned
    // bridge + Laplace inverse CDF + 1e-12 ln bridge as the scan
    "privacy_dp_count_laplace" ->
      ("""WITH ids AS (
         |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS v
         |  FROM customer),
         |""".stripMargin +
        graft.plans.XxhSqlOracle.longHashCtes("ids", "dph") +
        """,
          |nz AS (
          |  SELECT v,
          |    ((CAST(h AS DOUBLE) +
          |       CASE WHEN h < 0 THEN 1.8446744073709552e19
          |            ELSE 0.0 END) + 0.5) / 1.8446744073709552e19
          |      - 0.5 AS cu
          |  FROM dph),
          |no AS (
          |  SELECT v, -2.0 *
          |    (CASE WHEN cu > 0 THEN 1.0 WHEN cu < 0 THEN -1.0
          |          ELSE 0.0 END) *
          |    (round(ln(1.0 - 2.0 * abs(cu)) * 1e12) / 1e12) AS noise
          |  FROM nz),
          |g AS (
          |  SELECT c_nationkey, count(*) AS n
          |  FROM customer GROUP BY c_nationkey)
          |SELECT g.c_nationkey, g.n,
          |  round(no.noise * 1000000) / 1000000 AS noise,
          |  round((g.n + no.noise) * 1000000) / 1000000 AS released,
          |  CAST(greatest(0.0, floor(g.n + no.noise + 0.5)) AS BIGINT)
          |    AS released_int
          |FROM g JOIN no ON no.v = CAST(g.c_nationkey AS BIGINT)
          |ORDER BY g.c_nationkey""".stripMargin),
    // full group×segment grid via cross-joined marginals (missing
    // cells contribute |0 − P(s)|), per-cell TV deviation rounded
    // 1e-6 then decimal-summed
    "privacy_t_closeness" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment FROM customer),
        |gs AS (SELECT c_nationkey, c_mktsegment, count(*) AS n_gs
        |       FROM c GROUP BY 1, 2),
        |g AS (SELECT c_nationkey, count(*) AS n_g FROM c GROUP BY 1),
        |sg AS (SELECT c_mktsegment, count(*) AS n_s FROM c GROUP BY 1),
        |tot AS (SELECT count(*) AS n_tot FROM c),
        |grid AS (
        |  SELECT g.c_nationkey, g.n_g,
        |    round(abs(CAST(coalesce(n_gs, 0) AS DOUBLE) / n_g
        |        - CAST(n_s AS DOUBLE) / n_tot) * 1000000) / 1000000 AS dv
        |  FROM g CROSS JOIN sg CROSS JOIN tot
        |  LEFT JOIN gs ON gs.c_nationkey = g.c_nationkey
        |             AND gs.c_mktsegment = sg.c_mktsegment)
        |SELECT c_nationkey, group_size, t_dist, t_dist <= 0.2 AS meets_t
        |FROM (
        |  SELECT c_nationkey, CAST(max(n_g) AS BIGINT) AS group_size,
        |    round(CAST(sum(CAST(dv AS DECIMAL(18, 6))) AS DOUBLE) / 2.0
        |      * 1000000) / 1000000 AS t_dist
        |  FROM grid GROUP BY c_nationkey)
        |ORDER BY c_nationkey""".stripMargin,
    "privacy_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |s AS (
        |  SELECT c_nationkey,
        |    CASE WHEN n >= 5 THEN c_mktsegment ELSE '*' END AS seg_out, n
        |  FROM g)
        |SELECT c_nationkey, seg_out, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(n) AS BIGINT) >= 5 AS meets_k
        |FROM s GROUP BY c_nationkey, seg_out
        |ORDER BY c_nationkey, seg_out""".stripMargin,
    "agg_salted_skew" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Lossless-regime GK = exact discrete quantile (see the query's
    // scaladoc); DuckDB's quantile_disc pins the same lower-rank element.
    "agg_approx_percentile" ->
      """SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS ap50
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_product_stats" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey || '-' || l_linenumber) AS n_cells,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_quantity
        |FROM lineitem""".stripMargin,
    "agg_listagg" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // DuckDB has no width_bucket: the oracle replicates Spark's bucket
    // arithmetic (value / bucketWidth, floored, 1-based; out-of-range
    // pinned to 0 / numBuckets+1).
    "agg_histogram" ->
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |            WHEN o_totalprice >= 600000.0 THEN 21
        |            ELSE CAST(floor(o_totalprice / 30000.0) AS BIGINT) + 1
        |       END AS bucket,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_corr_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))
        |           * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))
        |           * CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))
        |           * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 1 THEN
        |    round((sxy - sx * sy / n) / (n - 1) * 1000000) / 1000000
        |  END AS covar_samp,
        |  CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0
        |            AND (syy - sy * sy / n) > 0 THEN
        |    round((sxy - sx * sy / n) /
        |      sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        |      * 1000000) / 1000000
        |  END AS corr
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_stats_moments" ->
      """WITH s AS (
        |  SELECT c_nationkey, count(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))
        |           * CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, n,
        |  round(sx / n * 1000000) / 1000000 AS mean,
        |  CASE WHEN n > 1 THEN
        |    round((sxx - sx * sx / n) / (n - 1) * 1000000) / 1000000
        |  END AS variance,
        |  CASE WHEN n > 1 THEN
        |    round(sqrt((sxx - sx * sx / n) / (n - 1)) * 1000000) / 1000000
        |  END AS stddev
        |FROM s ORDER BY c_nationkey""".stripMargin,
    "feat_robust_scale" ->
      """WITH s AS (
        |  SELECT c_nationkey AS k,
        |    round(quantile_cont(c_acctbal, 0.5), 4) AS med,
        |    round(quantile_cont(c_acctbal, 0.75), 4)
        |      - round(quantile_cont(c_acctbal, 0.25), 4) AS iqr
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey, c_nationkey,
        |  CASE WHEN iqr > 0 THEN
        |    round((c_acctbal - med) / iqr * 1000000) / 1000000 END
        |    AS robust_z
        |FROM customer JOIN s ON s.k = c_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "feat_zscore" ->
      """WITH s AS (
        |  SELECT c_nationkey AS k, count(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))
        |           * CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        |  FROM customer GROUP BY c_nationkey),
        |b AS (
        |  SELECT k, sx / n AS m,
        |    CASE WHEN n > 1 THEN
        |      sqrt((sxx - sx * sx / n) / (n - 1)) END AS sd
        |  FROM s)
        |SELECT c_custkey, c_nationkey,
        |  CASE WHEN sd > 0 THEN
        |    round((c_acctbal - m) / sd * 1000000) / 1000000 END AS z
        |FROM customer JOIN b ON c_nationkey = k
        |ORDER BY c_custkey""".stripMargin,
    "feat_winsorize" ->
      """WITH q AS (
        |  SELECT l_returnflag AS rf,
        |    round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |    round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  greatest(lo, least(hi, l_extendedprice)) AS clipped
        |FROM lineitem JOIN q ON l_returnflag = rf
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "feat_target_encode" ->
      """WITH g AS (
        |  SELECT round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS gm
        |  FROM events),
        |enc AS (
        |  SELECT event_type,
        |    round((CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      + 10.0 * gm) / (count(*) + 10.0) * 1000000) / 1000000 AS enc
        |  FROM events, g GROUP BY event_type, gm)
        |SELECT event_id, event_type, enc
        |FROM events JOIN enc USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "feat_bucketize" ->
      """WITH b AS (
        |  SELECT [round(quantile_cont(o_totalprice, 0.1), 4),
        |          round(quantile_cont(o_totalprice, 0.2), 4),
        |          round(quantile_cont(o_totalprice, 0.3), 4),
        |          round(quantile_cont(o_totalprice, 0.4), 4),
        |          round(quantile_cont(o_totalprice, 0.5), 4),
        |          round(quantile_cont(o_totalprice, 0.6), 4),
        |          round(quantile_cont(o_totalprice, 0.7), 4),
        |          round(quantile_cont(o_totalprice, 0.8), 4),
        |          round(quantile_cont(o_totalprice, 0.9), 4)] AS bounds
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |  CAST(len(list_filter(bounds, x -> o_totalprice > x)) AS BIGINT)
        |    AS bucket
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    "agg_bool_bit" ->
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_totalprice > 400000) AS any_over_400k,
        |  bit_and(o_orderkey) AS keys_band,
        |  bit_or(o_orderkey) AS keys_bor,
        |  bit_xor(o_orderkey) AS keys_bxor
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "agg_min_max_by" ->
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |          * 10000000000 + o_orderkey) AS best_key,
        |  arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |          * 10000000000 + o_orderkey) AS worst_key,
        |  max(o_totalprice) AS max_price,
        |  min(o_totalprice) AS min_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_regression_exact" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200
        |           AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200
        |             AS DECIMAL(28,6))
        |           * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200
        |             AS DECIMAL(28,6))
        |           * CAST(epoch_us(ts) // 1000000 - 1704067200
        |             AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0 THEN
        |    round((sxy - sx * sy / n) / (sxx - sx * sx / n) * 1000000)
        |      / 1000000 END AS slope,
        |  CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0 THEN
        |    round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx)
        |      / n * 1000000) / 1000000 END AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    "agg_mode_exact" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  arg_max(l_quantity, n * 1024 - CAST(l_quantity AS BIGINT))
        |    AS mode_qty,
        |  max(n) AS mode_n
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_unpivot_melt" ->
      """SELECT c_custkey, 'acctbal' AS metric,
        |       CAST(c_acctbal AS DOUBLE) AS val FROM customer
        |UNION ALL
        |SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE)
        |FROM customer
        |ORDER BY c_custkey, metric""".stripMargin
  )
}
