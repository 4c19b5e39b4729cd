package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Cut, Tables, U}

/** Market-basket / portfolio analytics over the order fact — the
  * co-occurrence and concentration primitives every commerce-flavored
  * warehouse ships (and every recommendation training pipeline needs as
  * its candidate-generation stage).
  *
  * Scale shapes (the 100 TB contract):
  *  - co-purchase pair generation is keyed on the ORDER — the shuffle
  *    carries (order, part) pairs once and the fan-out per order is
  *    basket-size-bounded (k·(k−1)/2 for a k-item basket), never
  *    corpus-quadratic;
  *  - the part-frequency join keys on the part id — a plain keyed
  *    shuffle linear in the pair table;
  *  - concentration (ABC) runs its global cumulative window over the
  *    per-part AGGREGATE (|parts| rows, not |lineitem|); at a scale
  *    where even the part dimension is huge the cumulative sum
  *    block-stitches by revenue octave ([[Windows.stitchedSums]]).
  *
  * Reference ancestry: none — the reference pipeline has no basket
  * analytics; this is beyond-reference engine surface (training-data
  * co-occurrence features, SURVEY §2 Part B spirit).
  */
object Market {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Item-to-item co-purchase top-k over a raw (`l_orderkey`,
    * `l_partkey`) incidence table (duplicates fine — the basket
    * aggregate dedups): ONE order-keyed aggregate collapses each order
    * to its sorted distinct basket, pair candidates come from an
    * in-array combination expression (basket-size-bounded k·(k−1)/2
    * fan-out, whole-stage codegen — no self-join of the fact), part
    * frequencies explode off the same basket table (k-element light
    * explode, shared scan+repartition exchange via AQE reuse), the
    * frequency joins land on the 1× canonical pair table, and
    * symmetrization is a 2-element Generate, NOT a self-union (a union
    * duplicates the entire upstream subtree in the physical plan).
    * Cosine = n/√(fa·fb) rounded to 1e-6 BEFORE the rank window so
    * ordering is engine-stable. Round-10 rewrite: the previous
    * distinct → self-join → post-sym double freq-join shape spent two
    * extra full shuffles of the fact + one of the 2× pair table for
    * the same result. */
  /** Per-basket size cap (same occurrence-cap discipline as the gram
    * buckets, `Dedup.substring` occ ≤ 50, and `embeddingLshPairs`
    * maxBucket = 256): the pair Generate is k·(k−1)/2 per basket, so
    * ONE pathological 100k-item basket would emit 5×10⁹ pairs in a
    * single task. Baskets keep their first `MaxBasket` distinct part
    * ids (deterministic — the basket is sorted), bounding per-basket
    * fan-out at ~32k pairs; TPC-H baskets (≤ 7 items) never reach it.
    * The oracle replays the identical truncation (row_number ≤ cap per
    * order, same id order), so the cap is part of the query CONTRACT,
    * not a silent divergence. */
  val MaxBasket = 256

  /** Optional support-threshold pruning (VERDICT r12 item 4): pair
    * volume grows with co-purchase density² (sf2 measured 2.45 at the
    * doubling, a 288 MB pair table), and the standard market-basket
    * cure is a frequency floor/ceiling on the ITEMS — drop parts below
    * `minSupport` (tail items whose pairs are statistical noise) or
    * above `maxSupport` (hub items that co-occur with everything and
    * contribute support² pairs each). A pair survives iff BOTH
    * endpoints are in-band, so each threshold runs where its cost
    * model says (see the inline note): the ceiling pre-prunes the
    * basket arrays via a broadcast hub list (the quadratic saving),
    * the floor post-filters the scored pair table (tail emission is
    * linear — nothing to save upstream). Surviving pairs keep their
    * TRUE frequencies in the cosine (fc counts the capped universe
    * before pruning), so enabling thresholds only removes rows, never
    * rescores one. Defaults (1, MaxValue) compile to the exact
    * pre-r13 plan — TPC-H results byte-identical. The oracle replays
    * the capped universe + eligibility band as contract. */
  def coPurchaseTopK(dp: DataFrame, k: Int, minSupport: Long = 1L,
      maxSupport: Long = Long.MaxValue): DataFrame = {
    val (baskets0, f) = basketsAndFreq(dp, maxSupport)
    // Every i<j combination (pa < pb by construction — the basket is
    // sorted) from ONE codegen'd array expression; no self-join of the
    // fact ever happens.
    val pairEmit = flatten(transform(col("basket"),
      (x, i) => transform(
        slice(col("basket"), i + lit(2), size(col("basket"))),
        y => struct(x.as("pa"), y.as("pb")))))
    val pairs = baskets0
      .select(explode(pairEmit).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n"))
    // Cosine is symmetric, so score the 1× canonical pair table and
    // THEN mirror each row with a 2-element explode — a Generate, not a
    // self-union: the union shape would duplicate the whole upstream
    // subtree in the physical plan (measured: 6 copies of the basket
    // aggregate before this rewrite).
    val scored0 = pairs
      .join(f.select(col("pk").as("pa"), col("fc").as("fa")), "pa")
      .join(f.select(col("pk").as("pb"), col("fc").as("fb")), "pb")
      .withColumn("cosine",
        U.round6(col("n") / sqrt(col("fa") * col("fb"))))
    // the floor rides the already-joined true frequencies (see above)
    val scored =
      if (minSupport <= 1L) scored0
      else scored0.filter(
        col("fa") >= minSupport && col("fb") >= minSupport)
    val sym = scored.select(explode(array(
        struct(col("pa").as("src"), col("pb").as("dst"),
          col("n"), col("cosine")),
        struct(col("pb").as("src"), col("pa").as("dst"),
          col("n"), col("cosine")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.n").as("n"), col("e.cosine").as("cosine"))
    sym
      .withColumn("rnk", row_number().over(Window.partitionBy("src")
        .orderBy(col("cosine").desc, col("dst"))))
      .filter(col("rnk") <= k)
      .select(col("src").as("p_src"), col("dst").as("p_dst"),
        col("n").as("n_co"), col("cosine"), col("rnk"))
  }

  /** The Generate's pair-emission volume for a given input + ceiling:
    * Σ k·(k−1)/2 over the (capped, hub-pruned) baskets — the quantity
    * the maxSupport knob exists to collapse. A fixture/measurement
    * seam (VERDICT r13 item 8: the quadratic saving was argued from a
    * hypothetical, never exercised on a real hub), built from the SAME
    * basket construction the query runs so the number cannot drift
    * from the plan it describes. */
  def pairEmissionCount(dp: DataFrame,
      maxSupport: Long = Long.MaxValue): Long = {
    val (baskets0, _) = basketsAndFreq(dp, maxSupport)
    // exact long arithmetic: k·(k−1) sums as LONG (Spark's `/` is
    // double division), halved once on the driver — k·(k−1) is even
    val r = baskets0
      .select((size(col("basket")).cast("long")).as("k"))
      .agg(sum(col("k") * (col("k") - lit(1L))).as("p2"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0) / 2
  }

  /** Shared basket construction of [[coPurchaseTopK]] /
    * [[pairEmissionCount]]: returns (capped + optionally hub-pruned
    * baskets, TRUE part frequencies of the capped universe). */
  private def basketsAndFreq(dp: DataFrame,
      maxSupport: Long): (DataFrame, DataFrame) = {
    // Pre-hash on the basket key: the test-SF parquet is one row group
    // per file, so without this the collect_set partial aggregate runs
    // at scan parallelism (3 tasks for 600k rows at sf0.1 — measured
    // 1.65 s of the query). The explicit hash repartition satisfies the
    // groupBy's distribution requirement (no second exchange) and moves
    // the aggregate to full shuffle parallelism; on a real multi-file
    // 100 TB scan it is a no-op-cost re-key of the (order, part) pairs.
    // The slice caps each basket at its first MaxBasket sorted members
    // BEFORE any fan-out; frequencies and pairs both run off the capped
    // basket so the two sides of the cosine stay mutually consistent.
    val dpr = dp.repartition(col("l_orderkey"))
    // collect_set IS the per-order distinct (r18): the previous
    // dropDuplicates + collect_list spelling paid a separate dedup
    // HashAggregate pass for the same set; one set-aggregate folds the
    // dedup into the collect (a part bought twice in one order still
    // counts once — set semantics), and sort_array keeps the basket
    // engine-deterministic.
    def collectBaskets(rows: DataFrame): DataFrame = rows
      .groupBy("l_orderkey")
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasket)
        .as("basket"))
      .select(col("basket"))
    // Part frequencies come off the EXPLODED capped basket:
    // explode(basket) is by construction exactly the capped universe
    // ("first MaxBasket sorted distinct parts per order"), so a count
    // per exploded element needs no row_number window and no second
    // dedup aggregate. The basket aggregate feeding both the pair
    // Generate and the frequency explode is cut: an aggregate is not an
    // exchange, so AQE reuse cannot dedup its two consumers — without
    // the cut the dedup+collect lineage runs once per branch. The cut
    // is order-cardinality (executor storage, never the driver).
    def freqOf(baskets: DataFrame): DataFrame = baskets
      .select(explode(col("basket")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("fc"))
    // Threshold placement follows the cost model, not the algebra (the
    // algebra is indifferent: a pair survives iff BOTH endpoints are
    // in-band, wherever the filter runs):
    //  - the CEILING pre-prunes: hub parts are the quadratic threat
    //    (support² pairs each) and are FEW by construction (fc >
    //    maxSupport bounds the list size at N_rows/maxSupport), so the
    //    hub ids broadcast and a hash anti-join drops them from the
    //    rows before the pair Generate ever fans out;
    //  - the FLOOR post-filters the scored pair table: tail parts emit
    //    only fc < minSupport pairs each (linear — no quadratic term to
    //    save), and the fa/fb frequencies needed for the test are
    //    already joined there, so the filter is free. A first-draft
    //    pre-filter spelling (brn window + eligibility join + basket
    //    re-collect) measured 53.8 s vs the unpruned 26.1 s at sf4 —
    //    2× SLOWER than not pruning; this shape prunes with no extra
    //    pass at all.
    if (maxSupport == Long.MaxValue) {
      val baskets = Cut.eager(collectBaskets(dpr))
      (baskets, freqOf(baskets))
    } else {
      // The cut lands on the FULL sorted-basket aggregate: ONE
      // dedup+collect pass, order-cardinality blocks, read by both the
      // frequency count and the hub-free re-collect. (A cut at the
      // deduped fact rows is fact-cardinality and re-runs the basket
      // collect once per consumer; it measured anti-scaling at 32
      // cores.)
      //  - frequencies come from the capped slice of the full basket
      //    (by construction exactly the "first MaxBasket sorted
      //    distinct parts per order" universe — same as before);
      //  - hub removal precedes the cap (first MaxBasket NON-HUB
      //    members, the oracle's replay order): the full basket
      //    re-explodes — hash(l_orderkey) partitioning intact — drops
      //    hub members via the broadcast anti-join, and re-collects
      //    with NO exchange (clustering still satisfied). (A HOF
      //    `filter(basket, !array_contains(hub_arr, _))` spelling was
      //    tried in r13 and is the trap: array_contains is a linear
      //    scan, ~2.5k hubs × every basket element ≈ 10¹¹ comparisons
      //    at sf4.)
      val fullB = Cut.eager(dpr.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("fb")))
      val f = fullB
        .select(explode(slice(col("fb"), 1, MaxBasket)).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("fc"))
      val hubs = f.filter(col("fc") > maxSupport)
        .select(col("pk").as("l_partkey"))
      val hubless = fullB
        .select(col("l_orderkey"), explode(col("fb")).as("l_partkey"))
        .join(broadcast(hubs), Seq("l_partkey"), "left_anti")
        .groupBy("l_orderkey")
        .agg(slice(sort_array(collect_list(col("l_partkey"))), 1, MaxBasket)
          .as("basket"))
        .select(col("basket"))
      (hubless, f)
    }
  }

  /** Merge overlapping intervals (`st`, `en` — µs longs) into maximal
    * islands per `key`: boundary = start strictly after the running max
    * of every previous end, in (st, en) order. One partitioned window
    * pass + one aggregate → (`key`, island, start_us, end_us,
    * n_events); exact integer arithmetic throughout. */
  def mergeIntervals(iv: DataFrame, key: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy("st", "en")
    iv.withColumn("pmax", max(col("en")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw", when(col("pmax").isNull
        || col("st") > col("pmax"), 1).otherwise(0))
      .withColumn("island", sum(col("nw")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(key, "island")
      .agg(min(col("st")).as("start_us"), max(col("en")).as("end_us"),
        count(lit(1)).as("n_events"))
  }

  /** ABC classification over a (`l_partkey`, `r` — exact decimal
    * revenue) summary: cumulative-share classes decided by exact
    * decimal cross-multiplication (c·5 ≤ t·4 ⇔ share ≤ 0.8), shares
    * displayed as rounded doubles.
    *
    * The cumulative revenue runs through [[Windows.stitchedSums]], not
    * one global `Window.orderBy` — part cardinality grows with the
    * data (~10⁹ parts at 100 TB), so a single-task cumulative sort
    * would not scale. Block key = revenue octave eighth,
    * `-floor(log2(r)·8)`: a pure monotone non-increasing function of
    * `r`, so ties (equal `r`) can never straddle blocks and ascending
    * block order IS descending revenue order; the block summary is
    * bounded by the revenue DOMAIN (≲8 blocks per power of two — a few
    * hundred rows even when per-part revenue spans 1e-2..1e12), not by
    * the data. The stitch is exact-decimal re-association, so `c`,
    * `t`, and every class boundary are bit-identical to the
    * single-window form. */
  def abcClassify(rev: DataFrame): DataFrame = {
    val blk = when(col("r") > 0,
      (-floor(log2(U.dbl(col("r"))) * 8.0)).cast("long"))
      .otherwise(lit(Long.MaxValue)) // non-positive revenue sorts last
    Windows.stitchedSums(rev, Nil, blk,
        Seq(col("r").desc, col("l_partkey")), Seq(("r", "c", "t")))
      .select(col("l_partkey"), U.dbl(col("r")).as("revenue"),
        U.round6(U.dbl(col("c")) / U.dbl(col("t"))).as("cum_share"),
        when(col("c") * 5 <= col("t") * 4, "A")
          .when(col("c") * 20 <= col("t") * 19, "B")
          .otherwise("C").as("abc_class"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Item-to-item co-purchase similarity: parts sharing an order form
    // an edge weighted by co-occurrence count, normalized to the cosine
    // of the (binary) order-incidence vectors — n_ab / √(n_a·n_b) —
    // and each part keeps its top-3 partners. This is the classic
    // "customers who bought X" candidate generator: cheap, exact, and
    // embarrassingly parallel. Determinism: cosine is a ratio of an
    // integer and an IEEE sqrt of an integer product (bit-identical
    // across engines), rounded to 1e-6 BEFORE ranking so the rank
    // window orders identical values on both sides; ties break on the
    // partner id.
    "graph_copurchase_topk" -> ((s, d) => {
      coPurchaseTopK(t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")), k = 3)
        .orderBy("p_src", "rnk")
    }),

    // The support-thresholded variant (VERDICT r12 item 4): parts with
    // basket support outside [20, 40] are pruned BEFORE pair
    // generation — the scale knob for pathological co-purchase density
    // (pair volume is support² per hub part). Surviving pairs keep
    // their true frequencies; thresholds chosen to actually bite on
    // the synthetic draw (support is ~Poisson around 30 at every SF).
    "graph_copurchase_support" -> ((s, d) => {
      coPurchaseTopK(t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")), k = 3,
        minSupport = 20L, maxSupport = 40L)
        .orderBy("p_src", "rnk")
    }),

    // Merge overlapping per-user activity intervals (each event opens a
    // 30-minute span) into maximal islands — the gaps-and-islands
    // primitive behind contiguous-coverage questions (uptime stitching,
    // ad-exposure windows, session coverage distinct from gap-based
    // sessionization which keys on DELTAS, not interval overlap).
    // Shape: one per-user sort; island boundary = start strictly after
    // the running max of all previous ends (exact µs longs, no float);
    // the running max + running boundary count are the same
    // partitioned-window pass; the final aggregate collapses each
    // island to (start, end, n_events). Tie-safety: rows sharing a
    // start land in the same island under ANY tie order (an equal
    // start can never exceed the tied row's end), so the frame-based
    // windows are deterministic without an event-id tie-break.
    "window_interval_merge" -> ((s, d) => {
      val span = 1800L * 1000000L // 30 min in µs
      mergeIntervals(t(s, d, "events")
        .select(col("user_id"), U.tsUs(col("ts")).as("st"))
        .withColumn("en", col("st") + lit(span)), "user_id")
        .orderBy("user_id", "island")
    }),

    // ABC / Pareto concentration: classify parts by cumulative revenue
    // share — A = the head making up the first 80%, B = to 95%, C =
    // tail. The classification compares EXACT decimals cross-multiplied
    // against integer thresholds (c·5 ≤ t·4 ⇔ share ≤ 0.8) so no
    // float division ever decides a class; the displayed share is the
    // rounded double. The cumulative sum block-stitches by revenue
    // octave (per-part cardinality is DATA-scaled — ~10⁹ at 100 TB);
    // the only unpartitioned window runs over the per-octave summary,
    // bounded by the revenue domain (the structural contract PlanSpec
    // enforces).
    "window_abc_classify" -> ((s, d) => {
      abcClassify(t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(U.dec4(col("l_extendedprice")
          * (lit(1) - col("l_discount")))).as("r")))
        .orderBy(col("revenue").desc, col("l_partkey"))
    }))

  val oracles: Map[String, String] = Map(
    "graph_copurchase_topk" ->
      """WITH dp0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |dpr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_partkey) AS brn FROM dp0),
        |dp AS (SELECT l_orderkey, l_partkey FROM dpr WHERE brn <= 256),
        |f AS (SELECT l_partkey, count(*) AS fc FROM dp GROUP BY 1),
        |pr AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
        |  FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT pa AS src, pb AS dst, n FROM pr
        |        UNION ALL SELECT pb, pa, n FROM pr),
        |sc AS (
        |  SELECT s.src, s.dst, s.n,
        |    round(s.n / sqrt(fa.fc * fb.fc) * 1000000) / 1000000 AS cosine
        |  FROM sym s JOIN f fa ON fa.l_partkey = s.src
        |  JOIN f fb ON fb.l_partkey = s.dst),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY src ORDER BY cosine DESC, dst) AS rnk
        |       FROM sc)
        |SELECT src AS p_src, dst AS p_dst, n AS n_co, cosine, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY p_src, rnk""".stripMargin,
    // support-thresholded replay of the engine's exact threshold
    // placement: frequencies over the cap-first universe (true
    // support), HUB removal (fc > 40) BEFORE the basket cap, pairs
    // from the hubless capped rows, floor (fc >= 20) on the scored
    // pair table — cosine keeps the PRE-prune frequencies
    "graph_copurchase_support" ->
      """WITH dp0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |dpr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_partkey) AS brn FROM dp0),
        |dp AS (SELECT l_orderkey, l_partkey FROM dpr WHERE brn <= 256),
        |f AS (SELECT l_partkey, count(*) AS fc FROM dp GROUP BY 1),
        |hub AS (SELECT l_partkey FROM f WHERE fc > 40),
        |dph AS (SELECT l_orderkey, l_partkey,
        |          row_number() OVER (PARTITION BY l_orderkey
        |            ORDER BY l_partkey) AS brn
        |        FROM dp0 WHERE l_partkey NOT IN (SELECT l_partkey FROM hub)),
        |dpe AS (SELECT l_orderkey, l_partkey FROM dph WHERE brn <= 256),
        |pr AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
        |  FROM dpe a JOIN dpe b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT pa AS src, pb AS dst, n FROM pr
        |        UNION ALL SELECT pb, pa, n FROM pr),
        |sc AS (
        |  SELECT s.src, s.dst, s.n,
        |    round(s.n / sqrt(fa.fc * fb.fc) * 1000000) / 1000000 AS cosine
        |  FROM sym s JOIN f fa ON fa.l_partkey = s.src
        |  JOIN f fb ON fb.l_partkey = s.dst
        |  WHERE fa.fc >= 20 AND fb.fc >= 20),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY src ORDER BY cosine DESC, dst) AS rnk
        |       FROM sc)
        |SELECT src AS p_src, dst AS p_dst, n AS n_co, cosine, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY p_src, rnk""".stripMargin,
    "window_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + 1800000000 AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |fl AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax
        |         THEN 1 ELSE 0 END AS nw FROM m),
        |isl AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY st
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS island
        |        FROM fl)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  min(st) AS start_us, max(en) AS end_us,
        |  count(*) AS n_events
        |FROM isl GROUP BY user_id, island ORDER BY user_id, island"""
        .stripMargin,
    "window_abc_classify" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount)
        |        AS DECIMAL(18,4))) AS r
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT l_partkey, r,
        |    sum(r) OVER (ORDER BY r DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |    sum(r) OVER () AS t
        |  FROM rev)
        |SELECT l_partkey, CAST(r AS DOUBLE) AS revenue,
        |  round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE) * 1000000)
        |    / 1000000 AS cum_share,
        |  CASE WHEN c * 5 <= t * 4 THEN 'A'
        |       WHEN c * 20 <= t * 19 THEN 'B' ELSE 'C' END AS abc_class
        |FROM cum ORDER BY revenue DESC, l_partkey""".stripMargin)
}
