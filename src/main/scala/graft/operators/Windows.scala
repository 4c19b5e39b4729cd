package graft.operators

import graft.{Tables, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windows, sorts, top-k — SURVEY.md §2 B.3.
  *
  * Every window partitions by a real key (customer / user) so state stays
  * bounded per partition at scale; the only global sorts are the ones whose
  * semantics demand total order (`sort_global`, `topk_limit` — the latter
  * compiles to TakeOrderedAndProjectExec, i.e. per-partition top-k + merge,
  * never a full global sort).
  */
object Windows {

  /** seq_pattern_detect's per-user history bound: only the first this-
    * many events (event-time order, event_id tiebreak) of each user
    * enter the symbol string. Part of the query contract (the oracle
    * applies the same cap); keeps the hottest key's aggregation buffer
    * and output string bounded at any corpus scale. */
  val SeqHistoryCap = 4096
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_rank_topk" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),

    // Running sum per user in event-time order (exact via decimal bridge).
    "window_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running_value", U.dbl(sum(U.dec6(col("value"))).over(w)))
        .select("event_id", "user_id", "running_value")
        .orderBy("event_id")
    }),

    "window_lag_delta" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .select("event_id", "user_id", "delta")
        .orderBy("event_id")
    }),

    // Moving average over the last 5 events per user (row frame).
    "window_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      t(s, d, "events")
        .withColumn("mov_sum", U.dbl(sum(U.dec6(col("value"))).over(w)))
        .withColumn("mov_n", count(lit(1)).over(w))
        .withColumn("mov_avg", U.round6(col("mov_sum") / col("mov_n")))
        .select("event_id", "user_id", "mov_avg")
        .orderBy("event_id")
    }),

    // EWMA smoothing per user (α=0.2): ewma_i = α·x_i + (1-α)·ewma_{i-1},
    // seeded with the first observation. The recurrence is inherently
    // SEQUENTIAL per key — no SQL window frame expresses it, and the
    // (1-α)^{-i} rescaling trick overflows doubles past a few thousand
    // rows — so the scale-correct shape is secondary sort: ONE shuffle
    // (repartition by user) + partition-local sort + a mapPartitions
    // scan carrying one double per key. State is O(1); keys never span
    // partitions; 1000 executors each scan their users independently.
    // Oracle: DuckDB recursive CTE replaying the identical fold order
    // (validated mismatch-free against a sequential mirror at sf0.01);
    // round6 absorbs any residual last-ulp risk.
    "window_ewma" -> ((s, d) => {
      import s.implicits._
      val src = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      src.repartition(col("user_id"))
        .sortWithinPartitions("user_id", "us", "event_id")
        .mapPartitions { it =>
          var curUser = 0L
          var haveUser = false
          var acc = 0.0
          it.map { case (u, _, eid, v) =>
            if (!haveUser || u != curUser) { curUser = u; haveUser = true; acc = v }
            else acc = 0.2 * v + 0.8 * acc
            (eid, u, acc)
          }
        }
        .toDF("event_id", "user_id", "ewma")
        .withColumn("ewma", U.round6(col("ewma")))
        .orderBy("event_id")
    }),

    // Wilder RSI (period 14) — the classic momentum oscillator, and a
    // second data point for the sequential-recurrence shape: TWO
    // carried accumulators (smoothed gain and loss) folded per user in
    // one secondary-sort mapPartitions scan (repartition on the key,
    // sortWithinPartitions, O(1) state — the window_ewma discipline;
    // a window function cannot express Wilder smoothing because each
    // step divides the PREVIOUS smoothed value). Seed convention:
    // the first delta's gain/loss starts both averages (documented
    // variant of the SMA-14 seed; the recursion is identical from
    // there). Cross-engine determinism is fold-order identity — the
    // per-user op sequence is the same IEEE program on both engines,
    // so no decimal bridging is needed; RSI rounds at the boundary.
    // al = 0 (no losses yet) pins RSI at 100 on both sides.
    "window_rsi_wilder" -> ((s, d) => {
      import s.implicits._
      val src = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      src.repartition(col("user_id"))
        .sortWithinPartitions("user_id", "us", "event_id")
        .mapPartitions { it =>
          var curUser = 0L
          var haveUser = false
          var prev = 0.0
          var ag = 0.0
          var al = 0.0
          var n = 0L
          it.flatMap { case (u, _, eid, v) =>
            if (!haveUser || u != curUser) {
              curUser = u; haveUser = true; prev = v
              ag = 0.0; al = 0.0; n = 0
              None
            } else {
              val delta = v - prev
              prev = v
              val g = if (delta > 0) delta else 0.0
              val l = if (delta < 0) -delta else 0.0
              n += 1
              if (n == 1) { ag = g; al = l }
              else {
                ag = (13.0 * ag + g) / 14.0
                al = (13.0 * al + l) / 14.0
              }
              Some((eid, u, ag, al))
            }
          }
        }
        .toDF("event_id", "user_id", "ag", "al")
        .select(col("event_id"), col("user_id"),
          U.round6(when(col("al") === 0.0, lit(100.0))
            .otherwise(lit(100.0) - lit(100.0)
              / (lit(1.0) + col("ag") / col("al")))).as("rsi"))
        .orderBy("event_id")
    }),

    // Range frame: sum over a value-range window (orders within ±1 of the
    // current key) — rangeBetween, not rowsBetween.
    "window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_orderkey"))
        .rangeBetween(-5, 0)
      t(s, d, "orders")
        .withColumn("range_sum", U.dbl(sum(U.dec4(col("o_totalprice"))).over(w)))
        .select("o_orderkey", "o_orderstatus", "range_sum")
        .orderBy("o_orderkey")
    }),

    // Distribution functions: quartile bucket + relative rank + cumulative
    // distribution per nation's customers by account balance.
    "window_ntile_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, d, "customer")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", U.round6(percent_rank().over(w)))
        .withColumn("cume", U.round6(cume_dist().over(w)))
        .select("c_custkey", "c_nationkey", "quartile", "pct_rank", "cume")
        .orderBy("c_custkey")
    }),

    // Time-series gap-fill + forward fill: each user's full hourly grid
    // between its first and last active hour, gaps carrying the last
    // observed hourly sum — the resample/ffill step of telemetry and
    // feature pipelines. Gap rows are GENERATED from consecutive
    // observations (lead(hour) bounds the explode, and the carried
    // value IS the forward fill), so the plan is one per-user window
    // shuffle of the observed rows plus a map-side explode — no
    // grid-to-observation join shuffling one row per grid hour (≈10× the
    // observed rows here, unbounded at scale for sparse series). Hour
    // index is exact integer division of event-time micros.
    "timeseries_gapfill" -> ((s, d) => {
      val hour = expr("unix_micros(ts) div 3600000000").as("hour")
      val obs = t(s, d, "events")
        .groupBy(col("user_id"), hour)
        .agg(U.dbl(sum(U.dec6(col("value")))).as("hr_sum"))
      val byUser = Window.partitionBy("user_id").orderBy("hour")
      // forward fill skips NULL observations (last(..., ignoreNulls) —
      // the oracle's last_value(... IGNORE NULLS) semantics) so a
      // nullable value column can't diverge the engines; same
      // partitioning+ordering as the lead() window → one exchange
      val withNext = obs
        .withColumn("filled", last(col("hr_sum"), ignoreNulls = true).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_hour", lead(col("hour"), 1).over(byUser))
      val observed = withNext.select(col("user_id"), col("hour"),
        col("hr_sum"), col("filled"))
      val gaps = withNext
        .filter(col("next_hour").isNotNull && col("next_hour") > col("hour") + 1)
        .select(col("user_id"),
          explode(sequence(col("hour") + 1, col("next_hour") - 1)).as("hour"),
          lit(null).cast("double").as("hr_sum"),
          col("filled"))
      observed.unionByName(gaps).orderBy("user_id", "hour")
    }),

    // CDC log → SCD2 dimension (the history-keeping sibling of
    // upsert_latest): collapse each user's event stream to its state
    // CHANGE points, then close each validity interval with the next
    // change's timestamp (NULL = current). Both windows share the
    // user_id partitioning, so Catalyst reuses one exchange — the
    // second window only re-sorts the already-collapsed change rows.
    // Per-key state is bounded (one partition per user's rows), the
    // shape that survives a 100 TB event log.
    "scd2_dimension" -> ((s, d) => {
      val changes = t(s, d, "events")
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), col("event_type").as("state"))
        .withColumn("prev", lag(col("state"), 1).over(
          Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))))
        .filter(col("prev").isNull || col("prev") =!= col("state"))
      changes
        .withColumn("valid_to", lead(col("tsu"), 1).over(
          Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))))
        .select(col("user_id"), col("state"),
          col("tsu").as("valid_from"), col("valid_to"))
        .orderBy("user_id", "valid_from", "state")
    }),

    // Point-in-time SCD2 lookup — the temporal-warehouse join every
    // "what did the dimension say WHEN this fact happened" question
    // needs: each purchase joins the user's SCD2 state interval
    // containing its event time (composition evidence: the dimension
    // IS the registered scd2_dimension query reused as a stage). The
    // join is an EQUI-join on the key with the interval containment as
    // a residual — per-user version chains are short, so the key join
    // bounds the pair work; the open tail (valid_to null) matches via
    // coalesce-to-infinity. Exactly-one-interval-per-fact is a
    // structural invariant of SCD2 (intervals partition the timeline
    // from the first change), so row count == fact count.
    "join_scd2_pointintime" -> ((s, d) => {
      val dim = queries("scd2_dimension")(s, d)
        .withColumnRenamed("user_id", "d_uid")
      val facts = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), U.tsUs(col("ts")).as("tsu"))
      facts.join(dim,
          col("user_id") === col("d_uid") &&
          col("tsu") >= col("valid_from") &&
          col("tsu") < coalesce(col("valid_to"), lit(Long.MaxValue)))
        .select(col("event_id"), col("user_id"), col("state"))
        .orderBy("event_id")
    }),

    // CDC log → current snapshot (upsert compaction / SCD1): latest row
    // per key by (event time, unique id) — the standard merge-on-read
    // collapse before publishing a snapshot. Window partitions by the
    // real key (bounded state per key at scale); event time compares in
    // microseconds end-to-end.
    "upsert_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(U.tsUs(col("ts")).desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"))
        .orderBy("user_id", "event_type")
    }),

    // MERGE INTO semantics (cdc_merge_apply) — the warehouse CDC apply:
    // a changeset with I/U/D ops merges into the base snapshot in ONE
    // full-outer join on the key (base D-rows drop, U-rows take the
    // change's attributes, I-rows append, untouched rows pass through).
    // At 100 TB both sides co-partition on the key (the snapshot is
    // bucketed by key at write time — BucketingSpec's zero-exchange
    // story), so the nightly merge shuffles only the changeset;
    // transactional visibility belongs to a table format, the PLAN is
    // this one. Changeset is a deterministic derivation of `customer`
    // (key%7==0 → delete, %7==1 → update balance +100, %11==0 → insert
    // under a shifted key) so the oracle rebuilds it exactly.
    "cdc_merge_apply" -> ((s, d) => {
      val base = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val src = t(s, d, "customer")
      val changes =
        src.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("k"), lit("D").as("op"),
            lit(null).cast("string").as("n_name"),
            lit(null).cast("int").as("n_nationkey"),
            lit(null).cast("double").as("n_acctbal"))
        .unionByName(src.filter(col("c_custkey") % 7 === 1)
          .select(col("c_custkey").as("k"), lit("U").as("op"),
            col("c_name").as("n_name"), col("c_nationkey").as("n_nationkey"),
            (col("c_acctbal") + lit(100.0)).as("n_acctbal")))
        .unionByName(src.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + lit(1000000L)).as("k"), lit("I").as("op"),
            concat(lit("new-"), col("c_name")).as("n_name"),
            col("c_nationkey").as("n_nationkey"),
            lit(0.0).as("n_acctbal")))
      base.join(changes, col("c_custkey") === col("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D" &&
          // not-matched U/D rows are no-ops; not-matched I rows insert
          (col("c_custkey").isNotNull || col("op") === "I"))
        .select(
          coalesce(col("c_custkey"), col("k")).as("c_custkey"),
          when(col("op").isin("U", "I"), col("n_name"))
            .otherwise(col("c_name")).as("c_name"),
          when(col("op").isin("U", "I"), col("n_nationkey"))
            .otherwise(col("c_nationkey")).as("c_nationkey"),
          when(col("op").isin("U", "I"), col("n_acctbal"))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // rank vs dense_rank vs row_number on a tie-heavy key (price rounded
    // to thousands): ranks gap after ties, dense ranks don't.
    "window_rank_dense" -> ((s, d) => {
      val kilo = floor(col("o_totalprice") / 1000).cast("long")
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(kilo.desc, col("o_orderkey"))
      val wTies = Window.partitionBy("o_orderpriority").orderBy(kilo.desc)
      t(s, d, "orders")
        .withColumn("rnk", rank().over(wTies).cast("long"))
        .withColumn("drnk", dense_rank().over(wTies).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select("o_orderpriority", "rn", "o_orderkey", "rnk", "drnk")
        .orderBy("o_orderpriority", "rn")
    }),

    // Frame navigation: first/last/nth order per customer (full frame for
    // last/nth so the answer is frame-independent and oracle-stable).
    "window_first_last" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .withColumn("first_key", first(col("o_orderkey")).over(w))
        .withColumn("last_key", last(col("o_orderkey")).over(w))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
        .select("o_orderkey", "o_custkey", "first_key", "last_key", "second_key")
        .orderBy("o_orderkey")
    }),

    // Sequence training examples — (context → label) pairs for
    // next-event prediction: a per-user ordered window yields each
    // event's three predecessors as the context string; rows without a
    // full context are dropped (no padding ambiguity). One shuffle on
    // user_id; the exact shape of session-based recommendation / next-
    // token-over-events dataset builds.
    "seq_training_pairs" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
      t(s, d, "events")
        .withColumn("prev1", lag(col("event_type"), 1).over(w))
        .withColumn("prev2", lag(col("event_type"), 2).over(w))
        .withColumn("prev3", lag(col("event_type"), 3).over(w))
        .filter(col("prev3").isNotNull)
        .select(col("user_id"), col("event_id"),
          concat_ws(">", col("prev3"), col("prev2"), col("prev1"))
            .as("context"),
          col("event_type").as("label"))
        .orderBy("user_id", "event_id")
    }),

    // Funnel conversion — the product-analytics staple: of users whose
    // first 'view' exists, how many 'click' within the hour after it.
    // Two aggregates + one equi join on user_id (first-touch table is
    // user-cardinality, broadcastable when dims-sized, shuffled at
    // scale); all event-time math in exact microsecond longs. Output is
    // one row: denominator, numerator, round6 rate.
    "funnel_conversion" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(U.tsUs(col("ts"))).as("fv_us"))
      val converted = ev.filter(col("event_type") === "click")
        .select(col("user_id"), U.tsUs(col("ts")).as("c_us"))
        .join(firstView, "user_id")
        .filter(col("c_us") >= col("fv_us") &&
          col("c_us") - col("fv_us") <= 3600L * 1000000)
        .select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_converted"))
      firstView.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(broadcast(converted))
        .select(col("n_viewers"), col("n_converted"),
          U.round6(col("n_converted").cast("double") / col("n_viewers"))
            .as("conv_rate"))
    }),

    // Event-sequence pattern detection (MATCH_RECOGNIZE-lite): each
    // user's event-time-ordered history becomes a compact symbol string
    // (one char per event type — initials are unique here) and funnel
    // patterns run as REGEXES over it: 'v[es]*c' = view→click with only
    // errors/signups between, 'v[ces]*p' = any path from view to
    // purchase. The per-user history is HARD-CAPPED at the first
    // SeqHistoryCap events (row_number ≤ cap BEFORE the collect, so
    // the aggregation buffer is bounded too, not just the output): a
    // hot user with 10^8 events at 100 TB scale must not become one
    // task's unbounded string. The cap is part of the query contract —
    // n_events saturates at the cap and matches appear only within the
    // capped prefix — and the oracle applies the same QUALIFY cap.
    // The cap filter rides the same user_id exchange the aggregation
    // needs (window and groupBy share HashPartitioning(user_id)): one
    // shuffle total. The regex scan is per-row codegen'd string work.
    // Both engines count non-overlapping left-to-right matches and the
    // patterns use only literals + char classes, so Java regex and RE2
    // agree.
    "seq_pattern_detect" -> ((s, d) => {
      val sym = expr("CASE event_type WHEN 'click' THEN 'c' " +
        "WHEN 'error' THEN 'e' WHEN 'purchase' THEN 'p' " +
        "WHEN 'signup' THEN 's' ELSE 'v' END")
      val wCap = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      t(s, d, "events")
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), sym.as("sym"))
        .withColumn("rn", row_number().over(wCap))
        .filter(col("rn") <= SeqHistoryCap)
        .groupBy("user_id")
        .agg(concat_ws("", transform(
          sort_array(collect_list(struct(col("tsu"), col("event_id"),
            col("sym")))),
          x => x.getField("sym"))).as("seq"))
        .select(col("user_id"), length(col("seq")).cast("long").as("n_events"),
          size(regexp_extract_all(col("seq"), lit("v[es]*c"), lit(0)))
            .cast("long").as("n_view_click"),
          size(regexp_extract_all(col("seq"), lit("v[ces]*p"), lit(0)))
            .cast("long").as("n_view_purchase"))
        .orderBy("user_id")
    }),

    // Gini coefficient per group — the inequality/concentration metric
    // (how skewed is revenue across orders within a priority class):
    // G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over ascending-sorted
    // values. One per-group rank window + one aggregation; the i·x
    // products stay inside DECIMAL(18,4) (x ≤ 6e5, i ≤ group size).
    "agg_gini" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          U.dbl(sum(U.dec4(col("o_totalprice")))).as("sx"),
          U.dbl(sum(U.dec4(col("o_totalprice") * col("i")))).as("six"))
        .select(col("o_orderpriority"), col("n"),
          U.round6((lit(2.0) * col("six") - (col("n") + 1) * col("sx"))
            / (col("n") * col("sx"))).as("gini"))
        .orderBy("o_orderpriority")
    }),

    // Rank-distribution functions — percent_rank / cume_dist per group:
    // both are exact RATIONAL functions of integer ranks ((rk−1)/(n−1),
    // rank-of-last-peer/n), so they compare engine-exact without any
    // rounding bridge. Total order (price, orderkey) makes ranks
    // deterministic; one partitioned window.
    "window_rank_percentile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      t(s, d, "orders")
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    }),

    // First/last-touch attribution — which click gets credit for a
    // purchase: within the hour BEFORE each purchase (inclusive), the
    // earliest click is the first touch and the latest the last touch.
    // One union + one RANGE-framed window per bound (range frames bound
    // the lookback by VALUE, so no per-key history accumulates —
    // exactly the watermark-style state bound a streaming attribution
    // job needs); (tsu, event_id) structs keep id and time atomic, the
    // join_asof_tolerance lesson. No self-join, one user_id exchange.
    "events_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), lit(0).as("side"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), lit(1).as("side"))
      val w = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-3600000000L, 0L)
      val clickStruct = when(col("side") === 0,
        struct(col("tsu").as("ctsu"), col("event_id").as("cid")))
      clicks.unionByName(buys)
        .withColumn("ft", min(clickStruct).over(w))
        .withColumn("lt", max(clickStruct).over(w))
        .filter(col("side") === 1)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ft.cid").as("first_touch_id"),
          when(col("ft.ctsu").isNotNull, col("tsu") - col("ft.ctsu"))
            .as("first_touch_age_us"),
          col("lt.cid").as("last_touch_id"),
          when(col("lt.ctsu").isNotNull, col("tsu") - col("lt.ctsu"))
            .as("last_touch_age_us"))
        .orderBy("purchase_id")
    }),

    // Maximum drawdown per user — the running-peak decline metric
    // (portfolio risk / telemetry degradation): dd_t = peak_t − x_t
    // with peak the running max over event-time order, answer =
    // max(dd). One partitioned window + one aggregation; running max
    // and subtraction are exact double ops (no rounding bridge needed —
    // max of exact per-row values is partition-invariant).
    "window_drawdown" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), col("value"))
        .withColumn("peak", max(col("value")).over(w))
        .groupBy("user_id")
        .agg(max(col("peak") - col("value")).as("max_drawdown"),
          count(lit(1)).as("n_obs"))
        .orderBy("user_id")
    }),

    // OHLC time-bar resample — the tick→bar compression every
    // time-series store runs at ingest: per (user, hour) open/high/low/
    // close/count, with open/close defined by the TOTAL (tsu, event_id)
    // order so ties cannot make the bar engine-dependent. first/last
    // over an explicit full frame inside the partitioned window, then
    // one row per bar via distinct — no self-join back onto the fact.
    "window_ohlc_resample" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "hr")
        .orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), col("value"))
        .withColumn("hr", expr("tsu div 3600000000"))
        .withColumn("open", first(col("value")).over(w))
        .withColumn("close", last(col("value")).over(w))
        .withColumn("high", max(col("value")).over(w))
        .withColumn("low", min(col("value")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .select(col("user_id"), col("hr"), col("open"), col("high"),
          col("low"), col("close"), col("n"))
        .distinct()
        .orderBy("user_id", "hr")
    }),

    // Bollinger bands — the rolling mean ± 2σ envelope with breakout
    // flags (anomaly screen for telemetry/finance ticks). The rolling
    // VARIANCE is computed from exact decimal frame sums
    // ((Σx² − (Σx)²/n)/(n−1)) instead of var_samp: streaming-Welford
    // implementations differ across engines in the last ulp, but both
    // engines cast identical per-row doubles to DECIMAL and sum
    // exactly, and sqrt is IEEE correctly-rounded — so the bands are
    // engine-identical without a rounding fudge anywhere before the
    // final display rounding. Full 20-row frames only (warmup rows
    // excluded); one partitioned window, no shuffle beyond the key.
    "window_bollinger" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy("tsu", "event_id")
        .rowsBetween(-19, Window.currentRow)
      val s1 = U.dbl(sum(U.dec6(col("value"))).over(w))
      val s2 = U.dbl(sum(U.dec6(col("value") * col("value"))).over(w))
      val n = count(lit(1)).over(w).cast("double")
      val mean = s1 / n
      val variance = (s2 - s1 * s1 / n) / (n - 1.0)
      val sigma = sqrt(greatest(variance, lit(0.0)))
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), col("value"))
        .withColumn("n", n.cast("long"))
        .withColumn("mean", mean)
        .withColumn("sigma", sigma)
        .filter(col("n") === 20)
        .select(col("user_id"), col("event_id"), col("value"),
          U.round6(col("mean")).as("mid"),
          U.round6(col("mean") + lit(2.0) * col("sigma")).as("upper"),
          (col("value") > col("mean") + lit(2.0) * col("sigma"))
            .as("breakout"))
        .orderBy("user_id", "event_id")
    }),

    // Time-weighted average — the telemetry metric plain AVG gets
    // wrong: each reading holds until the next one, so its weight is
    // the interval it covered (a sensor emitting 1 Hz while idle and
    // 100 Hz under load would otherwise drown the idle state). One
    // per-user window (lead), exact decimal sums of value·duration,
    // last reading carries no successor and drops out. Durations in
    // seconds keep the decimal magnitudes inside DECIMAL(18,6).
    "window_time_weighted_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("us"),
          col("event_id"), col("value"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dt_s", (col("next_us") - col("us")) / lit(1e6))
        .groupBy("user_id")
        .agg(U.dbl(sum(U.dec6(col("value") * col("dt_s")))).as("wsum"),
          U.dbl(sum(U.dec6(col("dt_s")))).as("tsum"))
        .select(col("user_id"),
          U.round6(col("wsum") / col("tsum")).as("twa"))
        .orderBy("user_id")
    }),

    // CUSUM drift detection — the classic sequential change detector:
    // S_i = max(0, S_{i-1} + (x_i − k)) accumulates only sustained
    // excess over the reference level k and resets to zero below it;
    // S crossing the decision threshold flags drift far earlier than
    // any fixed-window mean. Like EWMA the recurrence is inherently
    // sequential per key → the same secondary-sort shape (one exchange,
    // partition-local sort, O(1)-state scan); the oracle replays the
    // identical fold as a recursive CTE. k = 50 and h = 200 are demo
    // constants on the synthetic value scale (~uniform 0..100).
    "window_cusum_drift" -> ((s, d) => {
      import s.implicits._
      val src = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), U.tsUs(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      src.repartition(col("user_id"))
        .sortWithinPartitions("user_id", "us", "event_id")
        .mapPartitions { it =>
          var cur = 0L; var have = false; var sGt = 0.0
          it.map { case (u, _, eid, v) =>
            if (!have || u != cur) { cur = u; have = true; sGt = 0.0 }
            sGt = math.max(0.0, sGt + (v - 50.0))
            (eid, u, sGt)
          }
        }
        .toDF("event_id", "user_id", "cusum")
        .select(col("event_id"), col("user_id"),
          U.round6(col("cusum")).as("cusum"),
          (col("cusum") > 200.0).as("drift"))
        .orderBy("event_id")
    }),

    // Rolling distinct count — behavioral breadth over the trailing 20
    // events (how many distinct event types lately — the engagement-
    // diversity sibling of agg_entropy's global view). Spark windows
    // can't COUNT(DISTINCT), so the frame collects and dedups the
    // bounded 20-element list — fine exactly because the FRAME bounds
    // it; never do this with an unbounded frame.
    "window_rolling_distinct" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tsu"), col("event_id"))
        .rowsBetween(-19, 0)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          U.tsUs(col("ts")).as("tsu"), col("event_type"))
        .withColumn("n_types_20",
          size(array_distinct(collect_list(col("event_type")).over(w)))
            .cast("long"))
        .select("event_id", "user_id", "n_types_20")
        .orderBy("event_id")
    }),

    // Rolling-window anomaly detection: each reading scored against
    // the TRAILING 20 readings' mean/std (frame excludes the current
    // row — the value under test must not contaminate its own
    // baseline). Per-key frames keep state bounded; decimal window
    // sums make the moments partition-invariant; readings with under
    // 10 baseline points don't score (cold start). |z| > 3 flags.
    // Seasonal (same-weekday-baseline) volume anomaly: each day's event
    // count z-scores against the mean/std of ITS weekday across the
    // whole series, so weekly rhythm (quiet Sundays) doesn't false-
    // positive the way a plain rolling window does. The day rollup is
    // the only data-scaled stage; weekday stats are a 7-row aggregate
    // broadcast back. Integer count sums keep the moments exact; every
    // day is emitted with its z so quiet corpora still exercise the
    // math, |z| ≥ 2 sets the flag. Weekday numbering is pinned to DuckDB's 0-based
    // dayofweek (Spark's is 1-based — the documented off-by-one).
    "window_anomaly_seasonal" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("wd", (dayofweek(col("day")) - 1).cast("int"))
      val stats = daily.groupBy("wd").agg(
        count(lit(1)).as("nw"),
        sum(col("c")).as("sw"),
        sum(col("c") * col("c")).as("qw"))
      val mean = col("sw").cast("double") / col("nw")
      val variance = col("qw").cast("double") / col("nw") - mean * mean
      val z = (col("c").cast("double") - mean) / sqrt(variance)
      daily.join(broadcast(stats), "wd")
        .filter(col("nw") >= 3 && variance > 0.0)
        .select(col("day"), col("wd"), col("c").as("n_events"),
          U.round6(mean).as("wd_mean"), U.round6(z).as("z"),
          (abs(z) >= 2.0).as("is_anomaly"))
        .orderBy("day")
    }),

    "window_anomaly_rolling" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tsu"), col("event_id"))
        .rowsBetween(-20, -1)
      val mean = col("sx") / col("n")
      val variance = (col("sxx") - col("sx") * col("sx") / col("n")) /
        (col("n") - 1)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          U.tsUs(col("ts")).as("tsu"), col("value"))
        .withColumn("n", count(col("value")).over(w))
        .withColumn("sx", U.dbl(sum(U.dec6(col("value"))).over(w)))
        .withColumn("sxx",
          U.dbl(sum(U.dec6(col("value") * col("value"))).over(w)))
        .filter(col("n") >= 10)
        .select(col("event_id"), col("user_id"),
          when(variance > 0,
            U.round6((col("value") - mean) / sqrt(variance))).as("z"))
        .withColumn("is_anomaly",
          coalesce(abs(col("z")) > 3.0, lit(false)))
        .orderBy("event_id")
    }),

    // Rolling least-squares trend: the SLOPE of value-vs-time over each
    // user's trailing 20 events — the windowed sibling of
    // agg_regression_exact (drift detection that reacts in-window
    // instead of per-group). Same discipline: co-moments accumulate as
    // DECIMAL window sums over the bounded frame (partition-order
    // invariant), closed form is per-row double math, rebased seconds
    // keep Σx² small. Rows with an incomplete frame (n < 20) don't
    // emit — a 3-point "trend" is noise wearing a slope.
    "window_rolling_regression" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id")).rowsBetween(-19, 0)
      val x = U.dec6(expr("us div 1000000 - 1704067200"))
      val y = U.dec6(col("value"))
      val vx = col("sxx") - col("sx") * col("sx") / col("n")
      val slope = (col("sxy") - col("sx") * col("sy") / col("n")) / vx
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          U.tsUs(col("ts")).as("us"), col("value"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", U.dbl(sum(x).over(w)))
        .withColumn("sy", U.dbl(sum(y).over(w)))
        .withColumn("sxy", U.dbl(sum(x * y).over(w)))
        .withColumn("sxx", U.dbl(sum(x * x).over(w)))
        .filter(col("n") === 20)
        // `+ 0.0` canonicalizes IEEE -0.0 to +0.0 (exact identity for
        // every other finite double) — the oracle applies the same
        // normalization, so sign-of-zero never depends on which engine's
        // rounding path produced the zero.
        .select(col("event_id"), col("user_id"),
          when(vx > 0, U.round6(slope) + lit(0.0)).as("slope20"))
        .orderBy("event_id")
    }),

    // Gaps-and-islands streak detection: longest run of CONSECUTIVE
    // active days per user — engagement analytics' standard shape. The
    // classic trick makes it one window + two aggregations: within a
    // user's ordered distinct days, day - row_number() is CONSTANT
    // exactly along a consecutive run, so it is the island key; no
    // self-join, no iteration. Day arithmetic is the cohort_retention
    // exact-double-quotient spelling.
    "window_streak_detect" -> ((s, d) => {
      val dayUs = 86400L * 1000000
      val days = t(s, d, "events")
        .select(col("user_id"),
          floor(U.tsUs(col("ts")) / dayUs).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(U.lng(sum(col("len"))).as("n_active_days"),
          max(col("len")).as("longest_streak"))
        .orderBy("user_id")
    }),

    // Cohort retention — users grouped by first-activity day, counted
    // again at each later day offset. Day = floor of the microsecond
    // timestamp over 86400e6 — an exact DOUBLE quotient on both engines
    // (epoch_us ≪ 2^53; both `/` operators are float division), no
    // timezone/calendar dependence, so the matrix is engine-exact. Two
    // aggregates + one join on user_id; output is cohort×offset-sized.
    "cohort_retention" -> ((s, d) => {
      val dayUs = 86400L * 1000000
      val act = t(s, d, "events")
        .select(col("user_id"),
          floor(U.tsUs(col("ts")) / dayUs).cast("long").as("day"))
        .distinct()
      val cohorts = act.groupBy("user_id").agg(min(col("day")).as("cohort"))
      act.join(cohorts, "user_id")
        .withColumn("day_offset", col("day") - col("cohort"))
        .groupBy("cohort", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "day_offset")
    }),

    // Batch sessionization (gaps-and-islands): a new session starts when
    // the gap to the previous event of the same user exceeds 30 minutes;
    // session id = running count of session starts. Two stacked windows
    // over the SAME (user, time) ordering — one shuffle, two local passes.
    // The batch analog of session_window (stream_session_agg).
    "window_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      t(s, d, "events")
        .withColumn("prev_ts", lag(U.tsUs(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            U.tsUs(col("ts")) - col("prev_ts") > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(U.tsUs(col("ts"))).as("sess_start_us"),
          max(U.tsUs(col("ts"))).as("sess_end_us"))
        .orderBy("user_id", "session_id")
    }),

    // Contiguous global example ids — the precondition for offset-based
    // training shards (shard k holds rows [k·N, (k+1)·N)). Assigned with
    // the block-stitched numbering, NOT Window.orderBy: the corpus never
    // collapses to one task; see stitchedRowNumber. Block key is an
    // id-range (order-monotone by construction).
    "ids_contiguous_assign" -> ((s, d) =>
      stitchedRowNumber(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        expr("doc_id div 64"), Seq(col("doc_id")))
        .select(col("rn"), col("doc_id"), col("source"))
        .orderBy("rn")),

    "sort_global" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")),

    // Global top-k → TakeOrderedAndProject (no full sort/exchange of data).
    "topk_limit" -> ((s, d) =>
      t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10))
  )

  /** Global `row_number` WITHOUT the single-partition window:
    * `row_number()` within each block plus the running block COUNT
    * offset — the block stitch shaped for numbering (contract and
    * shape: DESIGN_SCALE.md §Block-stitched running totals). `order`
    * must be a total order — the same precondition ANY positional
    * numbering has (nondeterministic ties would make the assignment
    * engine-unstable). Output column `out` is LONG.
    */
  def stitchedRowNumber(df: DataFrame, block: Column,
      order: Seq[Column], out: String = "rn"): DataFrame = {
    val b = withBlock(df, block)
    b.withColumn("_lrn", row_number().over(
        Window.partitionBy("blk").orderBy(order: _*)).cast("long"))
      .join(broadcast(blockOffsets(b, Nil, Seq(count(lit(1))))), "blk")
      .withColumn(out, col("_off0") + col("_lrn"))
      .drop("blk", "_lrn", "_off0", "_tot0")
  }

  /** Running sums over a global order WITHOUT the single-partition
    * window (DESIGN_SCALE.md §Block-stitched running totals). For each
    * `(value, running, total)` in `sums`, adds `running` — the inclusive
    * running sum of `value` over `order` within `groups` — and `total`,
    * the group total, both typed as `sum(value)` is. Contract: `block`
    * is a pure, non-decreasing function of the leading `order` key;
    * `order` is a total order within each group; values are non-null.
    */
  def stitchedSums(df: DataFrame, groups: Seq[String], block: Column,
      order: Seq[Column], sums: Seq[(String, String, String)]): DataFrame = {
    val b = withBlock(df, block)
    val keys = groups :+ "blk"
    val wLoc = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = sums.indices
    val local = b.select(col("*") +: idx.map(i =>
      sum(col(sums(i)._1)).over(wLoc).as(s"_lc$i")): _*)
    val offsets = blockOffsets(b, groups, sums.map(s => sum(col(s._1))))
    idx.foldLeft(local.join(broadcast(offsets), keys)) { (acc, i) =>
      val (_, run, tot) = sums(i)
      val t = local.schema(s"_lc$i").dataType
      acc.withColumn(run, (col(s"_off$i") + col(s"_lc$i")).cast(t))
        .withColumn(tot, col(s"_tot$i").cast(t))
    }.drop("blk" +: idx.flatMap(i => Seq(s"_lc$i", s"_off$i", s"_tot$i")): _*)
  }

  /** `df` tagged with its block key; `blk` belongs to the stitch. */
  private def withBlock(df: DataFrame, block: Column): DataFrame = {
    require(!df.columns.contains("blk"),
      "block stitch: input already has a `blk` column (the stitch's block key)")
    df.withColumn("blk", block)
  }

  /** The stitch's one offsets builder: `aggs` summarized per (`groups`,
    * blk), then ONE window over that summary — the only global-order
    * window of the stitch, over ~distinct(blk) rows per group — gives
    * each aggregate its exclusive block offset `_off<i>` and its group
    * total `_tot<i>` (Catalyst drops a total no caller reads). */
  private def blockOffsets(b: DataFrame, groups: Seq[String],
      aggs: Seq[Column]): DataFrame = {
    val keys = (groups :+ "blk").map(col)
    val w = Window.partitionBy(groups.map(col): _*).orderBy("blk")
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"_s$i") }
    b.groupBy(keys: _*).agg(named.head, named.tail: _*)
      .select(keys ++ aggs.indices.flatMap { i =>
        val s = sum(col(s"_s$i"))
        Seq(coalesce(s.over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0)).as(s"_off$i"),
          s.over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as(s"_tot$i"))
      }: _*)
  }

  val oracles: Map[String, String] = Map(
    "window_anomaly_seasonal" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |dw AS (SELECT day, c, CAST(dayofweek(day) AS INTEGER) AS wd
        |       FROM daily),
        |st AS (SELECT wd, count(*) AS nw, SUM(c) AS sw,
        |         SUM(c * c) AS qw
        |       FROM dw GROUP BY wd),
        |j AS (
        |  SELECT day, wd, c, nw,
        |    CAST(sw AS DOUBLE) / nw AS m,
        |    CAST(qw AS DOUBLE) / nw
        |      - (CAST(sw AS DOUBLE) / nw) * (CAST(sw AS DOUBLE) / nw)
        |      AS v
        |  FROM dw JOIN st USING (wd))
        |SELECT day, wd, CAST(c AS BIGINT) AS n_events,
        |  round(m * 1000000) / 1000000 AS wd_mean,
        |  round((CAST(c AS DOUBLE) - m) / sqrt(v) * 1000000) / 1000000
        |    AS z,
        |  abs((CAST(c AS DOUBLE) - m) / sqrt(v)) >= 2.0 AS is_anomaly
        |FROM j
        |WHERE nw >= 3 AND v > 0.0
        |ORDER BY day""".stripMargin,
    "window_rolling_regression" ->
      """WITH src AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT user_id, event_id,
        |    count(*) OVER win AS n,
        |    CAST(sum(CAST(us // 1000000 - 1704067200 AS DECIMAL(18, 0)))
        |      OVER win AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(18, 6)))
        |      OVER win AS DOUBLE) AS sy,
        |    CAST(sum(CAST(us // 1000000 - 1704067200 AS DECIMAL(18, 0))
        |        * CAST(value AS DECIMAL(18, 6)))
        |      OVER win AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(us // 1000000 - 1704067200 AS DECIMAL(18, 0))
        |        * CAST(us // 1000000 - 1704067200 AS DECIMAL(18, 0)))
        |      OVER win AS DOUBLE) AS sxx
        |  FROM src
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN sxx - sx * sx / n > 0
        |    THEN round((sxy - sx * sy / n) / (sxx - sx * sx / n)
        |      * 1000000) / 1000000 + 0.0 END AS slope20
        |FROM w WHERE n = 20 ORDER BY event_id""".stripMargin,
    "ids_contiguous_assign" ->
      """SELECT row_number() OVER (ORDER BY doc_id) AS rn, doc_id, source
        |FROM documents ORDER BY rn""".stripMargin,
    "timeseries_gapfill" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hr_sum
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
        |      FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS hour
        |         FROM b)
        |SELECT g.user_id, g.hour, o.hr_sum,
        |  last_value(o.hr_sum IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hour
        |    ROWS UNBOUNDED PRECEDING) AS filled
        |FROM grid g LEFT JOIN obs o
        |  ON o.user_id = g.user_id AND o.hour = g.hour
        |ORDER BY g.user_id, g.hour""".stripMargin,
    "scd2_dimension" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS tsu,
        |    event_id,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |chg AS (SELECT * FROM seq WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state, tsu AS valid_from,
        |  lead(tsu) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to
        |FROM chg ORDER BY user_id, valid_from, state""".stripMargin,
    "join_scd2_pointintime" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS tsu,
        |    event_id,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |chg AS (SELECT * FROM seq WHERE prev IS NULL OR prev <> state),
        |dim AS (
        |  SELECT user_id AS d_uid, state, tsu AS valid_from,
        |    lead(tsu) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to
        |  FROM chg),
        |facts AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, dim.state
        |FROM facts f JOIN dim
        |  ON f.user_id = dim.d_uid
        | AND f.tsu >= dim.valid_from
        | AND f.tsu < COALESCE(dim.valid_to, 9223372036854775807)
        |ORDER BY f.event_id""".stripMargin,
    "upsert_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "window_rank_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "window_lag_delta" ->
      """SELECT event_id, user_id,
        |  value - lag(value, 1) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
        |FROM events ORDER BY event_id""".stripMargin,
    "window_moving_avg" ->
      """SELECT event_id, user_id,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / count(*) OVER w * 1000000) / 1000000 AS mov_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "agg_gini" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS i
        |  FROM orders),
        |a AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(o_totalprice * i AS DECIMAL(18,4))) AS DOUBLE)
        |      AS six
        |  FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  round((2.0 * six - (n + 1) * sx) / (n * sx) * 1000000) / 1000000
        |    AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    "window_time_weighted_avg" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |iv AS (
        |  SELECT user_id, value,
        |    (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us) / 1000000.0 AS dt_s
        |  FROM s),
        |agg AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value * dt_s AS DECIMAL(18,6))) AS DOUBLE) AS wsum,
        |    CAST(SUM(CAST(dt_s AS DECIMAL(18,6))) AS DOUBLE) AS tsum
        |  FROM iv WHERE dt_s IS NOT NULL GROUP BY user_id)
        |SELECT user_id, round(wsum / tsum * 1000000) / 1000000 AS twa
        |FROM agg ORDER BY user_id""".stripMargin,
    // same left fold as the scan: greatest(0, prev + (v - 50)) per step
    "window_cusum_drift" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    greatest(0.0, value - 50.0) AS cusum
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rn,
        |    greatest(0.0, r.cusum + (s.value - 50.0))
        |  FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
        |SELECT event_id, user_id,
        |  round(cusum * 1000000) / 1000000 AS cusum,
        |  cusum > 200.0 AS drift
        |FROM r ORDER BY event_id""".stripMargin,
    "window_rolling_distinct" ->
      """SELECT event_id, user_id,
        |  CAST(len(list_distinct(array_agg(event_type) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))) AS BIGINT)
        |    AS n_types_20
        |FROM events ORDER BY event_id""".stripMargin,
    "window_anomaly_rolling" ->
      """WITH s AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, value
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER w AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |      AS sxx
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN (sxx - sx * sx / n) / (n - 1) > 0 THEN
        |      round((value - sx / n)
        |        / sqrt((sxx - sx * sx / n) / (n - 1)) * 1000000) / 1000000
        |    END AS z
        |  FROM m WHERE n >= 10)
        |SELECT event_id, user_id, z,
        |  COALESCE(abs(z) > 3.0, FALSE) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin,
    "window_streak_detect" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, count(*) AS len
        |  FROM isl GROUP BY user_id, grp)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  max(len) AS longest_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_attribution" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |f AS (
        |  SELECT user_id, tsu, event_id, side,
        |    min(CASE WHEN side = 0
        |        THEN {'t': tsu, 'i': event_id} END) OVER w AS ft,
        |    max(CASE WHEN side = 0
        |        THEN {'t': tsu, 'i': event_id} END) OVER w AS lt
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id,
        |  (ft).i AS first_touch_id,
        |  CASE WHEN (ft).t IS NOT NULL THEN tsu - (ft).t END
        |    AS first_touch_age_us,
        |  (lt).i AS last_touch_id,
        |  CASE WHEN (lt).t IS NOT NULL THEN tsu - (lt).t END
        |    AS last_touch_age_us
        |FROM f WHERE side = 1 ORDER BY purchase_id""".stripMargin,
    "window_rank_percentile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS pr,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS cd
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,
    "window_bollinger" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) OVER w
        |         AS DOUBLE) AS s2,
        |    CAST(count(*) OVER w AS DOUBLE) AS n
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT user_id, event_id, value, n, s1 / n AS mean,
        |    sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0)) AS sigma
        |  FROM f WHERE n = 20)
        |SELECT user_id, event_id, value,
        |  round((mean) * 1000000) / 1000000 AS mid,
        |  round((mean + 2.0 * sigma) * 1000000) / 1000000 AS upper,
        |  value > mean + 2.0 * sigma AS breakout
        |FROM b ORDER BY user_id, event_id""".stripMargin,
    "window_drawdown" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM s)
        |SELECT user_id, max(peak - value) AS max_drawdown,
        |  count(*) AS n_obs
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "window_ohlc_resample" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value,
        |    epoch_us(ts) // 3600000000 AS hr
        |  FROM events WHERE value IS NOT NULL)
        |SELECT DISTINCT user_id, hr,
        |  first_value(value) OVER w AS open,
        |  max(value) OVER w AS high,
        |  min(value) OVER w AS low,
        |  last_value(value) OVER w AS close,
        |  count(*) OVER w AS n
        |FROM s
        |WINDOW w AS (PARTITION BY user_id, hr ORDER BY tsu, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, hr""".stripMargin,
    "seq_pattern_detect" ->
      s"""WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |      ELSE 'v' END AS sym
        |  FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) <= $SeqHistoryCap),
        |q AS (
        |  SELECT user_id,
        |    string_agg(sym, '' ORDER BY tsu, event_id) AS seq
        |  FROM s GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[es]*c')) AS BIGINT)
        |    AS n_view_click,
        |  CAST(len(regexp_extract_all(seq, 'v[ces]*p')) AS BIGINT)
        |    AS n_view_purchase
        |FROM q ORDER BY user_id""".stripMargin,
    "cdc_merge_apply" ->
      """WITH changes AS (
        |  SELECT c_custkey AS k, 'D' AS op, CAST(NULL AS VARCHAR) AS n_name,
        |    CAST(NULL AS INTEGER) AS n_nationkey,
        |    CAST(NULL AS DOUBLE) AS n_acctbal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'U', c_name, c_nationkey, c_acctbal + 100.0
        |  FROM customer WHERE c_custkey % 7 = 1
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'I', 'new-' || c_name, c_nationkey, 0.0
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT COALESCE(b.c_custkey, c.k) AS c_custkey,
        |  CASE WHEN c.op IN ('U','I') THEN c.n_name ELSE b.c_name END
        |    AS c_name,
        |  CASE WHEN c.op IN ('U','I') THEN c.n_nationkey ELSE b.c_nationkey
        |    END AS c_nationkey,
        |  CASE WHEN c.op IN ('U','I') THEN c.n_acctbal ELSE b.c_acctbal END
        |    AS c_acctbal
        |FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.k
        |WHERE COALESCE(c.op, '') <> 'D'
        |  AND (b.c_custkey IS NOT NULL OR c.op = 'I')
        |ORDER BY c_custkey""".stripMargin,

    // Recursive CTE = the same left fold the mapPartitions scan runs
    // (0.2·x + 0.8·prev per step, identical op order → IEEE-identical).
    "window_ewma" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn, value AS ewma FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rn, 0.2 * s.value + 0.8 * r.ewma
        |  FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
        |SELECT event_id, user_id,
        |  round(ewma * 1000000) / 1000000 AS ewma
        |FROM r ORDER BY event_id""".stripMargin,
    // the window_ewma recursion with two carried columns (smoothed
    // gain/loss); rn = 2 is the seed row (first delta)
    "window_rsi_wilder" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER w AS rn,
        |    value - lag(value) OVER w AS delta
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id)),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    greatest(delta, 0.0) AS ag, greatest(-delta, 0.0) AS al
        |  FROM s WHERE rn = 2
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rn,
        |    (13.0 * r.ag + greatest(s.delta, 0.0)) / 14.0,
        |    (13.0 * r.al + greatest(-s.delta, 0.0)) / 14.0
        |  FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
        |SELECT event_id, user_id,
        |  round(CASE WHEN al = 0 THEN 100.0
        |    ELSE 100.0 - 100.0 / (1.0 + ag / al) END * 1000000)
        |    / 1000000 AS rsi
        |FROM r ORDER BY event_id""".stripMargin,
    "window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // round(x*1e6)/1e6 — see U.round6: round(x, 6) is engine-unstable on
    // exact 7-decimal halves, which rank/count ratios do hit (sf0.1).
    "window_ntile_dist" ->
      """SELECT c_custkey, c_nationkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
        |  round(cume_dist() OVER w * 1000000) / 1000000 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "window_rank_dense" ->
      """SELECT o_orderpriority, rn, o_orderkey, rnk, drnk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(rank() OVER wt AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
        |    CAST(row_number() OVER w AS BIGINT) AS rn
        |  FROM orders
        |  WINDOW
        |    wt AS (PARTITION BY o_orderpriority
        |           ORDER BY CAST(floor(o_totalprice / 1000) AS BIGINT) DESC),
        |    w AS (PARTITION BY o_orderpriority
        |          ORDER BY CAST(floor(o_totalprice / 1000) AS BIGINT) DESC, o_orderkey))
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
    "window_first_last" ->
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "seq_training_pairs" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type,
        |    lag(event_type, 1) OVER w AS prev1,
        |    lag(event_type, 2) OVER w AS prev2,
        |    lag(event_type, 3) OVER w AS prev3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id,
        |  prev3 || '>' || prev2 || '>' || prev1 AS context,
        |  event_type AS label
        |FROM o WHERE prev3 IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,
    "funnel_conversion" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fv_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT count(*) AS n_converted FROM (
        |    SELECT DISTINCT e.user_id
        |    FROM events e JOIN fv USING (user_id)
        |    WHERE e.event_type = 'click'
        |      AND epoch_us(e.ts) >= fv_us
        |      AND epoch_us(e.ts) - fv_us <= 3600000000))
        |SELECT (SELECT count(*) FROM fv) AS n_viewers, n_converted,
        |  round(CAST(n_converted AS DOUBLE)
        |        / (SELECT count(*) FROM fv) * 1000000) / 1000000
        |    AS conv_rate
        |FROM conv""".stripMargin,
    "cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY user_id)
        |SELECT cohort, day - cohort AS day_offset, count(*) AS n_users
        |FROM act JOIN c USING (user_id)
        |GROUP BY cohort, day - cohort
        |ORDER BY cohort, day_offset""".stripMargin,
    "window_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sid AS (
        |  SELECT user_id, tsu,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(tsu) AS sess_start_us, max(tsu) AS sess_end_us
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "sort_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "topk_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin
  )
}
