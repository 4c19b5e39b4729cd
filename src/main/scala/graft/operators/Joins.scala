package graft.operators

import graft.{Bounded, Tables, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join matrix — SURVEY.md §2 A.3 + B.1.
  *
  * Reference instances: donor-metadata inner join (`bin/concatenate.py:
  * 105-111`), intersect_obs semi-join (`:99-102`), dict-lookup dim joins
  * (`:27-35`), positional concat (`make_uuids_tsv.py:153-157`).
  *
  * Scale notes (100 TB): dims (nation/customer at these ratios) are
  * broadcast so the fact side never shuffles; large-large joins pick
  * SHUFFLE_HASH / MERGE explicitly where the default would be wrong; the
  * as-of join is the single-shuffle union+window formulation (not a
  * per-key loop); the interval join is bucketed into an equi-join so it
  * avoids the BroadcastNestedLoop cartesian fallback.
  */
object Joins {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Candidate-pair cap for fixed-vocabulary blocked self-joins
    * (join_blocked_jaro / join_er_fellegi_sunter). These two keep a
    * FIXED-cardinality blocking key by contract (the oracle-able
    * textbook form), so block occupancy grows linearly with data and
    * candidate pairs QUADRATICALLY — measured 1.0M pairs at sf0.1 →
    * 100M at sf1 (round-9 scaling sweep). The cap makes that failure
    * LOUD: Σ c·(c−1)/2 over blocks is counted distributedly BEFORE the
    * self-join is launched (reject before materializing), so a
    * copy-paste of this query onto a 100 TB corpus dies with a pointer
    * to the n·w-bounded join_er_sorted_neighborhood instead of running
    * 10¹² comparisons. */
  private val ErPairCap = 20000000L

  /** Distributed count-before-join guard: fails when the blocked
    * self-join would generate more than `cap` candidate pairs. */
  private[graft] def requireCandidatePairs(blocked: DataFrame,
      keys: Seq[String], cap: Long, who: String): Unit = {
    val pairs = countBlockedPairs(blocked, keys)
    require(pairs <= cap,
      s"$who: fixed-vocabulary blocking would generate $pairs candidate " +
        s"pairs (> cap $cap) — block occupancy grows linearly with the " +
        "corpus under a fixed key, so pairs grow quadratically. Use " +
        "join_er_sorted_neighborhood (n·w candidates by construction) " +
        "for data-scaled inputs, or a blocking key whose cardinality " +
        "scales with the data (email, zip, shingle).")
  }

  /** Σ c·(c−1)/2 over the blocking-key groups — the exact candidate
    * count of the blocked self-join, computed distributedly BEFORE the
    * join is launched. */
  private[graft] def countBlockedPairs(blocked: DataFrame,
      keys: Seq[String]): Long =
    blocked
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - lit(1)) / 2), lit(0L))
        .cast("long"))
      .head().getLong(0)

  /** Sorted-neighborhood window width shared by the auto-routed ER
    * fallback and `join_er_sorted_neighborhood`. */
  private val SnWidth = 10

  /** Candidate pairs for the ER scoring queries, with the scale
    * auto-route (round-11 verdict item 2): count the blocked pairs
    * first; under `cap` run the textbook blocked equi-join (the
    * oracle-replayable shape — test-SF data always lands here), above
    * it fall back to sorted-neighborhood candidates (n·w by
    * construction) on the same match key instead of throwing — a user
    * asking the ER question at 100 TB gets the scale-safe candidate
    * set, not an exception. The fallback keeps the cap as ITS guard
    * too (n·w must also clear it — nothing above the cap ever
    * materializes on either route).
    *
    * `p` carries `nm` (lowercased match/sort key), the blocking keys,
    * the id column, and `payload` comparison columns; output is one
    * row per candidate with canonical id1 < id2 and every payload
    * column suffixed _1/_2, sides swapped consistently so downstream
    * symmetric comparators see canonical order. */
  private[graft] def erCandidatePairs(p: DataFrame, idCol: String,
      blockKeys: Seq[String], payload: Seq[String], cap: Long,
      who: String): DataFrame = {
    val blockedPairs = countBlockedPairs(p, blockKeys)
    if (blockedPairs <= cap) {
      val a = p.select(col(idCol).as("id1") +: col("nm").as("n1") +:
        (blockKeys.map(col) ++ payload.map(c => col(c).as(s"${c}_1"))): _*)
      val b = p.select(col(idCol).as("id2") +: col("nm").as("n2") +:
        (blockKeys.map(col) ++ payload.map(c => col(c).as(s"${c}_2"))): _*)
      // U.fan on the streamed side: the broadcast join and everything
      // downstream (the k-per-row pair emit, the Jaro-Winkler scoring)
      // otherwise pipeline into the SCAN stage — one row group = one
      // task at test SF (measured: the whole 1M-pair score ran
      // single-task, 3 of the query's 3.7 s). The fan is a bounded
      // pre-join shuffle of the n input rows, not the pair table.
      U.fan(a).join(b, blockKeys).filter(col("id1") < col("id2"))
        .select(col("id1") +: col("id2") +: col("n1") +: col("n2") +:
          payload.flatMap(c =>
            Seq(col(s"${c}_1"), col(s"${c}_2"))): _*)
    } else {
      val n = p.count()
      require(n * SnWidth <= cap,
        s"$who: sorted-neighborhood fallback would still generate " +
          s"${n * SnWidth} candidates (> cap $cap) — raise the cap or " +
          "pre-partition the corpus before ER scoring.")
      val ranked = Windows.stitchedRowNumber(p,
        substring(col("nm"), 1, 2), Seq(col("nm"), col(idCol)), "rn")
      val a = ranked.select(col("rn") +: col(idCol).as("ida") +:
          col("nm").as("na") +:
          payload.map(c => col(c).as(s"${c}_a")): _*)
        .withColumn("k", explode(sequence(lit(1), lit(SnWidth))))
        .withColumn("rn2", col("rn") + col("k"))
        .drop("rn", "k")
      val b = ranked.select(col("rn").as("rn2") +: col(idCol).as("idb") +:
        col("nm").as("nb") +: payload.map(c => col(c).as(s"${c}_b")): _*)
      val swap = col("ida") > col("idb")
      def pick(x: String, y: String) = when(swap, col(y)).otherwise(col(x))
      a.join(b, "rn2").select(
        pick("ida", "idb").as("id1") +: pick("idb", "ida").as("id2") +:
          pick("na", "nb").as("n1") +: pick("nb", "na").as("n2") +:
          payload.flatMap(c => Seq(
            pick(s"${c}_a", s"${c}_b").as(s"${c}_1"),
            pick(s"${c}_b", s"${c}_a").as(s"${c}_2"))): _*)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dim⋈fact broadcast chain (bin/concatenate.py:105-111 donor join):
    // both dims broadcast → zero shuffle on the orders side.
    "join_broadcast_inner" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = broadcast(t(s, d, "customer"))
      val n = broadcast(t(s, d, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .select(o("o_orderkey"), c("c_name"), n("n_name"))
        .orderBy("o_orderkey")
    }),

    // large⋈large with an explicit shuffled-hash-join (no sort phase;
    // right choice when both sides are big but partitions fit in memory).
    "join_shuffle_hash" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders").hint("SHUFFLE_HASH")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          U.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_rev"))
        .orderBy("o_orderpriority")
    }),

    // large⋈large sort-merge (robust default for skew-free huge joins).
    "join_sort_merge" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders").hint("MERGE")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), U.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    "join_left_outer" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"),
          coalesce(U.dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
        .orderBy("c_custkey")
    }),

    // right outer: every order kept, customer columns null when the
    // (synthetic) filtered dim misses — completes the outer-join matrix.
    "join_right_outer" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "right")
        .select(o("o_orderkey"), o("o_custkey"),
          coalesce(c("c_name"), lit("<none>")).as("cust_name"))
        .orderBy("o_orderkey")
    }),

    // explicit cross join of two tiny dims (the only sanctioned
    // cartesian: both sides are dimension-sized; anything larger must be
    // an equi/bucketed join — PlanSpec bans accidental CartesianProduct).
    "join_cross_dims" -> ((s, d) =>
      t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        .crossJoin(t(s, d, "nation").select(col("n_nationkey")))
        .orderBy("r_regionkey", "n_nationkey")),

    "join_full_outer" -> ((s, d) => {
      val cn = t(s, d, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, d, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
        .select(
          coalesce(cn("c_nationkey"), sn("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    // left-semi: existence (generalizes filter_qc_exists / intersect_obs,
    // bin/concatenate.py:99-102)
    "join_left_semi" -> ((s, d) => {
      val sp = t(s, d, "supplier")
      val l = t(s, d, "lineitem")
      sp.join(l, sp("s_suppkey") === l("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
    }),

    "join_left_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // Entity-resolution blocking join: fuzzy string matching at scale is
    // NEVER an all-pairs edit-distance — candidate pairs come from an
    // EQUI-join on a cheap blocking key (here: name minus its last char;
    // production stacks several complementary blocking passes), then the
    // expensive verifier (levenshtein) runs only within blocks. Same
    // candidates-then-verify shape as the MinHash LSH path, for strings.
    "join_blocked_levenshtein" -> ((s, d) => {
      // U.fan (r17): the block-key build + join-side shuffles otherwise
      // run at the 1-row-group scan parallelism — two ~0.45 s 1-task
      // stages were the bulk of the query's wall at sf0.1.
      val c = U.fan(t(s, d, "customer").select("c_custkey", "c_name"))
        .select(col("c_custkey"), lower(col("c_name")).as("name"))
        .withColumn("blk", expr("substring(name, 1, length(name) - 1)"))
      val a = c.select(col("c_custkey").as("id1"), col("name").as("n1"),
        col("blk"))
      val b = c.select(col("c_custkey").as("id2"), col("name").as("n2"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("id1") < col("id2"))
        .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("id1"), col("id2"), col("dist"))
        .orderBy("id1", "id2")
    }),

    // Entity-resolution scoring with the native [[graft.plans.JaroWinkler]]
    // codegen Expression — Spark has levenshtein but no Jaro-Winkler,
    // and JW is the right metric for short human-keyed labels (prefix-
    // weighted, transposition-tolerant). TWO blocking keys (brand AND
    // first name token): pairs come from an equi-join on the compound
    // key, and the expression scores them inside whole-stage codegen —
    // no UDF, no extra exchange. SCALE CAVEAT (measured, round 9): the
    // compound key has FIXED cardinality (~200 blocks on this corpus),
    // so block occupancy grows linearly with data and candidate pairs
    // QUADRATICALLY — 1.0M pairs at sf0.1 → 100M at sf1 (391 s). Fixed-
    // key blocking is only right when the key cardinality scales with
    // the data (emails, zips). Round-12: above the pair cap the
    // candidate generator AUTO-ROUTES to sorted-neighborhood (n·w by
    // construction — the join_er_sorted_neighborhood shape) instead of
    // failing fast; test-SF data always stays on the blocked path, so
    // the oracle replays exactly.
    "join_blocked_jaro" -> ((s, d) => {
      val p = t(s, d, "part")
        .select(col("p_partkey"), lower(col("p_name")).as("nm"),
          col("p_brand"))
        .withColumn("tok1", split_part(col("nm"), lit(" "), lit(1)))
      erCandidatePairs(p, "p_partkey", Seq("p_brand", "tok1"), Nil,
        ErPairCap, "join_blocked_jaro")
        .withColumn("jw",
          U.round6(call_function("jaro_winkler", col("n1"), col("n2"))))
        .filter(col("jw") >= 0.82)
        .select(col("id1"), col("id2"), col("jw"))
        .orderBy("id1", "id2")
    }),

    // Fellegi-Sunter probabilistic record linkage over the same
    // two-key-blocked candidate pairs: each field comparison
    // (name Jaro-Winkler ≥ 0.95, type equality, size within ±1, price
    // within 10%) contributes its log₂(m/u) agreement weight or
    // log₂((1−m)/(1−u)) disagreement weight; the pair matches when the
    // summed evidence clears the threshold. The m/u parameters are
    // fixed by the query contract and their log-weights are spelled as
    // identical 6-decimal literals on both engines (derived constants
    // are never recomputed cross-engine — the last-ulp rule), so the
    // score is a fixed-order sum of identical doubles. Same fixed-
    // cardinality blocking as join_blocked_jaro, with the same
    // round-12 auto-route: above the pair cap, candidates come from
    // sorted-neighborhood (n·w) instead of an exception; scoring
    // itself is map-only over whichever pair table it gets.
    "join_er_fellegi_sunter" -> ((s, d) => {
      val p = t(s, d, "part")
        .select(col("p_partkey"), lower(col("p_name")).as("nm"),
          col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
        .withColumn("tok1", split_part(col("nm"), lit(" "), lit(1)))
      // log2 m/u weights: name m=.95 u=.05, type m=.9 u=.2,
      // size m=.85 u=.25, price m=.8 u=.3 — literal-pinned
      val scored = erCandidatePairs(p, "p_partkey",
        Seq("p_brand", "tok1"),
        Seq("p_type", "p_size", "p_retailprice"), ErPairCap,
        "join_er_fellegi_sunter")
        .withColumnsRenamed(Map(
          "p_type_1" -> "t1", "p_type_2" -> "t2",
          "p_size_1" -> "s1", "p_size_2" -> "s2",
          "p_retailprice_1" -> "r1", "p_retailprice_2" -> "r2"))
        .withColumn("jw",
          U.round6(call_function("jaro_winkler", col("n1"), col("n2"))))
        .withColumn("a_name", (col("jw") >= 0.95).cast("int"))
        .withColumn("a_type", (col("t1") === col("t2")).cast("int"))
        .withColumn("a_size",
          (abs(col("s1") - col("s2")) <= 1).cast("int"))
        .withColumn("a_price", (abs(col("r1") - col("r2"))
          <= lit(0.1) * greatest(col("r1"), col("r2"))).cast("int"))
        .withColumn("score",
          when(col("a_name") === 1, lit(4.247928)).otherwise(lit(-4.247928))
            + when(col("a_type") === 1, lit(2.169925)).otherwise(lit(-3.0))
            + when(col("a_size") === 1, lit(1.765535)).otherwise(lit(-2.321928))
            + when(col("a_price") === 1, lit(1.415037)).otherwise(lit(-1.807355)))
      scored
        .withColumn("score_r", U.round6(col("score")))
        .select(col("id1"), col("id2"), col("a_name"), col("a_type"),
          col("a_size"), col("a_price"), col("score_r").as("score"),
          (col("score_r") >= 3.0).cast("int").as("is_match"))
        .orderBy("id1", "id2")
    }),

    // Sorted-neighborhood entity resolution (Hernández & Stolfo 1995)
    // — the SCALE-SAFE candidate generator for the Fellegi-Sunter
    // model above: sort the corpus on the match key (lowercased name)
    // and pair each record with its next w = 10 neighbors in sort
    // order. Candidates are n·w BY CONSTRUCTION — the round-9 scaling
    // sweep measured the fixed-key blocked variants quadratic (1.0M →
    // 100M pairs, sf0.1 → sf1), and this is the standard cure when the
    // blocking vocabulary does not scale with the data. The global
    // sort position comes from the block-stitched numbering discipline
    // (prefix blocks parallelize the local rank; the offset window
    // runs over the tiny per-block summary — never an unpartitioned
    // window over data-scaled rows), neighbor expansion is an
    // explode(1..w) + ONE equi-join on the dense rank, and the scoring
    // is the identical literal-pinned log₂(m/u) stack. Output keeps
    // every candidate with its evidence flags, canonical (lo, hi) ids.
    "join_er_sorted_neighborhood" -> ((s, d) => {
      // the ONE width shared with the above-cap ER auto-route
      // (erCandidatePairs) — widening the window must move both paths
      val w = SnWidth
      val p0 = t(s, d, "part")
        .select(col("p_partkey"), lower(col("p_name")).as("nm"),
          col("p_type"), col("p_size"), col("p_retailprice"))
      val p = Windows.stitchedRowNumber(p0, substring(col("nm"), 1, 2),
        Seq(col("nm"), col("p_partkey")), "rn")
      val a = p.select(col("rn"), col("p_partkey").as("ida"),
          col("nm").as("n1"), col("p_type").as("t1"),
          col("p_size").as("s1"), col("p_retailprice").as("r1"))
        .withColumn("k", explode(sequence(lit(1), lit(w))))
        .select((col("rn") + col("k")).as("rn2"), col("ida"),
          col("n1"), col("t1"), col("s1"), col("r1"))
      val b = p.select(col("rn").as("rn2"), col("p_partkey").as("idb"),
        col("nm").as("n2"), col("p_type").as("t2"),
        col("p_size").as("s2"), col("p_retailprice").as("r2"))
      a.join(b, "rn2")
        .withColumn("jw",
          U.round6(call_function("jaro_winkler", col("n1"), col("n2"))))
        .withColumn("a_name", (col("jw") >= 0.95).cast("int"))
        .withColumn("a_type", (col("t1") === col("t2")).cast("int"))
        .withColumn("a_size",
          (abs(col("s1") - col("s2")) <= 1).cast("int"))
        .withColumn("a_price", (abs(col("r1") - col("r2"))
          <= lit(0.1) * greatest(col("r1"), col("r2"))).cast("int"))
        .withColumn("score", U.round6(
          when(col("a_name") === 1, lit(4.247928)).otherwise(lit(-4.247928))
            + when(col("a_type") === 1, lit(2.169925)).otherwise(lit(-3.0))
            + when(col("a_size") === 1, lit(1.765535)).otherwise(lit(-2.321928))
            + when(col("a_price") === 1, lit(1.415037)).otherwise(lit(-1.807355))))
        .select(least(col("ida"), col("idb")).as("id1"),
          greatest(col("ida"), col("idb")).as("id2"),
          col("a_name"), col("a_type"), col("a_size"), col("a_price"),
          col("score"),
          (col("score") >= 3.0).cast("int").as("is_match"))
        .orderBy("id1", "id2")
    }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // match null keys — the join you need when the key is itself derived
    // and can legitimately be null (here: a sentinel value nulled out).
    // <=> is still an EQUI-join to Spark: it hashes on the key and the
    // dim side broadcasts — not a nested-loop fallback.
    "join_null_safe" -> ((s, d) => {
      val k = nullif(col("event_type"), lit("error"))
      val a = t(s, d, "events").select(k.as("k"), col("event_id"))
      val dim = t(s, d, "events").select(k.as("k")).distinct()
        .withColumn("tag", coalesce(col("k"), lit("unknown")))
      a.join(broadcast(dim), a("k") <=> dim("k"))
        .groupBy(dim("tag").as("tag")).agg(count(lit(1)).as("n"))
        .orderBy("tag")
    }),

    // theta/band join against a generated bands dim — broadcast nested
    // loop on a tiny build side, never a full cartesian.
    "join_theta_band" -> ((s, d) => {
      val bands = broadcast(s.range(0, 60).select(
        col("id").as("band_id"),
        (col("id") * 10000.0).as("lo"),
        ((col("id") + 1) * 10000.0).as("hi")))
      t(s, d, "orders")
        .join(bands, col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id").agg(count(lit(1)).as("n_orders"))
        .orderBy("band_id")
    }),

    // As-of join: each click matched to the most recent view (ts_view <=
    // ts_click) of the same user. Single-shuffle union+window formulation:
    // tag sides, sort (ts, side) within user, carry last non-null right
    // value forward. Scales as one exchange on user_id — no per-key work.
    "join_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .withColumn("view_value", lit(null).cast("double"))
        .withColumn("side", lit(1))
      val r = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .agg(max(col("value")).as("view_value"))
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("side", lit(0))
        .select("event_id", "user_id", "tsu", "view_value", "side")
      val w = Window.partitionBy("user_id").orderBy("tsu", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      l.unionByName(r)
        .withColumn("matched", last("view_value", ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select("event_id", "user_id", "matched")
        .orderBy("event_id")
    }),

    // As-of with TOLERANCE — the production variant of join_asof: a
    // stale prior match (older than 30 minutes here) is worse than no
    // match, so the carried value nulls out past the gap. Same
    // single-exchange union+window plan; the window additionally
    // carries the matched side's own event time so the gap check is a
    // map-side conditional, not a second join.
    "join_asof_tolerance" -> ((s, d) => {
      val tolUs = 30L * 60 * 1000000
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .withColumn("view_value", lit(null).cast("double"))
        .withColumn("side", lit(1))
      val r = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .agg(max(col("value")).as("view_value"))
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("side", lit(0))
        .select("event_id", "user_id", "tsu", "view_value", "side")
      val w = Window.partitionBy("user_id").orderBy("tsu", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // The carried (timestamp, value) pair MUST come from the same view
      // row: carrying two independent ignoreNulls-last aggregates would
      // let a null-valued latest view split them (stale value judged by
      // the fresh view's timestamp — exactly the stale-match the
      // tolerance contract forbids). One struct keeps them atomic.
      l.unionByName(r)
        .withColumn("m", last(
          when(col("side") === 0, struct(col("tsu").as("vtsu"),
            col("view_value"))), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          when(col("tsu") - col("m.vtsu") <= tolUs, col("m.view_value"))
            .as("matched"))
        .orderBy("event_id")
    }),

    // NEAREST as-of join — both temporal directions at once: each click
    // matches the view closest in time, ties to the EARLIER view. One
    // union + two frames over the same single user_id exchange (the
    // backward last-struct and the forward first-struct), then a
    // map-side pick by absolute delta — still no range self-join, no
    // per-key loop. The matched (timestamp, value) stays atomic per
    // direction (the join_asof_tolerance struct lesson).
    "join_asof_nearest" -> ((s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .withColumn("view_value", lit(null).cast("double"))
        .withColumn("side", lit(1))
      val r = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .agg(max(col("value")).as("view_value"))
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("side", lit(0))
        .select("event_id", "user_id", "tsu", "view_value", "side")
      val wB = Window.partitionBy("user_id").orderBy("tsu", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy("user_id").orderBy("tsu", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val vs = when(col("side") === 0,
        struct(col("tsu").as("vtsu"), col("view_value")))
      val back = col("b"); val fwd = col("f")
      val bd = col("tsu") - back.getField("vtsu")
      val fd = fwd.getField("vtsu") - col("tsu")
      l.unionByName(r)
        .withColumn("b", last(vs, ignoreNulls = true).over(wB))
        .withColumn("f", first(vs, ignoreNulls = true).over(wF))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          when(back.isNull && fwd.isNull, lit(null).cast("double"))
            .when(fwd.isNull, back.getField("view_value"))
            .when(back.isNull, fwd.getField("view_value"))
            .when(bd <= fd, back.getField("view_value"))
            .otherwise(fwd.getField("view_value")).as("matched"),
          when(back.isNull && fwd.isNull, lit(null).cast("long"))
            .when(fwd.isNull, -bd)
            .when(back.isNull, fd)
            .when(bd <= fd, -bd)
            .otherwise(fd).as("delta_us"))
        .orderBy("event_id")
    }),

    // Forward as-of join — the mirror temporal direction (each click
    // matched to the NEXT view at-or-after it; the "time-to-next-event"
    // feature shape). Same single-exchange union+window plan as
    // join_asof, with the frame flipped to [current, following) and the
    // tie order flipped so an equal-timestamp view is visible to the
    // click (inclusive <=). No per-key loop, no range self-join: one
    // shuffle on user_id total.
    "join_asof_forward" -> ((s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .withColumn("view_value", lit(null).cast("double"))
        .withColumn("side", lit(0))
      val r = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), U.tsUs(col("ts")).as("tsu"))
        .agg(max(col("value")).as("view_value"))
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("side", lit(1))
        .select("event_id", "user_id", "tsu", "view_value", "side")
      val w = Window.partitionBy("user_id").orderBy("tsu", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      l.unionByName(r)
        .withColumn("matched", first("view_value", ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select("event_id", "user_id", "matched")
        .orderBy("event_id")
    }),

    // Interval-overlap join, bucketed: explode each interval into fixed-
    // width buckets, equi-join on bucket, re-check the residual predicate.
    // Each pair is emitted exactly once — in its first SHARED bucket
    // (bucket == max of the two start buckets) — so no Distinct and no
    // extra dedup shuffle. Turns the nested-loop range join into a shuffle
    // hash join — the 100 TB-safe plan for genomic bin↔gene-body overlaps.
    "join_interval_overlap" -> ((s, d) => {
      // Bucket width trades replication (each interval lands in
      // 1 + width/W buckets) against PARALLELISM (the equi-join's key
      // cardinality is domain/W — the only lever when the value domain
      // is narrow). This demo domain is fixed [0, 540] while the row
      // count scales with SF, so W=50 gave 11 join keys. W=10 → 54
      // keys ≥ shuffle parallelism; total candidate volume only grows
      // (W+wa)(W+wb)/W ≈ +30%. NOTE: widening the key space alone
      // moved nothing (still 37 tasks) — the explicit repartition
      // below is the other half; together: 150.6 → 31.8 s at sf1.
      val W = 10L
      val a = t(s, d, "part").select(
        col("p_partkey").as("a_id"),
        (col("p_size") * 10).as("a_lo"),
        (col("p_size") * 10 + 25).as("a_hi"))
      val b = t(s, d, "supplier").select(
        col("s_suppkey").as("b_id"),
        ((col("s_suppkey") * 13) % 500).as("b_lo"),
        ((col("s_suppkey") * 13) % 500 + 40).as("b_hi"))
      def bucketed(df: DataFrame, lo: String, hi: String) =
        df.withColumn("bucket",
          explode(sequence(floor(col(lo) / W).cast("long"),
            floor(col(hi) / W).cast("long"))))
      // EXPLICIT partition count on the join key: this join's input is
      // dimension-sized but its output is pair-volume (grows SF² on a
      // fixed value domain), and AQE sizes stages by shuffle-READ
      // bytes — it coalesced the join stage to single digits of tasks
      // and one task computed hundreds of millions of pairs (r13 sf1
      // attribution: 37 tasks, 5-core average over 150 s). A
      // user-specified repartition pins the fan-out where the planner
      // cannot see the blow-up.
      bucketed(a, "a_lo", "a_hi").repartition(64, col("bucket"))
        .join(bucketed(b, "b_lo", "b_hi").repartition(64, col("bucket")),
          Seq("bucket"))
        .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi") &&
          col("bucket") === greatest(floor(col("a_lo") / W).cast("long"),
            floor(col("b_lo") / W).cast("long")))
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // Same overlap join written NAIVELY — the declarative form a user
    // would write. The graft.plans.RangeJoinRewrite optimizer rule
    // (enabled via GraftExtensions) rewrites it into the bucketed
    // equi-join automatically; PlanSpec asserts no nested-loop remains.
    "join_interval_overlap_auto" -> ((s, d) => {
      // NO width knob: the rule measures both sides at plan time
      // (min/max bounds, mean/max interval length — two tiny
      // aggregates, memoized) and minimizes its replication-vs-
      // parallelism cost model. On this demo's [0, 540] domain with
      // lengths 25/40 it derives W≈8 — the regime of the hand-tuned
      // W=10 above. At sf1: 124 s with a fixed W=50 and an
      // AQE-coalesced shuffle, 55 s with the shuffle pinned, 33 s
      // pinned with W=10.
      // The chosen width lands in the bench attribution
      // (range_join_width / range_join_width_source).
      val a = t(s, d, "part").select(
        col("p_partkey").as("a_id"),
        (col("p_size") * 10).as("a_lo"),
        (col("p_size") * 10 + 25).as("a_hi"))
      val b = t(s, d, "supplier").select(
        col("s_suppkey").as("b_id"),
        ((col("s_suppkey") * 13) % 500).as("b_lo"),
        ((col("s_suppkey") * 13) % 500 + 40).as("b_hi"))
      a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // Dict-lookup dim join via a broadcast literal map (bin/concatenate.py
    // :27-35, make_uuids_tsv.py:146-148: organ-code dict): the 54-row-dim
    // case where a typedlit(Map) beats even a broadcast join — the lookup
    // compiles into the row pipeline as a codegen'd map probe.
    "join_lookup_code" -> ((s, d) => {
      // The collect is the POINT here (a literal map needs driver values),
      // but only for genuinely tiny dims — fail loudly if this pattern is
      // ever copy-pasted onto a real dimension (use join_lookup_broadcast
      // for those).
      val rows = Bounded.collect(t(s, d, "region"), 1000,
        "join_lookup_code typedlit dim (use a broadcast join instead)")
      val regionMap: Map[Int, String] =
        rows.map(r => r.getInt(0) -> r.getString(1)).toMap
      t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"),
          element_at(typedlit(regionMap), col("n_regionkey")).as("region_name"))
        .orderBy("n_nationkey")
    }),

    // The SAME capability at the reference's REAL dictionary cardinality
    // (data/symbol_to_ensembl.json: ~40k gene-symbol→Ensembl-id entries):
    // at 40k rows a typedlit would bloat every task's plan by megabytes —
    // the right shape is a broadcast hash join (one ~1 MB broadcast, fact
    // side never shuffles). Dim generated deterministically so DuckDB can
    // build the identical dictionary.
    "join_lookup_broadcast" -> ((s, d) => {
      val dim = s.range(40000).select(
        concat(lit("SYM"), col("id")).as("symbol"),
        concat(lit("ENSG"), lpad(col("id").cast("string"), 11, "0"))
          .as("ensembl_id"))
      t(s, d, "part")
        .select(col("p_partkey"),
          concat(lit("SYM"), col("p_partkey") % 40000).as("symbol"))
        .join(broadcast(dim), Seq("symbol"))
        .select(col("p_partkey"), col("ensembl_id"))
        .orderBy("p_partkey")
    }),

    // The reference's full crosswalk chain in one plan: gene symbol →
    // Ensembl id (data/symbol_to_ensembl.json, ~40k entries) → ontology
    // label (data/all_labels.csv, 349 lines: 348 label rows + header;
    // the synthetic dim keeps 349 entries — azimuth label ↔ CL id) —
    // a TWO-HOP code→code→label join, each hop a broadcast of its dim
    // (40k ≈ 1 MB and 349 rows; the fact side never shuffles until the
    // final aggregation). Dims generated deterministically (non-identity
    // symbol→ensembl permutation) so DuckDB rebuilds them bit-identically
    // and hop 2's key genuinely flows out of hop 1's payload.
    "join_crosswalk_two_hop" -> ((s, d) => {
      val genes = s.range(40000).select(
        concat(lit("SYM"), col("id")).as("symbol"),
        concat(lit("ENSG"),
          lpad(((col("id") * 7919 + 13) % 40000).cast("string"), 11, "0"))
          .as("ensembl_id"))
      val labels = s.range(349).select(
        col("id").as("lbl_id"),
        concat(lit("CL:"), lpad(col("id").cast("string"), 7, "0")).as("cl_id"),
        concat(lit("type_"), col("id") % 25).as("label"))
      // Keyed parallelizing exchange (r18; was round-robin U.fan): the
      // symbol build + two broadcast probes + partial aggregate
      // otherwise run at the 3-row-group scan parallelism (651 ms of
      // the query's wall at sf0.1). Hashing on l_partkey (near-unique,
      // even spread) buys the same full-core parallelism WITHOUT the
      // SPARK-23207 sort-before-repartition that round-robin pays on
      // every row (the exactQuantiles r17 lesson).
      t(s, d, "lineitem").select("l_partkey", "l_quantity")
        .repartition(col("l_partkey"))
        .select(concat(lit("SYM"), col("l_partkey") % 40000).as("symbol"),
          col("l_quantity"))
        .join(broadcast(genes), Seq("symbol"))
        .withColumn("lbl_id",
          substring(col("ensembl_id"), 5, 11).cast("long") % 349)
        .join(broadcast(labels), Seq("lbl_id"))
        .groupBy("cl_id", "label")
        .agg(count(lit(1)).as("n_rows"), U.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("cl_id")
    }),

    // Salted skew join: when one join key dominates (hot user, stopword
    // shingle, viral item), replicate the dim side R ways and spread the
    // fact side across the replicas with a deterministic salt — every
    // straggler partition becomes R even ones. Same result as the plain
    // join (oracle-checked); AQE skew splitting is the automatic variant,
    // this is the explicit one for when you know the hot keys up front.
    "join_salted_skew" -> ((s, d) => {
      val R = 8
      val ev = t(s, d, "events")
        .withColumn("salt", pmod(col("event_id"), lit(R)).cast("int"))
      val users = t(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n_user_events"))
        .crossJoin(s.range(0, R).select(col("id").cast("int").as("salt")))
      ev.join(users, Seq("user_id", "salt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          U.dsum(col("value") * col("n_user_events")).as("weighted"))
        .orderBy("event_type")
    }),

    // Positional concat (make_uuids_tsv.py:153-157 pandas axis=1): no row
    // identity in Spark → synthesize row numbers over explicit orders.
    // Numbering uses the block-stitched form (Windows.stitchedRowNumber),
    // NOT `Window.orderBy` — positional alignment is inherently a
    // total-order op, but the stitch keeps every full-width row in
    // parallel partitioned windows and confines the global step to the
    // per-block count summary. Block keys are order-monotone by
    // construction: the leading character for the ascending name order;
    // a negated id-range for the descending key order (integer `div` by
    // a positive constant is monotone under truncation, and negation
    // flips it to follow the desc sort).
    "join_positional_concat" -> ((s, d) => {
      val n = t(s, d, "nation")
      val left = Windows.stitchedRowNumber(
        n.select(col("n_name")),
        ascii(substring(col("n_name"), 1, 1)),
        Seq(col("n_name")))
      val right = Windows.stitchedRowNumber(
        n.select(col("n_nationkey")),
        expr("-(n_nationkey div 5)"),
        Seq(col("n_nationkey").desc))
      left.join(right, Seq("rn")).select("rn", "n_name", "n_nationkey").orderBy("rn")
    })
  )

  val oracles: Map[String, String] = Map(
    "join_broadcast_inner" ->
      """SELECT o_orderkey, c_name, n_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_shuffle_hash" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_sort_merge" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_left_outer" ->
      """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS sum_price
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    "join_right_outer" ->
      """SELECT o_orderkey, o_custkey,
        |  COALESCE(c_name, '<none>') AS cust_name
        |FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_cross_dims" ->
      """SELECT r_regionkey, r_name, n_nationkey
        |FROM region CROSS JOIN (SELECT n_nationkey FROM nation)
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "join_blocked_levenshtein" ->
      """WITH c AS (SELECT c_custkey, lower(c_name) AS name FROM customer),
        |b AS (SELECT *, substr(name, 1, strlen(name) - 1) AS blk FROM c)
        |SELECT a.c_custkey AS id1, bb.c_custkey AS id2,
        |  CAST(levenshtein(a.name, bb.name) AS BIGINT) AS dist
        |FROM b a JOIN b bb ON a.blk = bb.blk AND a.c_custkey < bb.c_custkey
        |WHERE levenshtein(a.name, bb.name) <= 1
        |ORDER BY id1, id2""".stripMargin,
    "join_blocked_jaro" ->
      """WITH p AS (
        |  SELECT p_partkey, lower(p_name) AS nm, p_brand,
        |    split_part(lower(p_name), ' ', 1) AS tok1
        |  FROM part)
        |SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |  round(jaro_winkler_similarity(a.nm, b.nm) * 1000000) / 1000000
        |    AS jw
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.tok1 = b.tok1
        |  AND a.p_partkey < b.p_partkey
        |WHERE round(jaro_winkler_similarity(a.nm, b.nm) * 1000000)
        |  / 1000000 >= 0.82
        |ORDER BY id1, id2""".stripMargin,
    "join_er_fellegi_sunter" ->
      """WITH p AS (
        |  SELECT p_partkey, lower(p_name) AS nm, p_brand, p_type,
        |    p_size, p_retailprice,
        |    split_part(lower(p_name), ' ', 1) AS tok1
        |  FROM part),
        |pr AS (
        |  SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |    CASE WHEN round(jaro_winkler_similarity(a.nm, b.nm)
        |        * 1000000) / 1000000 >= 0.95 THEN 1 ELSE 0 END AS a_name,
        |    CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS a_type,
        |    CASE WHEN abs(a.p_size - b.p_size) <= 1
        |      THEN 1 ELSE 0 END AS a_size,
        |    CASE WHEN abs(a.p_retailprice - b.p_retailprice)
        |        <= 0.1 * greatest(a.p_retailprice, b.p_retailprice)
        |      THEN 1 ELSE 0 END AS a_price
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.tok1 = b.tok1
        |    AND a.p_partkey < b.p_partkey),
        |sc AS (
        |  SELECT *,
        |    round(CAST(
        |      (CASE WHEN a_name = 1 THEN 4.247928 ELSE -4.247928 END
        |       + CASE WHEN a_type = 1 THEN 2.169925 ELSE -3.0 END
        |       + CASE WHEN a_size = 1 THEN 1.765535 ELSE -2.321928 END
        |       + CASE WHEN a_price = 1 THEN 1.415037 ELSE -1.807355 END)
        |      AS DOUBLE) * 1000000) / 1000000 AS score
        |  FROM pr)
        |SELECT id1, id2, a_name, a_type, a_size, a_price, score,
        |  CASE WHEN score >= 3.0 THEN 1 ELSE 0 END AS is_match
        |FROM sc ORDER BY id1, id2""".stripMargin,
    // global row_number replays the stitched numbering (same total
    // order: nm, then partkey); neighbor expansion via range(1, w+1)
    "join_er_sorted_neighborhood" ->
      """WITH p AS (
        |  SELECT p_partkey, lower(p_name) AS nm, p_type,
        |    p_size, p_retailprice
        |  FROM part),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY nm, p_partkey)
        |    AS BIGINT) AS rn
        |  FROM p),
        |a AS (
        |  SELECT rn + k.k AS rn2, p_partkey AS ida, nm AS n1,
        |    p_type AS t1, p_size AS s1, p_retailprice AS r1
        |  FROM r, (SELECT unnest(range(1, 11)) AS k) k),
        |pr AS (
        |  SELECT a.ida, b.p_partkey AS idb,
        |    CASE WHEN round(jaro_winkler_similarity(a.n1, b.nm)
        |        * 1000000) / 1000000 >= 0.95 THEN 1 ELSE 0 END AS a_name,
        |    CASE WHEN a.t1 = b.p_type THEN 1 ELSE 0 END AS a_type,
        |    CASE WHEN abs(a.s1 - b.p_size) <= 1
        |      THEN 1 ELSE 0 END AS a_size,
        |    CASE WHEN abs(a.r1 - b.p_retailprice)
        |        <= 0.1 * greatest(a.r1, b.p_retailprice)
        |      THEN 1 ELSE 0 END AS a_price
        |  FROM a JOIN r b ON b.rn = a.rn2),
        |sc AS (
        |  SELECT *,
        |    round(CAST(
        |      (CASE WHEN a_name = 1 THEN 4.247928 ELSE -4.247928 END
        |       + CASE WHEN a_type = 1 THEN 2.169925 ELSE -3.0 END
        |       + CASE WHEN a_size = 1 THEN 1.765535 ELSE -2.321928 END
        |       + CASE WHEN a_price = 1 THEN 1.415037 ELSE -1.807355 END)
        |      AS DOUBLE) * 1000000) / 1000000 AS score
        |  FROM pr)
        |SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2,
        |  a_name, a_type, a_size, a_price, score,
        |  CASE WHEN score >= 3.0 THEN 1 ELSE 0 END AS is_match
        |FROM sc ORDER BY id1, id2""".stripMargin,
    "join_null_safe" ->
      """WITH a AS (SELECT nullif(event_type, 'error') AS k, event_id
        |           FROM events),
        |     dim AS (SELECT DISTINCT nullif(event_type, 'error') AS k
        |             FROM events)
        |SELECT coalesce(dim.k, 'unknown') AS tag, count(*) AS n
        |FROM a JOIN dim ON a.k IS NOT DISTINCT FROM dim.k
        |GROUP BY 1 ORDER BY tag""".stripMargin,
    "join_full_outer" ->
      """WITH cn AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
        |     sn AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
        |SELECT COALESCE(cn.c_nationkey, sn.s_nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "join_left_semi" ->
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta_band" ->
      """SELECT band_id, count(*) AS n_orders
        |FROM orders JOIN (
        |  SELECT t.range AS band_id, t.range * 10000.0 AS lo,
        |         (t.range + 1) * 10000.0 AS hi
        |  FROM range(60) t) b
        |ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "join_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, epoch_us(ts) AS tsu, max(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN l.tsu - r.tsu <= 1800000000 THEN r.vv END AS matched
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsu >= r.tsu
        |ORDER BY l.event_id""".stripMargin,
    "join_asof" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, epoch_us(ts) AS tsu, max(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.vv AS matched
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsu >= r.tsu
        |ORDER BY l.event_id""".stripMargin,
    "join_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, epoch_us(ts) AS tsu, max(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.vv AS matched
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsu <= r.tsu
        |ORDER BY l.event_id""".stripMargin,
    // nearest replayed by brute rank over the per-user join (fine at
    // oracle scale; the Spark side is the one-exchange union+window)
    "join_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, epoch_us(ts) AS tsu, max(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |j AS (SELECT l.event_id, r.vv, r.tsu - l.tsu AS delta,
        |        row_number() OVER (PARTITION BY l.event_id
        |          ORDER BY abs(r.tsu - l.tsu), r.tsu) AS rn
        |      FROM l JOIN r ON l.user_id = r.user_id)
        |SELECT l.event_id, l.user_id, j.vv AS matched,
        |  CAST(j.delta AS BIGINT) AS delta_us
        |FROM l LEFT JOIN j ON j.event_id = l.event_id AND j.rn = 1
        |ORDER BY l.event_id""".stripMargin,
    "join_interval_overlap" ->
      """SELECT DISTINCT p_partkey AS a_id, s_suppkey AS b_id
        |FROM part, supplier
        |WHERE p_size * 10 <= (s_suppkey * 13) % 500 + 40
        |  AND (s_suppkey * 13) % 500 <= p_size * 10 + 25
        |ORDER BY a_id, b_id""".stripMargin,
    "join_interval_overlap_auto" ->
      """SELECT p_partkey AS a_id, s_suppkey AS b_id
        |FROM part, supplier
        |WHERE p_size * 10 <= (s_suppkey * 13) % 500 + 40
        |  AND (s_suppkey * 13) % 500 <= p_size * 10 + 25
        |ORDER BY a_id, b_id""".stripMargin,
    "join_lookup_code" ->
      """SELECT n_nationkey, n_name, r_name AS region_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "join_lookup_broadcast" ->
      """WITH dim AS (
        |  SELECT 'SYM' || CAST(i AS VARCHAR) AS symbol,
        |         'ENSG' || lpad(CAST(i AS VARCHAR), 11, '0') AS ensembl_id
        |  FROM generate_series(0, 39999) t(i))
        |SELECT p_partkey, ensembl_id
        |FROM part JOIN dim
        |  ON 'SYM' || CAST(p_partkey % 40000 AS VARCHAR) = dim.symbol
        |ORDER BY p_partkey""".stripMargin,
    "join_crosswalk_two_hop" ->
      """WITH genes AS (
        |  SELECT 'SYM' || CAST(i AS VARCHAR) AS symbol,
        |    'ENSG' || lpad(CAST((i * 7919 + 13) % 40000 AS VARCHAR), 11, '0')
        |      AS ensembl_id
        |  FROM generate_series(0, 39999) t(i)),
        |labels AS (
        |  SELECT i AS lbl_id,
        |    'CL:' || lpad(CAST(i AS VARCHAR), 7, '0') AS cl_id,
        |    'type_' || CAST(i % 25 AS VARCHAR) AS label
        |  FROM generate_series(0, 348) t(i)),
        |h1 AS (
        |  SELECT ensembl_id, l_quantity
        |  FROM lineitem JOIN genes
        |    ON 'SYM' || CAST(l_partkey % 40000 AS VARCHAR) = genes.symbol),
        |h2 AS (
        |  SELECT CAST(substr(ensembl_id, 5, 11) AS BIGINT) % 349 AS lbl_id,
        |    l_quantity
        |  FROM h1)
        |SELECT cl_id, label, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM h2 JOIN labels USING (lbl_id)
        |GROUP BY cl_id, label ORDER BY cl_id""".stripMargin,
    "join_salted_skew" ->
      """WITH u AS (SELECT user_id, count(*) AS n_user_events
        |           FROM events GROUP BY user_id)
        |SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value * n_user_events AS DECIMAL(18,4))) AS DOUBLE)
        |    AS weighted
        |FROM events JOIN u USING (user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "join_positional_concat" ->
      """WITH l AS (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation),
        |     r AS (SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey DESC) AS rn FROM nation)
        |SELECT l.rn AS rn, n_name, n_nationkey FROM l JOIN r ON l.rn = r.rn
        |ORDER BY rn""".stripMargin
  )
}
