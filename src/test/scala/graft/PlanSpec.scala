package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions (the 100 TB contract, SURVEY.md §4): each test
  * pins a property of the compiled plan that makes the operator scale —
  * filter/column pushdown into the parquet scan, broadcast vs shuffle join
  * selection, top-k without a global sort, map-side partial aggregation,
  * and absence of nested-loop fallbacks where a bucketed rewrite is used.
  * Regressions here are performance bugs even while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    plan(SparkEntry.queries(name)(spark, sfDir))

  test("parquet scan gets pushed filters and pruned columns") {
    val p = formatted("scan_parquet_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"missing pushed filter:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan reads more than the 3 projected columns:\n$p")
  }

  test("dim joins broadcast; no shuffle of the fact side for the dim join") {
    val p = formatted("join_broadcast_inner")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$p")
  }

  test("40k-entry dictionary joins as a broadcast, fact side unshuffled") {
    val p = formatted("join_lookup_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"40k dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"40k dim join shuffled the fact side:\n$p")
  }

  test("two-hop crosswalk: both dims broadcast, fact unshuffled until the agg") {
    val p = formatted("join_crosswalk_two_hop")
    assert(p.split("BroadcastHashJoin").length - 1 == 2,
      s"expected exactly 2 broadcast joins (one per crosswalk hop):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a crosswalk hop shuffled the fact side:\n$p")
  }

  test("hybrid RRF: crosswalk applied candidates-first, no inner SMJ") {
    // The ≤50-row candidate list must broadcast into the embedding-id
    // scan and the mapped survivors into the document-id scan; a
    // SortMergeJoin Inner here means a data-scaled shuffle crept back
    // into the crosswalk (the FullOuter SMJ fusing the two ≤50-row rank
    // lists is expected and fine).
    val p = formatted("sim_hybrid_rrf")
    assert(!p.contains("SortMergeJoin Inner"),
      s"crosswalk degraded to a data-scaled inner SMJ:\n$p")
  }

  test("join hints select shuffled-hash and sort-merge respectively") {
    assert(formatted("join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(formatted("join_sort_merge").contains("SortMergeJoin"))
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = formatted("topk_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"top-k range-shuffles:\n$p")
  }

  test("hash aggregation is partial+final (map-side combine)") {
    val p = formatted("agg_hash_group")
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange → at least two HashAggregates
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("bucketed interval join avoids nested-loop/cartesian fallback") {
    val p = formatted("join_interval_overlap")
    assert(!p.contains("CartesianProduct"), s"cartesian fallback:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ fallback:\n$p")
  }

  test("RangeJoinRewrite: naive overlap join auto-rewrites to bucketed equi-join") {
    val df = SparkEntry.queries("join_interval_overlap_auto")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join not rewritten:\n$p")
    // Span-guarded bucket explode: explode(if (span <= cap) sequence(...))
    assert(p.contains("Generate explode(") && p.contains("sequence("),
      s"no bucket explode:\n$p")
    // pinned task fan-out (VERDICT r13 item 3 done-criterion): the
    // bucket shuffle must carry the rule's explicit partition count
    // (2× the session's 32 shuffle partitions), not an AQE-coalesced
    // residue — the r13 sf1 parallelism collapse was exactly this
    // shuffle shrinking to ≤11 keys
    assert(p.contains("REPARTITION_BY_NUM"),
      s"bucket shuffle not pinned to an explicit partition count:\n$p")
    // and the rewrite preserves the exact result of the manual form
    val auto = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val manual = SparkEntry.queries("join_interval_overlap")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(auto === manual)
  }

  test("RangeJoinRewrite.deriveWidth: cost model lands in the measured-" +
      "optimum regime, sees lattice alignment, respects the span floor") {
    import graft.plans.RangeJoinRewrite.{deriveWidth, widthGrid}
    def closedForm(len: Double)(w: Long): Double = 1.0 + len / w
    // the r13 hand-tune scenario under the closed-form fallback:
    // domain 540, lengths 25/40, 64-way shuffle — must land in
    // single-digit-to-low-teens W, NOT back at a parallelism-starving
    // width (W=50 was the 11-key sf1 collapse)
    val g1 = widthGrid(540L, 40L, 4096L)
    assert(g1.contains(9L) && g1.contains(10L), s"grid misses 9/10: $g1")
    val w = deriveWidth(540L, g1, closedForm(25.0), closedForm(40.0), 64)
    assert(w >= 4 && w <= 16, s"derived width $w outside the tuned regime")
    // MEASURED replication sees what the closed form cannot (the r14
    // sf1 A/B: W=9 ran 1.62x the task time of W=10): a_lo multiples of
    // 10 make W=10 span exactly 3 buckets (not 3.5) — with the demo's
    // exact replications the model must pick the aligned W=10 over the
    // closed-form favorite W≈8-9
    val exactA = Map(8L -> 4.145, 9L -> 3.778, 10L -> 3.0, 12L -> 3.08)
    val exactB = Map(8L -> 6.0, 9L -> 5.444, 10L -> 5.0, 12L -> 4.333)
    def measured(m: Map[Long, Double], len: Double)(w: Long): Double =
      m.getOrElse(w, 1.0 + len / w)
    val wAligned = deriveWidth(540L, g1,
      measured(exactA, 25.0), measured(exactB, 40.0), 64)
    assert(wAligned === 10L, s"alignment not exploited: picked $wAligned")
    // span floor: a 10M-long interval at spanCap 4096 forces W ≥ 2442
    // so the per-row sequence() explode stays bounded
    val g2 = widthGrid(100000000L, 10000000L, 4096L)
    assert(g2.head >= 10000000L / 4096L, s"grid ${g2.head} under the floor")
    val w2 = deriveWidth(100000000L, g2,
      closedForm(10000000.0), closedForm(10.0), 64)
    assert(w2 >= 10000000L / 4096L, s"width $w2 violates the span floor")
    // wide domain, short intervals: parallelism saturates at `parts`
    // long before replication matters — W sits near the interval
    // length scale, neither 1 (candidate blow-up) nor domain-scale
    val g3 = widthGrid(100000000L, 80L, 4096L)
    val w3 = deriveWidth(100000000L, g3,
      closedForm(50.0), closedForm(50.0), 64)
    assert(w3 >= 16 && w3 <= 500, s"derived width $w3 degenerate")
  }

  test("theta band join broadcasts the tiny bands side") {
    val p = formatted("join_theta_band")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of join is one exchange on the key, not a per-key loop") {
    val p = formatted("join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("codegen'd scale paths: simhash is a map-only scan via the fused expression") {
    val p = formatted("dedup_simhash")
    assert(!p.contains("ArrayAggregate"),
      s"simhash fell back to interpreted higher-order aggregate:\n$p")
    // fused SimHash64: signature computed in the scan projection — no
    // explode, no aggregate, no extra exchange beyond the output sort
    assert(p.contains("simhash64("), p)
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
  }

  test("RangeJoinRewrite span guard raises a descriptive error on huge intervals") {
    // A FIXED width (the guard's audience): the derived width keeps
    // every interval under the span cap by construction, so the guard
    // only fires for a width that is too narrow for the data — here 50
    // against an interval spanning ~4M buckets, far past the cap.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import spark.implicits._
    val a = Seq((1L, 0L, 200000000L)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((2L, 5L, 10L)).toDF("b_id", "b_lo", "b_hi")
    val join = a.join(b,
      col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .queryExecution.analyzed.asInstanceOf[Join]
    val e = intercept[Exception] {
      org.apache.spark.sql.GraftPlanRun.head(spark,
        plans.RangeJoinRewrite.rewrite(join, 50))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains(
      "RangeJoinRewrite: interval spans more than 4096 buckets")),
      s"error did not name the rule: ${messages(e).mkString(" | ")}")
  }

  test("SQL Q3/Q5: filters pushed, dims broadcast, top-k as TakeOrderedAndProject") {
    val q3 = formatted("sql_q3_shipping")
    assert(q3.contains("TakeOrderedAndProject"), q3)
    assert(q3.contains("BroadcastHashJoin"), q3)
    // each filter reaches its scan's PushedFilters
    assert(q3.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$q3")
    assert(q3.contains("LessThan(o_orderdate,"),
      s"order-date filter not pushed:\n$q3")
    assert(q3.contains("GreaterThan(l_shipdate,"),
      s"ship-date filter not pushed:\n$q3")
    val q5 = formatted("sql_q5_local_supplier")
    assert(!q5.contains("CartesianProduct") && !q5.contains("BroadcastNestedLoopJoin"), q5)
    assert(q5.contains("BroadcastHashJoin"), q5)
  }

  test("SQL Q8/Q21: 8-way star stays hash-joined; the EXISTS/NOT-EXISTS " +
    "pair plans as stacked semi + anti joins") {
    val q8 = formatted("sql_q8_market_share")
    assert(!q8.contains("CartesianProduct") &&
      !q8.contains("BroadcastNestedLoopJoin"), q8)
    assert(q8.contains("BroadcastHashJoin"), q8)
    // the region and part filters must reach their scans
    assert(q8.contains("EqualTo(r_name,EUROPE)"), s"region not pushed:\n$q8")
    assert(q8.contains("EqualTo(p_type,PROMO)"), s"p_type not pushed:\n$q8")
    val q21 = formatted("sql_q21_waiting_suppliers")
    assert(q21.contains("LeftSemi"), s"EXISTS did not plan as semi:\n$q21")
    assert(q21.contains("LeftAnti"), s"NOT EXISTS did not plan as anti:\n$q21")
    assert(!q21.contains("CartesianProduct"), q21)
    // the status + returnflag filters reach the fact scans
    assert(q21.contains("EqualTo(o_orderstatus,F)"), s"status not pushed:\n$q21")
    assert(q21.contains("EqualTo(l_returnflag,R)"), s"flag not pushed:\n$q21")
  }

  test("flagship pipeline: broadcast dim join present, no cartesian anywhere") {
    val p = formatted("flagship_product_build")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("keeper linkage: no single-partition window over raw (non-aggregated) rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.dedup.Dedup.keeperPointers(Tables.t(spark, sfDir, "documents"))
    df.collect() // materialize so AQE finalizes the physical plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val windows = flatten(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window operators in the linkage plan")
    // The keeper-set windows must be hash-partitioned (md5 groups, id
    // blocks); the ONLY global-order window allowed is the block-summary
    // lag, which must consume an AGGREGATED input (~N/blockSize rows) —
    // never the raw keeper rows.
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
        s"single-partition window over non-aggregated input:\n$w")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected partitioned block windows in the linkage plan")
  }

  test("positional concat: no global window over raw rows (stitched numbering)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("join_positional_concat")(spark, sfDir)
    df.collect() // materialize so AQE finalizes the physical plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val windows = flatten(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window operators in the concat plan")
    // Full-width rows are numbered in hash-partitioned block windows; the
    // only single-partition windows allowed are the block-offset running
    // sums, which must consume an AGGREGATED (per-block count) input.
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
        s"single-partition window over non-aggregated input:\n$w")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected partitioned block windows in the concat plan")
  }

  test("flagship: the raw fact crosses exactly one shuffle exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("flagship_product_build")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val shuffles = flatten(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
    // Exactly three shuffles end-to-end: the explicit order-key
    // repartition (the ONLY one that carries raw fact rows), the 30-row
    // final aggregate exchange, and the final ORDER BY range exchange.
    // The pivot aggregation, presence window, per-order reduction, and
    // donor join must all reuse the first partitioning — a fourth
    // exchange means an optimization regression.
    assert(shuffles.size <= 3,
      s"flagship plans ${shuffles.size} shuffles (expected <= 3):\n" +
        df.queryExecution.executedPlan)
  }

  test("static partition pruning: literal dt predicate reaches PartitionFilters") {
    val p = formatted("scan_partition_prune")
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    assert(p.contains("(dt"), s"dt predicate not in partition filters:\n$p")
    // the dt bounds must NOT degrade to a post-scan Filter on data rows
    assert(!p.contains("PushedFilters: [IsNotNull(dt)"),
      s"dt treated as data column, not partition column:\n$p")
  }

  test("dynamic partition pruning: dim-side filter prunes fact partitions at runtime") {
    val p = formatted("join_dpp_prune")
    assert(p.contains("dynamicpruning"),
      s"no dynamicpruningexpression in the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast for DPP reuse:\n$p")
  }

  test("runtime bloom filter prunes the fact side below its aggregation shuffle") {
    val df = SparkEntry.queries("join_bloom_runtime")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"no injected bloom filter on the fact side:\n$opt")
    assert(opt.contains("bloom_filter_agg"),
      s"no bloom creation aggregate on the selective side:\n$opt")
  }

  test("suite-wide plan hygiene: no cartesian/nested-loop joins outside the whitelist") {
    // The nested-loop whitelist is every query whose non-equi or cross
    // join is against a BOUNDED broadcast side by construction:
    //   filter_scalar_subquery — 1-row aggregate scalar
    //   join_cross_dims        — dims-only cross (|region| × |nation|)
    //   join_salted_skew       — salt-range replication (≤ splits rows)
    //   join_theta_band        — fixed band table (a handful of rows)
    //   sim_batch_topk         — broadcast query batch (nQueries rows)
    //   text_idf_topterms      — 1-row corpus-size aggregate broadcast
    //   text_unigram_logprob   — 1-row token-total aggregate broadcast
    //   mix_temperature_weights — 1-row normalizer aggregate broadcast
    //   sample_mixture_budget   — same 1-row normalizer broadcast
    // Anything NEW that plans a CartesianProduct or an unlisted
    // BroadcastNestedLoopJoin is a scale bug, caught here before it
    // ships — a 100 TB fact on either side of one of those is a outage.
    val nlWhitelist = Set("filter_scalar_subquery", "join_cross_dims",
      "join_salted_skew", "join_theta_band", "sim_batch_topk",
      "text_idf_topterms", "text_unigram_logprob",
      "mix_temperature_weights", "sample_mixture_budget",
      "text_pmi_bigrams", // two 1-row count-total scalar broadcasts
      "pair_negative_sample", "corpus_report", // 1-row corpus-size/dup scalars
      "text_tfidf_topk",  // 1-row corpus-size scalar broadcast
      "feat_bucketize",   // 1-row decile-bounds broadcast
      "funnel_conversion", // 1-row numerator scalar broadcast
      "boilerplate_strip", // 1-row top-gram scalar broadcast
      "text_bm25_topk",    // 1-row (N, avgdl) corpus-stats broadcast
      "text_bigram_logprob", // 1-row vocabulary-size scalar broadcast
      "feat_target_encode", // 1-row global-mean scalar broadcast
      "sim_hybrid_rrf", // inherits text_bm25_topk's 1-row stats broadcast
      "filter_perplexity_gate", // 1-row p90-threshold scalar broadcast
      "text_bm25_batch",   // 1-row (N, avgdl) corpus-stats broadcast
      "vocab_bpe_apply",   // 1-row learned-rules array broadcast
      "vocab_bytebpe_apply", // same 1-row rules-array broadcast (the
                             // byte-level family's merges.txt scalar)
      "vocab_bytebpe_decode", // same 1-row rules-array broadcast as
                              // vocab_bytebpe_apply (encode→decode twin)
      "vocab_compare_tokenizers", // composes both BPE applies: the same
                                  // 1-row rules-array broadcasts
      "agg_percent_of_total", // 1-row exact-total scalar broadcast
      "pair_hard_negatives", // 8-row broadcast anchor set (label-disequality join)
      "sql_recursive_cte",  // 24-row recursive month spine broadcast (range join)
      "stats_ks_two_sample", // 1-row (n_r, n_a) totals scalar broadcast
      "stats_mann_whitney",  // same 1-row totals scalar broadcast
      "stats_chi2_independence", // 1-row (N, r, c) stats scalar broadcast
      "stats_benford",       // 1-row corpus-total scalar broadcast
      "events_rfm_scores",   // 1-row max-date + quintile-bounds broadcasts
      "stats_qq_deciles",    // 1-row × 1-row per-group percentile join
      "stats_kendall_tau",   // ≤|dom(x)|·|dom(y)| cell self-join + 1-row marginals
      "privacy_t_closeness", // |dom(segment)|-row × 1-row marginal grid
      "text_kneser_ney_bigram", // 1-row bigram-type-count scalar broadcast
      "stats_bootstrap_ci",  // 1-row obs-mean × 1-row sorted-replicates join
      "stats_permutation_test", // 1-row observed-diff scalar broadcast
      "stats_cuped",         // 1-row pooled (θ, mean_pre) scalar broadcast
      "timeseries_changepoint", // 1-row (total, n_days) scalar broadcast
      "ml_decision_stump",   // 1-row (min,max) + 1-row class-total broadcasts
      "ml_mutual_info",      // 1-row (min,max) + 1-row N broadcasts
      "ml_knn_classify",     // exact LOO all-pairs BY CONTRACT (the
                             // oracle-able ground truth; the scale path
                             // is ml_knn_classify_ann's bucketed graph
      "stats_theil_sen",     // |days|²-bounded pair self-join (calendar-
                             // bounded, above the day aggregate)
      "events_time_to_convert", // 1-row (n_users, n_conv) totals broadcast
      "agg_decay_sum",       // 1-row max-event-time anchor broadcast
      "sample_neyman_alloc", // 1-row total-weight scalar broadcast
      "stats_runs_test",     // 1-row daily-median scalar broadcast
      "ml_logreg_lift",      // 1-row percentile/totals aggregate broadcast
                             // (decile bounds + corpus counts, same class
                             // as stats_qq_deciles / feat_bucketize)
      "ml_conformal_interval", // 1-row (n_cal, n_test) totals + 1-row
                             // rank-threshold scalar broadcasts (the
                             // round-10 zero-driver-action rewrite)
      "sim_eval_recall_ndcg", // 10-row fixed query-panel broadcast (the
                             // exact ground-truth side is panel × corpus
                             // by construction — linear in N)
      "sim_eval_index_panel") // same 10-row panel broadcast, shared by
                             // ground truth + all five index rankings
                             // (one N×10 pair frame — linear in N)
    // dedup_canonical_resolve's BUILDER runs the whole pointer-doubling
    // fixpoint (count/isEmpty per round, persisted levels) — executing it
    // here just to read a plan string costs many jobs and leaks its final
    // persist into the shared session; its plan shape (partitioned
    // windows, no global sort) is pinned by the keeper-linkage test.
    // vocab_bpe_train's builder runs the whole merge-training loop
    // (argmax collect per rule) and returns a driver-local rules table —
    // nothing in its final plan to sweep.
    val eagerBuilders = Set("dedup_canonical_resolve", "vocab_bpe_train")
    val oracled = SparkEntry.oracleSql.keySet
    val nested = scala.collection.mutable.ArrayBuffer.empty[String]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => eagerBuilders(name) }
      .flatMap { case (name, fn) =>
        val df = fn(spark, sfDir)
        // Driver-comparator contract: the oracle gate sorts/hashes cell
        // values, so an ORACLED query must never emit a nested column
        // (ARRAY/MAP/STRUCT) — flat comparators can't order those
        // (vocab_apply's round-5 red row). Rows-only queries may.
        if (oracled(name)) df.schema.fields.foreach { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType =>
              nested += s"$name.${f.name}: ${f.dataType.simpleString}"
            case _ => ()
          }
        }
        val p = df.queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") && !nlWhitelist(name)
        if (cart || bnlj)
          Some(s"$name: cartesian=$cart unlistedBNLJ=$bnlj")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(nested.isEmpty,
      s"oracled queries must emit driver-sortable (flat) columns:\n" +
        nested.mkString("\n"))
  }

  test("suite-wide plan hygiene: every unpartitioned window sits above a " +
    "bounded summary (LIMIT or aggregate)") {
    // `WindowExec: No Partition Defined` is benign ONLY when the window's
    // input is already a bounded summary — a per-block aggregate, a
    // top-k LIMIT, a handful of posting lists. This sweep turns the
    // warning into a tripwire: any unpartitioned window whose input
    // subtree contains NO limit/aggregate is moving raw data-scaled rows
    // through one task and fails here before it ships. (Round-7 verdict
    // item 5: the four known bounded-summary sites — zipf's top-500
    // table, RRF's ≤50-row rank lists, the block summaries in the
    // stitched-numbering and keeper-linkage helpers — all carry an
    // aggregate or limit in their input subtree, so no name whitelist is
    // needed: the structural check subsumes it.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // Descend through AQE wrappers: AdaptiveSparkPlanExec reports no
    // children, so a plain-children walk would sweep NOTHING for any
    // adaptive query (and with AQE on by default, that is most of them).
    def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: subtree(a.executedPlan)
      case _ => p +: p.children.flatMap(subtree)
    }
    def boundedBelow(p: SparkPlan): Boolean = subtree(p).exists { n =>
      val c = n.getClass.getSimpleName
      c.contains("Limit") || c.contains("TakeOrderedAndProject") ||
        c.contains("Aggregate")
    }
    val eagerBuilders = Set("dedup_canonical_resolve", "vocab_bpe_train")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => eagerBuilders(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        subtree(plan).collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
            s"$name: unpartitioned window over unbounded input " +
              s"(orderBy ${w.orderSpec.map(_.sql).mkString(",")})"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ABC classify: cumulative revenue block-stitches — no unpartitioned " +
    "window over the data-cardinality per-part aggregate") {
    // Part cardinality grows with the data (~10⁹ at 100 TB), so the
    // per-part revenue table may only cross PARTITIONED (per-octave)
    // windows; the sole unpartitioned window must consume the per-block
    // (`blk`-keyed) total summary, whose row count is bounded by the
    // revenue DOMAIN. This is stronger than the suite-wide hygiene
    // sweep, which accepts any aggregate below an unpartitioned window
    // — here even the per-part aggregate does not qualify.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: subtree(a.executedPlan)
      case _ => p +: p.children.flatMap(subtree)
    }
    val exec = SparkEntry.queries("window_abc_classify")(spark, sfDir)
      .queryExecution.executedPlan
    val windows = subtree(exec).collect { case w: WindowExec => w }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected partitioned per-block cumulative windows")
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.nonEmpty, "expected the block-offset stitch window")
    global.foreach { w =>
      val below = subtree(w.child).map(_.toString)
      assert(below.exists(_.contains("HashAggregate(keys=[blk")),
        s"unpartitioned window input is not the per-block summary:\n$w")
    }
  }

  test("KS / Mann-Whitney: the cumulative window runs over the per-value " +
    "aggregate, never raw rows") {
    // Both two-sample tests stitch cumulative counts from a
    // per-DISTINCT-value table (groupBy(v) in twoSampleCum): the
    // windows downstream must therefore sit ABOVE that HashAggregate.
    // At 100 TB the raw lineitem rows never cross a window — only the
    // value-distinct table (bounded by the price domain) and the
    // per-block offset summary do. This names the invariant the
    // suite-wide hygiene sweep checks structurally.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: subtree(a.executedPlan)
      case _ => p +: p.children.flatMap(subtree)
    }
    for (q <- Seq("stats_ks_two_sample", "stats_mann_whitney")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      val windows = subtree(exec).collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected window operators in the plan")
      for (w <- windows) {
        val below = subtree(w.child).map(_.getClass.getSimpleName)
        assert(below.exists(_.contains("Aggregate")),
          s"$q: window input subtree has no aggregate — " +
            s"raw rows reach the cumulative step: ${below.mkString(",")}")
      }
      // and the per-value aggregate is keyed on the value column, i.e.
      // the distinct-value compression really happens before any window
      val aggs = subtree(exec).map(_.toString)
      assert(aggs.exists(s => s.contains("HashAggregate(keys=[v#") ||
        s.contains("HashAggregate(keys=[v_")),
        s"$q: no per-value HashAggregate found below the windows")
    }
  }

  test("IVF partitioned probe: the cell filter prunes storage partitions " +
    "(PartitionFilters), not just rows") {
    val df = SparkEntry.queries("sim_ivf_partitioned_probe")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cid[^\\]]*\\].*"),
      s"no cid partition filter in scan:\n${plan.take(2000)}")
    // and the probed layout reads a strict subset of the partitions
    val all = spark.read.parquet(
      sources.PartitionedData.embeddingsByCell(spark, sfDir))
      .select("cid").distinct().count()
    assert(all > 4, s"layout has only $all cells")
    assert(df.inputFiles.nonEmpty)
  }

  test("mixture sampling: rate table broadcasts — the corpus never " +
    "shuffles for the join") {
    val df = SparkEntry.queries("sample_mixture_budget")(spark, sfDir)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact shuffled for the rate join:\n$p")
  }

  test("AQE skew join: a hot key splits automatically (the no-manual-salt " +
    "path)") {
    // join_salted_skew demonstrates MANUAL salting; at 100 TB the first
    // line of defense is AQE's OptimizeSkewedJoin. Plant one hot key and
    // verify the runtime plan marks the sort-merge join skew-handled.
    // Thresholds are lowered only inside this test (tiny test data).
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // 50k rows on key 0 (hot), 50 keys × 20 rows tail; payload pads bytes
      val fact = spark.range(0, 100000).select(lit(0L).as("k"),
          concat(lit("xpadpadpadpadpadpad"), col("id")).as("pad"))
        .unionAll(spark.range(0, 1000).select((col("id") % 50 + 1).as("k"),
          lit("y").as("pad")))
      val dim = spark.range(0, 51).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("dval"))
      // global agg, NOT groupBy(k): an operator that reuses the join's
      // hash partitioning downstream suppresses the skew split (AQE
      // won't break required co-partitioning unless forced)
      val joined = fact.hint("MERGE").join(dim.hint("MERGE"), "k")
        .agg(count(lit(1)).as("n"), sum(length(col("dval"))).as("b"))
      joined.collect() // AQE finalizes only after execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("whole-stage codegen covers the hot relational queries") {
    // AQE only materializes the final (codegen-annotated) plan after an
    // action, so execute first and inspect the finalized plan.
    Seq("agg_hash_group", "join_broadcast_inner", "window_rank_topk").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // `*(n)` is the WholeStageCodegen stage marker in simpleString.
      assert(p.contains("*("), s"$q has no codegen span:\n$p")
    }
  }

  test("pair_preference_build: grouped extremes are ONE map-side-" +
    "combining ObjectHashAggregate — no row_number sort of data-scaled " +
    "groups (VERDICT r14 item 3)") {
    // string-based like the rest of this suite: TreeNode.collect does
    // not descend into AdaptiveSparkPlanExec's hidden inner plan, but
    // toString prints it
    val p = formatted("pair_preference_build")
    // the scale contract: both extremes ride the bounded TopKAgg buffers
    // through a partial (map-side) + final typed aggregate pair — the
    // alternative (row_number over a per-source window) sorts entire
    // data-scaled groups through single tasks
    assert(!p.contains("Window"),
      s"preference pairs must not rank via a window sort:\n$p")
    assert(p.contains("partial_topkagg"),
      s"TopKAgg must have a map-side partial aggregate:\n$p")
    assert(p.contains("functions=[topkagg"),
      s"TopKAgg must have a final merge aggregate:\n$p")
    // both extremes (top AND bottom buffers) in the SAME aggregate —
    // one pass over the scored rows, not two: the partial aggregate
    // line carries two topkagg functions
    assert(p.linesIterator.exists(l =>
      "partial_topkagg".r.findAllIn(l).size >= 2),
      s"top and bottom buffers should share one aggregate:\n$p")
  }

  test("eager localCheckpoints materialize PRUNED projections (VERDICT " +
    "r17 item 5): every ExistingRDD scan carries only the documented " +
    "column set, never unpruned fact rows") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    // query → the column sets its checkpoint sites are allowed to
    // materialize (each site's documented cardinality bound lives at
    // the call site; this guard pins the WIDTH half of the contract).
    val allowed: Map[String, Set[Set[String]]] = Map(
      "graph_copurchase_topk" -> Set(Set("basket")),
      "graph_copurchase_support" -> Set(Set("l_orderkey", "fb")),
      "dedup_substring_span" -> Set(Set("doc_id", "p", "gram")),
      "dedup_paragraph" -> Set(Set("doc_id", "chunk_idx", "chunk")),
      "vocab_compare_tokenizers" -> Set(Set("word", "cnt")),
      "agg_percentile" -> Set(Set("fl", "cv", "c", "blk")),
      "filter_perplexity_gate" -> Set(
        Set("doc_id", "mean_surprisal"),   // the gate's score table
        Set("doc_id", "gram")))            // bigram_logprob's instance cut
    allowed.foreach { case (q, sets) =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val scans = flatten(df.queryExecution.executedPlan)
        .collect { case r: RDDScanExec => r }
      assert(scans.nonEmpty, s"$q: expected checkpoint scans in the plan")
      scans.foreach { r =>
        val cols = r.output.map(_.name.replaceAll("#.*", "")).toSet
        assert(sets.exists(cols.subsetOf),
          s"$q: checkpoint scan materializes undocumented columns " +
            s"$cols — allowed: $sets")
      }
    }
  }

  test("vocab_compare_tokenizers: the only nested-loop is the whitelisted " +
    "1-row rules-array scalar broadcast (VERDICT r14 item 3)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // TreeNode.collect does not descend into AdaptiveSparkPlanExec's
    // inner plan — unwrap explicitly so the BNLJ inspection is real
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val df = SparkEntry.queries("vocab_compare_tokenizers")(spark, sfDir)
    val nodes = flatten(df.queryExecution.executedPlan)
    val pstr = nodes.map(_.nodeName).mkString("\n")
    assert(!pstr.contains("CartesianProduct"), pstr)
    // the BNLJs present must all be the vocab_bpe_apply rules broadcast:
    // a 1-row LocalTableScan under the broadcast side, never a scan of a
    // data-scaled table
    val bnljs = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnljs.nonEmpty,
      "expected the whitelisted 1-row rules-array BNLJ to be present " +
        s"(plan shape changed?):\n$pstr")
    bnljs.foreach { j =>
      val broadcastSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }
      val s = broadcastSide.toString
      assert(s.contains("LocalTableScan") && !s.contains("parquet"),
        s"BNLJ broadcast side must be the local 1-row rules array:\n$s")
    }
    // r18 reshape: ONE corpus scan + ONE distinct-word aggregate feeds
    // all four tokenizer branches — the old shape unioned four full
    // apply replays (four scans, four per-doc aggregates). The 4-row
    // output comes from a Generate (explode of per-tokenizer structs)
    // over the single conditional aggregate, so the plan must have NO
    // Union. The one corpus scan runs while the DataFrame is built: the
    // distinct-word table is an eager localCheckpoint, so the compare
    // plan itself holds ZERO parquet scans and reads the checkpointed
    // word table through RDD scans instead.
    assert(!nodes.exists(_.nodeName.contains("Union")),
      s"compare should not union four apply replays anymore:\n$pstr")
    val parquetScans = nodes.count(_.nodeName.contains("Scan parquet"))
    assert(parquetScans === 0,
      s"the corpus scan belongs to the word-table checkpoint, found " +
        s"$parquetScans parquet scans in the compare plan:\n$pstr")
    assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.RDDScanExec]),
      s"the checkpointed word table must feed the compare plan:\n$pstr")
    assert(nodes.exists(_.nodeName.contains("Generate")),
      s"the 4-row reshape explode must be present:\n$pstr")
  }

  test("stats_cuped: per-user rollup is a partial+final aggregate pair, " +
    "the scan reads only (ts, user_id, value), and the pooled-θ side " +
    "joins as a broadcast") {
    val p = formatted("stats_cuped")
    // map-side combine on the only data-scaled stage
    assert(p.contains("partial_sum") || p.contains("Functions: [partial_"),
      s"per-user rollup must have a partial aggregate:\n$p")
    // column pruning all the way to the parquet scan
    assert(p.contains("ReadSchema: struct<ts:timestamp,user_id:bigint,value:double>"),
      s"events scan should read exactly ts/user_id/value:\n$p")
    // the 1-row pooled (θ, mean_pre) table must broadcast, never shuffle
    // the arm table against it
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"pooled θ must join via broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$p")
  }

  test("privacy_dp_count_laplace: count-only release prunes the scan to " +
    "the group key and aggregates partial+final") {
    val p = formatted("privacy_dp_count_laplace")
    assert(p.contains("ReadSchema: struct<c_nationkey:int>"),
      s"a keyed count must read ONLY the group key:\n$p")
    assert(p.contains("partial_count"),
      s"count must map-side combine:\n$p")
  }

  test("pack_nextfit: one (lang, shard) exchange feeds a partition-" +
    "local sort and the O(1)-state fold — the only global sort is the " +
    "final presentation orderBy") {
    val p = formatted("pack_nextfit")
    assert(p.contains("MapPartitions"),
      s"the next-fit fold runs as a mapPartitions scan:\n$p")
    assert(p.contains("hashpartitioning(lang"),
      s"the chain exchange must hash on (lang, shard):\n$p")
    // the fold's 3-key sort is partition-local (printed ', false, 0');
    // only the doc_id presentation sort may be global
    val sorts = p.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("shard")).toSeq
    assert(sorts.nonEmpty && sorts.forall(_.contains("false")),
      s"the pre-fold sort must be partition-local:\n$p")
  }

  test("materialized-view rewrite: a subsumed rollup reads the summary; " +
    "non-stored measures and non-group filters read the fact") {
    val df = SparkEntry.queries("scan_mv_rewrite")(spark, sfDir)
    df.collect()
    assert(df.inputFiles.exists(_.contains("mv_lineitem_pricing")),
      s"rewrite did not fire — scans: ${df.inputFiles.take(3).toSeq}")
    assert(!df.inputFiles.exists(_.contains("lineitem.parquet")),
      "rewritten query still reads the fact")
    // negative: sum over a measure the view does not store
    val neg1 = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(U.dsum(col("l_tax")).as("t"))
    assert(neg1.inputFiles.exists(_.contains("lineitem.parquet")),
      "non-stored measure was wrongly served from the view")
    // negative: a filter on a non-group column needs raw rows — the
    // always-true predicate blocks the rewrite WITHOUT changing
    // semantics, which doubles as the value-equality control below
    val neg2 = Tables.t(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 0.0)
      .groupBy("l_returnflag").agg(U.dsum(col("l_quantity")).as("q"))
      .orderBy("l_returnflag")
    assert(neg2.inputFiles.exists(_.contains("lineitem.parquet")),
      "non-group filter was wrongly served from the view")
    // the same rollup without the blocking filter IS rewritten, and
    // returns bit-identical values (decimal partial sums are exact)
    val pos = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(U.dsum(col("l_quantity")).as("q"))
      .orderBy("l_returnflag")
    assert(pos.inputFiles.exists(_.contains("mv_lineitem_pricing")))
    assert(pos.collect().map(_.toSeq).toSeq ===
      neg2.collect().map(_.toSeq).toSeq)
  }
}
