package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Stats

/** Semantics of the statistics family ([[graft.operators.Stats]]) and
  * the [[graft.plans.JaroWinkler]] kernel, on planted fixtures with
  * hand-computed expectations. Oracle parity at data scale is the
  * driver's DuckDB gate; these pin the math itself.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    plans.JaroWinkler.sim(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro-winkler kernel matches the DuckDB-pinned reference values") {
    // (a, b, jaro_winkler_similarity) probed from DuckDB before the
    // kernel was written — the oracle engine defines the contract
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("CRATE", "TRACE", 0.7333333333333334), // jaro>0.7 but prefix 0
      ("ABCVWXYZ", "CABVWXYZ", 0.9583333333333334),
      ("appel", "applet", 0.9144444444444445),
      ("ABCD", "ABCDXXXXXX", 0.88),
      ("ABCDEF", "ABXXXX", 0.5555555555555555), // below boost threshold
      ("AB", "AX", 0.6666666666666666), // 0.667 ≤ 0.7: no boost
      ("A", "A", 1.0),
      ("ABCDE", "ABCDE", 1.0))
    for ((a, b, want) <- pinned)
      assert(math.abs(jw(a, b) - want) < 1e-9, s"jw($a, $b)")
    // empty-side convention (both engines): 0.0 even for both-empty
    assert(jw("", "ABC") == 0.0)
    assert(jw("", "") == 0.0)
    // zero match window on equal-length-2 transposed pair
    assert(jw("AB", "BA") == 0.0)
    // ODD transposition count: a 3-cycle of the matched subsequence
    // ("abc" vs "cab" within window 2) yields t=3 — this pins that the
    // kernel's integer t/2 FLOORS exactly like DuckDB does
    // (probed 2026-08-14: jaro_winkler_similarity('abcZZZ','cabZZZ')
    // = 0.9444444444444445 = (1 + 1 + (6-1)/6)/3, i.e. floor(3/2)=1;
    // un-floored t/2=1.5 would give 0.9166666666666666)
    assert(math.abs(jw("abcZZZ", "cabZZZ") - 0.9444444444444445) < 1e-15)
    // symmetry
    assert(jw("DIXON", "DICKSONX") == jw("DICKSONX", "DIXON"))
  }

  test("jaro-winkler codegen path equals the interpreted kernel") {
    val pairs = Seq(("MARTHA", "MARHTA"), ("CRATE", "TRACE"),
      ("azure lace", "azure lace navy"), ("", "x"), ("same", "same"))
    val got = pairs.toDF("a", "b")
      .select(call_function("jaro_winkler", col("a"), col("b")))
      .as[Double].collect()
    val want = pairs.map { case (a, b) => jw(a, b) }
    assert(got.toSeq == want)
    // null propagates (BinaryExpression null-intolerant default)
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(call_function("jaro_winkler", col("a"), col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  private def plantLineitem(rows: Seq[(Double, String, Double, Double)]): String = {
    val dir = Files.createTempDirectory("graft-stats").toString
    rows.toDF("l_extendedprice", "l_returnflag", "l_quantity", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("KS two-sample: hand-computed D on a planted pair of samples") {
    // R = {1,2,3}, A = {2,3,4}: pooled ECDF gap peaks at 1/3
    val d = plantLineitem(Seq(
      (1.0, "R", 1.0, 0.0), (2.0, "R", 1.0, 0.0), (3.0, "R", 1.0, 0.0),
      (2.0, "A", 1.0, 0.0), (3.0, "A", 1.0, 0.0), (4.0, "A", 1.0, 0.0)))
    val r = Stats.queries("stats_ks_two_sample")(spark, d).collect()(0)
    assert(r.getAs[Double]("d_stat") == 0.333333)
    assert(r.getAs[Long]("n_r") == 3L && r.getAs[Long]("n_a") == 3L)
    assert(!r.getAs[Boolean]("reject_h0")) // tiny n: crit ≈ 1.109
  }

  test("Mann-Whitney: midranks and U on a planted tie") {
    // R = {1,2}, A = {2,3}: ranks 1, 2.5 | 2.5, 4 → U_R = 0.5
    val d = plantLineitem(Seq(
      (1.0, "R", 1.0, 0.0), (2.0, "R", 1.0, 0.0),
      (2.0, "A", 1.0, 0.0), (3.0, "A", 1.0, 0.0)))
    val r = Stats.queries("stats_mann_whitney")(spark, d).collect()(0)
    assert(r.getAs[Double]("u_r") == 0.5)
    assert(r.getAs[Double]("u_a") == 3.5)
  }

  test("Spearman: perfectly monotone planted data gives rho = 1") {
    val d = plantLineitem(Seq(
      (1.0, "R", 1.0, 0.01), (1.0, "R", 2.0, 0.02), (1.0, "R", 3.0, 0.04),
      (1.0, "R", 5.0, 0.05)))
    val r = Stats.queries("stats_spearman")(spark, d).collect()(0)
    assert(r.getAs[Double]("spearman_rho") == 1.0)
  }

  test("Benford: digit ladder extracts the first significant digit") {
    val d = plantLineitem(Seq(
      (9.99, "R", 1.0, 0.0), // cents 999 → 9
      (10.00, "R", 1.0, 0.0), // 1000 → 1
      (123.45, "R", 1.0, 0.0), // 12345 → 1
      (0.07, "R", 1.0, 0.0), // 7 → 7
      (85000.5, "R", 1.0, 0.0))) // 8500050 → 8
    val got = Stats.queries("stats_benford")(spark, d)
      .select("digit", "n").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("chi-square independence: hand-computed 2x2 contingency") {
    val dir = Files.createTempDirectory("graft-stats-chi").toString
    val rows =
      Seq.fill(10)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
        Seq.fill(20)(("a2", "b1")) ++ Seq.fill(10)(("a2", "b2"))
    rows.toDF("o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = Stats.queries("stats_chi2_independence")(spark, dir).collect()(0)
    // all expected = 15; per-cell term round6(25/15) = 1.666667 ×4
    assert(r.getAs[Double]("chi2") == 6.666668)
    assert(r.getAs[Long]("dof") == 1L)
    assert(r.getAs[Long]("n") == 60L)
  }

  test("ACF: linear ramp has acf1 = 0.75; constant series doesn't score") {
    val dir = Files.createTempDirectory("graft-stats-acf").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(t0.getTime + i * 60000L)
    val ramp = (1 to 12).map(i => (ts(i), 1L, i.toLong, i.toDouble))
    val const = (1 to 12).map(i => (ts(i), 2L, 100L + i, 5.0))
    (ramp ++ const).toDF("ts", "user_id", "event_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Stats.queries("stats_acf")(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        Option(r.get(r.fieldIndex("acf1")))).toMap
    // user 1: num1 = 107.25, den = 143 → 0.75 exactly
    assert(got(1L).contains(0.75))
    // user 2: zero variance → null ACF (guarded, not NaN)
    assert(got(2L).isEmpty)
  }

  test("skyline: planted dominance cases, duplicates on the frontier stay") {
    val dir = Files.createTempDirectory("graft-stats-sky").toString
    Seq((1L, 1.0, 5), (2L, 2.0, 3), (3L, 3.0, 3), (4L, 2.0, 7),
      (5L, 1.0, 5))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Stats.queries("window_skyline_2d")(spark, dir)
      .select("p_partkey").as[Long].collect().toSet
    // 3 falls to (2.0,3) (equal size, strictly cheaper); 4 falls to
    // (1.0,5); the duplicate pair (1.0,5) is mutually non-dominating
    assert(got == Set(1L, 2L, 5L))
  }

  test("label propagation: majority adoption with min-label tie-break — " +
    "BOTH paths (driver-solve and forced-distributed, cap 0) agree") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val l1 = operators.Graph.labelPropagate(edges, nodes, rounds = 1,
          driverCap = cap)
        .as[(Long, Long)].collect().toMap
      // leaves adopt the hub's label; the hub sees three distinct labels
      // (one vote each) and ties to the smallest; isolated 5 keeps itself
      assert(l1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L),
        s"cap=$cap")
      val l2 = operators.Graph.labelPropagate(edges, nodes, rounds = 2,
          driverCap = cap)
        .as[(Long, Long)].collect().toMap
      assert(l2(1L) == 1L && l2(2L) == 2L && l2(5L) == 5L, s"cap=$cap")
    }
    // an edge endpoint OUTSIDE the node universe never acquires a label
    // and never votes one onward — both paths agree (round-11 review
    // counterexample: node 2 is not in `nodes`, so 3 keeps its own label)
    val bridgeEdges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val subNodes = Seq(1L, 3L).toDF("node")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val got = operators.Graph.labelPropagate(bridgeEdges, subNodes,
          rounds = 2, driverCap = cap)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 3L -> 3L), s"cap=$cap")
    }
  }

  test("ANOVA on the real sf0.001 lineitem is finite and well-formed") {
    val r = Stats.queries("stats_anova_f")(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("ss_between") >= 0.0)
    assert(r.getAs[Double]("ss_within") > 0.0)
    val f = r.getAs[Double]("f_stat")
    assert(!f.isNaN && f >= 0.0)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0.0 && eta <= 1.0)
  }

  test("blocked jaro join: every emitted pair respects block and threshold") {
    val rows = operators.Joins.queries("join_blocked_jaro")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("jw") >= 0.82))
    assert(rows.forall(r => r.getAs[Long]("id1") < r.getAs[Long]("id2")))
  }

  test("kaplan-meier: textbook planted cohort — censoring keeps the " +
    "risk set, the absorbing d=n step zeroes survival") {
    import spark.implicits._
    val h = 3600L
    // 5 users, all starting at t=0: events at h1/h3/h5, censors at h2/h4
    val rows = Seq(
      (1L, 0L, "signup"), (1L, 1 * h, "error"),
      (2L, 0L, "signup"), (2L, 2 * h, "view"),
      (3L, 0L, "signup"), (3L, 3 * h, "error"),
      (4L, 0L, "signup"), (4L, 4 * h, "view"),
      (5L, 0L, "signup"), (5L, 5 * h, "error"))
    val tmp = java.nio.file.Files.createTempDirectory("km").toString
    rows.toDF("user_id", "sec", "event_type")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"),
        col("event_type"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val km = operators.Stats.queries("stats_kaplan_meier")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // S(1)=4/5=.8 (n=5,d=1); S(3)=.8·(2/3)=.533333 (n=3: censored-at-2
    // user left the risk set, censored-at-4 user still in);
    // S(5): last at-risk user dies → absorbing 0
    assert(km.length === 3, km.toSeq.toString)
    assert(km(0) === ((1L, 5L, 1L, 0.8)))
    assert(km(1)._1 == 3L && km(1)._2 == 3L && km(1)._3 == 1L &&
      math.abs(km(1)._4 - 0.533333) < 2e-6, km(1).toString)
    assert(km(2) === ((5L, 1L, 1L, 0.0)))
  }

  test("ljung-box: Q on the linear ramp composes from the same rounded " +
    "lag-1..3 autocorrelations stats_acf reports") {
    val dir = Files.createTempDirectory("graft-stats-lb").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(t0.getTime + i * 60000L)
    val ramp = (1 to 12).map(i => (ts(i), 1L, i.toLong, i.toDouble))
    val const = (1 to 12).map(i => (ts(i), 2L, 100L + i, 5.0))
    (ramp ++ const).toDF("ts", "user_id", "event_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Stats.queries("stats_ljung_box")(spark, dir).collect()
    // constant series has null acf1 → filtered; only the ramp scores
    assert(got.length == 1 && got(0).getAs[Long]("user_id") == 1L)
    // ramp 1..12: den = n(n²−1)/12 = 143, num1/2/3 = 107.25/72.5/39.75
    // → r = (.75, .506993, .277972); Q = 12·14·Σ r_k²/(12−k)
    val q = 168.0 * (0.75 * 0.75 / 11 + 0.506993 * 0.506993 / 10 +
      0.277972 * 0.277972 / 9)
    assert(math.abs(got(0).getAs[Double]("q_stat") - q) < 1e-6)
    assert(got(0).getAs[Int]("dof") == 3)
  }

  test("welch t-test: planted unequal-variance branches match the " +
    "closed form (t and Welch-Satterthwaite dof)") {
    val dir = Files.createTempDirectory("graft-stats-welch").toString
    val rows = Seq(("R", 1.0), ("R", 2.0), ("R", 3.0),
      ("A", 2.0), ("A", 4.0), ("A", 6.0), ("A", 8.0),
      ("N", 999.0)) // non-R/A branch must be excluded
    rows.toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Stats.queries("stats_ttest_welch")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_r") == 3L && r.getAs[Long]("n_a") == 4L)
    assert(r.getAs[Double]("mean_r") == 2.0)
    assert(r.getAs[Double]("mean_a") == 5.0)
    // vr=1, va=20/3 → se2=2, t=(2−5)/√2, dof=4/(1/18+25/27)=216/53
    assert(math.abs(r.getAs[Double]("t_stat") - (-3.0 / math.sqrt(2))) < 1e-6)
    assert(math.abs(r.getAs[Double]("dof") - 216.0 / 53) < 1e-6)
  }

  test("levene: planted two-group spread difference gives the " +
    "hand-computed W") {
    val dir = Files.createTempDirectory("graft-stats-levene").toString
    Seq(("R", 1.0), ("R", 3.0), ("A", 2.0), ("A", 6.0), ("A", 10.0))
      .toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Stats.queries("stats_levene")(spark, dir).collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 5L)
    // z_R={1,1}, z_A={4,0,4} → between=10/3, within=32/3, W=3·(10/32)
    assert(math.abs(r.getAs[Double]("w_stat") - 0.9375) < 1e-5)
  }

  test("kendall tau-b: planted x/y ties hit both tie corrections") {
    val dir = Files.createTempDirectory("graft-stats-kendall").toString
    Seq((1, 1.0), (1, 2.0), (2, 1.0), (2, 3.0), (3, 3.0))
      .toDF("l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Stats.queries("stats_kendall_tau")(spark, dir).collect()(0)
    // conc=5, disc=1, tx2=ty2=4 → τb = 4/√((20−4)/2 · (20−4)/2) = 0.5
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("concordant") == 5.0)
    assert(r.getAs[Double]("discordant") == 1.0)
    assert(r.getAs[Double]("tau_b") == 0.5)
  }

  test("bloom membership: no false negatives ever, plausible fp rate") {
    val r = graft.operators.Aggregates
      .queries("agg_bloom_membership")(spark, sfDir).head()
    assert(r.getAs[Long]("n_false_neg") == 0L,
      "a bloom filter must never miss a true member")
    assert(r.getAs[Long]("n_flagged") >= r.getAs[Long]("n_members"))
    assert(r.getAs[Long]("n_members") > 0L)
    val fp = r.getAs[Double]("fp_rate")
    assert(fp >= 0.0 && fp < 0.5, s"fp_rate=$fp")
  }

  test("cohens d: identical-distribution groups give a small effect; " +
    "hedges g shrinks it") {
    val r = graft.operators.Stats.queries("stats_cohens_d")(spark, sfDir)
      .head()
    assert(r.getAs[Double]("pooled_sd") > 0.0)
    val d = r.getAs[Double]("cohens_d")
    val g = r.getAs[Double]("hedges_g")
    assert(math.abs(d) < 0.2, s"R/A prices come from the same process: $d")
    assert(math.abs(g) <= math.abs(d) + 1e-12)
  }

  test("neyman allocation: budget respected, allocation ordered by " +
    "N_h times S_h") {
    val rows = graft.operators.Stats
      .queries("sample_neyman_alloc")(spark, sfDir).collect()
    assert(rows.length == 5) // five order priorities
    val total = rows.map(_.getAs[Long]("alloc")).sum
    assert(total <= 1000L && total > 900L, s"total=$total")
    val byWeight = rows.sortBy(r =>
      -(r.getAs[Long]("nh").toDouble * r.getAs[Double]("s_h")))
    val allocs = byWeight.map(_.getAs[Long]("alloc")).toSeq
    assert(allocs.zip(allocs.tail).forall { case (a, b) => a >= b },
      allocs.toString)
  }

  test("corr matrix: quantity-extendedprice strongly positive, " +
    "independent pairs near zero, all in [-1, 1]") {
    val rows = graft.operators.Stats
      .queries("agg_corr_matrix")(spark, sfDir).collect()
    assert(rows.length == 6)
    val m = rows.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Double]("corr")).toMap
    assert(m.values.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    // this generator draws the numerics independently: nothing should
    // look correlated
    assert(m.values.forall(c => math.abs(c) < 0.2), m.toString)
    // planted perfect linearity at REALISTIC magnitudes (the corr
    // features scale price by 1e6, so prices must live in the 1e4-5e5
    // band the scaling is calibrated to): price = 1e4 x quantity
    val tmp = java.nio.file.Files.createTempDirectory("corr").toString
    (1 to 50).map(i => (i.toLong, i, i.toDouble,
      i * 10000.0, 0.01 * (i % 7), 0.01 * ((i * 3) % 5)))
      .toDF("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val planted = graft.operators.Stats
      .queries("agg_corr_matrix")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("corr")).toMap
    assert(planted(("l_quantity", "l_extendedprice")) == 1.0,
      planted.toString)
  }

  test("runs test: alternating series has max runs (positive z), " +
    "blocked series has 2 runs (negative z)") {
    // 40 signal days at 30 (high) / 10 (low) plus a final median
    // sentinel day at 20 — the sentinel IS the median, gets excluded
    // by the c <> median rule, and leaves exactly the 40 signed days
    def plant(dirName: String, highDays: Int => Boolean) = {
      val tmp = java.nio.file.Files.createTempDirectory(dirName).toString
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
      val rows = (0 to 40).flatMap { day =>
        val n = if (day == 40) 20 else if (highDays(day)) 30 else 10
        (0 until n).map(j => (new java.sql.Timestamp(
          t0.getTime + day * 86400000L + j * 1000L),
          (day * 1000 + j).toLong, 1L, "view", 1.0, "{}"))
      }
      rows.toDF("ts", "event_id", "user_id", "event_type", "value",
        "props").write.mode("overwrite").parquet(s"$tmp/events.parquet")
      graft.operators.Stats.queries("stats_runs_test")(spark, tmp).head()
    }
    val alt = plant("runs-alt", _ % 2 == 0)
    assert(alt.getAs[Long]("runs") == 40L, alt.toString)
    assert(alt.getAs[Double]("z") > 3.0, alt.toString)
    val blocked = plant("runs-blk", _ < 20)
    assert(blocked.getAs[Long]("runs") == 2L, blocked.toString)
    assert(blocked.getAs[Double]("z") < -3.0, blocked.toString)
  }

  test("jarque-bera: a planted symmetric three-point distribution has " +
    "zero skew and the expected kurtosis") {
    val tmp = java.nio.file.Files.createTempDirectory("jb").toString
    // equal mass at 1e5, 2e5, 3e5 (scaled: 1, 2, 3): mu=2, m2=2/3,
    // m3=0 (symmetric), m4=2/3 => g1=0, g2=m4/m2^2-3 = 1.5-3 = -1.5,
    // JB = n/6 * (0 + 2.25/4) = n * 0.09375
    val rows = (0 until 300).map { i =>
      (i.toLong, i % 7 + 1, 1.0, ((i % 3) + 1) * 100000.0, 0.0, 0.0)
    }
    rows.toDF("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val r = graft.operators.Stats
      .queries("stats_jarque_bera")(spark, tmp).head()
    assert(r.getAs[Double]("skewness") == 0.0, r.toString)
    assert(r.getAs[Double]("ex_kurtosis") == -1.5, r.toString)
    assert(math.abs(r.getAs[Double]("jb_stat") - 300 * 0.09375) < 1e-6,
      r.toString)
    assert(!r.getAs[Boolean]("is_normal_95"), r.toString)
  }

  test("cuped: θ, adjusted means and variance reduction match a " +
    "directly-computed reference on planted integral pre/post values") {
    // integral values → every double sum below is exact, so the spec's
    // plain-double reference and the engine's decimal-bridged pipeline
    // must agree to the last rounded digit
    val splitMs = 1705363200000L // 2024-01-16T00:00:00Z
    def md5Arm(uid: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) "A" else "B"
    }
    // (user, pre, post) — ids picked so md5 populates BOTH arms with
    // 4 users each (md5('6')='1…' → A, md5('1')='c…' → B, …); the arm
    // split itself is still recomputed below, never assumed
    val users = Seq(
      (6L, 10.0, 30.0), (9L, 20.0, 45.0), (11L, 5.0, 12.0),
      (17L, 40.0, 90.0), (1L, 15.0, 28.0), (2L, 25.0, 60.0),
      (3L, 8.0, 20.0), (4L, 30.0, 55.0))
    assert(users.map(u => md5Arm(u._1)).distinct.sorted === Seq("A", "B"))
    assert(users.groupBy(u => md5Arm(u._1)).values.forall(_.size >= 3))
    val rows = users.flatMap { case (u, pre, post) => Seq(
      (u * 10 + 1, u, new java.sql.Timestamp(splitMs - 86400000L),
        "view", pre),
      (u * 10 + 2, u, new java.sql.Timestamp(splitMs + 86400000L),
        "view", post))
    }
    val dir = java.nio.file.Files.createTempDirectory("cuped").toString
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    def r6(x: Double): Double = math.round(x * 1e6) / 1e6
    val n = users.size.toDouble
    val sx = users.map(_._2).sum; val sy = users.map(_._3).sum
    val sxy = users.map(u => u._2 * u._3).sum
    val sxx = users.map(u => u._2 * u._2).sum
    val theta = r6((sxy - sx * sy / n) / (sxx - sx * sx / n))
    val mp = sx / n
    val byArm = users.groupBy(u => md5Arm(u._1))
    val got = Stats.queries("stats_cuped")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === byArm.keySet)
    for ((arm, us) <- byArm) {
      val m = us.size.toDouble
      val ax = us.map(_._2).sum; val ay = us.map(_._3).sum
      val axy = us.map(u => u._2 * u._3).sum
      val axx = us.map(u => u._2 * u._2).sum
      val ayy = us.map(u => u._3 * u._3).sum
      val meanPost = ay / m; val meanPre = ax / m
      val varPost = (ayy - ay * ay / m) / (m - 1)
      val varPre = (axx - ax * ax / m) / (m - 1)
      val cov = (axy - ax * ay / m) / (m - 1)
      val varAdj = varPost + theta * theta * varPre - 2.0 * theta * cov
      val r = got(arm)
      assert(r.getLong(1) === us.size.toLong, s"n($arm)")
      assert(math.abs(r.getDouble(2) - r6(meanPost)) < 1e-9, s"mean_post($arm)")
      assert(math.abs(r.getDouble(3) -
        r6(meanPost - theta * (meanPre - mp))) < 1e-9, s"mean_adj($arm)")
      assert(math.abs(r.getDouble(4) - r6(varPost)) < 1e-9, s"var_post($arm)")
      assert(math.abs(r.getDouble(5) - r6(varAdj)) < 1e-9, s"var_adj($arm)")
      assert(math.abs(r.getDouble(6) -
        r6(1.0 - varAdj / varPost)) < 1e-9, s"var_reduction($arm)")
      assert(math.abs(r.getDouble(7) - theta) < 1e-9, s"theta($arm)")
      // the sharpener must actually sharpen on correlated pre/post
      assert(r.getDouble(6) > 0.5, s"var_reduction($arm) should be large")
    }
  }
}
