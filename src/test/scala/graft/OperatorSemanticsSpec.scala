package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Exact-row semantics of the trickier operators on tiny literal inputs
  * (SURVEY.md §5.2 item 2). The DuckDB oracle checks full-table parity;
  * these pin down edge semantics: as-of tie/no-match, interval-overlap
  * boundary, intersect-obs multi-modality restriction, outer-concat
  * zero-fill.
  */
class OperatorSemanticsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join: inclusive tie, no-prior-match → null") {
    // user 1: views at t=10,20; clicks at t=5 (no match), 10 (tie→10), 25 (→20)
    val ev = Seq(
      (1L, 10L, "view", 1.0), (2L, 20L, "view", 2.0),
      (3L, 5L, "click", 0.0), (4L, 10L, "click", 0.0), (5L, 25L, "click", 0.0))
      .map { case (id, t, ty, v) => (id, 1L, new java.sql.Timestamp(t * 1000), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    ev.createOrReplaceTempView("asof_input")
    // Reuse the registered query shape by inlining the same union+window logic
    val l = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tsu"))
      .withColumn("view_value", lit(null).cast("double")).withColumn("side", lit(1))
    val r = ev.filter($"event_type" === "view")
      .groupBy($"user_id", unix_micros($"ts").as("tsu"))
      .agg(max($"value").as("view_value"))
      .withColumn("event_id", lit(null).cast("long")).withColumn("side", lit(0))
      .select("event_id", "user_id", "tsu", "view_value", "side")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsu", "side")
      .rowsBetween(Long.MinValue, 0)
    val out = l.unionByName(r)
      .withColumn("matched", last("view_value", ignoreNulls = true).over(w))
      .filter($"side" === 1).select($"event_id", $"matched")
      .orderBy("event_id")
      .collect().map(row => (row.getLong(0), Option(row.get(1))))
    assert(out.toSeq === Seq(
      (3L, None), (4L, Some(1.0)), (5L, Some(2.0))))
  }

  test("ewma scan: seeded with first observation, keys isolated across partition boundaries") {
    // Two users interleaved in time; user 2's series must not inherit
    // user 1's accumulator. α=0.2 hand-fold: u1: 10, .2*20+.8*10=12,
    // .2*7+.8*12=11; u2: 100, .2*0+.8*100=80.
    val ev = Seq(
      (1L, 1L, 0L, 10.0), (2L, 2L, 1L, 100.0), (3L, 1L, 2L, 20.0),
      (4L, 1L, 3L, 7.0), (5L, 2L, 4L, 0.0))
      .map { case (id, u, t, v) => (id, u, new java.sql.Timestamp(t * 1000), "e", v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val src = ev.select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"value")
      .as[(Long, Long, Long, Double)]
    val out = src.repartition(8, $"user_id")
      .sortWithinPartitions("user_id", "us", "event_id")
      .mapPartitions { it =>
        var cur = 0L; var have = false; var acc = 0.0
        it.map { case (u, _, eid, v) =>
          if (!have || u != cur) { cur = u; have = true; acc = v }
          else acc = 0.2 * v + 0.8 * acc
          (eid, u, acc)
        }
      }.collect().sortBy(_._1).toSeq
    // reference: the same fold run sequentially per user on the driver
    def fold(vs: Seq[Double]): Seq[Double] =
      vs.tail.scanLeft(vs.head)((acc, v) => 0.2 * v + 0.8 * acc)
    val exp1 = fold(Seq(10.0, 20.0, 7.0))
    val exp2 = fold(Seq(100.0, 0.0))
    assert(out === Seq(
      (1L, 1L, exp1(0)), (2L, 2L, exp2(0)), (3L, 1L, exp1(1)),
      (4L, 1L, exp1(2)), (5L, 2L, exp2(1))))
    assert(math.abs(exp1(2) - 11.0) < 1e-9 && math.abs(exp2(1) - 80.0) < 1e-9)
  }

  test("wilder rsi: all-gain series pins 100, first loss pulls it to " +
    "the hand-folded ratio, single-event users emit nothing") {
    val dir = java.nio.file.Files.createTempDirectory("rsi").toString
    Seq(
      (1L, 1L, 0L, 10.0), (2L, 1L, 1L, 11.0),   // delta +1 → RSI 100
      (3L, 1L, 2L, 10.5), (4L, 1L, 3L, 10.5),   // loss then flat
      (5L, 2L, 0L, 42.0))                        // lone event → no row
      .map { case (id, u, t, v) =>
        (id, u, new java.sql.Timestamp(t * 1000), "e", v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Windows.queries("window_rsi_wilder")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet === Set(2L, 3L, 4L))
    assert(got(2L) === 100.0)
    // seed ag=1 al=0; step: ag=13/14, al=0.5/14 → rs=26,
    // RSI = 100 − 100/27 (same IEEE fold both steps)
    val ag = 13.0 * 1.0 / 14.0; val al = (13.0 * 0.0 + 0.5) / 14.0
    val exp = math.round((100.0 - 100.0 / (1.0 + ag / al)) * 1e6) / 1e6
    assert(got(3L) === exp)
    assert(got(4L) === exp) // flat delta leaves the gain/loss RATIO fixed
  }

  test("interval overlap: bucketed equi-join finds exactly the overlapping pairs") {
    // [0,10] vs [5,15] overlap; [0,10] vs [11,20] don't (strict integer bounds)
    val a = Seq((1L, 0, 10), (2L, 100, 110)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((10L, 5, 15), (20L, 11, 20), (30L, 108, 300)).toDF("b_id", "b_lo", "b_hi")
    def bucketed(df: org.apache.spark.sql.DataFrame, lo: String, hi: String) =
      df.withColumn("bucket", explode(sequence(
        floor(col(lo) / 50).cast("long"), floor(col(hi) / 50).cast("long"))))
    val pairs = bucketed(a, "a_lo", "a_hi")
      .join(bucketed(b, "b_lo", "b_hi"), Seq("bucket"))
      .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id").distinct().as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 10L), (2L, 30L)))
  }

  test("intersect_obs: union restricted to cells present in all modalities") {
    val m1 = Seq(("c1", 1.0), ("c2", 2.0), ("c3", 3.0)).toDF("cell_id", "value")
    val m2 = Seq(("c2", 9.0), ("c3", 8.0), ("c4", 7.0)).toDF("cell_id", "value")
    val common = m1.select("cell_id").intersect(m2.select("cell_id"))
    val fact = m1.withColumn("m", lit("a")).unionByName(m2.withColumn("m", lit("b")))
      .join(common, Seq("cell_id"), "left_semi")
    val cells = fact.select("cell_id").distinct().as[String].collect().toSet
    assert(cells === Set("c2", "c3"))
    assert(fact.count() === 4)
  }

  test("outer concat: missing columns zero-filled, not null (anndata semantics)") {
    val x = Seq((1L, 5.0)).toDF("k", "qty")
    val y = Seq((1L, 7.5)).toDF("k", "price")
    val u = x.unionByName(y, allowMissingColumns = true)
      .select($"k", coalesce($"qty", lit(0.0)).as("qty"),
        coalesce($"price", lit(0.0)).as("price"))
      .groupBy("k").agg(sum("qty").as("q"), sum("price").as("p"))
      .as[(Long, Double, Double)].collect()
    assert(u.toSeq === Seq((1L, 5.0, 7.5)))
  }

  test("typed CentSum aggregator matches built-in sum") {
    val df = Tables.t(spark, sfDir, "lineitem")
    val expected = df.select(sum(round($"l_extendedprice" * 100).cast("long")))
      .as[Long].head()
    val got = Aggregates.queries("agg_typed_custom")(spark, sfDir)
      .agg(sum("cents_total")).as[Long].head()
    assert(got === expected)
  }

  test("approx_count_distinct within rsd bounds of exact") {
    val df = Tables.t(spark, sfDir, "lineitem")
    val exact = df.select(countDistinct($"l_partkey")).as[Long].head().toDouble
    val approx = df.select(approx_count_distinct($"l_partkey", 0.02)).as[Long].head().toDouble
    assert(math.abs(approx - exact) / exact < 0.1)
  }

  test("DataFrameStatFunctions sketch surface: bloom filter, count-min, freqItems") {
    val df = Tables.t(spark, sfDir, "lineitem")
    // Bloom filter: no false negatives on present keys.
    val bf = df.stat.bloomFilter($"l_orderkey", expectedNumItems = 10000, fpp = 0.01)
    val present = df.select($"l_orderkey").distinct().as[Long].collect()
    assert(present.forall(bf.mightContain))
    // Count-min sketch: estimate >= true frequency (one-sided error).
    val cms = df.stat.countMinSketch($"l_suppkey", eps = 0.01, confidence = 0.95, seed = 42)
    val trueFreq = df.groupBy($"l_suppkey").count()
      .as[(Long, Long)].collect().toMap
    assert(trueFreq.forall { case (k, n) => cms.estimateCount(k) >= n })
    // freqItems: every key above the support threshold must appear.
    val heavy = df.stat.freqItems(Array("l_returnflag"), 0.3)
      .head().getSeq[String](0).toSet
    val exactHeavy = df.groupBy($"l_returnflag").count()
      .filter($"count" > df.count() * 0.3)
      .select("l_returnflag").as[String].collect().toSet
    assert(exactHeavy.subsetOf(heavy))
  }

  test("merged per-group HLL sketches estimate the global distinct count") {
    // the sketch-merge pattern: per-nation sketches unioned == one global
    // sketch, both close to the exact distinct count
    val df = Tables.t(spark, sfDir, "customer")
    val exact = df.select(countDistinct($"c_custkey")).as[Long].head().toDouble
    val merged = df.groupBy($"c_nationkey")
      .agg(hll_sketch_agg($"c_custkey").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).cast("long"))
      .as[Long].head().toDouble
    assert(math.abs(merged - exact) / exact < 0.05,
      s"merged=$merged exact=$exact")
  }

  test("explicit HLL++ register union == native approx_count_distinct " +
    "(hard equality)") {
    // agg_hll_sketch_merge builds registers explicitly and unions them
    // by max; if the update rule, the union, or the replayed estimator
    // drifted from Spark's own HyperLogLogPlusPlusHelper by even one
    // register, this equality would break.
    val rsd = operators.Aggregates.HllMergeRsd
    val est = operators.Aggregates.queries("agg_hll_sketch_merge")(
      spark, sfDir).select($"est_distinct_total").as[Long].head()
    val native = Tables.t(spark, sfDir, "customer")
      .agg(approx_count_distinct($"c_custkey", rsd).cast("long"))
      .as[Long].head()
    assert(est === native, s"register-union=$est native=$native")
  }

  test("approx_percentile honors the GK rank bound per group") {
    // the ε·N guarantee (ε = 1/accuracy) in the COMPRESSED regime
    // (accuracy < group size, where compress() fires and the VALUE is
    // merge-order-dependent): the returned value must be an actual group
    // element whose rank is within N/1000 of the target. The registered
    // query runs in the LOSSLESS regime (accuracy ≥ group size) where the
    // result is the exact discrete quantile and carries a quantile_disc
    // SQL oracle — see Aggregates "agg_approx_percentile"; this test pins
    // the contract of the regime the oracle cannot reach.
    val df = Tables.t(spark, sfDir, "lineitem")
    val approx = df.groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"))
      .as[(String, Double)].collect().toMap
    approx.foreach { case (flag, ap) =>
      val vals = df.filter($"l_returnflag" === flag)
        .select($"l_extendedprice".cast("double")).as[Double]
        .collect().sorted
      val n = vals.length
      assert(vals.contains(ap), s"group $flag: $ap is not a group element")
      // rank window of the returned value (ties span a range)
      val lo = vals.indexWhere(_ == ap)
      val hi = vals.lastIndexWhere(_ == ap)
      val target = 0.5 * n
      val eps = n.toDouble / 1000 + 1
      assert(lo - eps <= target && target <= hi + eps + 1,
        s"group $flag: value $ap rank [$lo,$hi] vs target $target ± $eps")
    }
  }

  test("exact mode: ties resolve to the smallest value, never arbitrarily") {
    // two values tie at count 2 within group "a" — the encoded
    // (count, -value) argmax must pick the smaller value (3, not 7)
    val df = Seq(("a", 3.0), ("a", 3.0), ("a", 7.0), ("a", 7.0), ("a", 9.0),
      ("b", 5.0)).toDF("g", "v")
    val out = df.groupBy($"g", $"v").agg(count(lit(1)).as("n"))
      .groupBy("g")
      .agg(max_by($"v", $"n" * 1024L - $"v".cast("long")).as("mode_v"),
        max($"n").as("mode_n"))
      .orderBy("g").as[(String, Double, Long)].collect().toSeq
    assert(out === Seq(("a", 3.0, 2L), ("b", 5.0, 1L)))
  }

  test("per-stratum hash reservoir: exactly min(k, |stratum|) rows, " +
    "invariant under repartitioning") {
    val q = SparkEntry.queries("sample_topk_hash_group")
    val base = q(spark, sfDir).collect().toSeq
    val sizes = base.groupBy(_.getString(1)).map { case (_, rs) => rs.size }
    assert(sizes.forall(_ <= 20) && sizes.exists(_ == 20))
    // determinism: same survivors regardless of physical layout — rerun
    // through a different partitioning of the same input
    val docs = Tables.t(spark, sfDir, "documents").repartition(7, $"lang")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val again = docs.select($"doc_id", $"source")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 20).orderBy("source", "rn").collect().toSeq
    assert(again === base)
  }

  test("shard assignment partitions the corpus: counts sum to |docs|, " +
    "shards within [0, 16)") {
    val out = SparkEntry.queries("shard_assign")(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    val total = Tables.t(spark, sfDir, "documents").count()
    assert(out.map(_._2).sum === total)
    assert(out.forall { case (s, _, _) => s >= 0 && s < 16 })
  }

  test("soft-dedup weights sum to 1 per duplicate cluster") {
    val out = SparkEntry.queries("dedup_soft_weight")(spark, sfDir)
    val docs = Tables.t(spark, sfDir, "documents")
    val perCluster = out.join(docs, "doc_id")
      .groupBy(md5($"text")).agg(sum($"weight").as("wsum"))
      .select(max(abs($"wsum" - 1.0))).as[Double].head()
    assert(perCluster < 1e-4, s"max |cluster weight sum - 1| = $perCluster")
  }

  test("cosine range search is consistent with brute-force top-k") {
    // every top-k neighbor whose similarity clears the radius must
    // appear in the range result with the same rounded similarity
    val topk = SparkEntry.queries("sim_cosine_topk")(spark, sfDir)
      .as[(Long, Double)].collect().toMap
    val range = SparkEntry.queries("sim_range_search")(spark, sfDir)
      .as[(Long, Double)].collect().toMap
    topk.filter(_._2 >= 0.1).foreach { case (id, sim) =>
      assert(range.get(id).contains(sim), s"vec $id: topk=$sim range=${range.get(id)}")
    }
  }

  test("gap-fill: hour grid contiguous per user, forward fill never " +
    "null, observed hours pass through") {
    val rows = SparkEntry.queries("timeseries_gapfill")(spark, sfDir)
      .select($"user_id", $"hour", $"hr_sum", $"filled")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val hours = rs.map(_._2).sorted
      assert(hours.head + hours.length - 1 === hours.last,
        s"user $u grid has holes")
      // first grid hour is observed by construction → filled is total
      assert(rs.forall(_._4.isDefined), s"user $u has unfilled hours")
      // pass-through: wherever observed, filled == observed
      rs.filter(_._3.isDefined).foreach { r =>
        assert(r._4 === r._3, s"user $u hour ${r._2}: fill overwrote")
      }
    }
    // the corpus must actually exercise gaps or the op is vacuous
    assert(rows.exists(_._3.isEmpty))
  }

  test("gopher gate: keep flag equals its three rules recomputed") {
    val out = SparkEntry.queries("text_gopher_rules")(spark, sfDir)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, nw, mwl, dr, keep) =>
      val expected = nw >= 20 && nw <= 1000 &&
        mwl >= 3.0 && mwl <= 10.0 && dr > 0.2
      assert(keep === expected, s"nw=$nw mwl=$mwl dr=$dr keep=$keep")
    }
    // both outcomes must occur on the corpus or the gate is vacuous
    assert(out.exists(_._5) && out.exists(!_._5))
  }

  test("observe(): in-flight data-quality metrics come for free with the " +
    "action, no second pass") {
    // Production pipelines need row counts / null rates / value sums per
    // stage without re-scanning: df.observe attaches accumulators to the
    // existing plan. Verify the metrics equal an independent recompute.
    val obs = new org.apache.spark.sql.Observation("quality")
    val docs = Tables.t(spark, sfDir, "documents")
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when($"text".isNull, 1L).otherwise(0L)).as("null_texts"),
        sum(length($"text")).as("total_chars"))
    val kept = docs.filter(length($"text") > 0).count()
    val m = obs.get
    val expectRows = Tables.t(spark, sfDir, "documents").count()
    val expectChars = Tables.t(spark, sfDir, "documents")
      .agg(sum(length($"text"))).as[Long].head()
    assert(m("rows_seen") === expectRows)
    assert(m("null_texts") === 0L)
    assert(m("total_chars") === expectChars)
    assert(kept <= expectRows)
  }

  test("forward as-of join: inclusive tie, no-later-match → null") {
    // views at t=10,20; clicks at t=5 (→10), 10 (tie→10), 25 (no later→null)
    val ev = Seq(
      (1L, 10L, "view", 1.0), (2L, 20L, "view", 2.0),
      (3L, 5L, "click", 0.0), (4L, 10L, "click", 0.0), (5L, 25L, "click", 0.0))
      .map { case (id, t, ty, v) => (id, 1L, new java.sql.Timestamp(t * 1000), ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val l = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tsu"))
      .withColumn("view_value", lit(null).cast("double")).withColumn("side", lit(0))
    val r = ev.filter($"event_type" === "view")
      .groupBy($"user_id", unix_micros($"ts").as("tsu"))
      .agg(max($"value").as("view_value"))
      .withColumn("event_id", lit(null).cast("long")).withColumn("side", lit(1))
      .select("event_id", "user_id", "tsu", "view_value", "side")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsu", "side")
      .rowsBetween(0, Long.MaxValue)
    val out = l.unionByName(r)
      .withColumn("matched", first("view_value", ignoreNulls = true).over(w))
      .filter($"side" === 0).select($"event_id", $"matched")
      .orderBy("event_id")
      .collect().map(row => (row.getLong(0), Option(row.get(1))))
    assert(out.toSeq === Seq(
      (3L, Some(1.0)), (4L, Some(1.0)), (5L, None)))
  }

  test("count-min sketch: estimates bound true frequencies within eps*N") {
    import org.apache.spark.util.sketch.CountMinSketch
    val eps = 0.001
    val rows = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr(s"count_min_sketch(l_partkey, ${eps}d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n"))
      .as[(String, Array[Byte], Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, bytes, n) =>
      val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      val truth = Tables.t(spark, sfDir, "lineitem")
        .filter($"l_returnflag" === flag)
        .groupBy("l_partkey").count()
        .as[(Long, Long)].collect()
      truth.take(50).foreach { case (pk, c) =>
        val est = sk.estimateCount(pk)
        assert(est >= c, s"$flag/$pk: CMS underestimated $est < $c")
        assert(est <= c + (eps * n).ceil.toLong + 1,
          s"$flag/$pk: estimate $est exceeds $c + eps*N")
      }
    }
  }

  test("boilerplate strip: planted shared 5-gram removed exactly where " +
    "it occurs, splice seams re-stripped, clean docs untouched") {
    val boiler = "click here to subscribe now"
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, s"iota kappa lambda mu $boiler"),
      (4L, "plain document with no shared boilerplate text at all"),
      // seam splice: removing the single literal occurrence rejoins the
      // surrounding words into the boilerplate again — one strip pass
      // ships uncleaned text, the second pass must catch it
      (5L, s"click here to $boiler subscribe now filler words"))
      .toDF("doc_id", "text")
    val top = docs.select(
      explode(graft.dedup.Dedup.wordKShingles($"text", 5)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"gram").limit(1)
      .select($"gram".as("boiler"))
    def strip(x: org.apache.spark.sql.Column) =
      trim(regexp_replace(replace(x, $"boiler", lit("")), "  +", " "))
    val out = docs.crossJoin(broadcast(top))
      .withColumn("cleaned", strip(strip(lower($"text"))))
      .select($"doc_id", $"cleaned",
        U.lng(length(lower($"text")) - length($"cleaned"))
          .as("removed_chars"))
      .as[(Long, String, Long)].collect()
      .map { case (id, c, r) => id -> ((c, r)) }.toMap
    // removed_chars = end-to-end bytes saved (gram + collapsed seam)
    assert(out(1L) === (("alpha beta gamma delta", boiler.length + 1L)))
    assert(out(2L) === (("epsilon zeta eta theta", boiler.length + 1L)))
    assert(out(3L) === (("iota kappa lambda mu", boiler.length + 1L)))
    // untouched doc comes through byte-identical (modulo lowercasing)
    assert(out(4L)._2 === 0L &&
      out(4L)._1 === "plain document with no shared boilerplate text at all")
    // the splice case: NO boilerplate survives in the cleaned text
    assert(!out(5L)._1.contains(boiler), s"splice survived: ${out(5L)._1}")
    assert(out(5L)._1 === "filler words")
  }

  test("feat_bucketize: equi-depth deciles are balanced and ordered") {
    val rows = SparkEntry.queries("feat_bucketize")(spark, sfDir)
      .select("o_totalprice", "bucket").as[(Double, Long)].collect()
    val n = rows.length
    val byBucket = rows.groupBy(_._2)
    assert(byBucket.keySet === (0L to 9L).toSet)
    // equi-depth: every decile holds ~n/10 (ties at bounds allow slack)
    byBucket.values.foreach { g =>
      assert(math.abs(g.length - n / 10.0) <= n * 0.02 + 2,
        s"bucket sizes skewed: ${byBucket.view.mapValues(_.length).toMap}")
    }
    // ordered: bucket i's max value never exceeds bucket i+1's min
    val sorted = byBucket.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, lo), (_, hi)) =>
        assert(lo.map(_._1).max <= hi.map(_._1).min)
      case _ =>
    }
  }

  test("dedup cluster stats: planted duplicate clusters land in the " +
    "right size buckets") {
    // "a"×3, "b"×2, two singletons → sizes {1:2 clusters, 2:1, 3:1}
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, "c"), (7L, "d")).toDF("doc_id", "text")
    val out = docs
      .groupBy(md5($"text").as("digest"))
      .agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"), U.lng(sum($"csize")).as("n_docs"))
      .withColumn("dup_docs", $"n_docs" - $"n_clusters")
      .orderBy("csize")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 2L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }

  test("temperature mixture: tau=0.5 flattens the source imbalance and " +
    "weights sum to 1") {
    // token masses 100 vs 400: raw ratio 4x, sqrt-scaled ratio 2x
    val perSrc = Seq(("small", 100L), ("big", 400L)).toDF("source", "n_tokens")
      .withColumn("scaled", U.round6(pow($"n_tokens".cast("double"), lit(0.5))))
    val tot = perSrc.agg(U.dbl(sum(U.dec6($"scaled"))).as("tot"))
    val w = perSrc.crossJoin(broadcast(tot))
      .select($"source", U.round6($"scaled" / $"tot").as("weight"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(w("small") - 1.0 / 3) < 1e-5)
    assert(math.abs(w("big") - 2.0 / 3) < 1e-5)
    assert(math.abs(w.values.sum - 1.0) < 1e-5)
    // flattening: weight ratio strictly below the raw token ratio
    assert(w("big") / w("small") < 4.0 - 1e-6)
  }

  test("budget mixture sample keeps a deterministic, rate-respecting " +
    "subset per source") {
    val out = SparkEntry.queries("sample_mixture_budget")(spark, sfDir)
    val again = SparkEntry.queries("sample_mixture_budget")(spark, sfDir)
    val kept = out.as[(Long, String)].collect().toSet
    assert(kept === again.as[(Long, String)].collect().toSet)
    val all = Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect().toSet
    assert(kept.subsetOf(all))
    // the budget is half the corpus: the sample must be a strict subset
    assert(kept.size < all.size && kept.nonEmpty)
  }

  test("stitched row numbering equals the global-window assignment") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.t(spark, sfDir, "events")
      .select($"event_id", $"event_type")
    // 10k unique ids across many blocks, including ragged last blocks
    val stitched = operators.Windows.stitchedRowNumber(
      ev, expr("event_id div 997"), Seq($"event_id"))
      .select($"event_id", $"rn")
    val global = ev.select($"event_id",
      row_number().over(Window.orderBy("event_id")).cast("long").as("rn"))
    assert(stitched.except(global).isEmpty && global.except(stitched).isEmpty,
      "stitched numbering diverged from the global window")
    // descending order with a negated monotone block
    val desc = operators.Windows.stitchedRowNumber(
      ev, expr("-(event_id div 997)"), Seq($"event_id".desc))
      .select($"event_id", $"rn")
    val globalDesc = ev.select($"event_id",
      row_number().over(Window.orderBy($"event_id".desc)).cast("long").as("rn"))
    assert(desc.except(globalDesc).isEmpty && globalDesc.except(desc).isEmpty,
      "descending stitched numbering diverged from the global window")
  }

  test("scd2: per-user intervals are contiguous, non-degenerate, " +
    "and collapse consecutive same-state runs") {
    val iv = operators.Windows.queries("scd2_dimension")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .groupBy(_._1)
    iv.foreach { case (user, rows) =>
      val sorted = rows.sortBy(_._3)
      // exactly one open (current) interval per user, and it is the last
      assert(sorted.count(_._4.isEmpty) === 1 && sorted.last._4.isEmpty,
        s"user $user: open-interval invariant broken")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3),
            s"user $user: gap/overlap between ${a._4} and ${b._3}")
          assert(a._2 != b._2,
            s"user $user: consecutive intervals share state ${a._2}")
        case _ => ()
      }
    }
  }

  test("stratified split: exact 80/10/10 counts per stratum") {
    val rows = functions.TextOps.queries("split_train_val_test")(spark, sfDir)
      .groupBy("lang", "subset").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val perLang = Tables.t(spark, sfDir, "documents")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(perLang.nonEmpty)
    perLang.foreach { case (lang, n) =>
      val train = math.floor(n * 0.8).toLong
      val valN = math.floor(n * 0.1).toLong
      assert(rows.getOrElse((lang, "train"), 0L) === train, s"$lang train")
      assert(rows.getOrElse((lang, "val"), 0L) === valN, s"$lang val")
      assert(rows.getOrElse((lang, "test"), 0L) === n - train - valN,
        s"$lang test")
    }
  }

  test("pagerank: probability-mass invariants and determinism") {
    def run() = operators.Graph.queries("graph_pagerank_types")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val ranks = run()
    // one row per distinct event type, each rank a positive probability
    val types = Tables.t(spark, sfDir, "events")
      .select($"event_type").distinct().count()
    assert(ranks.size === types)
    assert(ranks.forall { case (_, r) => r > 0.0 && r < 1.0 })
    // total mass: 1 minus dangling loss, never above 1 (+rounding slack),
    // never below the teleport floor
    val mass = ranks.map(_._2).sum
    assert(mass <= 1.0 + 1e-4 && mass >= 0.15,
      s"rank mass $mass outside (teleport floor, 1]")
    // micro-unit arithmetic → bit-identical across runs
    assert(run() === ranks)
  }

  /** Write a minimal events table to a temp dir so a registered query can
    * run against planted rows (the queries read `dir/events.parquet`). */
  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)],
      nullValueIds: Set[Long] = Set.empty): String = {
    val dir = java.nio.file.Files.createTempDirectory("planted").toString
    val df = rows.map { case (id, uid, tSec, ty, v) =>
      (id, uid, new java.sql.Timestamp(tSec * 1000), ty,
        if (nullValueIds(id)) null else java.lang.Double.valueOf(v))
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("seq_pattern_detect: hot-user history hard-capped at SeqHistoryCap") {
    val cap = operators.Windows.SeqHistoryCap
    // hot user 1: cap views, then a click BEYOND the cap — the v[es]*c
    // match must NOT fire because the click never enters the history.
    // normal user 2: view then click → one match.
    val hot = (0 until cap).map(i =>
      (i.toLong, 1L, 100L + i, "view", 1.0)) :+
      ((cap.toLong, 1L, 100L + cap, "click", 1.0))
    val normal = Seq((90000L, 2L, 10L, "view", 1.0),
      (90001L, 2L, 20L, "click", 1.0))
    val dir = plantEvents(hot ++ normal)
    val got = operators.Windows.queries("seq_pattern_detect")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (user, n_events, n_view_click)
    assert(got === Seq((1L, cap.toLong, 0L), (2L, 2L, 1L)))
  }

  test("asof tolerance: null-valued latest view must NOT resurrect stale value") {
    // user 1: view t=10 value=5.0; view t=100 value=NULL; click t=110.
    // The LATEST view at-or-before the click is the null-valued one —
    // the match must be NULL (same as DuckDB ASOF + tolerance), never
    // the stale 5.0 judged fresh by the newer view's timestamp.
    val dir = plantEvents(Seq(
      (1L, 1L, 10L, "view", 5.0),
      (2L, 1L, 100L, "view", 0.0),
      (3L, 1L, 110L, "click", 0.0)), nullValueIds = Set(2L))
    val got = operators.Joins.queries("join_asof_tolerance")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(2)))).toSeq
    assert(got === Seq((3L, None)))
  }

  test("t-closeness: total-variation distance counts MISSING segment " +
    "cells, hand-computed on a planted release") {
    val dir = java.nio.file.Files.createTempDirectory("tclose").toString
    // nation 1: {A, A, B}; nation 2: {B} — global P = (A:.5, B:.5)
    Seq((1L, "A"), (1L, "A"), (1L, "B"), (2L, "B"))
      .toDF("c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = operators.Aggregates.queries("privacy_t_closeness")(
      spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // nation 1: ½(|2/3−½| + |1/3−½|) = 1/6 → passes t ≤ 0.2
    assert(got(1L) === ((3L, 0.166667, true)))
    // nation 2: A is ABSENT in-group — ½(|0−½| + |1−½|) = 0.5 → fails
    assert(got(2L) === ((1L, 0.5, false)))
  }

  test("sorted-neighborhood ER: near-identical neighbors match on " +
    "full evidence, far records pair but don't match") {
    val dir = java.nio.file.Files.createTempDirectory("snm").toString
    Seq(
      (10L, "widget alpha", "small", 5L, 100.0),
      (20L, "widget alphb", "small", 5L, 101.0), // sort-adjacent near-dup
      (30L, "zzz gadget", "large", 40L, 900.0))  // within w but no evidence
      .toDF("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = operators.Joins.queries("join_er_sorted_neighborhood")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(6), r.getInt(7)))).toMap
    // n=3, w=10 → all 3 pairs are candidates
    assert(got.keySet === Set((10L, 20L), (10L, 30L), (20L, 30L)))
    // jw(widget alpha, widget alphb) ≥ .95; type/size agree, price
    // within 10% → all four agreements: 4.247928+2.169925+1.765535
    // +1.415037 = 9.598425
    assert(got((10L, 20L)) === ((9.598425, 1)))
    assert(got((10L, 30L))._2 === 0)
    assert(got((20L, 30L))._2 === 0)
  }

  test("blocked-ER pair guard: planted skew (one hot block) trips the " +
    "count-before-join require; benign blocking passes") {
    // 200 rows in ONE block → 200·199/2 = 19900 candidate pairs
    val hot = spark.range(200)
      .selectExpr("'BrandX' AS p_brand", "'widget' AS tok1")
    val eHot = intercept[IllegalArgumentException] {
      operators.Joins.requireCandidatePairs(
        hot, Seq("p_brand", "tok1"), 10000L, "planted")
    }
    assert(eHot.getMessage.contains("19900 candidate pairs"))
    assert(eHot.getMessage.contains("join_er_sorted_neighborhood"),
      "guard message must point at the scale-safe alternative")
    // same 200 rows spread over 100 blocks → 100·(2·1/2) = 100 pairs
    val spread = spark.range(200)
      .selectExpr("CAST(id % 100 AS STRING) AS p_brand", "'w' AS tok1")
    operators.Joins.requireCandidatePairs(
      spread, Seq("p_brand", "tok1"), 10000L, "benign") // must not throw
    // and the registered sf-test queries stay under the real cap
    operators.Joins.queries("join_blocked_jaro")(spark, sfDir).limit(1)
      .collect() // guard passes at test SF
  }

  test("blocked-ER auto-route: above the pair cap candidates fall back " +
    "to sorted-neighborhood (ids canonical, payload sides swapped " +
    "consistently); below it the blocked path is byte-identical; the " +
    "fallback keeps the cap as its own guard") {
    import org.apache.spark.sql.functions._
    // 30 rows in ONE hot block: blocked pairs = 30·29/2 = 435,
    // sorted-neighborhood candidates = Σ min(10, 29−i) = 245.
    // id = (i·7) mod 30 is a permutation of the nm rank i, so roughly
    // half the SN pairs need the canonical swap — the payload-follows-id
    // property is exercised on both branches.
    val rows = (0 until 30).map { i =>
      val id = (i * 7) % 30
      (id.toLong, f"nm$i%02d", "BrandX", "w", s"P$id")
    }
    val p = rows.toDF("p_partkey", "nm", "p_brand", "tok1", "pay")
    def run(cap: Long) = operators.Joins.erCandidatePairs(
      p, "p_partkey", Seq("p_brand", "tok1"), Seq("pay"), cap, "planted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet
    def canon(i: Int, j: Int) = { // nm ranks i < j → canonical tuple
      val (a, b) = (rows(i), rows(j))
      if (a._1 < b._1) (a._1, b._1, a._2, b._2, a._5, b._5)
      else (b._1, a._1, b._2, a._2, b._5, a._5)
    }
    // cap 1000 ≥ 435 → blocked route: every i<j pair of the block
    val blockedExpect = (for (i <- 0 until 30; j <- i + 1 until 30)
      yield canon(i, j)).toSet
    assert(run(1000L) === blockedExpect)
    // cap 400: blocked 435 > 400 → SN route (n·w = 300 ≤ 400):
    // exactly the ≤10-forward-neighbor pairs in nm order
    val snExpect = (for (i <- 0 until 30; j <- i + 1 to math.min(i + 10, 29))
      yield canon(i, j)).toSet
    assert(run(400L) === snExpect)
    assert(snExpect.subsetOf(blockedExpect) && snExpect.size === 245)
    // cap 200: blocked 435 > 200 → SN route, but n·w = 300 > 200 →
    // the fallback's own guard fires (nothing above the cap ever runs)
    val e = intercept[IllegalArgumentException](run(200L))
    assert(e.getMessage.contains("sorted-neighborhood fallback"))
  }

  test("ml_knn_classify guard: a data-scaled embeddings table fails " +
    "loudly before the all-pairs join launches") {
    val dir = java.nio.file.Files.createTempDirectory("knncap").toString
    spark.range(30001)
      .selectExpr("id AS vec_id",
        "array(CAST(id AS FLOAT), 1.0F) AS embedding",
        "CAST(id % 3 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      dedup.Dedup.queries("ml_knn_classify")(spark, dir)
    }
    assert(e.getMessage.contains("30001 vectors"))
    assert(e.getMessage.contains("ml_knn_classify_ann"),
      "guard message must point at the bucketed ANN path")
  }
  test("count-min sketch: estimates are one-sided (n_cms >= n_true), " +
    "exact for an isolated key, and ordered by true count") {
    // 600 distinct users over 512 buckets force real collisions in at
    // least one of the 4 hash rows for SOME keys while the min across
    // rows keeps every estimate >= truth; user 9999 gets 50 events so
    // it tops the ranking.
    val rows = (1 to 600).flatMap(u =>
      (0 until 1 + u % 3).map(k =>
        ((u * 100 + k).toLong, u.toLong, 100L + k, "view", 1.0))) ++
      (0 until 50).map(k => ((99990000L + k, 9999L, 200L + k, "view", 1.0)))
    val dir = plantEvents(rows)
    val got = operators.Aggregates.queries("agg_countmin_freq")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got.length === 20)
    // the hot key leads and every estimate is >= its true count with
    // err = n_cms - n_true
    assert(got.head._1 === 9999L && got.head._2 === 50L)
    assert(got.forall { case (_, nt, nc, err) => nc >= nt && err == nc - nt })
    // ranking is by true count desc then user id
    val keys = got.map(g => (-g._2, g._1))
    assert(keys === keys.sorted)
  }

  test("exactQuantiles: bit-identical to Spark's percentile across " +
    "groups, interpolation fractions, negatives, duplicates, nulls") {
    import spark.implicits._
    // planted multisets exercising: even/odd counts (integral and
    // fractional pos), heavy duplicates (one cv covering several
    // ranks), negative money values (trunc-div block keys), a
    // single-value group, and a null (ignored by both paths)
    val rows = (
      (1 to 7).map(i => ("a", i * 1.25)) ++
      Seq.fill(5)(("b", 10.00)) ++ Seq(("b", -3.50), ("b", 99.99)) ++
      Seq(("c", 42.42)) ++
      // exact 2-decimal doubles (the helper's money contract): build
      // from integer cents — i*0.77 would be off by an ulp from the
      // decimal and the cents round-trip legitimately differs there
      (1 to 100).map(i => ("d", (i * 77 - 5000).toDouble / 100.0))
    ).toDF("g", "v")
      .unionByName(Seq(("a", Option.empty[Double])).toDF("g", "v"))
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
    val want = rows.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val got = operators.Aggregates.exactQuantiles(rows, "g", "v", ps)
      .collect().map(r => r.getString(0) ->
        ps.indices.map(i => r.getDouble(1 + i))).toMap
    assert(got.keySet === want.keySet)
    for (g <- want.keySet; i <- ps.indices)
      assert(got(g)(i) === want(g)(i), s"group $g p=${ps(i)}")
  }

  test("exactQuantiles: off-grid input fails loudly (ADVICE r13 — the " +
    "grid contract is enforced, not assumed) and `scale` widens it") {
    import spark.implicits._
    // 3-decimal value under the default cents scale: before the guard
    // this silently collapsed 1.234 and 1.23 into one bucket
    val bad = Seq(("a", 1.23), ("a", 1.234)).toDF("g", "v")
    val e = intercept[Exception] {
      operators.Aggregates.exactQuantiles(bad, "g", "v", Seq(0.5)).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exactQuantiles")),
      s"error did not name the contract: ${msgs(e).mkString(" | ")}")
    // the same data on the matching 1e-4 grid both passes and agrees
    // with Spark's percentile bit-for-bit
    val vals = Seq(1.23, 1.234, 5.0001, -2.75, 0.0)
    val ok = vals.map(("a", _)).toDF("g", "v")
    val want = ok.agg(expr("percentile(v, array(0.25, 0.5, 0.75))"))
      .head().getSeq[Double](0)
    val got = operators.Aggregates
      .exactQuantiles(ok, "g", "v", Seq(0.25, 0.5, 0.75), scale = 10000L)
      .head()
    assert((1 to 3).map(got.getDouble) === want)
  }

  test("window_outlier_mad routed fits: percentile and stitched paths " +
    "return identical rows (the route moves cost, never values)") {
    val base = SparkEntry.queries("window_outlier_mad")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    // force the stitched exactQuantiles route through the cap
    Attrib.drain()
    val forced = operators.Aggregates.outlierMad(spark, sfDir, routeCap = 0L)
    // building the plan records the note: the attribution names the
    // path that ran
    val notes = Attrib.drain().toMap
    assert(notes.get("outlier_mad_fit").contains("stitched"), notes)
    val stitched = forced.collect().map(_.toString).sorted.toSeq
    assert(base.nonEmpty && stitched === base)
  }

  test("pctBoundGuard: enforces + attributes the percentile boundedness " +
    "contract (VERDICT r13 item 4)") {
    // under the cap: passes and records the bound class for the bench
    // attribution
    Attrib.drain()
    operators.Aggregates.pctBoundGuard(spark, sfDir, "region", "site_ok")
    val notes = Attrib.drain().toMap
    assert(notes.get("pct_bound").exists(_.startsWith("site_ok<=region:")),
      s"missing attribution note: $notes")
    // over the cap: fails loudly, naming the site, the bound, and the
    // scale-safe alternative
    val e = intercept[IllegalArgumentException] {
      operators.Aggregates.pctBoundGuard(spark, sfDir, "region",
        "site_hot", cap = 2L)
    }
    assert(e.getMessage.contains("site_hot") &&
      e.getMessage.contains("exactQuantiles"), e.getMessage)
  }

  test("privacy_dp_count_laplace: noise equals the XXH64-seeded Laplace " +
    "inverse CDF, depends on the group key only, and the integer " +
    "release never goes negative") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def plant(counts: Map[Int, Int]): String = {
      val dir = java.nio.file.Files.createTempDirectory("dp").toString
      counts.toSeq.flatMap { case (nat, n) =>
        (0 until n).map(i => (nat, s"c$nat-$i"))
      }.toDF("c_nationkey", "c_name")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      dir
    }
    // independent reference: raw XXH64 → unsigned bridge → Laplace
    // inverse CDF with the 1e-12 ln bridge, b = 2
    def refNoise(key: Long): Double = {
      val two64 = 1.8446744073709552e19
      val h = XXH64.hashLong(key, 42L)
      val unsigned = h.toDouble + (if (h < 0) two64 else 0.0)
      val u = (unsigned + 0.5) / two64
      val cu = u - 0.5
      val lnr = math.round(math.log(1.0 - 2.0 * math.abs(cu)) * 1e12) / 1e12
      -2.0 * math.signum(cu) * lnr
    }
    def r6(x: Double): Double = math.round(x * 1e6) / 1e6
    def run(dir: String): Map[Int, (Long, Double, Double, Long)] =
      operators.Aggregates.queries("privacy_dp_count_laplace")(spark, dir)
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
        .toMap
    val a = run(plant(Map(1 -> 3, 2 -> 4, 3 -> 5)))
    for ((nat, (n, noise, released, relInt)) <- a) {
      assert(math.abs(noise - r6(refNoise(nat.toLong))) < 1e-9,
        s"noise($nat)")
      assert(math.abs(released - r6(n + refNoise(nat.toLong))) < 1e-9,
        s"released($nat)")
      assert(relInt >= 0L && relInt ===
        math.max(0L, math.floor(n + refNoise(nat.toLong) + 0.5).toLong),
        s"released_int($nat)")
    }
    // key-only dependence: same nations, different counts → same noise
    val b = run(plant(Map(1 -> 30, 2 -> 1)))
    assert(b(1)._2 === a(1)._2 && b(2)._2 === a(2)._2,
      "noise must be a function of the group key alone")
    // tiny count + strongly negative noise must clamp, not go negative
    assert(b.values.forall(_._4 >= 0L))
  }
}
