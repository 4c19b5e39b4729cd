package graft

import graft.functions.VectorOps
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine kernel matches hand computation, guards zero norm") {
    val df = Seq(
      (1L, Seq(1.0, 0.0), Seq(0.0, 1.0)), // orthogonal → 0
      (2L, Seq(1.0, 1.0), Seq(1.0, 1.0)), // identical → 1
      (3L, Seq(1.0, 0.0), Seq(0.0, 0.0))) // zero norm → null
      .toDF("id", "a", "b")
    val out = df.select($"id",
      VectorOps.cosine($"a", $"b").as("c")).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(math.abs(out(0)._2.get.asInstanceOf[Double] - 0.0) < 1e-12)
    assert(math.abs(out(1)._2.get.asInstanceOf[Double] - 1.0) < 1e-12)
    assert(out(2)._2.isEmpty)
  }

  test("LSH bucket signature: column and driver implementations agree") {
    val vecs = Tables.t(spark, sfDir, "embeddings").limit(50)
      .select($"vec_id", VectorOps.toDouble($"embedding").as("vd"))
    val fromCol = vecs.select($"vec_id", Similarity.bucketCol($"vd").as("b"))
      .as[(Long, Long)].collect().toMap
    val raw = vecs.as[(Long, Seq[Double])].collect()
    raw.foreach { case (id, v) =>
      assert(Similarity.signatureOf(v.toArray) === fromCol(id),
        s"signature mismatch for vec $id")
    }
  }

  test("ANN top-k recall vs brute force is useful and strictly cheaper") {
    val exact = Similarity.bruteForceTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.3, s"ANN recall too low: $recall")
    // Selectivity: the probe set touches a strict subset of buckets.
    val total = Tables.t(spark, sfDir, "embeddings").count()
    val probed = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .withColumn("bucket", Similarity.bucketCol($"vd"))
      .filter($"bucket".isin(
        { val q = Similarity.signatureOf(
            Tables.t(spark, sfDir, "embeddings").filter($"vec_id" === 0L)
              .select(VectorOps.toDouble($"embedding")).head().getSeq[Double](0).toArray)
          val f1 = (0 until Similarity.NBits).map(b => q ^ (1L << b))
          val f2 = for (a <- 0 until Similarity.NBits; b <- a + 1 until Similarity.NBits)
            yield q ^ (1L << a) ^ (1L << b)
          (q +: (f1 ++ f2)).distinct }: _*))
      .count()
    assert(probed < total / 2, s"probed $probed of $total — not selective")
  }

  test("IVF: centroid assignment is total, probes are selective, recall useful") {
    val cents = Similarity.trainIvfCentroids(spark, sfDir, 16)
    assert(cents.length === 16)
    val assigned = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .withColumn("cid", Similarity.assignCol($"vd", cents))
    assert(assigned.filter($"cid".isNull).count() === 0)
    val sizes = assigned.groupBy("cid").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 500L)
    val exact = Similarity.bruteForceTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size === 10)
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall too low: $recall")
  }

  test("PQ: codebooks tile the space, codes are total, ADC recall useful") {
    val books = Similarity.pqCodebooks(spark, sfDir, 8, 16)
    assert(books.length === 8)
    assert(books.forall(_.length === 16))
    assert(books.forall(_.forall(_.length === Similarity.Dim / 8)))
    // exact inner-product top-10 (ADC approximates IP, not cosine)
    val qv = Tables.t(spark, sfDir, "embeddings").filter($"vec_id" === 0L)
      .select(VectorOps.toDouble($"embedding")).head().getSeq[Double](0)
    val exact = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .filter($"vec_id" =!= 0L)
      .select($"vec_id", VectorOps.dot($"vd", typedlit(qv)).as("ip"))
      .orderBy($"ip".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(pq.size === 10)
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ ADC recall too low: $recall")
    // Re-running serves the memoized codebooks and the same result set.
    val again = Similarity.pqTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(again === pq)
  }

  test("IVF-PQ: probe filter composes with ADC; results within the PQ ranking") {
    val ivfpq = Similarity.ivfPqTopK(spark, sfDir, 0L, 10)
      .as[(Long, Double)].collect()
    assert(ivfpq.length === 10)
    // every IVF-PQ hit carries the SAME ADC score plain PQ assigns it
    // (the coarse stage only filters, never rescores) ...
    val pqAll = Similarity.pqTopK(spark, sfDir, 0L, 500)
      .as[(Long, Double)].collect().toMap
    ivfpq.foreach { case (id, s) =>
      assert(pqAll(id) === s, s"vec $id rescored: $s vs ${pqAll(id)}")
    }
    // ... and the probed cells cover a strict subset of the corpus
    val cents = Similarity.trainIvfCentroids(spark, sfDir, 16)
    val total = Tables.t(spark, sfDir, "embeddings").count()
    val inProbe = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .withColumn("cell", Similarity.assignCol($"vd", cents))
      .groupBy("cell").count().orderBy($"count".desc)
      .limit(4).agg(org.apache.spark.sql.functions.sum("count"))
      .as[Long].head()
    assert(inProbe < total, "coarse cells do not partition the corpus")
  }

  test("residual IVF-PQ: quantization error drops, recall >= raw IVF-PQ") {
    // exact inner-product top-10 restricted to the PROBED cells (both
    // variants share the identical coarse prune, so the fair recall
    // denominator is the ADC stage's own candidate set — coarse recall
    // loss is common to both)
    val cents = Similarity.trainIvfCentroids(spark, sfDir, 16)
    val qv = Tables.t(spark, sfDir, "embeddings").filter($"vec_id" === 0L)
      .select(VectorOps.toDouble($"embedding")).head().getSeq[Double](0)
    def sq(c: Array[Double]): Double =
      c.indices.foldLeft(0.0)((a, i) => a + (c(i) - qv(i)) * (c(i) - qv(i)))
    val probes = cents.sortBy(c => sq(c._2)).take(4).map(_._1).toSeq
    val exact = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .withColumn("cell", Similarity.assignCol($"vd", cents))
      .filter($"vec_id" =!= 0L && $"cell".isin(probes: _*))
      .select($"vec_id", VectorOps.dot($"vd", typedlit(qv)).as("ip"))
      .orderBy($"ip".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val raw = Similarity.ivfPqTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val res = Similarity.ivfPqResidualTopK(spark, sfDir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(res.size === 10)
    val rawRecall = (exact intersect raw).size.toDouble / exact.size
    val resRecall = (exact intersect res).size.toDouble / exact.size
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall < raw $rawRecall")
    // the mechanism: residual codebooks reconstruct the probed vectors
    // with LOWER total squared error than raw codebooks at the same
    // (m, k) budget — measured over every probed vector, not sampled
    val books = Similarity.pqCodebooks(spark, sfDir, 8, 16)
    val rBooks = Similarity.residualPqCodebooks(spark, sfDir, 8, 16, 16)
    val centById = cents.toMap
    val sub = Similarity.Dim / 8
    val probed = Tables.t(spark, sfDir, "embeddings")
      .withColumn("vd", VectorOps.toDouble($"embedding"))
      .withColumn("cell", Similarity.assignCol($"vd", cents))
      .filter($"cell".isin(probes: _*))
      .select($"vd", $"cell").collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getInt(1)))
    def nearest(v: Array[Double], book: Array[Array[Double]]): Array[Double] =
      book.minBy(b => b.indices.foldLeft(0.0)((a, i) =>
        a + (b(i) - v(i)) * (b(i) - v(i))))
    def errRaw(v: Array[Double]): Double = (0 until 8).map { mi =>
      val s = v.slice(mi * sub, mi * sub + sub)
      val c = nearest(s, books(mi))
      s.indices.foldLeft(0.0)((a, i) => a + (s(i) - c(i)) * (s(i) - c(i)))
    }.sum
    def errRes(v: Array[Double], cell: Int): Double = {
      val cv = centById(cell)
      val r = v.indices.map(i => v(i) - cv(i)).toArray
      (0 until 8).map { mi =>
        val s = r.slice(mi * sub, mi * sub + sub)
        val c = nearest(s, rBooks(mi))
        s.indices.foldLeft(0.0)((a, i) => a + (s(i) - c(i)) * (s(i) - c(i)))
      }.sum
    }
    val totRaw = probed.map(p => errRaw(p._1)).sum
    val totRes = probed.map(p => errRes(p._1, p._2)).sum
    assert(totRes < totRaw,
      s"residual reconstruction error $totRes !< raw $totRaw")
  }

  test("fused NearestCentroid matches the HOF argmin, incl. tie-break and gaps") {
    val centroids: Array[(Int, Array[Double])] = Array(
      0 -> Array(0.0, 0.0),
      // non-contiguous id (cluster 1 "emptied"): index→id mapping must hold
      2 -> Array(10.0, 0.0),
      3 -> Array(0.0, 10.0),
      // duplicate of id 0: ties must break to the LOWER id
      4 -> Array(0.0, 0.0))
    val vecs = Seq(
      (1L, Seq(1.0, 1.0)),    // → 0 (tie with 4 → lower id)
      (2L, Seq(9.0, 1.0)),    // → 2
      (3L, Seq(1.0, 9.0)),    // → 3
      (4L, Seq(0.0, 0.0)))    // → 0 (exact tie with 4)
      .toDF("id", "vd")
    val fused = vecs.select($"id",
      Similarity.assignCol($"vd", centroids).as("cid"))
      .as[(Long, Int)].collect().toMap
    val hof = vecs.select($"id",
      Similarity.assignColHof($"vd", centroids).as("cid"))
      .as[(Long, Int)].collect().toMap
    assert(fused === hof)
    assert(fused === Map(1L -> 0, 2L -> 2, 3L -> 3, 4L -> 0))
  }

  test("brute-force top-k is ordered by similarity desc") {
    val rows = Similarity.bruteForceTopK(spark, sfDir, 0L, 20)
      .select("cos_sim").as[Double].collect()
    assert(rows.length === 20)
    assert(rows.toSeq === rows.sorted(Ordering[Double].reverse).toSeq)
  }

  test("maxsim top-k equals a driver-side reference on the real table") {
    val parts = 4
    def subs(v: Array[Double]) = v.grouped(v.length / parts).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0.0 || nb == 0.0) -2.0
      else a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val all = Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    val q = subs(all(0L))
    val expected = all.removed(0L).map { case (id, v) =>
      val ds = subs(v)
      id -> q.map(qs => ds.map(d => cos(d, qs)).max).sum / parts
    }
    val got = Similarity.maxsimTopK(spark, sfDir, 0L, 20)
      .as[(Long, Double)].collect()
    assert(got.length === 20)
    got.foreach { case (id, s) =>
      assert(math.abs(s - expected(id)) < 1e-6, s"vec $id: $s vs ${expected(id)}")
    }
    // the engine's top-k must be the reference's top-k — ranked on the
    // SAME 6-decimal rounding the engine orders by, else sub-1e-6 score
    // ties break differently (engine: vec_id; raw doubles: score ulps)
    def r6(x: Double): Double = math.round(x * 1e6) / 1e6
    val refTop = expected.toSeq.sortBy { case (id, s) => (-r6(s), id) }
      .take(20).map(_._1)
    assert(got.map(_._1).toSeq === refTop)
  }

  test("vec_ldot matches the HOF integer dot, incl. null/mismatch edges") {
    val df = Seq(
      (1L, Some(Seq(1L, -2L, 3L)), Some(Seq(4L, 5L, -6L))),   // -24
      (2L, Some(Seq(127L, 127L)), Some(Seq(127L, 127L))),     // 32258
      (3L, None, Some(Seq(1L))),                              // null array
      (4L, Some(Seq(1L, 2L)), Some(Seq(1L)))                  // len mismatch
    ).toDF("id", "a", "b")
    val fused = df.selectExpr("id", "vec_ldot(a, b) AS v")
      .as[(Long, Option[Long])].collect().toMap
    val hof = df.selectExpr("id",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, p) -> s + p) AS v")
      .as[(Long, Option[Long])].collect().toMap
    assert(fused === hof)
    assert(fused === Map(1L -> Some(-24L), 2L -> Some(32258L),
      3L -> None, 4L -> None))
  }

  test("int8-quantized top-k recall vs the float path is high") {
    val exact = Similarity.bruteForceTopK(spark, sfDir, 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    val quant = SparkEntry.queries("sim_topk_int8")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSet
    assert(quant.size === 20)
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.85, s"int8 recall@20 = $recall")
  }

  test("binary hamming top-k: distances in [0,64], candidates carry " +
    "meaningfully higher cosine than the corpus at large") {
    val top = SparkEntry.queries("sim_hamming_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.length === 20)
    assert(top.forall { case (_, h, _) => h >= 0 && h <= 64 })
    // ordered by hamming asc
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.toSeq)
    val candMean = top.map(_._3).sum / top.length
    val corpusMean = Similarity.bruteForceTopK(spark, sfDir, 0L, 100000)
      .agg(avg($"cos_sim")).head().getDouble(0)
    assert(candMean > corpusMean + 0.05,
      s"1-bit candidates ($candMean) no better than corpus mean " +
        s"($corpusMean) — sign signatures carry no signal?")
  }

  test("grid join 2d: exhaustive within r across cell borders, " +
    "negative-coordinate cells, no far pairs") {
    val dir = java.nio.file.Files.createTempDirectory("grid2d").toString
    def v(x: Float, y: Float) = Array(x, y) ++ Array.fill(62)(0.0f)
    Seq(
      (1L, v(0.025f, 0.025f)),  // cell (0,0)
      (2L, v(0.05f, 0.05f)),    // cell (0,0)
      (3L, v(0.115f, 0.025f)),  // cell (1,0) — cross-border neighbor
      (4L, v(2.0f, 2.0f)),      // far
      (5L, v(-0.025f, 0.025f))) // cell (−1,0) — floor on negatives
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.queries("sim_grid_join_2d")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // d(1,3)=0.09 crosses cells (0,0)→(1,0); d(3,5)=0.14 > r drops
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 5L), (2L, 5L)))
    assert(math.abs(got((1L, 2L)) - 0.035355) < 1e-6)
    assert(math.abs(got((2L, 5L)) - 0.079057) < 1e-6)
    assert(math.abs(got((1L, 3L)) - 0.09) < 1e-6)
  }

  test("matryoshka overlap: truncation at the full dimension is the " +
    "identity ranking (overlap = k), 16-dim overlap stays in range") {
    val full = Similarity.matryoshkaOverlap(spark, sfDir, truncDims = 64, k = 5)
      .collect()(0)
    assert(full.getAs[Long]("n_overlap") === 5L)
    assert(full.getAs[Double]("overlap_frac") === 1.0)
    val t16 = Similarity.matryoshkaOverlap(spark, sfDir, truncDims = 16, k = 5)
      .collect()(0)
    val n = t16.getAs[Long]("n_overlap")
    assert(n >= 0L && n <= 5L)
  }

  test("adaptiveNBits: integer thresholds (gate corpora stay at 8 bits, " +
    "width grows past 64·2^b, ceiling 16) and the SQL CASE ladder " +
    "replays the Scala rule exactly") {
    import Similarity._
    assert(adaptiveNBits(0L) === 8)
    assert(adaptiveNBits(2000L) === 8)    // sf0.1 corpus
    assert(adaptiveNBits(16384L) === 8)   // boundary: 64·2^8 inclusive
    assert(adaptiveNBits(16385L) === 9)
    assert(adaptiveNBits(32768L) === 9)
    assert(adaptiveNBits(32769L) === 10)
    assert(adaptiveNBits(Long.MaxValue / 4) === 16) // ceiling
    // the plane pool must cover the ceiling, with the legacy 8-plane
    // prefix intact (pinned oracle literals depend on it)
    assert(planes.length === MaxBits)
    assert(planesSqlLiteral === planesSqlLiteralTake(NBits))
    // CASE-ladder parity: evaluate the generated SQL (same CASE
    // semantics in Spark SQL as DuckDB — pure integer comparisons)
    val ns = Seq(0L, 1L, 16384L, 16385L, 32768L, 32769L,
      1L << 20, 1L << 30, 1L << 40)
    for (n <- ns) {
      val got = spark.sql(s"SELECT ${adaptiveNBitsSql(n.toString + "L")}")
        .head().getInt(0)
      assert(got === adaptiveNBits(n), s"n=$n")
    }
  }

  test("index eval panel: one row per variant, metrics in [0,1], exact " +
    "ranking dominates ADC on the identical candidate set") {
    val rows = Similarity.evalIndexPanel(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(rows.keySet === Set("ivf", "ivf_pq", "ivf_pq_residual",
      "lsh4", "pq"))
    rows.foreach { case (name, (rec, ndcg)) =>
      assert(rec >= 0.0 && rec <= 1.0, s"$name recall=$rec")
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"$name ndcg=$ndcg")
    }
    // IVF and IVF-PQ rank the SAME probed candidate set; exact-cosine
    // ranking is the optimal selection of ground-truth members from any
    // candidate pool (a candidate outranking a gt member by exact score
    // is itself in gt), so ADC scoring can never beat it
    assert(rows("ivf")._1 >= rows("ivf_pq")._1)
    assert(rows("ivf")._1 >= rows("ivf_pq_residual")._1)
    // the panel must actually find signal: exact-within-probes recall
    // on this corpus is high (0.87 at sf0.01's draw)
    assert(rows("ivf")._1 > 0.5)
  }

  test("cluster-cap selection: <= CapK per cluster, keeps exactly the " +
    "min-distance vectors under the aggregator's total order") {
    import graft.similarity.Similarity
    val rows = SparkEntry.queries("sample_cluster_cap")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val byCid = rows.groupBy(_._1)
    byCid.foreach { case (cid, rs) =>
      assert(rs.length <= Similarity.CapK, s"cluster $cid over cap")
      // ranks contiguous from 1, dist non-decreasing along rank
      assert(rs.sortBy(_._2).map(_._2).toSeq === (1L to rs.length).toSeq)
      val ds = rs.sortBy(_._2).map(_._4).toSeq
      assert(ds === ds.sorted, s"rank order not by distance in $cid")
    }
    // brute-force reference: full per-cluster assignment + sort
    val cents = Similarity.semCentroids(spark, sfDir)
    val vecs = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val want = vecs.map { case (id, v) =>
      val (cid, _) = cents.map(c => (c._1.toLong, sq(v, c._2))).minBy(x => (x._2, x._1))
      (cid, id)
    }.groupBy(_._1).iterator.flatMap { case (cid, members) =>
      val scored = members.map { case (_, id) =>
        val c = cents.find(_._1.toLong == cid).get._2
        val v = vecs.find(_._1 == id).get._2
        // the engine's expanded fold: dot(v,v) - 2 dot(v,c) + dot(c,c)
        val dvv = v.zip(v).map { case (x, y) => x * y }.sum
        val dvc = v.zip(c).map { case (x, y) => x * y }.sum
        val dcc = c.map(x => x * x).sum
        (dvv - 2.0 * dvc + dcc, id)
      }
      scored.sortBy { case (dist, id) => (dist, -id) } // TopKAgg tie rule
        .take(Similarity.CapK).map(_._2).map(id => (cid, id))
    }.toSet
    assert(rows.map(r => (r._1, r._3)).toSet === want)
  }
}
