package graft.similarity

import graft.{Cut, Derived, Tables, U}
import graft.functions.VectorOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table — SURVEY.md §2 B.6
  * `sim_cosine_topk`.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine against a broadcast query vector +
  *    TakeOrderedAndProject. One scan, no shuffle of the vectors — the
  *    correctness baseline and still the right plan when the query side is
  *    a handful of vectors even at 100 TB (the scan is embarrassingly
  *    parallel; top-k merges per-partition heaps).
  *  - [[annTopK]]: random-hyperplane LSH. Vectors are bucketed by a
  *    sign-bit signature; the query probes its own bucket plus all 1-bit
  *    flips (multi-probe), then scores candidates exactly. At scale the
  *    bucket id is a partition key: the probe touches ~(nBits+1)/2^nBits
  *    of the data instead of all of it.
  */
object Similarity {
  val Dim = 64
  // Bucket-bit count trades selectivity vs recall: 2^8 = 256 buckets is
  // right for ~10^2–10^4 vectors; at 100 TB you raise it so bucket size
  // stays bounded and make `bucket` the storage partition key. The
  // query-time ANN paths keep this fixed width (their oracles pin the
  // 8-plane literal); corpus-scaled derivations (the near-dup edge
  // layout) use [[adaptiveNBits]] instead.
  val NBits = 8

  /** Widest signature the plane pool supports (the adaptive ceiling). */
  val MaxBits = 16

  /** Target EXPECTED bucket occupancy for the adaptive quantizer: the
    * near-dup pair stage is occupancy-quadratic per bucket (bounded by
    * the bucket cap), so holding n/2^b ≈ 64 keeps the derived edge set
    * ~linear in the corpus (≈ 32·n pairs pre-threshold) instead of the
    * measured ~quadratic growth under fixed 8 bits (BASELINE.md r11
    * sf2: graph_kcore 0.9 → 6.1 s as the edge set crossed the driver
    * cap). */
  val EdgeTargetOccupancy = 64

  /** Quantizer width for corpus-scaled LSH derivations: the smallest
    * b in [NBits, MaxBits] with n ≤ EdgeTargetOccupancy·2^b. Pure
    * integer thresholds — NO log/ceil, so the DuckDB replay (a CASE
    * ladder over the same 9 thresholds, [[adaptiveNBitsSql]]) can
    * never diverge on a floating-point tie. Test-gate corpora
    * (n ≤ 16384) stay at 8 bits, so every sf0.01/sf0.1 result is
    * unchanged; the width starts growing at n > 2^14. */
  def adaptiveNBits(n: Long): Int = {
    var b = NBits
    while (b < MaxBits && n > (EdgeTargetOccupancy.toLong << b)) b += 1
    b
  }

  /** The DuckDB replay of [[adaptiveNBits]] over a corpus count
    * expression: an integer-threshold CASE ladder (descending), bit-
    * identical to the Scala loop by construction. */
  def adaptiveNBitsSql(nExpr: String): String = {
    val cases = ((NBits + 1) to MaxBits).reverse.map { b =>
      s"WHEN $nExpr > ${EdgeTargetOccupancy.toLong << (b - 1)} THEN $b"
    }
    s"CASE ${cases.mkString(" ")} ELSE $NBits END"
  }

  /** Deterministic Gaussian hyperplanes (fixed seed — no RNG at query
    * time, signatures reproducible across runs/sessions/executors).
    * The pool holds MaxBits planes; Array.fill draws row-major, so the
    * first NBits rows are bit-identical to the pre-adaptive 8-plane
    * array and every pinned 8-bit oracle literal is unchanged. */
  lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(MaxBits, Dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH signature of a double-array column (driver mirror:
    * [[signatureOf]]). Bit b = 1 iff dot(v, plane_b) > 0. */
  def bucketCol(vec: Column, nBits: Int = NBits): Column = {
    planes.take(nBits).foldLeft(lit(0L)) { case (acc, p) =>
      val d = dot(vec, typedlit(p.toSeq))
      acc * 2 + when(d > 0.0, 1L).otherwise(0L)
    }
  }

  /** The first NBits hyperplanes as a DuckDB LIST-of-LIST literal.
    * Scala's `Double.toString` is shortest-round-trip, so DuckDB parses
    * back the bit-identical doubles — which makes the "engine-defined"
    * sign-bit bucketing REPLAYABLE in the oracle: same planes, same
    * sequential dot fold, same signs. Used by the `sim_ann_lsh_topk`
    * and `dedup_embedding_lsh` oracles (pinned 8-bit); the adaptive
    * edge derivation slices [[planesSqlLiteralTake]](MaxBits). */
  lazy val planesSqlLiteral: String = planesSqlLiteralTake(NBits)

  /** The bucket expression over a DuckDB double-list column `v`:
    * mirror of [[bucketCol]] (fold acc*2 + sign bit, plane order). */
  def bucketSql(v: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(ps, p ->
       |        CASE WHEN list_dot_product($v, p) > 0.0
       |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (a, x) -> a * 2 + x)""".stripMargin

  /** DCG discount weights round6(1/log2(i+1)), i = 1..k — computed ONCE
    * here and interpolated as literals into both engines (see
    * sim_eval_recall_ndcg), so no transcendental runs at query time. */
  def ndcgWeights(k: Int): Seq[Double] =
    (1 to k).map(i =>
      math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))) / 1e6)

  /** The first `n` hyperplanes as a DuckDB literal (the coarser-bucket
    * twin of [[planesSqlLiteral]], for the eval query's 4-bit buckets). */
  def planesSqlLiteralTake(n: Int): String =
    planes.take(n).map(p => p.mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Driver-side signature of a plain vector (for the query point). */
  def signatureOf(v: Array[Double], nBits: Int = NBits): Long =
    planes.take(nBits).foldLeft(0L) { (acc, p) =>
      val d = p.indices.foldLeft(0.0)((s, i) => s + p(i) * v(i))
      acc * 2 + (if (d > 0.0) 1L else 0L)
    }

  private def queryVector(s: SparkSession, d: String, id: Long): Array[Double] =
    Tables.t(s, d, "embeddings").filter(col("vec_id") === id)
      .select(toDouble(col("embedding"))).head().getSeq[Double](0).toArray

  def bruteForceTopK(s: SparkSession, d: String, queryId: Long, k: Int): DataFrame = {
    val q = typedlit(queryVector(s, d, queryId).toSeq)
    Tables.t(s, d, "embeddings")
      .select(col("vec_id"),
        round(cosine(toDouble(col("embedding")), q), 6).as("cos_sim"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Top-k overlap between the full-dimension cosine ranking and the
    * `truncDims`-prefix ranking for query 0 — see `sim_matryoshka_eval`.
    * One scan scores both similarities; `truncDims` = the full dimension
    * degenerates to overlap = k (the SimilaritySpec contract). */
  def matryoshkaOverlap(s: SparkSession, d: String, truncDims: Int,
      k: Int): DataFrame = {
    val qv = queryVector(s, d, 0L)
    val qFull = typedlit(qv.toSeq)
    val qTrunc = typedlit(qv.take(truncDims).toSeq)
    val vd = toDouble(col("embedding"))
    val scored = Tables.t(s, d, "embeddings")
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        U.round6(cosine(vd, qFull)).as("cf"),
        U.round6(cosine(slice(vd, 1, truncDims), qTrunc)).as("ct"))
    val topFull = scored.orderBy(col("cf").desc, col("vec_id"))
      .limit(k).select(col("vec_id"))
    val topTrunc = scored.orderBy(col("ct").desc, col("vec_id"))
      .limit(k).select(col("vec_id"))
    topFull.join(topTrunc, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), col("n_overlap"),
        U.round6(col("n_overlap") / lit(k.toDouble)).as("overlap_frac"))
  }

  /** Multi-vector maxsim top-k (see the `sim_maxsim_topk` registry
    * comment). `parts` sub-vectors of `dim/parts` each; score =
    * mean_q max_d cos(sub_q, sub_d). Zero-norm sub-vectors contribute
    * -2 (below every real cosine) instead of null. */
  def maxsimTopK(s: SparkSession, d: String, queryId: Long, k: Int,
      parts: Int = 4): DataFrame = {
    val qv = queryVector(s, d, queryId)
    require(qv.length % parts == 0, s"dim ${qv.length} not divisible by $parts")
    val sub = qv.length / parts
    val qsubs = (0 until parts)
      .map(p => typedlit(qv.slice(p * sub, (p + 1) * sub).toSeq))
    val vd = toDouble(col("embedding"))
    def docSub(p: Int) = slice(vd, p * sub + 1, sub)
    val score = (0 until parts).map { qi =>
      greatest((0 until parts).map(di =>
        coalesce(cosine(docSub(di), qsubs(qi)), lit(-2.0))): _*)
    }.reduce(_ + _)
    Tables.t(s, d, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(score / parts, 6).as("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id"))
      .limit(k)
  }

  def annTopK(s: SparkSession, d: String, queryId: Long, k: Int): DataFrame = {
    val qv = queryVector(s, d, queryId)
    val qSig = signatureOf(qv)
    // Multi-probe: own bucket + every 1-bit and 2-bit flip (37 of 256
    // buckets ≈ 14% of the data — the recall/selectivity dial).
    val flips1 = (0 until NBits).map(b => qSig ^ (1L << b))
    val flips2 = for (a <- 0 until NBits; b <- a + 1 until NBits)
      yield qSig ^ (1L << a) ^ (1L << b)
    val probes = (qSig +: (flips1 ++ flips2)).distinct
    val q = typedlit(qv.toSeq)
    Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .withColumn("bucket", bucketCol(col("vd")))
      // At scale `bucket` is the storage partition key → partition pruning
      // makes this filter skip whole files; here it prunes post-scan.
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine(col("vd"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) coarse quantizer: k-means centroids trained with
    * deterministic init (the first `k` vectors by id) and a fixed number
    * of Lloyd iterations, all as DataFrame aggregations. Returns the
    * centroid vectors. At 100 TB: train on a sample, then `assignCol` is
    * one broadcast argmin per row and `centroid_id` becomes the storage
    * partition key — a query probes `nProbe` partitions instead of the
    * full corpus (the IVF counterpart of the LSH bucket path above).
    */
  def trainIvfCentroids(s: SparkSession, d: String, k: Int,
      iters: Int = 2, sampleEvery: Long = 1L): Array[(Int, Array[Double])] = {
    // sampleEvery > 1 trains on the deterministic id-stride sample —
    // the 100 TB rule (quantizer quality needs a sample, not the
    // corpus); the TRAINED LITERALS are what downstream assignment and
    // the oracle replays consume, so sampling never affects replay
    // fidelity, only training cost.
    val vecs = Tables.t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
      .filter(col("vec_id") % sampleEvery === 0)
    var centroids: Array[(Int, Array[Double])] = vecs
      .orderBy("vec_id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1).toArray }
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cid", assignCol(col("vd"), centroids))
      // New centroid = elementwise mean of member vectors. Means go
      // through the exact decimal bridge (sum(DECIMAL)/n) so centroid
      // coordinates — and therefore every downstream assignment — are
      // identical at any partition count (raw double avg combines in
      // partition order; see graft.U).
      val dims = centroids.head._2.length
      // count(col) not count(*): avg semantics exclude null coordinates
      // (short vectors), the decimal sum keeps the mean order-invariant.
      def m(i: Int) = (graft.U.dbl(sum(graft.U.dec6(col(s"x$i"))))
        / count(col(s"x$i"))).as(s"m$i")
      val sums = assigned
        .select(col("cid") +: (0 until dims).map(i =>
          element_at(col("vd"), i + 1).as(s"x$i")): _*)
        .groupBy("cid")
        .agg(m(0), (1 until dims).map(m): _*)
        .collect()
      centroids = sums.map(r =>
        r.getInt(0) -> (0 until dims).map(i => r.getDouble(i + 1)).toArray)
        .sortBy(_._1)
    }
    centroids
  }

  /** Argmin-distance centroid assignment, HOF form (reference
    * implementation: squared L2 via zip_with/aggregate, argmin via
    * array_min over (dist, id) structs — evaluates interpreted). */
  def assignColHof(vec: Column, centroids: Array[(Int, Array[Double])]): Column = {
    def sqDist(c: Array[Double]): Column = {
      val diff = zip_with(vec, typedlit(c.toSeq), (x, y) => x - y)
      aggregate(diff, lit(0.0), (s, x) => s + x * x)
    }
    val scored = centroids.map { case (id, c) =>
      struct(sqDist(c).as("dist"), lit(id).as("id"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("id")
  }

  /** Scale path: the fused native expression (k×d primitive loop inside
    * the scan — see [[graft.plans.NearestCentroid]]). Same assignments as
    * [[assignColHof]] for well-formed vectors of the centroid dimension
    * (asserted in SimilaritySpec); on truncated vectors the paths differ
    * by design — the HOF's zip_with null-pads to a null distance, this
    * one scores the shared prefix. The expression returns a matrix
    * INDEX; the trailing lookup maps it back to the centroid id, which
    * matters when Lloyd iterations empty a cluster and ids stop being
    * contiguous. */
  def assignCol(vec: Column, centroids: Array[(Int, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    val matrix: Seq[Seq[Double]] = sorted.map(_._2.toSeq).toSeq
    val ids: Seq[Int] = sorted.map(_._1).toSeq
    element_at(typedlit(ids),
      call_function("nearest_centroid", vec, typedlit(matrix)) + 1)
  }

  /** Trained IVF centroids, a [[graft.Derived]] entry of the
    * embeddings table. Training is deterministic for a given (dataset
    * content, k, iters) — decimal-bridged means make the centroids
    * partition-count invariant (see [[trainIvfCentroids]]) — so the
    * quantizer is a property of the DATASET, not of the query:
    * retraining on every probe would dominate the probe cost (~6 Spark
    * jobs before the scan starts). Regenerating the data at the same
    * path retrains instead of serving stale centroids. At 100 TB the
    * same entry is a persisted centroid table trained once on a
    * sample. */
  def ivfCentroids(s: SparkSession, d: String, k: Int,
      iters: Int = 2): Array[(Int, Array[Double])] =
    Derived.get(s, "ivf_centroids", d, "embeddings", k, iters)(_ =>
      trainIvfCentroids(s, d, k, iters))

  /** IVF ANN: probe the `nProbe` nearest centroids, exact cosine inside. */
  def ivfTopK(s: SparkSession, d: String, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = ivfCentroids(s, d, nCentroids)
    val qv = queryVector(s, d, queryId)
    def sq(c: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + (c(i) - qv(i)) * (c(i) - qv(i)))
    val probes = centroids.sortBy(c => sq(c._2)).take(nProbe).map(_._1).toSeq
    val q = typedlit(qv.toSeq)
    Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .withColumn("cid", assignCol(col("vd"), centroids))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine(col("vd"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-cluster keep budget of sample_cluster_cap. */
  val CapK = 8

  /** SemDeDup's similarity threshold (see [[semDedup]]). */
  val SemTau = 0.3

  /** The corpus-adaptive cluster quantizer shared by [[semDedup]] and
    * sample_cluster_cap: k ∝ N (constant expected cluster size), Lloyd
    * trained on a ≤20k deterministic id-stride sample; a
    * [[graft.Derived]] entry of the embeddings table (k is a function of
    * the table's row count, so the table's signature covers it). */
  def semCentroids(s: SparkSession, d: String, nCentroids: Int = 0)
      : Array[(Int, Array[Double])] =
    Derived.get(s, "sem_centroids", d, "embeddings", nCentroids) { _ =>
      val n = Tables.t(s, d, "embeddings").count()
      val k = if (nCentroids > 0) nCentroids
        else math.max(16, (n / 300L).toInt)
      trainIvfCentroids(s, d, k, 2, math.max(1L, n / 20000L))
    }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public method):
    * semantic near-duplicate removal by clustering the embedding space
    * and comparing ONLY within clusters. A vector is dropped when a
    * LOWER-ID vector in its cluster has cosine ≥ τ with it (the paper
    * ranks by distance-to-centroid; lowest-id is this engine's
    * deterministic survivor convention, shared with dedup_exact — same
    * dedup rate, stable output). Scale shape: the quantizer is the
    * memoized IVF k-means ([[ivfCentroids]] — at 100 TB a persisted
    * centroid table trained on a sample), assignment is the fused
    * [[graft.plans.NearestCentroid]] scan expression, and the pair
    * comparison is an EQUI-join on cluster id — pair count is bounded
    * per cluster (SemDeDup at production scale uses k large enough
    * that clusters stay small; never all-pairs).
    *
    * τ defaults to 0.3 here because the SYNTHETIC embedding space is
    * near-orthogonal (max within-cluster cosine ≈ 0.51 at sf0.01) — the
    * demonstration threshold sits at the corpus's own duplicate tail so
    * the drop rule actually exercises; on real embeddings the paper's
    * τ is ≈ 0.95+. */
  def semDedup(s: SparkSession, d: String, nCentroids: Int = 0,
      tau: Double = SemTau): DataFrame = {
    // Adaptive k: the within-cluster pair count is Σ(n_c choose 2) —
    // QUADRATIC in cluster size — so k must grow with the corpus to
    // keep clusters ~constant (~1250 vectors → ~N·625 comparisons
    // total, linear in N). A fixed k=16 would mean 1.25e9 pairs at one
    // million vectors; this is the paper's own deployment rule (k ∝ N).
    // Deterministic: k is a pure function of the corpus row count.
    //
    // k ∝ N makes in-query training/assignment N·k·d — quadratic if
    // both run per query (first measured sf0.1→sf1 exponent: 1.25).
    // Two fixes:
    //  - training runs on a ≤20k-row deterministic id-stride sample
    //    (quantizer quality needs a sample, not the corpus);
    //  - assignment stays ONE flat fused nearest_centroid call (a
    //    √k-group two-level when-chain was tried and measured 4.3×
    //    SLOWER at sf1 — the branchy expression falls out of
    //    whole-stage codegen; the flat k·d loop stays compiled). At
    //    production scale assignment doesn't run per query at all:
    //    `cid` is computed once at INGEST and persisted as the storage
    //    partition key (DESIGN_SCALE "Embeddings"), so the recurring
    //    cost is the pair stage only — linear by cluster-size bound.
    // Target cluster size 300: pairs = N·(c-1)/2 and each pair costs a
    // d-dim dot — c is the dial trading dedup radius (bigger clusters
    // see more candidate pairs) against pair flops. Measured at sf1:
    // c=1250 → 125M pairs dominated the query; c=300 → 30M.
    val cents = semCentroids(s, d, nCentroids)
    val cidCol = assignCol(col("vd"), cents).cast("long")
    // Norms precompute per VECTOR, not per pair — inside a cluster of c
    // vectors each norm would otherwise be folded c-1 times; the pair
    // stage then costs one dot + one divide. Identical IEEE values to
    // the sqrt(dot)-per-pair spelling (same fold, computed once), so
    // the oracle's per-pair sqrt replays bit-identically.
    val e = Tables.t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
      .withColumn("cid", cidCol)
      .withColumn("nrm", call_function("vec_l2norm", col("vd")))
    val rhs = e.select(col("cid"), col("vec_id").as("vid0"),
      col("vd").as("vd0"), col("nrm").as("nrm0"))
    val denom = col("nrm") * col("nrm0")
    val cos = when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dot(col("vd"), col("vd0")) / denom)
    // Engine-stable rounding (U.round6 = round(x*1e6)/1e6) at the τ
    // threshold — Spark's round(col, 6) is BigDecimal HALF_UP on the
    // decimal string while DuckDB rounds the binary double; a last-ulp
    // divergence at exactly τ flips a kept/dropped bit. Every other
    // ratio threshold in the repo already uses this spelling.
    val dropped = e.join(rhs, Seq("cid"))
      .filter(col("vid0") < col("vec_id") && U.round6(cos) >= tau)
      .select("vec_id").distinct()
      .withColumn("is_dropped", lit(true))
    e.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("is_dropped").isNull.as("kept"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks: the vector space is split into `m`
    * contiguous subspaces of Dim/m dims and each subspace gets its own
    * `k`-centroid quantizer, trained by the same deterministic Lloyd
    * loop as [[trainIvfCentroids]] (first-k-by-id init, fixed iteration
    * count, decimal-bridged means → partition-count-invariant books).
    *
    * All `m` quantizers train in ONE aggregation per iteration: rows
    * explode to (subspace, subvector) and a single groupBy(m, cid)
    * computes every subspace's means — one shuffle per Lloyd step for
    * the whole codebook set, not one per subspace. Returns
    * books(m)(j) = centroid j of subspace m.
    *
    * At 100 TB this is the memory-compression ANN path: a 64-dim float
    * vector (256 B) stores as `m` byte codes (8 B, 32×), the codebooks
    * are a broadcast literal, and ADC scoring reads only the code
    * column — the scan shrinks by the same 32×. Train on a sample once,
    * persist codes next to the vectors.
    */
  def trainPqCodebooks(s: SparkSession, d: String, m: Int, k: Int,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    val vecs = Tables.t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
    trainPqOn(s, vecs, m, k, iters)
  }

  /** The Lloyd loop of [[trainPqCodebooks]] over an arbitrary
    * (vec_id, vd) frame — shared by raw-vector PQ and residual PQ
    * (which feeds coarse-quantizer residuals instead). */
  private def trainPqOn(s: SparkSession, vecs: DataFrame, m: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val sub = Dim / m
    require(m * sub == Dim, s"PQ subspaces must tile Dim=$Dim, got m=$m")
    // init: subspace slices of the first k vectors by id (IVF convention)
    val seed = vecs.filter(col("vec_id") < k).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    val books: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (mi, j) =>
      seed(j).slice(mi * sub, mi * sub + sub)
    }
    // (m, sv) exploded rows: every subspace trains from the same scan
    val exploded = vecs.select(explode(array((0 until m).map(mi =>
      struct(lit(mi).as("m"),
        slice(col("vd"), mi * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("e.sv").as("sv"))
    def assignExpr: Column = (0 until m).foldLeft(lit(-1)) { (acc, mi) =>
      when(col("m") === mi, call_function("nearest_centroid", col("sv"),
        typedlit(books(mi).map(_.toSeq).toSeq))).otherwise(acc)
    }
    for (_ <- 0 until iters) {
      def mean(i: Int) = (U.dbl(sum(U.dec6(col(s"x$i"))))
        / count(col(s"x$i"))).as(s"m$i")
      val sums = exploded.withColumn("cid", assignExpr)
        .select(col("m") +: col("cid") +: (0 until sub).map(i =>
          element_at(col("sv"), i + 1).as(s"x$i")): _*)
        .groupBy("m", "cid")
        .agg(mean(0), (1 until sub).map(mean): _*)
        .collect()
      // clusters Lloyd emptied keep their previous centroid (deterministic)
      sums.foreach { r =>
        books(r.getInt(0))(r.getInt(1)) =
          (0 until sub).map(i => r.getDouble(i + 2)).toArray
      }
    }
    books
  }

  /** Trained PQ codebooks, a [[graft.Derived]] entry like
    * [[ivfCentroids]]. */
  def pqCodebooks(s: SparkSession, d: String, m: Int, k: Int,
      iters: Int = 2): Array[Array[Array[Double]]] =
    Derived.get(s, "pq_codebooks", d, "embeddings", m, k, iters)(_ =>
      trainPqCodebooks(s, d, m, k, iters))

  /** RESIDUAL PQ codebooks (the Faiss IndexIVFPQ refinement the
    * round-7 verdict asked for): train the per-subspace quantizers on
    * r = x − c(cell(x)) — the residual after the coarse quantizer —
    * instead of the raw vectors. Residuals concentrate near zero with
    * far less variance than the raw distribution, so the same byte
    * budget spends its centroids on a tighter ball → lower
    * quantization error → better recall at identical storage.
    *
    * The residual column is one zip_with pass (CodegenFallback, fine:
    * it runs ONCE and is persisted so the Lloyd iterations scan cached
    * residual rows, not the interpreted lineage); everything downstream
    * is the same fused-kernel loop as raw PQ via [[trainPqOn]]. */
  def trainResidualPqCodebooks(s: SparkSession, d: String, m: Int, k: Int,
      coarse: Array[(Int, Array[Double])], iters: Int = 2)
      : Array[Array[Array[Double]]] = {
    val centArr = coarse.sortBy(_._1).map(_._2.toSeq).toSeq
    Cut.scoped(Tables.t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
      .withColumn("cid", assignCol(col("vd"), coarse))
      .withColumn("vd", zip_with(col("vd"),
        element_at(typedlit(centArr), col("cid") + 1),
        (a, b) => a - b))
      .select(col("vec_id"), col("vd")))(trainPqOn(s, _, m, k, iters))
  }

  /** Trained residual codebooks: a [[graft.Derived]] entry that stores
    * them with the coarse quantizer they were trained against (the pair
    * [[ivfPqResidualOracleEntry]] replays). */
  def residualPqCodebooks(s: SparkSession, d: String, m: Int, k: Int,
      nCoarse: Int, iters: Int = 2): Array[Array[Array[Double]]] =
    Derived.get(s, "residual_pq", d, "embeddings", m, k, nCoarse, iters) { _ =>
      val coarse = ivfCentroids(s, d, nCoarse)
      (coarse, trainResidualPqCodebooks(s, d, m, k, coarse, iters))
    }._2

  /** IVF-PQ with RESIDUAL codes: coarse probe prune as in [[ivfPqTopK]],
    * then ADC over residual codebooks. The scoring identity that keeps
    * the LUT cell-independent: x̂ = c(cell) + r̂, so
    * dot(q, x̂) = dot(q, c(cell)) + Σ_m LUT[m][code_m] — one per-probe
    * scalar constant (computed on the driver from the centroid
    * literals, exactly how the LUT itself is built) plus the same
    * 8-lookup chain as raw PQ. The residual column inside the scan is
    * one zip_with against the probed cell's centroid literal — only the
    * nProbe/nCentroids survivors pay it, and the code assignment stays
    * the flat fused nearest_centroid kernel (NOT a per-cell
    * shifted-codebook when-chain, which is the measured codegen cliff).
    * Plan: one scan → assignment → probe filter → residual → codes →
    * fixed-order ADC chain → TakeOrderedAndProject; zero shuffles.
    */
  def ivfPqResidualTopK(s: SparkSession, d: String, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kCent: Int = 16): DataFrame = {
    val coarse = ivfCentroids(s, d, nCentroids)
    val books = residualPqCodebooks(s, d, m, kCent, nCentroids)
    val sub = Dim / m
    val qv = queryVector(s, d, queryId)
    def sq(c: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + (c(i) - qv(i)) * (c(i) - qv(i)))
    val probes = coarse.sortBy(c => sq(c._2)).take(nProbe).map(_._1).toSeq
    val lut: Array[Array[Double]] = Array.tabulate(m, kCent) { (mi, j) =>
      (0 until sub).foldLeft(0.0)((acc, i) =>
        acc + qv(mi * sub + i) * books(mi)(j)(i))
    }
    // per-probe constant dot(q, c_cell): a sequential driver-side fold
    // over the same literals the oracle's list_dot_product folds —
    // bit-identical (the LUT contract)
    val centById = coarse.toMap
    val qc = probes.map(p => p -> centById(p).indices
      .foldLeft(0.0)((acc, i) => acc + qv(i) * centById(p)(i))).toMap
    val centArr = coarse.sortBy(_._1).map(_._2.toSeq).toSeq
    val qcCol = probes.foldLeft(lit(null).cast("double")) { (acc, p) =>
      when(col("cell") === p, lit(qc(p))).otherwise(acc)
    }
    val codes = (0 until m).map { mi =>
      call_function("nearest_centroid",
        slice(col("rd"), mi * sub + 1, sub),
        typedlit(books(mi).map(_.toSeq).toSeq))
    }
    val adc = (qcCol +: (0 until m).map(mi =>
      element_at(typedlit(lut(mi).toSeq), codes(mi) + 1)))
      .reduceLeft(_ + _)
    Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .withColumn("cell", assignCol(col("vd"), coarse))
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .withColumn("rd", zip_with(col("vd"),
        element_at(typedlit(centArr), col("cell") + 1),
        (a, b) => a - b))
      .select(col("vec_id"), round(adc, 6).as("adc_ip"))
      .orderBy(col("adc_ip").desc, col("vec_id"))
      .limit(k)
  }

  /** PQ ANN with asymmetric-distance (ADC) scoring: each vector is
    * quantized to `m` codebook indices inside the scan (the fused
    * [[graft.plans.NearestCentroid]] per subspace — at scale the codes
    * are precomputed and STORED, making this a map over an 8-byte
    * column), the query builds an m×k lookup table of
    * subquery·centroid inner products on the driver, and the
    * approximate inner product is the sum of `m` table lookups — no
    * vector arithmetic per row at query time. Plan: one scan →
    * projection → TakeOrderedAndProject; no shuffle, nothing driver-side
    * but the k results.
    *
    * Determinism engineering for the oracle: the LUT values are
    * sequential-fold dots (bit-identical to DuckDB `list_dot_product`
    * over the same literals) and the ADC sum is a FIXED left-assoc
    * chain of the m lookups — the oracle adds the same 8 doubles in the
    * same order, so round(·,6) agrees exactly (a groupBy SUM on either
    * side would re-associate).
    */
  def pqTopK(s: SparkSession, d: String, queryId: Long, k: Int,
      m: Int = 8, kCent: Int = 16): DataFrame = {
    val books = pqCodebooks(s, d, m, kCent)
    val sub = Dim / m
    val qv = queryVector(s, d, queryId)
    val lut: Array[Array[Double]] = Array.tabulate(m, kCent) { (mi, j) =>
      (0 until sub).foldLeft(0.0)((acc, i) =>
        acc + qv(mi * sub + i) * books(mi)(j)(i))
    }
    val codes = (0 until m).map { mi =>
      call_function("nearest_centroid",
        slice(col("vd"), mi * sub + 1, sub),
        typedlit(books(mi).map(_.toSeq).toSeq))
    }
    val adc = (0 until m).map(mi =>
      element_at(typedlit(lut(mi).toSeq), codes(mi) + 1))
      .reduceLeft(_ + _)
    Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(adc, 6).as("adc_ip"))
      .orderBy(col("adc_ip").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ: the production ANN composition — the IVF coarse quantizer
    * prunes the corpus to `nProbe` cells, then PQ/ADC scores only the
    * survivors with table lookups. At 100 TB both structures are
    * precomputed and STORED (cell id = partition key for pruning, codes
    * = an 8-byte column replacing the 256-byte vector), so a probe
    * reads nProbe/nCentroids of the data and scans 32× fewer bytes of
    * it — multiplicative with each other. This variant is
    * IVFFlat-style (PQ on the raw vectors, not coarse residuals;
    * residual PQ is a recall refinement orthogonal to the plan shape —
    * it would swap the codebook training input, nothing in the query).
    * Plan: one scan → two in-scan assignments → filter → projection →
    * TakeOrderedAndProject; still zero shuffles.
    */
  def ivfPqTopK(s: SparkSession, d: String, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kCent: Int = 16): DataFrame = {
    val coarse = ivfCentroids(s, d, nCentroids)
    val books = pqCodebooks(s, d, m, kCent)
    val sub = Dim / m
    val qv = queryVector(s, d, queryId)
    def sq(c: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + (c(i) - qv(i)) * (c(i) - qv(i)))
    val probes = coarse.sortBy(c => sq(c._2)).take(nProbe).map(_._1).toSeq
    val lut: Array[Array[Double]] = Array.tabulate(m, kCent) { (mi, j) =>
      (0 until sub).foldLeft(0.0)((acc, i) =>
        acc + qv(mi * sub + i) * books(mi)(j)(i))
    }
    val codes = (0 until m).map { mi =>
      call_function("nearest_centroid",
        slice(col("vd"), mi * sub + 1, sub),
        typedlit(books(mi).map(_.toSeq).toSeq))
    }
    val adc = (0 until m).map(mi =>
      element_at(typedlit(lut(mi).toSeq), codes(mi) + 1))
      .reduceLeft(_ + _)
    Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .withColumn("cell", assignCol(col("vd"), coarse))
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(adc, 6).as("adc_ip"))
      .orderBy(col("adc_ip").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch k-NN over a broadcast query set: every query vector with
    * `vec_id < nQueries` scores the whole corpus in one scan; per-query
    * top-k via a rank window over the narrow (qid, vec_id, sim) stream.
    */
  def batchTopK(s: SparkSession, d: String, nQueries: Int, k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val emb = Tables.t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
    val queries = emb
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qd"))
    emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("vd"), col("qd")), 6).as("cos_sim"))
      .withColumn("rn", row_number()
        .over(W.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** One ANN evaluation harness for EVERY index variant (VERDICT r12
    * item 3): recall@10 + nDCG@10 of the LSH-bucketed, IVF, PQ, IVF-PQ,
    * and residual IVF-PQ indexes, all on the SAME fixed 10-query panel
    * against the SAME exact-cosine ground truth — one row per index,
    * the one-stop readout a production ANN consumer compares variants
    * with before picking a serving index.
    *
    * Shape: ONE per-vector preparation pass computes everything every
    * index needs (coarse cell, 4-bit LSH bucket, raw + residual PQ
    * codes — all fused codegen kernels), the 10-query panel broadcasts
    * against it (N×10 pairs, the same ground-truth cost the single-index
    * eval already paid — linear in the corpus), and each index ranks its
    * own candidate subset: LSH its bucket, IVF/IVF-PQ/residual their 4
    * probed cells of 16, PQ the full corpus. Exact-cosine ranking for
    * the exact-scoring indexes; per-query ADC lookup tables (driver
    * literals, same fixed left-assoc chain as the serving queries) for
    * the PQ family. Windows all partition by qid; nothing materializes
    * beyond the per-index top-10s. At 100 TB the panel is a held-out
    * query log, cells/buckets/codes are storage columns (the prep pass
    * is ingest, not query), and each index's candidate pull is the same
    * partition-pruned read its serving path does.
    *
    * Determinism: candidate ranking rounds at 1e-6 with vec_id
    * tie-break (the repo-wide convention), DCG weights are 1e-6-grid
    * literals summed through DECIMAL, recall denominators are exact
    * integers — the DuckDB replay ([[evalPanelOracleSqlFor]]) embeds
    * the identical trained-model literals and cannot diverge. */
  /** THE eval scoring path (VERDICT r13 item 6 — one code path for
    * both retrieval-quality surfaces): per-query recall@k / nDCG@k of
    * a ranked candidate list against exact ground truth.
    *
    * `ann` carries (qid, vec_id, rn) — the candidate top-k with ranks;
    * `gt` carries (qid, vec_id) — the exact top-k set; `qids` the full
    * panel (so zero-candidate queries still report a row of zeros).
    * Returns per-query rows with BOTH the double dcg (what the
    * per-query surface shows) and the exact DECIMAL dcg partial
    * (`dcg_dec`) so an aggregating caller ([[evalIndexPanel]]) can
    * re-sum across queries exactly — decimal sums are associative, so
    * panel totals are bit-identical to the pre-refactor single global
    * aggregate and the DuckDB replay is unchanged. DCG weights are
    * 1e-6-grid literals (see [[ndcgWeights]]); binary relevance vs the
    * exact top-k, the repo-wide convention. */
  private def perQueryEval(qids: DataFrame, ann: DataFrame,
      gt: DataFrame, k: Int): DataFrame = {
    val wts = ndcgWeights(k)
    val wlit = typedlit(wts)
    val idcg = wts.sum // exact: 1e-6-grid literals, k of them
    // ONE consumer of `ann`: candidate counting and hit scoring fold
    // into a single left-join + aggregate — a second consumer would
    // re-plan the whole ranked-candidates subtree (the expensive part:
    // the fused-kernel scan + rank window) once per statistic, measured
    // as +0.9 s across the panel's five variants in the first draft of
    // this refactor. `gt` is k·|panel| rows, so the probe broadcasts.
    val hits = ann.join(
      broadcast(gt.withColumn("__hit", lit(1))),
      Seq("qid", "vec_id"), "left")
    val perQ = hits.groupBy("qid").agg(
      count(lit(1)).as("n_ann"),
      count(col("__hit")).as("n_hits"),
      // sum skips the null (non-hit) rows — the same decimal partial
      // the old hits-only aggregate produced
      sum(when(col("__hit").isNotNull,
        U.dec6(element_at(wlit, col("rn"))))).as("dcg_dec"))
    qids.join(perQ, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg_dec"), U.dec6(lit(0))).as("dcg_dec"),
        U.round6(coalesce(col("n_hits"), lit(0L)).cast("double") / k)
          .as("recall10"),
        U.round6(coalesce(U.dbl(col("dcg_dec")), lit(0.0)) / idcg)
          .as("ndcg10"))
  }

  def evalIndexPanel(s: SparkSession, d: String, nPanel: Int = 10,
      k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kCent: Int = 16): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val sub = Dim / m
    val coarse = ivfCentroids(s, d, nCentroids)
    val rawBooks = pqCodebooks(s, d, m, kCent)
    val residBooks = residualPqCodebooks(s, d, m, kCent, nCentroids)
    // the fixed panel, collected once (nPanel rows — same driver cost
    // class as the centroid literals themselves)
    val panel: Array[Array[Double]] = Tables.t(s, d, "embeddings")
      .filter(col("vec_id") < nPanel).orderBy("vec_id")
      .select(toDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](0).toArray)
    require(panel.length == nPanel, s"panel needs $nPanel query vectors")
    def sq(c: Array[Double], qv: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + (c(i) - qv(i)) * (c(i) - qv(i)))
    def qdot(c: Array[Double], qv: Array[Double]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + c(i) * qv(i))
    // per-qid driver constants, indexed by qid via element_at literals:
    // probed cells, ADC lookup tables (raw + residual), per-cell query
    // dots — the same sequential folds the single-index queries use
    val probesByQid: Seq[Seq[Int]] = panel.toSeq.map(qv =>
      coarse.sortBy(c => (sq(c._2, qv), c._1)).take(nProbe).map(_._1).toSeq)
    def lutFor(books: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi => panel.toSeq.map(qv =>
        books(mi).indices.map(j => (0 until sub).foldLeft(0.0)((acc, i) =>
          acc + qv(mi * sub + i) * books(mi)(j)(i))).toSeq))
    val lutRaw = lutFor(rawBooks)
    val lutResid = lutFor(residBooks)
    val qcByQid: Seq[Seq[Double]] = panel.toSeq.map(qv =>
      coarse.sortBy(_._1).map(c => qdot(c._2, qv)).toSeq)
    val centArr = coarse.sortBy(_._1).map(_._2.toSeq).toSeq
    // ONE per-vector prep projection: cell, bucket, residual, code arrays
    val e = Tables.t(s, d, "embeddings")
      .withColumn("vd", toDouble(col("embedding")))
      .withColumn("cell", assignCol(col("vd"), coarse))
      .withColumn("bucket", bucketCol(col("vd"), 4))
      .withColumn("rd", zip_with(col("vd"),
        element_at(typedlit(centArr), col("cell") + 1), (a, b) => a - b))
      .withColumn("pqc", array((0 until m).map(mi =>
        call_function("nearest_centroid", slice(col("vd"), mi * sub + 1, sub),
          typedlit(rawBooks(mi).map(_.toSeq).toSeq))): _*))
      .withColumn("rpqc", array((0 until m).map(mi =>
        call_function("nearest_centroid", slice(col("rd"), mi * sub + 1, sub),
          typedlit(residBooks(mi).map(_.toSeq).toSeq))): _*))
      .select(col("vec_id"), col("vd"), col("cell"), col("bucket"),
        col("pqc"), col("rpqc"))
    val q = e.filter(col("vec_id") < nPanel)
      .select(col("vec_id").as("qid"), col("vd").as("qvd"),
        col("bucket").as("qbucket"))
    val j = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cs", round(cosine(col("vd"), col("qvd")), 6))
    val qidIdx = col("qid").cast("int") + 1
    val probed = array_contains(
      element_at(typedlit(probesByQid), qidIdx), col("cell"))
    def adcOf(lut: Seq[Seq[Seq[Double]]], codes: String): Column =
      (0 until m).map(mi => element_at(
        element_at(typedlit(lut(mi)), qidIdx),
        element_at(col(codes), mi + 1) + 1)).reduceLeft(_ + _)
    val adcRaw = adcOf(lutRaw, "pqc")
    // residual identity: dot(q, x̂) = dot(q, c_cell) + Σ LUT lookups —
    // qc first, then the lookups, in the serving query's exact order
    val adcResid = (element_at(element_at(typedlit(qcByQid), qidIdx),
      col("cell") + 1) +: (0 until m).map(mi => element_at(
        element_at(typedlit(lutResid(mi)), qidIdx),
        element_at(col("rpqc"), mi + 1) + 1))).reduceLeft(_ + _)
    def ranked(cands: DataFrame, score: Column): DataFrame = cands
      .withColumn("rn", row_number().over(
        W.partitionBy("qid").orderBy(score.desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("rn"))
    val gt = ranked(j, col("cs")).select(col("qid"), col("vec_id"))
    val idcg = ndcgWeights(k).sum
    // per-variant rows fold the SHARED per-query eval path
    // ([[perQueryEval]] — also the whole of sim_eval_recall_ndcg):
    // summing the per-query DECIMAL dcg partials re-associates the
    // pre-refactor single global decimal sum exactly, so the panel
    // numbers and their oracle replay are unchanged by the collapse.
    def stats(name: String, ann: DataFrame): DataFrame =
      perQueryEval(q.select(col("qid")), ann, gt, k)
        .agg(sum(col("n_hits")).as("nh"),
          sum(col("dcg_dec")).as("dcg_dec"))
        .select(lit(name).as("index_name"),
          U.round6(col("nh").cast("double") / (nPanel * k)).as("recall10"),
          U.round6(U.dbl(col("dcg_dec")) / (nPanel * idcg))
            .as("ndcg10"))
    stats("ivf", ranked(j.filter(probed), col("cs")))
      .unionByName(stats("ivf_pq",
        ranked(j.filter(probed), round(adcRaw, 6))))
      .unionByName(stats("ivf_pq_residual",
        ranked(j.filter(probed), round(adcResid, 6))))
      .unionByName(stats("lsh4",
        ranked(j.filter(col("bucket") === col("qbucket")), col("cs"))))
      .unionByName(stats("pq", ranked(j, round(adcRaw, 6))))
      .orderBy("index_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding preprocessing for similarity pipelines: L2-normalize
    // (cosine becomes a plain dot product downstream) — emitted as
    // scalar evidence columns (norms + first element), not arrays,
    // because the driver compare needs sortable output. All vector math
    // runs through the fused codegen kernels (graft.plans.VectorExprs):
    // the HOF spelling of the same query ran interpreted at ~7 s/sf0.1.
    "sim_normalize" -> ((s, d) => {
      val vd = toDouble(col("embedding"))
      val nrm = call_function("vec_l2norm", vd)
      val unit = call_function("vec_divide", vd, nrm)
      // zero-norm guard (cosine() convention) + engine-stable rounding
      // (U.round6 — these are ratio values, round(x,6) is unstable)
      Tables.t(s, d, "embeddings").select(
        col("vec_id"),
        U.round6(nrm).as("norm_before"),
        when(nrm > 0.0,
          U.round6(call_function("vec_l2norm", unit))).as("norm_after"),
        when(nrm > 0.0, U.round6(element_at(unit, 1))).as("first_unit"))
        .orderBy("vec_id")
    }),

    // int8 quantization (per-vector absmax scaling): floor(x*scale+0.5)
    // is engine-stable integer rounding; the checksum row proves the
    // whole quantized vector matches without emitting an array. Fused
    // kernels as above — vec_int8 materializes the quantized vector in
    // one codegen'd pass, the checksums fold it without HOFs.
    "sim_quantize_int8" -> ((s, d) => {
      val vd = toDouble(col("embedding"))
      val maxAbs = call_function("vec_absmax", vd)
      val scale = lit(127.0) / maxAbs
      val q = call_function("vec_int8", vd, scale)
      Tables.t(s, d, "embeddings").select(
        col("vec_id"),
        U.round6(maxAbs).as("max_abs"),
        when(maxAbs > 0.0, call_function("vec_lsum", q)).as("q_sum"),
        when(maxAbs > 0.0, call_function("vec_l1sum", q)).as("q_l1"))
        .orderBy("vec_id")
    }),

    // IVF variant. Oracled via centroid literals: the converged
    // quantizer is recorded at training time and the oracle replays
    // assignment + probe selection + exact scoring in DuckDB (see
    // ivfOracleEntry); recall additionally asserted in SimilaritySpec.
    "sim_ivf_topk" -> ((s, d) => ivfTopK(s, d, queryId = 0L, k = 10)),

    // SemDeDup — cluster-bucketed semantic near-dedup over the same
    // memoized quantizer. Oracled via centroid literals
    // (semDedupOracleEntry replays assignment + within-cluster pairs +
    // the lowest-id survivor rule).
    "sim_semdedup" -> ((s, d) => semDedup(s, d)),

    // Cluster-capped diversity selection (the D4/cluster-balance
    // recipe): cap each embedding cluster at CapK most-representative
    // vectors (smallest squared distance to the assigned centroid) so
    // no dominant mode floods the training mix. Same memoized
    // quantizer as SemDeDup; the grouped per-cluster keep rides the
    // bounded TopKAgg buffers (≤CapK entries, map-side combine — the
    // pair_preference_build shape, never a data-scaled row_number
    // sort). Distance spells as dot(v,v) − 2·dot(v,c) + c2 with c2 a
    // trained literal, so the oracle replays the exact same fold.
    // Output is |clusters|×CapK bounded. Oracled via centroid literals
    // (clusterCapOracleEntry).
    "sample_cluster_cap" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val cents = semCentroids(s, d)
      val centDf = broadcast(cents.sortBy(_._1).toSeq
        .map { case (id, v) =>
          (id.toLong, v.toSeq, v.map(x => x * x).sum) }
        .toDF("cid", "cv", "c2"))
      val e = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
        .withColumn("cid", assignCol(col("vd"), cents).cast("long"))
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong)
      val keepA = udaf(new graft.ml.Logreg.TopKAgg(CapK, best = false), enc)
      e.join(centDf, "cid")
        .select(col("cid"), col("vec_id"),
          (dot(col("vd"), col("vd")) - lit(2.0) * dot(col("vd"), col("cv"))
            + col("c2")).as("dist"))
        .groupBy("cid")
        .agg(keepA(col("dist"), col("vec_id")).as("kept"))
        .select(col("cid"), posexplode(col("kept")).as(Seq("i", "p")))
        .select(col("cid"), (col("i") + 1).cast("long").as("keep_rank"),
          col("p._2").as("vec_id"), U.round6(col("p._1")).as("dist2"))
        .orderBy("cid", "keep_rank")
    }),

    // Product-quantization ADC variant. Oracled via codebook literals
    // (pqOracleEntry replays per-subspace assignment + the LUT sum in
    // DuckDB); code-vs-exact recall asserted in SimilaritySpec.
    "sim_pq_topk" -> ((s, d) => pqTopK(s, d, queryId = 0L, k = 10)),

    // IVF-PQ composition (coarse cell pruning × code compression).
    // Oracled by composing both literal replays (ivfPqOracleEntry).
    "sim_ivf_pq_topk" -> ((s, d) => ivfPqTopK(s, d, queryId = 0L, k = 10)),

    // Residual refinement of the same composition (Faiss IndexIVFPQ
    // semantics); oracled by the residual literal replay
    // (ivfPqResidualOracleEntry), recall ≥ raw-PQ pinned in
    // SimilaritySpec.
    "sim_ivf_pq_residual" -> ((s, d) =>
      ivfPqResidualTopK(s, d, queryId = 0L, k = 10)),

    "sim_cosine_topk" -> ((s, d) => bruteForceTopK(s, d, queryId = 0L, k = 20)),

    // Matryoshka truncation evaluation — the measurement every
    // MRL-style embedding deployment runs before serving truncated
    // vectors: top-k overlap between full-dimension cosine ranking and
    // the prefix-truncated ranking (here 64 → 16 dims, k = 5). One
    // fused-kernel scan scores BOTH similarities (the truncated dot is
    // a slice of the same array — no second pass over storage), two
    // TakeOrderedAndProject top-ks, and a 5×5 semi-join counts the
    // intersection. Ranking ties break on vec_id after round6, so the
    // cut is engine-identical. At 100 TB both top-ks are per-partition
    // heaps over the same scan; nothing here materializes beyond 2k
    // rows. SimilaritySpec pins the self-consistency contract
    // (truncation at the full dimension ⇒ overlap = k).
    "sim_matryoshka_eval" -> ((s, d) =>
      matryoshkaOverlap(s, d, truncDims = 16, k = 5)),

    // The index-variant comparison panel: recall@10 + nDCG@10 for all
    // five ANN indexes on one shared query panel vs one shared exact
    // ground truth (see evalIndexPanel). Oracled via the trained-model
    // literal replay (evalPanelOracleEntry).
    "sim_eval_index_panel" -> ((s, d) => evalIndexPanel(s, d)),

    // Retrieval-quality evaluation — recall@10 and nDCG@10 of the
    // LSH-bucketed ANN path against exact-cosine ground truth, the
    // measurement every embedding-retrieval deployment runs before
    // trusting an index. SET-BASED, one plan: a fixed 10-query panel
    // (vec_id < 10 — constant across SFs, so ground-truth cost stays
    // 10·N, linear) broadcasts against the corpus for exact ranking;
    // the ANN side joins the same panel to its 4-bit LSH bucket
    // (coarser than serving's 8 bits so bucket occupancy — and
    // therefore recall — is non-degenerate at test SF; at 100 TB the
    // panel is a held-out query log and the index setting under test).
    // Binary relevance vs the exact top-10; DCG discount weights
    // 1/log2(i+1) are LITERALS on the 1e-6 grid computed once in Scala
    // and interpolated into both engines (shortest-round-trip doubles),
    // so the DCG is an exact decimal sum of literal-selected values —
    // zero query-time transcendentals, partition-order invariant.
    // Ranks tie-break (cos_sim desc, vec_id); every window is
    // partitioned by query.
    // Since r14 this is the PER-QUERY surface of the one shared eval
    // path ([[perQueryEval]] — the same scoring code the index panel's
    // variant rows fold), applied to the panel's lsh4 configuration:
    // the r13 verdict flagged two parallel eval implementations as
    // drift bait, so the DCG/recall math now exists once. This
    // query's candidate prep stays deliberately light (vd + 4-bit
    // bucket only — no PQ codes), and its per-query granularity is
    // what the panel's aggregate rows cannot show: WHICH query a
    // recall regression hits.
    "sim_eval_recall_ndcg" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val k = 10
      val b = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
        .withColumn("bucket", bucketCol(col("vd"), 4))
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vd").as("qvd"),
          col("bucket").as("qbucket"))
      def ranked(cands: DataFrame): DataFrame = cands
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cs", round(cosine(col("vd"), col("qvd")), 6))
        .withColumn("rn", row_number().over(
          W.partitionBy("qid").orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= k)
        .select(col("qid"), col("vec_id"), col("rn"))
      val gt = ranked(b.crossJoin(broadcast(q)))
        .select(col("qid"), col("vec_id"))
      val ann = ranked(b.join(broadcast(q),
        col("bucket") === col("qbucket")))
      perQueryEval(q.select(col("qid")), ann, gt, k)
        .select(col("qid"), col("n_ann"), col("n_hits"),
          col("recall10"), col("ndcg10"))
        .orderBy("qid")
    }),

    // Binary (sign-bit) Hamming search — the 64×-compression end of the
    // quantization spectrum (int8 → PQ → 1-bit): similarity = how many
    // of the 64 hyper-octant sign bits agree with the query's. At
    // production scale the signatures pack into ONE 64-bit word per
    // vector at ingest and the scan is xor+popcount on longs (the same
    // fused-signature shape as [[graft.plans.SimHash64]]); here the
    // sign comparison stays unpacked per dimension so the DuckDB oracle
    // replays it exactly. Exact cosine rides along per candidate — the
    // coarse→fine rerank pair in one row. Ties (equal distance) break
    // on vec_id; the Hamming distance is exact integer arithmetic, so
    // the top-k cut is engine-identical with no rounding bridge at all.
    "sim_hamming_topk" -> ((s, d) => {
      val qv = queryVector(s, d, 0L)
      val qSigns = typedlit(qv.map(_ >= 0.0).toSeq)
      val ham = size(filter(
        zip_with(col("embedding"), qSigns,
          (e, q) => (e >= lit(0.0f)) =!= q),
        x => x)).cast("long")
      Tables.t(s, d, "embeddings")
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"), ham.as("hamming"),
          round(cosine(toDouble(col("embedding")),
            typedlit(qv.toSeq)), 6).as("cos_sim"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(20)
    }),

    // Per-label per-dimension moments — the embedding-drift monitor
    // (did dimension 17 of class 3 shift between pipeline versions?)
    // and the diagonal-Gaussian class model in one table. Values
    // QUANTIZE to exact 1e-6 integers per element before any sum (the
    // double→decimal cast is engine-divergent at the last ulp; integer
    // sums are not), so mean and variance derive from exact integer
    // moments — bit-identical on any engine and any partitioning.
    // Shape: posexplode → one (label, dim) keyed aggregation; the
    // long form trades 64× row fan-out for exact-moment simplicity —
    // the array-kernel variant (one fused pass, per-dim buffers) is
    // the throughput path at 100 TB, this is the auditable one.
    "sim_label_dim_stats" -> ((s, d) => {
      val pe = Tables.t(s, d, "embeddings")
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).as("dim"),
          round(col("x").cast("double") * lit(1e6)).cast("long")
            .as("x6"))
      val a = pe.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(col("x6")).as("s1"),
          sum(col("x6") * col("x6")).as("s2"))
      val s1d = U.dbl(col("s1")) / lit(1e6)
      a.select(col("label"), col("dim"), col("n"),
          U.round6(s1d / col("n")).as("mean"),
          U.round6((U.dbl(col("s2")) / lit(1e12) - s1d * s1d / col("n"))
            / (col("n") - 1)).as("variance"))
        .orderBy("label", "dim")
    }),

    // Hybrid retrieval — reciprocal-rank fusion of the dense (cosine)
    // and lexical (BM25) candidate lists, the standard RAG two-tower
    // merge: score = Σ 1/(60 + rank) over the lists a candidate appears
    // in. Each tower runs its own scale-shaped plan (one-scan broadcast
    // query / posting-list aggregation) and emits a LIMIT-bounded
    // candidate list; the rank windows and the full-outer fusion join
    // then operate on constant-size inputs (≤50 rows — bounded by the
    // query contract, not the data), so the partition-less windows here
    // are not the banned raw-row global sort. Fusion happens in the
    // DOCUMENT namespace (the thing being retrieved): dense candidates
    // cross from vector ids through an EXPLICIT doc_id↔vec_id
    // crosswalk join (`denseMapped` below) rather than a naming
    // convention, while lexical candidates are already document-keyed —
    // so a document with no embedding can still surface lexically (it
    // must not be dropped by the crosswalk), and a corpus whose document
    // and embedding ids differ swaps in its real mapping table
    // structurally.
    "sim_hybrid_rrf" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val dense = bruteForceTopK(s, d, queryId = 0L, k = 50)
        .withColumn("rank_dense", row_number().over(
          W.orderBy(col("cos_sim").desc, col("vec_id"))))
        .select(col("vec_id"), col("rank_dense"))
      // The crosswalk applied CANDIDATES-FIRST: materializing the full
      // doc_id↔vec_id mapping (documents ⋈ embeddings) and then
      // filtering by the candidate list would join two data-scaled
      // tables to map 50 rows — at 100 TB that shuffle dwarfs the
      // whole query. Instead the
      // ≤50-row dense list broadcasts into the embedding-id scan, and
      // the ≤50 surviving mapped rows broadcast into the document-id
      // scan: two map-only probes, no shuffle at any scale. The mapping
      // rule (the second join's condition) is still the one explicit
      // place a real crosswalk table swaps in.
      val prunedVecs = Tables.t(s, d, "embeddings").select(col("vec_id"))
        .join(broadcast(dense), Seq("vec_id"))
      val denseMapped = Tables.t(s, d, "documents").select(col("doc_id"))
        .join(broadcast(prunedVecs), col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("rank_dense"))
      val lex = graft.functions.TextOps.queries("text_bm25_topk")(s, d)
        .withColumn("rank_lex", row_number().over(
          W.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank_lex"))
      denseMapped.join(lex, Seq("id"), "full_outer")
        .select(col("id"),
          U.round6(
            coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
    }),

    // Cosine range search: every neighbor within a similarity radius —
    // the "all matches above τ" companion of top-k (near-dup gating,
    // recall sweeps). Same one-scan broadcast-query shape as
    // bruteForceTopK, but the result size is data-dependent, so the τ
    // filter applies to the ROUNDED similarity (survivor set
    // bit-identical across engines) and there is no limit.
    "sim_range_search" -> ((s, d) => {
      val q = typedlit(queryVector(s, d, 0L).toSeq)
      Tables.t(s, d, "embeddings")
        .select(col("vec_id"),
          round(cosine(toDouble(col("embedding")), q), 6).as("cos_sim"))
        .filter(col("vec_id") =!= 0L && col("cos_sim") >= 0.1)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    }),

    // 2-D grid-bucketed radius join — the SPATIAL join pattern (lat/lon
    // proximity, UMAP-plane neighborhoods), structurally different from
    // LSH: the grid is deterministic, exhaustive within r (NO missed
    // pairs — LSH trades recall, a grid join trades nothing), and the
    // candidate set is the 9-cell Moore neighborhood. Points land in
    // floor(coord/r) cells; the probe side explodes to its 9 neighbor
    // cells, the build side stays keyed by its own cell, so every
    // near pair meets exactly once (ordered ids kill the symmetric
    // duplicate; same-cell pairs meet at the build point's cell) and
    // the exact-distance filter runs only inside neighborhoods.
    // Scale: shuffles key on cell ids — 9× probe fanout, never
    // all-pairs; a dense hot cell is a salting candidate, same recipe
    // as join_salted_skew. Plane = embedding dims (0, 1) — the
    // projection a UMAP/PCA stage would emit.
    "sim_grid_join_2d" -> ((s, d) => {
      val r = 0.1
      val pts = Tables.t(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").getItem(0).cast("double").as("x"),
          col("embedding").getItem(1).cast("double").as("y"))
        .withColumn("cx", floor(col("x") / r).cast("long"))
        .withColumn("cy", floor(col("y") / r).cast("long"))
      val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 }
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      val probe = pts.select(col("vec_id").as("id1"),
          col("x").as("x1"), col("y").as("y1"),
          explode(offs).as("o"), col("cx"), col("cy"))
        .select(col("id1"), col("x1"), col("y1"),
          (col("cx") + col("o.dx")).as("jx"),
          (col("cy") + col("o.dy")).as("jy"))
      val d2 = (col("x1") - col("x")) * (col("x1") - col("x")) +
        (col("y1") - col("y")) * (col("y1") - col("y"))
      probe.join(pts,
          col("jx") === col("cx") && col("jy") === col("cy") &&
            col("id1") < col("vec_id"))
        .filter(d2 <= lit(0.01))
        .select(col("id1"), col("vec_id").as("id2"),
          U.round6(sqrt(d2)).as("dist"))
        .orderBy("id1", "id2")
    }),

    // Int8-quantized retrieval: the 100 TB memory story (4-8x smaller
    // vectors, integer SIMD-friendly scoring) demonstrated end-to-end —
    // per-vector absmax quantization (the persisted form at scale), the
    // query quantized once, scoring via the exact-integer vec_ldot
    // kernel, approximate cosine recovered by descaling. Oracled: the
    // quantizer is exact integer math (floor(x*scale+0.5)), so DuckDB
    // reproduces the scores bit-for-bit; recall vs the float path is
    // additionally asserted in SimilaritySpec.
    "sim_topk_int8" -> ((s, d) => {
      val qv = queryVector(s, d, 0L)
      val qAbs = qv.map(math.abs).max
      val qScale = 127.0 / qAbs
      val q8 = typedlit(qv.map(x => math.floor(x * qScale + 0.5).toLong).toSeq)
      val qNorm = math.sqrt(qv.map(x => x * x).sum)
      val vd = toDouble(col("embedding"))
      val dAbs = call_function("vec_absmax", vd)
      val dScale = lit(127.0) / dAbs
      val d8 = call_function("vec_int8", vd, dScale)
      val dNorm = call_function("vec_l2norm", vd)
      Tables.t(s, d, "embeddings")
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          when(dAbs > 0.0 && dNorm > 0.0,
            round(call_function("vec_ldot", d8, q8).cast("double") /
              (dScale * lit(qScale)) / (dNorm * lit(qNorm)), 6))
            .as("approx_cos"))
        .orderBy(col("approx_cos").desc_nulls_last, col("vec_id"))
        .limit(20)
    }),

    // Multi-vector "late interaction" (maxsim) scoring — the ColBERT
    // retrieval shape: both sides split into sub-vectors (here 4×16 of
    // the 64-dim embedding standing in for per-token vectors); the score
    // is the mean over query sub-vectors of the best-matching doc
    // sub-vector cosine. Still one map-only corpus scan + top-k: the
    // sub-vector loop is a fixed-size column expression, not a join.
    // Oracled: every sub-cosine is a sequential fold on both engines
    // (vec_dot mirrors list_dot_product element order), so the doubles
    // agree bit-for-bit before the 6-digit round; driver-reference
    // parity is additionally pinned in SimilaritySpec.
    "sim_maxsim_topk" -> ((s, d) => maxsimTopK(s, d, queryId = 0L, k = 20)),

    // Batch k-NN: ONE corpus scan scores every query in a broadcast
    // batch (per-query sequential scans re-read the corpus B times at
    // 100 TB — the batch amortizes the scan, and the per-query top-k
    // window shuffles only the narrow (qid, vec_id, sim) triples).
    "sim_batch_topk" -> ((s, d) => batchTopK(s, d, nQueries = 8, k = 5)),

    // IVF probe over the cid-PARTITIONED storage layout — the
    // production access path DESIGN_SCALE documents: cells assigned at
    // ingest become directory partitions, so the probe's cell filter
    // prunes partitions before file listing (PlanSpec asserts
    // PartitionFilters) and only nProbe/nCentroids of the corpus is
    // READ. Same centroids, same probes, same scoring as sim_ivf_topk
    // — the shared oracle proves the layout changes the access path,
    // never the answer.
    "sim_ivf_partitioned_probe" -> ((s, d) => {
      val dir = graft.sources.PartitionedData.embeddingsByCell(s, d)
      val centroids = ivfCentroids(s, d, 16)
      val qv = queryVector(s, d, 0L)
      def sq(c: Array[Double]): Double =
        c.indices.foldLeft(0.0)((acc, i) =>
          acc + (c(i) - qv(i)) * (c(i) - qv(i)))
      val probes = centroids.sortBy(c => sq(c._2)).take(4).map(_._1).toSeq
      val q = typedlit(qv.toSeq)
      s.read.parquet(dir)
        .filter(col("cid").isin(probes: _*) && col("vec_id") =!= 0L)
        .select(col("vec_id"),
          round(cosine(toDouble(col("embedding")), q), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // MMR diversified re-ranking (Carbonell & Goldstein) — the
    // retrieval step between ANN and the consumer: from the query's
    // top-20 relevance candidates, greedily select 5 maximizing
    // λ·rel − (1−λ)·max-sim-to-already-selected (λ = 0.7) so the
    // result covers the neighborhood instead of returning 5 copies of
    // the same near-duplicate. The greedy is inherently sequential but
    // K-BOUNDED: it runs on the driver over the collected ≤20-row
    // candidate set (the same metadata-collect contract as IVF
    // centroids), after the distributed top-k scan produced the
    // candidates. All sims round6 exactly as the oracle's; scores are
    // identical per-row IEEE arithmetic on those, so they compare raw.
    "sim_mmr_rerank" -> ((s, d) => {
      // both weights as LITERALS: deriving 0.3 as (1.0 - 0.7) yields
      // 0.30000000000000004 and a last-ulp score divergence vs the
      // oracle's literal 0.3 (caught by the gate)
      val lambda = 0.7
      val mu = 0.3
      val cands = bruteForceTopK(s, d, queryId = 0L, k = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val ids = cands.map(_._1)
      val vecs = Tables.t(s, d, "embeddings")
        .filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos6(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom > 0.0) math.round(dot / denom * 1e6) / 1e6 else 0.0
      }
      val rel = cands.toMap
      var selected = Vector.empty[(Long, Double)] // (vec_id, mmr score)
      var remaining = cands.map(_._1).toVector
      while (selected.size < 5 && remaining.nonEmpty) {
        val scored = remaining.map { c =>
          val ms =
            if (selected.isEmpty) 0.0
            else selected.map(sel => cos6(vecs(c), vecs(sel._1))).max
          (c, lambda * rel(c) - mu * ms)
        }
        val pick = scored.minBy { case (id, sc) => (-sc, id) }
        selected :+= pick
        remaining = remaining.filterNot(_ == pick._1)
      }
      val sess = s; import sess.implicits._
      selected.zipWithIndex
        .map { case ((id, sc), i) => (i + 1L, id, sc) }
        .toDF("rank", "vec_id", "mmr_score")
        .orderBy("rank")
    }),

    // Hard-negative mining for contrastive training: each anchor's
    // top-k most-similar vectors with a DIFFERENT label — the negatives
    // that actually move an embedding model (random negatives are
    // trivially separable). Same broadcast-anchors single-scan shape as
    // sim_batch_topk with the label-disequality in the join condition,
    // so the filter prunes before scoring.
    "pair_hard_negatives" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("vd"))
      val anchors = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("vd").as("qd"))
      emb.join(broadcast(anchors), col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id"),
          round(cosine(col("vd"), col("qd")), 6).as("cos_sim"))
        .withColumn("rn", row_number()
          .over(W.partitionBy("qid")
            .orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
        .filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    }),
    // Oracled: the "engine-defined" bucketing is actually replayable —
    // the oracle embeds the hyperplane constants as literals and repeats
    // the sign-bit fold, the multi-probe flip enumeration, and the exact
    // candidate scoring (see [[planesSqlLiteral]]); recall vs brute
    // force is additionally asserted in SimilaritySpec.
    "sim_ann_lsh_topk" -> ((s, d) => annTopK(s, d, queryId = 0L, k = 10))
  )

  /** SQL-static oracles; [[oracles]] appends the dynamically generated
    * IVF replay when a trained quantizer has been recorded. */
  private val staticOracles: Map[String, String] = Map(
    // same panel, same 4-bit plane-literal buckets, same literal DCG
    // weights (shortest-round-trip doubles), same (cs desc, vec_id)
    // tie-break — binary relevance vs the exact top-10
    "sim_eval_recall_ndcg" -> {
      val wts = ndcgWeights(10)
      val wLit = wts.mkString("[", ",", "]")
      val idcg = wts.sum
      s"""WITH pl AS (SELECT ${planesSqlLiteralTake(4)} AS ps),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |      FROM embeddings),
        |b AS (SELECT vec_id, vd, ${bucketSql("vd")} AS bucket
        |      FROM e, pl),
        |q AS (SELECT vec_id AS qid, vd AS qvd, bucket AS qbucket
        |      FROM b WHERE vec_id < 10),
        |gt AS (
        |  SELECT * FROM (
        |    SELECT q.qid, b.vec_id,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        round(CASE WHEN sqrt(list_dot_product(b.vd, b.vd)) *
        |                        sqrt(list_dot_product(q.qvd, q.qvd)) = 0.0
        |              THEN NULL
        |              ELSE list_dot_product(b.vd, q.qvd) /
        |                   (sqrt(list_dot_product(b.vd, b.vd)) *
        |                    sqrt(list_dot_product(q.qvd, q.qvd))) END, 6)
        |          DESC NULLS LAST, b.vec_id) AS rn_gt
        |    FROM b CROSS JOIN q WHERE b.vec_id <> q.qid)
        |  WHERE rn_gt <= 10),
        |ann AS (
        |  SELECT * FROM (
        |    SELECT q.qid, b.vec_id,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        round(CASE WHEN sqrt(list_dot_product(b.vd, b.vd)) *
        |                        sqrt(list_dot_product(q.qvd, q.qvd)) = 0.0
        |              THEN NULL
        |              ELSE list_dot_product(b.vd, q.qvd) /
        |                   (sqrt(list_dot_product(b.vd, b.vd)) *
        |                    sqrt(list_dot_product(q.qvd, q.qvd))) END, 6)
        |          DESC NULLS LAST, b.vec_id) AS rn_ann
        |    FROM b JOIN q ON b.bucket = q.qbucket
        |    WHERE b.vec_id <> q.qid)
        |  WHERE rn_ann <= 10),
        |annn AS (SELECT qid, count(*) AS n_ann FROM ann GROUP BY qid),
        |w AS (SELECT $wLit AS wts),
        |hits AS (
        |  SELECT a.qid, a.rn_ann FROM ann a
        |  JOIN gt g ON g.qid = a.qid AND g.vec_id = a.vec_id),
        |ha AS (
        |  SELECT qid, count(*) AS n_hits,
        |    CAST(sum(CAST(wts[CAST(rn_ann AS INT)]
        |      AS DECIMAL(18, 6))) AS DOUBLE) AS dcg
        |  FROM hits, w GROUP BY qid)
        |SELECT q.qid, coalesce(annn.n_ann, 0) AS n_ann,
        |  coalesce(ha.n_hits, 0) AS n_hits,
        |  round(CAST(coalesce(ha.n_hits, 0) AS DOUBLE) / 10 * 1000000)
        |    / 1000000 AS recall10,
        |  round(coalesce(ha.dcg, 0.0) / $idcg * 1000000) / 1000000
        |    AS ndcg10
        |FROM q LEFT JOIN annn USING (qid) LEFT JOIN ha USING (qid)
        |ORDER BY q.qid""".stripMargin
    },
    // LSH replayed exactly: plane literals → per-vector sign-bit bucket,
    // query signature + all 1-bit and 2-bit probe flips, exact cosine of
    // the probed candidates. CASE-guard instead of division so a
    // zero-norm vector yields NULL (the VectorOps.cosine convention),
    // not inf/nan.
    "sim_ann_lsh_topk" ->
      s"""WITH pl AS (SELECT $planesSqlLiteral AS ps),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qd
        |      FROM embeddings WHERE vec_id = 0),
        |qs AS (
        |  SELECT qd,
        |    ${bucketSql("qd")} AS qsig
        |  FROM q, pl),
        |probes AS (
        |  SELECT DISTINCT probe FROM (
        |    SELECT qsig AS probe FROM qs
        |    UNION ALL
        |    SELECT xor(qsig, CAST(1 AS BIGINT) << a)
        |    FROM qs, range(0, 8) t(a)
        |    UNION ALL
        |    SELECT xor(qsig, (CAST(1 AS BIGINT) << a) | (CAST(1 AS BIGINT) << b))
        |    FROM qs, range(0, 8) ta(a), range(0, 8) tb(b) WHERE b > a)),
        |e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |  FROM embeddings WHERE vec_id <> 0),
        |b AS (
        |  SELECT vec_id, vd,
        |    ${bucketSql("vd")} AS bucket
        |  FROM e, pl)
        |SELECT vec_id,
        |  round(CASE WHEN sqrt(list_dot_product(vd, vd)) *
        |                  sqrt(list_dot_product(qd, qd)) = 0.0 THEN NULL
        |        ELSE list_dot_product(vd, qd) /
        |             (sqrt(list_dot_product(vd, vd)) *
        |              sqrt(list_dot_product(qd, qd))) END, 6) AS cos_sim
        |FROM b, qs WHERE bucket IN (SELECT probe FROM probes)
        |ORDER BY cos_sim DESC NULLS LAST, vec_id LIMIT 10""".stripMargin,
    // ColBERT-style maxsim, recomputed with DuckDB list lambdas: the
    // 4×16 sub-vector slices, each cosine as dot/(||a||·||b||) with
    // zero-norm → -2 (matching VectorOps.cosine + the coalesce), mean
    // of per-query-sub best matches, 6-digit round BEFORE the order/
    // limit so the tie-break (score desc, vec_id) is identical.
    "sim_maxsim_topk" ->
      """WITH q AS (
        |  SELECT list_transform(range(0, 4), p ->
        |      list_slice(CAST(embedding AS DOUBLE[]),
        |                 p * 16 + 1, p * 16 + 16)) AS qs
        |  FROM embeddings WHERE vec_id = 0),
        |e AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 4), p ->
        |      list_slice(CAST(embedding AS DOUBLE[]),
        |                 p * 16 + 1, p * 16 + 16)) AS ds
        |  FROM embeddings WHERE vec_id <> 0),
        |scored AS (
        |  SELECT vec_id,
        |    round(list_sum(list_transform(range(0, 4), qi ->
        |      list_max(list_transform(range(0, 4), di ->
        |        coalesce(
        |          CASE WHEN sqrt(list_dot_product(ds[di+1], ds[di+1])) *
        |                    sqrt(list_dot_product(qs[qi+1], qs[qi+1])) = 0.0
        |               THEN NULL
        |               ELSE list_dot_product(ds[di+1], qs[qi+1]) /
        |                    (sqrt(list_dot_product(ds[di+1], ds[di+1])) *
        |                     sqrt(list_dot_product(qs[qi+1], qs[qi+1])))
        |          END, -2.0)))
        |    )) / 4, 6) AS maxsim
        |  FROM e, q)
        |SELECT vec_id, maxsim FROM scored
        |ORDER BY maxsim DESC, vec_id LIMIT 20""".stripMargin,
    // Int8 retrieval descaled score: quantization is exact integer math
    // (floor(x*scale+0.5)) so the integer dot agrees exactly; the
    // descale expression repeats Spark's operation order
    // (ldot / (dScale*qScale) / (dNorm*qNorm)) for bit-equality.
    "sim_topk_int8" ->
      """WITH qq AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qd,
        |    127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                                    x -> abs(x))) AS qscale,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS qnorm
        |  FROM embeddings WHERE vec_id = 0),
        |m AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                            x -> abs(x))) AS dabs,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS dnorm
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        |  CASE WHEN dabs > 0.0 AND dnorm > 0.0 THEN
        |    round(
        |      list_dot_product(
        |        list_transform(vd, x -> floor(x * (127.0 / dabs) + 0.5)),
        |        list_transform(qd, x -> floor(x * qscale + 0.5)))
        |      / ((127.0 / dabs) * qscale) / (dnorm * qnorm), 6)
        |  END AS approx_cos
        |FROM m, qq
        |ORDER BY approx_cos DESC NULLS LAST, vec_id LIMIT 20""".stripMargin,
    "sim_normalize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |           FROM embeddings),
        |n AS (SELECT vec_id, vd,
        |        -- scoped coalesce: list_sum([]) is NULL in DuckDB but
        |        -- Spark's aggregate over an EMPTY array yields 0.0; a
        |        -- NULL embedding must stay NULL on both engines
        |        CASE WHEN vd IS NOT NULL THEN
        |          coalesce(sqrt(list_sum(list_transform(vd, x -> x * x))), 0.0)
        |        END AS nrm
        |      FROM v)
        |SELECT vec_id,
        |  round(nrm * 1000000) / 1000000 AS norm_before,
        |  CASE WHEN nrm > 0.0 THEN round(sqrt(list_sum(list_transform(
        |    list_transform(vd, x -> x / nrm), x -> x * x)))
        |    * 1000000) / 1000000 END AS norm_after,
        |  CASE WHEN nrm > 0.0 THEN round(vd[1] / nrm * 1000000) / 1000000
        |    END AS first_unit
        |FROM n ORDER BY vec_id""".stripMargin,
    "sim_quantize_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |           FROM embeddings),
        |m AS (SELECT vec_id, vd,
        |        list_max(list_transform(vd, x -> abs(x))) AS max_abs
        |      FROM v)
        |SELECT vec_id,
        |  round(max_abs * 1000000) / 1000000 AS max_abs,
        |  CASE WHEN max_abs > 0.0 THEN
        |    CAST(list_sum(list_transform(vd,
        |      x -> CAST(floor(x * (127.0 / max_abs) + 0.5) AS BIGINT)))
        |      AS BIGINT) END AS q_sum,
        |  CASE WHEN max_abs > 0.0 THEN
        |    CAST(list_sum(list_transform(vd,
        |      x -> abs(CAST(floor(x * (127.0 / max_abs) + 0.5) AS BIGINT))))
        |      AS BIGINT) END AS q_l1
        |FROM m ORDER BY vec_id""".stripMargin,
    // unrolled greedy: one CTE pair (scores, pick) per selection step —
    // tiny tables, no exponential duplication
    "sim_mmr_rerank" -> {
      def stage(k: Int): String = {
        val prior = (1 until k).map(j => s"SELECT vec_id FROM s$j")
          .mkString(" UNION ALL ")
        if (k == 1)
          """s1 AS (SELECT vec_id, 0.7 * rel AS sc FROM cands
            |       ORDER BY 0.7 * rel DESC, vec_id LIMIT 1)""".stripMargin
        else
          s"""m$k AS (
             |  SELECT c.vec_id,
             |    0.7 * c.rel - 0.3 * (SELECT max(s.s) FROM sims s
             |      WHERE s.i = c.vec_id AND s.j IN ($prior)) AS sc
             |  FROM cands c WHERE c.vec_id NOT IN ($prior)),
             |s$k AS (SELECT vec_id, sc FROM m$k
             |        ORDER BY sc DESC, vec_id LIMIT 1)""".stripMargin
      }
      val stages = (1 to 5).map(stage).mkString(",\n")
      val out = (1 to 5).map(k =>
        s"SELECT CAST($k AS BIGINT) AS rank, vec_id, sc AS mmr_score FROM s$k")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
         |           FROM embeddings),
         |q AS (SELECT vd AS qv FROM e WHERE vec_id = 0),
         |cands AS (
         |  SELECT e.vec_id,
         |    round(list_dot_product(e.vd, q.qv) /
         |      (sqrt(list_dot_product(e.vd, e.vd)) *
         |       sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel, e.vd
         |  FROM e, q WHERE e.vec_id <> 0
         |  ORDER BY rel DESC, e.vec_id LIMIT 20),
         |sims AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |    CASE WHEN sqrt(list_dot_product(a.vd, a.vd)) *
         |              sqrt(list_dot_product(b.vd, b.vd)) > 0.0
         |         THEN round(list_dot_product(a.vd, b.vd) /
         |           (sqrt(list_dot_product(a.vd, a.vd)) *
         |            sqrt(list_dot_product(b.vd, b.vd))), 6)
         |         ELSE 0.0 END AS s
         |  FROM cands a, cands b),
         |$stages
         |$out
         |ORDER BY rank""".stripMargin
    },
    "pair_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlabel, vd AS qd
        |      FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(e.vd, q.qd) /
        |      (sqrt(list_dot_product(e.vd, e.vd)) *
        |       sqrt(list_dot_product(q.qd, q.qd))), 6) AS cos_sim
        |  FROM e, q WHERE e.label <> q.qlabel),
        |ranked AS (
        |  SELECT qid, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, cos_sim, rn FROM ranked
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "sim_batch_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qd
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qd) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(q.qd, q.qd))), 6) AS cos_sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, cos_sim, rn FROM ranked
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "sim_range_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
        |  FROM embeddings e, q WHERE vec_id <> 0)
        |SELECT vec_id, cos_sim FROM scored
        |WHERE cos_sim >= 0.1
        |ORDER BY cos_sim DESC, vec_id""".stripMargin,
    // same floor(coord/r) grid, 9-cell Moore probe, exact L2 inside
    "sim_grid_join_2d" ->
      """WITH c AS (
        |  SELECT vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.1) AS BIGINT)
        |      AS cx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.1) AS BIGINT)
        |      AS cy
        |  FROM embeddings),
        |probe AS (
        |  SELECT vec_id AS id1, x AS x1, y AS y1,
        |    cx + dx.d AS jx, cy + dy.d AS jy
        |  FROM c, (SELECT unnest([-1, 0, 1]) AS d) dx,
        |       (SELECT unnest([-1, 0, 1]) AS d) dy)
        |SELECT id1, b.vec_id AS id2,
        |  round(sqrt((x1 - b.x) * (x1 - b.x) + (y1 - b.y) * (y1 - b.y))
        |    * 1000000) / 1000000 AS dist
        |FROM probe JOIN c b
        |  ON b.cx = probe.jx AND b.cy = probe.jy AND probe.id1 < b.vec_id
        |WHERE (x1 - b.x) * (x1 - b.x) + (y1 - b.y) * (y1 - b.y) <= 0.01
        |ORDER BY id1, id2""".stripMargin,
    "sim_hybrid_rrf" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0),
        |dense AS (
        |  -- the doc-namespace crosswalk mirrored from the Spark query:
        |  -- dense candidates survive only with a matching document id,
        |  -- so the oracle stays faithful if the corpus ever gains
        |  -- embeddings without documents (today the mapping is the
        |  -- identity, but the oracle must not rely on that).
        |  SELECT d.doc_id AS id, dc.rank_dense
        |  FROM (
        |    SELECT vec_id,
        |      row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank_dense
        |    FROM (
        |      SELECT vec_id,
        |        round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
        |          (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(e.embedding AS DOUBLE[]))) *
        |           sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
        |      FROM embeddings e, q WHERE vec_id <> 0
        |      ORDER BY cos_sim DESC, vec_id LIMIT 50)) dc
        |  JOIN documents d ON d.doc_id = dc.vec_id),
        |bdocs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |bstats AS (
        |  SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS tot_dl
        |  FROM bdocs),
        |btf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          unnest(w) AS term FROM bdocs)
        |  WHERE term IN ('spark', 'merge', 'window')
        |  GROUP BY doc_id, term),
        |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
        |bscored AS (
        |  SELECT doc_id,
        |    round(
        |      (round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000)
        |        / 1000000)
        |      * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl /
        |          (round(CAST(tot_dl AS DOUBLE) / n_docs * 1000000)
        |            / 1000000)))
        |      * 1000000) / 1000000 AS term_score
        |  FROM btf JOIN bdf USING (term), bstats),
        |lex AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        |  FROM (
        |    SELECT doc_id,
        |      CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |    FROM bscored GROUP BY doc_id
        |    ORDER BY bm25 DESC, doc_id LIMIT 15))
        |SELECT id,
        |  round((coalesce(1.0 / (60 + rank_dense), 0.0)
        |       + coalesce(1.0 / (60 + rank_lex), 0.0)) * 1000000)
        |    / 1000000 AS rrf
        |FROM dense FULL OUTER JOIN lex USING (id)
        |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,
    // round(x*1e6)/1e6 spelling + vec_id tie-break on BOTH top-ks: the
    // U.round6 bridge makes the two rankings engine-identical, so the
    // intersection count is exact.
    "sim_matryoshka_eval" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT vec_id,
        |    round(list_dot_product(ve, qe)
        |      / (sqrt(list_dot_product(ve, ve))
        |         * sqrt(list_dot_product(qe, qe))) * 1000000) / 1000000
        |      AS cf,
        |    round(list_dot_product(ve[1:16], qe[1:16])
        |      / (sqrt(list_dot_product(ve[1:16], ve[1:16]))
        |         * sqrt(list_dot_product(qe[1:16], qe[1:16])))
        |      * 1000000) / 1000000 AS ct
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
        |        FROM embeddings WHERE vec_id <> 0), q),
        |tf AS (SELECT vec_id FROM sc ORDER BY cf DESC, vec_id LIMIT 5),
        |tt AS (SELECT vec_id FROM sc ORDER BY ct DESC, vec_id LIMIT 5)
        |SELECT CAST(5 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_overlap,
        |  round(count(*) / 5.0 * 1000000) / 1000000 AS overlap_frac
        |FROM tf WHERE vec_id IN (SELECT vec_id FROM tt)""".stripMargin,
    "sim_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
        |FROM embeddings e, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin,
    "sim_hamming_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
        |              <> (q.qe[i] >= 0) THEN 1 ELSE 0 END))
        |    AS BIGINT) AS hamming,
        |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY hamming, e.vec_id LIMIT 20""".stripMargin,
    "sim_label_dim_stats" ->
      """WITH pe AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 1000000)
        |      AS BIGINT) AS x6
        |  FROM embeddings),
        |a AS (SELECT label, dim, count(*) AS n,
        |  CAST(sum(x6) AS BIGINT) AS s1,
        |  CAST(sum(x6 * x6) AS BIGINT) AS s2
        |  FROM pe GROUP BY 1, 2)
        |SELECT label, dim, n,
        |  round(CAST(s1 AS DOUBLE) / 1000000.0 / n * 1000000)
        |    / 1000000 AS mean,
        |  round((CAST(s2 AS DOUBLE) / 1000000000000.0
        |    - (CAST(s1 AS DOUBLE) / 1000000.0)
        |      * (CAST(s1 AS DOUBLE) / 1000000.0) / n)
        |    / (n - 1) * 1000000) / 1000000 AS variance
        |FROM a ORDER BY label, dim""".stripMargin
  )

  // The models the registered queries train (at their default
  // parameters), as last served: oracle SQL embeds them as literals, so
  // an entry exists once its query has run.
  private def servedIvf =
    Derived.latest[Array[(Int, Array[Double])]]("ivf_centroids", 16, 2)
  private def servedPq =
    Derived.latest[Array[Array[Array[Double]]]]("pq_codebooks", 8, 16, 2)
  private def servedResidual = Derived.latest[(Array[(Int, Array[Double])],
    Array[Array[Array[Double]]])]("residual_pq", 8, 16, 16, 2)
  private def servedSem =
    Derived.latest[Array[(Int, Array[Double])]]("sem_centroids", 0)

  /** IVF replay generated from the CONVERGED quantizer: graft.Verify
    * runs every query before dumping oracle SQL, so by dump time
    * [[ivfCentroids]] has recorded the trained centroids for the
    * dataset under verification and they embed as double literals
    * (shortest-round-trip `Double.toString` parses back bit-identical —
    * the same trick as [[planesSqlLiteral]]). The oracle then replays
    * assignment (argmin squared-L2, ties to the lowest centroid id —
    * plans.NearestCentroid's strict-< rule), the 4-probe selection and
    * the exact cosine scoring entirely in DuckDB. If the query never
    * ran (training failed), the entry is omitted and the driver falls
    * back to the rows-only check instead of comparing against a stale
    * quantizer. */
  private def ivfOracleEntry: Map[String, String] = servedIvf match {
    case None => Map.empty
    case Some(cs) => Map(
      "sim_ivf_topk" -> ivfOracleSqlFor(cs),
      // the partitioned-layout probe computes the IDENTICAL result set
      // (same centroids, same probes, same exact scoring) — only the
      // physical access path differs (partition pruning instead of an
      // in-scan filter), which is precisely what the shared oracle
      // proves
      "sim_ivf_partitioned_probe" -> ivfOracleSqlFor(cs))
  }

  /** SemDeDup replay from the recorded quantizer literals: assignment
    * via the argmin-with-lowest-cid window, pairs as the within-cluster
    * equi-join with the lowest-id drop rule, cosine in the
    * dot/(nrm·nrm) spelling the engine's fold computes, τ compared on
    * the ROUNDED similarity. Zero-norm vectors yield NULL cosine →
    * NULL comparison → the pair drops out, matching Spark's
    * null-guarded [[VectorOps.cosine]]. */
  private def semDedupOracleEntry: Map[String, String] = servedSem match {
    case None => Map.empty
    case Some(cs) => Map("sim_semdedup" -> semDedupOracleSqlFor(cs, SemTau))
  }

  private def semDedupOracleSqlFor(cs: Array[(Int, Array[Double])],
      tau: Double): String = {
    val dim = cs.head._2.length
    val values = cs.sortBy(_._1)
      .map { case (id, v) => s"($id, ${v.mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    def sq(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    s"""WITH cents(cid, cv) AS (VALUES
       |    $values),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |asg AS (
       |  SELECT vec_id, vd, CAST(cid AS BIGINT) AS cid FROM (
       |    SELECT e.vec_id, e.vd, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${sq("c.cv", "e.vd")}, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
       |  WHERE round(list_dot_product(a.vd, b.vd) /
       |      (sqrt(list_dot_product(a.vd, a.vd)) *
       |       sqrt(list_dot_product(b.vd, b.vd))) * 1000000) / 1000000
       |      >= $tau)
       |SELECT asg.vec_id, asg.cid, (dr.vec_id IS NULL) AS kept
       |FROM asg LEFT JOIN dropped dr ON dr.vec_id = asg.vec_id
       |ORDER BY asg.vec_id""".stripMargin
  }

  /** sample_cluster_cap replay: assignment via the proven semdedup
    * spelling (row_number over the per-centroid squared distances),
    * then the SAME expanded distance fold the engine uses —
    * list_dot_product(v,v) − 2·list_dot_product(v,c) + c2 with c2 the
    * trained literal — and the per-cluster cap as the window spelling
    * of TopKAgg's total order (dist asc, vec_id DESC on ties — the
    * aggregator's pinned tie rule). */
  private def clusterCapOracleEntry: Map[String, String] =
    servedSem match {
      case None => Map.empty
      case Some(cs) => Map("sample_cluster_cap" -> {
        val dim = cs.head._2.length
        val values = cs.sortBy(_._1)
          .map { case (id, v) =>
            s"($id, ${v.mkString("[", ",", "]")}, ${v.map(x => x * x).sum})"
          }.mkString(",\n    ")
        def sq(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, $dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
        s"""WITH cents(cid, cv, c2) AS (VALUES
           |    $values),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
           |asg AS (
           |  SELECT vec_id, vd, CAST(cid AS BIGINT) AS cid FROM (
           |    SELECT e.vec_id, e.vd, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |                         ORDER BY ${sq("c.cv", "e.vd")}, c.cid) AS rn
           |    FROM e, cents c)
           |  WHERE rn = 1),
           |scored AS (
           |  SELECT a.cid, a.vec_id,
           |    (list_dot_product(a.vd, a.vd)
           |      - 2 * list_dot_product(a.vd, c.cv)) + c.c2 AS dist
           |  FROM asg a JOIN cents c ON CAST(c.cid AS BIGINT) = a.cid),
           |ranked AS (
           |  SELECT cid, vec_id, dist,
           |    row_number() OVER (PARTITION BY cid
           |                       ORDER BY dist, vec_id DESC) AS rk
           |  FROM scored)
           |SELECT cid, CAST(rk AS BIGINT) AS keep_rank, vec_id,
           |  round(dist * 1000000) / 1000000 AS dist2
           |FROM ranked WHERE rk <= $CapK
           |ORDER BY cid, keep_rank""".stripMargin
      })
    }

  private def ivfOracleSqlFor(cs: Array[(Int, Array[Double])]): String = {
    val dim = cs.head._2.length
    val values = cs.sortBy(_._1)
      .map { case (id, v) => s"($id, ${v.mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    def sq(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    s"""WITH cents(cid, cv) AS (VALUES
       |    $values),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${sq("cv", "qv")}, cid LIMIT 4),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |asg AS (
       |  SELECT vec_id, vd, cid FROM (
       |    SELECT e.vec_id, e.vd, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${sq("c.cv", "e.vd")}, c.cid) AS rn
       |    FROM e, cents c)
       |  WHERE rn = 1)
       |SELECT a.vec_id,
       |  round(list_dot_product(a.vd, q.qv) /
       |    (sqrt(list_dot_product(a.vd, a.vd)) *
       |     sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
       |FROM asg a, q
       |WHERE a.cid IN (SELECT cid FROM probes) AND a.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** PQ replay generated from the trained codebooks (same literal
    * round-trip + run-order contract as [[ivfOracleEntry]]): assignment
    * is argmin squared-L2 per subspace with ties to the lowest code
    * (row_number ORDER BY dist, cid replays NearestCentroid's strict-<),
    * the LUT is `list_dot_product` of the query SUBVECTOR with each
    * centroid literal (sequential fold — bit-identical to the driver's),
    * and the ADC total is the same fixed left-assoc 8-term chain the
    * Spark query emits, so round(·,6) cannot disagree by re-association.
    */
  private def pqOracleEntry: Map[String, String] = servedPq match {
    case None => Map.empty
    case Some(books) => Map("sim_pq_topk" -> pqOracleSqlFor(books))
  }

  private def pqOracleSqlFor(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val sub = books.head.head.length
    val values = (for {
      mi <- 0 until m
      j <- books(mi).indices
    } yield s"($mi, $j, ${books(mi)(j).mkString("[", ",", "]")})")
      .mkString(",\n    ")
    def sq(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, $sub), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val terms = (0 until m).map(mi =>
      s"MAX(CASE WHEN a.m = $mi THEN l.v END)")
    val pvCols = terms.zipWithIndex
      .map { case (t, i) => s"$t AS v$i" }.mkString(",\n    ")
    val chain = (1 until m).foldLeft("v0")((acc, i) => s"($acc + v$i)")
    s"""WITH cents(m, cid, cv) AS (VALUES
       |    $values),
       |subs(m) AS (SELECT unnest(generate_series(0, ${m - 1}))),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |      FROM embeddings WHERE vec_id <> 0),
       |sv AS (SELECT vec_id, m,
       |         list_slice(vd, m * $sub + 1, m * $sub + $sub) AS sv
       |       FROM e, subs),
       |asg AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${sq("c.cv", "s.sv")}, c.cid) AS rn
       |    FROM sv s JOIN cents c ON s.m = c.m)
       |  WHERE rn = 1),
       |lut AS (SELECT c.m, c.cid,
       |          list_dot_product(
       |            list_slice(q.qv, c.m * $sub + 1, c.m * $sub + $sub),
       |            c.cv) AS v
       |        FROM cents c, q),
       |pv AS (SELECT a.vec_id,
       |    $pvCols
       |  FROM asg a JOIN lut l ON a.m = l.m AND a.cid = l.cid
       |  GROUP BY a.vec_id)
       |SELECT vec_id, round($chain, 6) AS adc_ip
       |FROM pv ORDER BY adc_ip DESC, vec_id LIMIT 10""".stripMargin
  }

  /** IVF-PQ replay: the coarse-quantizer CTEs of [[ivfOracleSqlFor]]
    * (assignment + probe selection over the centroid literals) compose
    * with the PQ CTEs of [[pqOracleSqlFor]] (per-subspace assignment +
    * LUT + fixed-order ADC chain) — the PQ stages simply run over the
    * probe-filtered vector set instead of the full corpus. Emitted only
    * when BOTH quantizers were trained this run. */
  private def ivfPqOracleEntry: Map[String, String] =
    (servedIvf, servedPq) match {
      case (Some(cs), Some(books)) =>
        Map("sim_ivf_pq_topk" -> ivfPqOracleSqlFor(cs, books))
      case _ => Map.empty
    }

  private def ivfPqOracleSqlFor(cs: Array[(Int, Array[Double])],
      books: Array[Array[Array[Double]]]): String = {
    val dim = cs.head._2.length
    val coarseValues = cs.sortBy(_._1)
      .map { case (id, v) => s"($id, ${v.mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    val m = books.length
    val sub = books.head.head.length
    val pqValues = (for {
      mi <- 0 until m
      j <- books(mi).indices
    } yield s"($mi, $j, ${books(mi)(j).mkString("[", ",", "]")})")
      .mkString(",\n    ")
    def sqd(a: String, b: String, n: Int) =
      s"list_sum(list_transform(generate_series(1, $n), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val pvCols = (0 until m)
      .map(mi => s"MAX(CASE WHEN a.m = $mi THEN l.v END) AS v$mi")
      .mkString(",\n    ")
    val chain = (1 until m).foldLeft("v0")((acc, i) => s"($acc + v$i)")
    s"""WITH coarse(ccid, ccv) AS (VALUES
       |    $coarseValues),
       |cents(m, cid, cv) AS (VALUES
       |    $pqValues),
       |subs(m) AS (SELECT unnest(generate_series(0, ${m - 1}))),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT ccid FROM coarse, q
       |  ORDER BY ${sqd("ccv", "qv", dim)}, ccid LIMIT 4),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |       FROM embeddings WHERE vec_id <> 0),
       |casg AS (
       |  SELECT vec_id, vd, ccid FROM (
       |    SELECT e0.vec_id, e0.vd, c.ccid,
       |      row_number() OVER (PARTITION BY e0.vec_id
       |                         ORDER BY ${sqd("c.ccv", "e0.vd", dim)}, c.ccid) AS rn
       |    FROM e0, coarse c)
       |  WHERE rn = 1),
       |e AS (SELECT vec_id, vd FROM casg
       |      WHERE ccid IN (SELECT ccid FROM probes)),
       |sv AS (SELECT vec_id, m,
       |         list_slice(vd, m * $sub + 1, m * $sub + $sub) AS sv
       |       FROM e, subs),
       |asg AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${sqd("c.cv", "s.sv", sub)}, c.cid) AS rn
       |    FROM sv s JOIN cents c ON s.m = c.m)
       |  WHERE rn = 1),
       |lut AS (SELECT c.m, c.cid,
       |          list_dot_product(
       |            list_slice(q.qv, c.m * $sub + 1, c.m * $sub + $sub),
       |            c.cv) AS v
       |        FROM cents c, q),
       |pv AS (SELECT a.vec_id,
       |    $pvCols
       |  FROM asg a JOIN lut l ON a.m = l.m AND a.cid = l.cid
       |  GROUP BY a.vec_id)
       |SELECT vec_id, round($chain, 6) AS adc_ip
       |FROM pv ORDER BY adc_ip DESC, vec_id LIMIT 10""".stripMargin
  }

  private def ivfPqResidualOracleEntry: Map[String, String] =
    servedResidual match {
      case Some((cs, books)) =>
        Map("sim_ivf_pq_residual" -> ivfPqResidualOracleSqlFor(cs, books))
      case None => Map.empty
    }

  /** Residual IVF-PQ replay: same literal round-trip as
    * [[ivfPqOracleSqlFor]] with two additions — each survivor's
    * RESIDUAL (vd − probed cell's centroid literal) feeds the subspace
    * assignment, and the ADC chain starts from the per-cell constant
    * dot(q, c_cell) (list_dot_product over the same literals the Spark
    * side folds on the driver), then adds the m lookups in the same
    * fixed left-assoc order. */
  private def ivfPqResidualOracleSqlFor(cs: Array[(Int, Array[Double])],
      books: Array[Array[Array[Double]]]): String = {
    val dim = cs.head._2.length
    val coarseValues = cs.sortBy(_._1)
      .map { case (id, v) => s"($id, ${v.mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    val m = books.length
    val sub = books.head.head.length
    val pqValues = (for {
      mi <- 0 until m
      j <- books(mi).indices
    } yield s"($mi, $j, ${books(mi)(j).mkString("[", ",", "]")})")
      .mkString(",\n    ")
    def sqd(a: String, b: String, n: Int) =
      s"list_sum(list_transform(generate_series(1, $n), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val pvCols = (0 until m)
      .map(mi => s"MAX(CASE WHEN a.m = $mi THEN l.v END) AS v$mi")
      .mkString(",\n    ")
    val chain = (0 until m).foldLeft("qcv")((acc, i) => s"($acc + v$i)")
    s"""WITH coarse(ccid, ccv) AS (VALUES
       |    $coarseValues),
       |cents(m, cid, cv) AS (VALUES
       |    $pqValues),
       |subs(m) AS (SELECT unnest(generate_series(0, ${m - 1}))),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT ccid FROM coarse, q
       |  ORDER BY ${sqd("ccv", "qv", dim)}, ccid LIMIT 4),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |       FROM embeddings WHERE vec_id <> 0),
       |casg AS (
       |  SELECT vec_id, vd, ccid FROM (
       |    SELECT e0.vec_id, e0.vd, c.ccid,
       |      row_number() OVER (PARTITION BY e0.vec_id
       |                         ORDER BY ${sqd("c.ccv", "e0.vd", dim)}, c.ccid) AS rn
       |    FROM e0, coarse c)
       |  WHERE rn = 1),
       |e AS (SELECT casg.vec_id, casg.ccid,
       |        list_transform(generate_series(1, $dim),
       |          i -> casg.vd[i] - c.ccv[i]) AS rd
       |      FROM casg JOIN coarse c USING (ccid)
       |      WHERE casg.ccid IN (SELECT ccid FROM probes)),
       |qc AS (SELECT c.ccid, list_dot_product(q.qv, c.ccv) AS qcv
       |       FROM coarse c, q
       |       WHERE c.ccid IN (SELECT ccid FROM probes)),
       |sv AS (SELECT vec_id, ccid, m,
       |         list_slice(rd, m * $sub + 1, m * $sub + $sub) AS sv
       |       FROM e, subs),
       |asg AS (
       |  SELECT vec_id, ccid, m, cid FROM (
       |    SELECT s.vec_id, s.ccid, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${sqd("c.cv", "s.sv", sub)}, c.cid) AS rn
       |    FROM sv s JOIN cents c ON s.m = c.m)
       |  WHERE rn = 1),
       |lut AS (SELECT c.m, c.cid,
       |          list_dot_product(
       |            list_slice(q.qv, c.m * $sub + 1, c.m * $sub + $sub),
       |            c.cv) AS v
       |        FROM cents c, q),
       |pv AS (SELECT a.vec_id, a.ccid,
       |    $pvCols
       |  FROM asg a JOIN lut l ON a.m = l.m AND a.cid = l.cid
       |  GROUP BY a.vec_id, a.ccid)
       |SELECT vec_id, round($chain, 6) AS adc_ip
       |FROM pv JOIN qc USING (ccid)
       |ORDER BY adc_ip DESC, vec_id LIMIT 10""".stripMargin
  }

  private def evalPanelOracleEntry: Map[String, String] =
    (servedIvf, servedPq, servedResidual) match {
      case (Some(cs), Some(raw), Some((_, resid))) =>
        Map("sim_eval_index_panel" -> evalPanelOracleSqlFor(cs, raw, resid))
      case _ => Map.empty
    }

  /** Index-panel replay: every trained model the panel graded embeds as
    * literals (the [[ivfOracleSqlFor]]/[[pqOracleSqlFor]] round-trip
    * contract), ground truth and all five candidate rankings re-derive
    * with the same rounding bridge and (score desc, vec_id) tie-breaks,
    * and the per-index aggregates use the same DECIMAL-summed literal
    * DCG weights and exact integer recall denominators. */
  private def evalPanelOracleSqlFor(cs: Array[(Int, Array[Double])],
      raw: Array[Array[Array[Double]]],
      resid: Array[Array[Array[Double]]]): String = {
    val dim = cs.head._2.length
    val m = raw.length
    val sub = raw.head.head.length
    val k = 10
    val nPanel = 10
    val nProbe = 4
    val coarseValues = cs.sortBy(_._1)
      .map { case (id, v) => s"($id, ${v.mkString("[", ",", "]")})" }
      .mkString(",\n    ")
    def bookValues(books: Array[Array[Array[Double]]]): String = (for {
      mi <- 0 until m
      j <- books(mi).indices
    } yield s"($mi, $j, ${books(mi)(j).mkString("[", ",", "]")})")
      .mkString(",\n    ")
    def sqd(a: String, b: String, n: Int) =
      s"list_sum(list_transform(generate_series(1, $n), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val pvCols = (0 until m)
      .map(mi => s"MAX(CASE WHEN a.m = $mi THEN l.v END) AS v$mi")
      .mkString(",\n    ")
    val chain = (1 until m).foldLeft("v0")((acc, i) => s"($acc + v$i)")
    val rchain = (0 until m).foldLeft("qcv")((acc, i) => s"($acc + v$i)")
    val wts = ndcgWeights(k)
    val wLit = wts.mkString("[", ",", "]")
    val ndcgDenom = nPanel * wts.sum
    val cosSql =
      s"""round(CASE WHEN sqrt(list_dot_product(b.vd, b.vd)) *
         |            sqrt(list_dot_product(q.qvd, q.qvd)) = 0.0 THEN NULL
         |      ELSE list_dot_product(b.vd, q.qvd) /
         |           (sqrt(list_dot_product(b.vd, b.vd)) *
         |            sqrt(list_dot_product(q.qvd, q.qvd))) END, 6)""".stripMargin
    def statsFor(name: String, ann: String): String =
      s"""SELECT '$name' AS index_name, count(*) AS nh,
         |    sum(CAST(wts[CAST(a.rn AS INT)] AS DECIMAL(18, 6))) AS dcg
         |  FROM $ann a JOIN gt g ON g.qid = a.qid AND g.vec_id = a.vec_id
         |  CROSS JOIN w""".stripMargin
    s"""WITH pl AS (SELECT ${planesSqlLiteralTake(4)} AS ps),
       |coarse(ccid, ccv) AS (VALUES
       |    $coarseValues),
       |cents(m, cid, cv) AS (VALUES
       |    ${bookValues(raw)}),
       |rcents(m, cid, cv) AS (VALUES
       |    ${bookValues(resid)}),
       |subs(m) AS (SELECT unnest(generate_series(0, ${m - 1}))),
       |w AS (SELECT $wLit AS wts),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |       FROM embeddings),
       |b AS (SELECT vec_id, vd, ${bucketSql("vd")} AS bucket
       |      FROM e0, pl),
       |casg AS (
       |  SELECT vec_id, vd, ccid FROM (
       |    SELECT e0.vec_id, e0.vd, c.ccid,
       |      row_number() OVER (PARTITION BY e0.vec_id
       |                         ORDER BY ${sqd("c.ccv", "e0.vd", dim)}, c.ccid) AS rn
       |    FROM e0, coarse c)
       |  WHERE rn = 1),
       |sv AS (SELECT vec_id, m,
       |         list_slice(vd, m * $sub + 1, m * $sub + $sub) AS sv
       |       FROM e0, subs),
       |asg AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${sqd("c.cv", "s.sv", sub)}, c.cid) AS rn
       |    FROM sv s JOIN cents c ON s.m = c.m)
       |  WHERE rn = 1),
       |rdv AS (SELECT casg.vec_id, casg.ccid,
       |          list_transform(generate_series(1, $dim),
       |            i -> casg.vd[i] - c.ccv[i]) AS rd
       |        FROM casg JOIN coarse c USING (ccid)),
       |rsv AS (SELECT vec_id, ccid, m,
       |          list_slice(rd, m * $sub + 1, m * $sub + $sub) AS sv
       |        FROM rdv, subs),
       |rasg AS (
       |  SELECT vec_id, ccid, m, cid FROM (
       |    SELECT s.vec_id, s.ccid, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${sqd("c.cv", "s.sv", sub)}, c.cid) AS rn
       |    FROM rsv s JOIN rcents c ON s.m = c.m)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, vd AS qvd, bucket AS qbucket
       |      FROM b WHERE vec_id < $nPanel),
       |probes AS (
       |  SELECT qid, ccid FROM (
       |    SELECT q.qid, c.ccid,
       |      row_number() OVER (PARTITION BY q.qid
       |                         ORDER BY ${sqd("c.ccv", "q.qvd", dim)}, c.ccid) AS rn
       |    FROM coarse c, q)
       |  WHERE rn <= $nProbe),
       |pairs AS (
       |  SELECT q.qid, q.qbucket, b.vec_id, b.bucket, $cosSql AS cs
       |  FROM b CROSS JOIN q WHERE b.vec_id <> q.qid),
       |gt AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY cs DESC NULLS LAST, vec_id) AS rn
       |    FROM pairs)
       |  WHERE rn <= $k),
       |lut AS (SELECT q.qid, c.m, c.cid,
       |          list_dot_product(
       |            list_slice(q.qvd, c.m * $sub + 1, c.m * $sub + $sub),
       |            c.cv) AS v
       |        FROM cents c, q),
       |rlut AS (SELECT q.qid, c.m, c.cid,
       |           list_dot_product(
       |             list_slice(q.qvd, c.m * $sub + 1, c.m * $sub + $sub),
       |             c.cv) AS v
       |         FROM rcents c, q),
       |qc AS (SELECT q.qid, c.ccid,
       |         list_dot_product(q.qvd, c.ccv) AS qcv
       |       FROM coarse c, q),
       |pqs AS (
       |  SELECT l.qid, a.vec_id,
       |    $pvCols
       |  FROM asg a JOIN lut l ON a.m = l.m AND a.cid = l.cid
       |  WHERE a.vec_id <> l.qid
       |  GROUP BY l.qid, a.vec_id),
       |rpqs AS (
       |  SELECT l.qid, a.vec_id, a.ccid,
       |    $pvCols
       |  FROM rasg a JOIN rlut l ON a.m = l.m AND a.cid = l.cid
       |  WHERE a.vec_id <> l.qid
       |  GROUP BY l.qid, a.vec_id, a.ccid),
       |lsh_ann AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY cs DESC NULLS LAST, vec_id) AS rn
       |    FROM pairs WHERE bucket = qbucket)
       |  WHERE rn <= $k),
       |ivf_ann AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT p.qid, p.vec_id,
       |      row_number() OVER (PARTITION BY p.qid
       |                         ORDER BY p.cs DESC NULLS LAST, p.vec_id) AS rn
       |    FROM pairs p
       |    JOIN casg ca ON ca.vec_id = p.vec_id
       |    JOIN probes pr ON pr.qid = p.qid AND pr.ccid = ca.ccid)
       |  WHERE rn <= $k),
       |pq_ann AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY round($chain, 6) DESC, vec_id) AS rn
       |    FROM pqs)
       |  WHERE rn <= $k),
       |ivfpq_ann AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT s.qid, s.vec_id,
       |      row_number() OVER (PARTITION BY s.qid
       |                         ORDER BY round($chain, 6) DESC, s.vec_id) AS rn
       |    FROM pqs s
       |    JOIN casg ca ON ca.vec_id = s.vec_id
       |    JOIN probes pr ON pr.qid = s.qid AND pr.ccid = ca.ccid)
       |  WHERE rn <= $k),
       |rpq_ann AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT s.qid, s.vec_id,
       |      row_number() OVER (PARTITION BY s.qid
       |                         ORDER BY round($rchain, 6) DESC, s.vec_id) AS rn
       |    FROM rpqs s
       |    JOIN probes pr ON pr.qid = s.qid AND pr.ccid = s.ccid
       |    JOIN qc ON qc.qid = s.qid AND qc.ccid = s.ccid)
       |  WHERE rn <= $k),
       |stats AS (
       |  ${statsFor("ivf", "ivf_ann")}
       |  UNION ALL
       |  ${statsFor("ivf_pq", "ivfpq_ann")}
       |  UNION ALL
       |  ${statsFor("ivf_pq_residual", "rpq_ann")}
       |  UNION ALL
       |  ${statsFor("lsh4", "lsh_ann")}
       |  UNION ALL
       |  ${statsFor("pq", "pq_ann")})
       |SELECT index_name,
       |  round(CAST(nh AS DOUBLE) / ${nPanel * k} * 1000000) / 1000000
       |    AS recall10,
       |  round(coalesce(CAST(dcg AS DOUBLE), 0.0) / $ndcgDenom * 1000000)
       |    / 1000000 AS ndcg10
       |FROM stats ORDER BY index_name""".stripMargin
  }

  def oracles: Map[String, String] =
    staticOracles ++ ivfOracleEntry ++ pqOracleEntry ++ ivfPqOracleEntry ++
      ivfPqResidualOracleEntry ++ semDedupOracleEntry ++
      clusterCapOracleEntry ++ evalPanelOracleEntry
}
