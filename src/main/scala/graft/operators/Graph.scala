package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Bounded, Tables, U}

/** Graph analytics over the event stream — the contracted-graph pattern.
  *
  * PageRank (and label propagation, HITS, etc.) over a graph derived
  * from a 100 TB fact has two very different halves:
  *
  *   1. '''Contraction''' — build the weighted edge list. This is the
  *      distributed work: a per-user window (lag) orders each user's
  *      events and a partial+final aggregate collapses the transitions
  *      to one row per (src, dst). The shuffle carries (user, ts-µs,
  *      type) triples once; everything after runs on the contracted
  *      table.
  *   2. '''Iteration''' — power-iterate ranks on the contracted graph.
  *      Node count here is the event-type vocabulary (dozens), so the
  *      contracted graph is collected to the driver under a loud
  *      row-count guard — the same discipline as IVF centroid training
  *      ([[graft.similarity.Similarity]]) and the code-dim map
  *      ([[Joins]]): a genuinely tiny, cardinality-bounded table may
  *      drive a loop; a copy-paste onto an unbounded node set fails
  *      with a named error rather than OOMing the driver. (For graphs
  *      whose NODE set scales with the data — user×user — the loop
  *      would instead stay distributed: iterate rank-join-aggregate
  *      with one persisted generation per step, as
  *      [[graft.plans.Iterate.fixpoint]] does for pointer doubling.)
  *
  * Determinism: every per-edge contribution rounds to 1e-6 BEFORE the
  * exact micro-unit (decimal) sum, and each new rank rounds to 1e-6 —
  * so the ranks are partition-order invariant and engine-identical,
  * and the DuckDB oracle can unroll the same three iterations in SQL.
  * Dangling mass (nodes with no out-edges) is dropped, the standard
  * simplification; both sides implement the same convention.
  *
  * Reference ancestry: the reference pipeline has no graph operator —
  * this is part of the mandated beyond-reference engine surface
  * (SURVEY §2 Part B extensions).
  */
object Graph {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** The driver fast paths collect ids as longs, so only integral id
    * columns qualify — any other type (string keys, nulls-possible
    * decimals) falls through to the type-generic distributed path
    * instead of NPE-ing in cast-to-long + getLong. */
  private[graft] def integralIds(df: DataFrame, cols: String*): Boolean = {
    import org.apache.spark.sql.types._
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  /** The fast paths' edge probe ([[Bounded.rows]]): the (a, b) edge
    * list as long pairs, or None when it has more than `cap` rows or
    * its ids are not integral. Reads a fresh projection of the caller's
    * frame and caches nothing, so the distributed path reads `edges`
    * exactly as it would without the probe. */
  private def longEdges(edges: DataFrame, cap: Long)
      : Option[Array[(Long, Long)]] =
    if (!integralIds(edges, "a", "b")) None
    else Bounded.rows(edges.select(col("a").cast("long"),
        col("b").cast("long")), cap)
      .map(_.map(r => (r.getLong(0), r.getLong(1))))

  /** [[longEdges]] plus the ids of `nodes` (its `node` column) as longs,
    * both within `cap`. */
  private def longGraph(edges: DataFrame, nodes: DataFrame, cap: Long)
      : Option[(Array[(Long, Long)], Array[Long])] =
    if (!integralIds(nodes, "node")) None
    else for {
      e <- longEdges(edges, cap)
      n <- Bounded.rows(nodes.select(col("node").cast("long")), cap)
    } yield (e, n.map(_.getLong(0)))

  /** Synchronous label propagation over an undirected edge set
    * (`a`/`b` columns): `rounds` fixed iterations of "adopt the most
    * frequent neighbor label, ties to the smallest label"; isolated
    * nodes keep their seed label (their own id). Fixed rounds is the
    * honest contract — LPA has no general fixpoint (labels can
    * 2-cycle on bipartite structures), so callers pick the horizon
    * and the oracle unrolls exactly that many steps. Per round: one
    * join + one (node, label) count + one per-node rank window, all
    * keyed shuffles linear in |E|. */
  def labelPropagate(edges: DataFrame, nodes: DataFrame, rounds: Int,
      driverCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    // Guarded driver fast path (see [[bfsLayers]]): the adopt-the-mode
    // step is integer counting with a deterministic (max count, min
    // label) tie-break — no ordering sensitivity — so when the
    // [[Bounded]] probe brings back the whole edge and node lists the
    // rounds run locally on them. Above the cap — or for
    // non-integral id types the long collect can't carry — the
    // keyed-shuffle rounds below run untouched; parity is pinned
    // both-sides in GraphSpec. The label UNIVERSE is confined to
    // `nodes` exactly as in the distributed path (labels.join(upd,
    // "left") keeps the frame = nodes): an edge endpoint absent from
    // `nodes` never acquires a label and never votes one onward.
    val spark = edges.sparkSession
    Bounded.path("lp")(longGraph(edges, nodes, driverCap)) match {
      case Some((eArr, nArr)) =>
        val lbl = new java.util.HashMap[Long, Long]()
        nArr.foreach(n => lbl.put(n, n))
        for (_ <- 1 to rounds) {
          // synchronous: counts read the previous round's labels
          val cnt = new java.util.HashMap[(Long, Long), Long]()
          def vote(u: Long, v: Long): Unit = if (lbl.containsKey(v))
            cnt.merge((u, lbl.get(v)), 1L, _ + _)
          eArr.foreach { case (a, b) => vote(a, b); vote(b, a) }
          val best = new java.util.HashMap[Long, (Long, Long)]()
          cnt.forEach { (k, c) =>
            val (u, l) = k
            val cur = best.get(u)
            if (cur == null || c > cur._2 || (c == cur._2 && l < cur._1))
              best.put(u, (l, c))
          }
          best.forEach((u, lc) =>
            if (lbl.containsKey(u)) lbl.put(u, lc._1))
        }
        import spark.implicits._
        val nT = nodes.schema("node").dataType
        return spark.createDataset(nArr.toSeq.map(n => (n, lbl.get(n))))
          .select(col("_1").cast(nT).as("node"),
            col("_2").cast(nT).as("lbl"))
      case None =>
    }
    val W = Window
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    def step(labels: DataFrame): DataFrame = {
      val upd = sym
        .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
        .groupBy("u", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          W.partitionBy("u").orderBy(col("cnt").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("u").as("node"), col("lbl").as("new_lbl"))
      labels.join(upd, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
    var cur = nodes.select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) cur = step(cur)
    cur
  }

  /** Multi-source BFS hop distances: `rounds` synchronous Bellman-Ford
    * steps over an undirected edge set (`a`/`b`), starting from a
    * distance map `seeded` (`node`, `dist` — 0 at seeds, NULL
    * elsewhere). After round k every node within k hops of a seed
    * carries its exact hop count; farther nodes stay NULL. Each round
    * is one join + one per-node min aggregate + one elementwise min —
    * keyed shuffles linear in |E|. */
  def bfsLayers(edges: DataFrame, seeded: DataFrame, rounds: Int,
      driverCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    // Guarded driver fast path (the connectedComponents/canonicalResolve
    // pattern): the per-round cost of the distributed form is ~3 keyed
    // shuffles of a few thousand rows — pure stage-barrier latency at
    // test scale (the sf0.1 near-dup graph is 5k edges / 50k nodes) —
    // so under the probe cap the synchronous rounds run as one
    // bounded collect + local Bellman-Ford, bit-identically (integer hop
    // math has no ordering sensitivity). Above the cap the DataFrame
    // rounds run untouched: that is the 100 TB path, and the parity is
    // pinned both-sides in MarketSpec.
    // Distance UNIVERSE confined to `seeded` exactly as in the
    // distributed path (dist.join(cand, "left") keeps the frame =
    // seeded): an edge endpoint absent from `seeded` never carries a
    // distance and never relays one. Probe and integral-id guard as in
    // [[labelPropagate]].
    val spark = edges.sparkSession
    Bounded.path("bfs") {
      if (!integralIds(seeded, "node")) None
      else for {
        eArr <- longEdges(edges, driverCap)
        seedRows <- Bounded.rows(seeded
          .select(col("node").cast("long"), col("dist").cast("int")), driverCap)
      } yield (eArr, seedRows)
    } match {
      case Some((eArr, seedRows)) =>
        val dist = new java.util.HashMap[Long, Int]()
        val universe = new java.util.HashSet[Long]()
        val order = new Array[Long](seedRows.length)
        var i = 0
        seedRows.foreach { r =>
          order(i) = r.getLong(0); i += 1
          universe.add(r.getLong(0))
          if (!r.isNullAt(1)) dist.put(r.getLong(0), r.getInt(1))
        }
        for (_ <- 1 to rounds) {
          // synchronous step: candidates read the PREVIOUS round's map
          val cand = new java.util.HashMap[Long, Int]()
          def relax(u: Long, v: Long): Unit = if (dist.containsKey(v)) {
            val c = dist.get(v) + 1
            if (!cand.containsKey(u) || c < cand.get(u)) cand.put(u, c)
          }
          eArr.foreach { case (a, b) => relax(a, b); relax(b, a) }
          cand.forEach { (n, c) =>
            if (universe.contains(n) &&
                (!dist.containsKey(n) || c < dist.get(n))) dist.put(n, c)
          }
        }
        import spark.implicits._
        val nT = seeded.schema("node").dataType
        return spark.createDataset(order.toSeq.map(n =>
            (n, if (dist.containsKey(n)) Some(dist.get(n)) else None)))
          .select(col("_1").cast(nT).as("node"), col("_2").as("dist"))
      case None =>
    }
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    var dist = seeded.select(col("node"), col("dist").cast("int").as("dist"))
    for (_ <- 1 to rounds) {
      val cand = sym
        .join(dist.filter(col("dist").isNotNull)
          .select(col("node").as("v"), col("dist")), Seq("v"))
        .groupBy("u").agg((min(col("dist")) + 1).as("cand"))
      dist = dist
        .join(cand.select(col("u").as("node"), col("cand")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(least(col("dist"), col("cand")),
            col("dist"), col("cand")).as("dist"))
    }
    dist
  }

  /** The contracted event-type transition graph pagerank_types and
    * hits_types iterate on the driver: (src, dst, w) per consecutive
    * event-type pair in a user's journey, and the sorted node set. The
    * contraction is distributed (window + aggregate); its ≤|types|²
    * edge list and node set are collected under a bound that fails
    * loudly: a data-scaled node set must iterate distributed. */
  private def typeGraph(s: SparkSession, d: String)
      : (Array[(String, String, Long)], Array[String]) = {
    val perUser = Window.partitionBy("user_id")
      .orderBy(U.tsUs(col("ts")), col("event_id"))
    val contracted = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("dst"))
      .withColumn("src", lag(col("dst"), 1).over(perUser))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val edges = Bounded.collect(contracted, 100000,
        "contracted transition graph (graph_*_types driver iteration)")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes = Bounded.collect(t(s, d, "events").select(col("event_type")).distinct(),
        100000, "event-type node set (graph_*_types driver iteration)")
      .map(_.getString(0)).sorted
    (edges, nodes)
  }

  /** Damping factor and iteration count pinned by the query contract. */
  private val damping = 0.85
  private val iterations = 3

  /** Shared DuckDB CTE chain replaying the LSH near-dup EDGE SET the
    * graph family iterates on (plane-literal hyperplane LSH → capped
    * buckets → cosine-thresholded pairs) — byte-identical semantics to
    * [[graft.dedup.Dedup.embeddingLshPairs]] at τ = 0.05. Interpolated
    * as the head of every graph oracle so the replay cannot drift
    * between siblings. The quantizer width replays the ADAPTIVE rule
    * ([[graft.similarity.Similarity.adaptiveNBits]] — integer
    * thresholds, no float ties): the plane literal carries the full
    * MaxBits pool and the bucket fold consumes its first nb planes,
    * where nb derives from count(*) exactly as the Spark side derives
    * it from embeddings.count() in `PartitionedData.lshEdgeSet`. */
  private def lshEdgesCte: String =
    s"""pl0 AS (
      |  SELECT ${graft.similarity.Similarity.planesSqlLiteralTake(
           graft.similarity.Similarity.MaxBits)} AS ps0),
      |nbv AS (
      |  SELECT ${graft.similarity.Similarity.adaptiveNBitsSql(
           "count(*)")} AS nb
      |  FROM embeddings),
      |pl AS (SELECT list_slice(ps0, 1, nb) AS ps FROM pl0, nbv),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id, vd,
      |    ${graft.similarity.Similarity.bucketSql("vd")} AS bucket,
      |    sqrt(list_dot_product(vd, vd)) AS nrm
      |  FROM e, pl),
      |cap AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY bucket
      |                                 ORDER BY vec_id) AS rn
      |    FROM b) WHERE rn <= 256),
      |edges AS (
      |  SELECT e1.vec_id AS a, e2.vec_id AS b
      |  FROM cap e1 JOIN cap e2
      |    ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
      |  WHERE e1.nrm * e2.nrm > 0.0
      |    AND round(list_dot_product(e1.vd, e2.vd)
      |          / (e1.nrm * e2.nrm), 6) >= 0.05)""".stripMargin

  /** The shared near-dup edge set every graph-family query iterates
    * on: plane-literal LSH buckets → capped pairs → cosine ≥ 0.05,
    * stored once as (a < b). Mirrored token-for-token by
    * [[lshEdgesCte]] on the oracle side. Served from the
    * signature-keyed derived layout
    * ([[graft.sources.PartitionedData.lshEdgeSet]]) — the graph is a
    * property of the DATASET, recomputing the LSH + cosine pass per
    * query was ~8x redundant per sweep, and at 100 TB the near-dup
    * graph is a persisted ingest-time table. */
  private def lshEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(graft.sources.PartitionedData.lshEdgeSet(s, d))

  /** Both directions of an (a, b) edge list — the undirected view the
    * degree/neighborhood operators aggregate over. */
  private def symEdges(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))

  /** Per-node local clustering coefficient over an (a, b) edge list:
    * C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2; T(v) via the
    * sorted-edge a<b<c triple join, degree via the symmetric view. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val deg = symEdges(edges)
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
    val e2 = edges.select(col("a").as("b"), col("b").as("c"))
    val e3 = edges.select(col("a").as("ta"), col("b").as("tc"))
    val tris = edges.join(e2, "b")
      .join(e3, col("a") === col("ta") && col("c") === col("tc"))
      .select(col("a"), col("b"), col("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("tri"))
    deg.filter(col("degree") >= 2)
      .join(tris, Seq("u"), "left")
      .select(col("u").as("vec_id"), col("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        U.round6(lit(2.0) * coalesce(col("tri"), lit(0L))
          / (col("degree") * (col("degree") - 1)))
          .as("clustering_coeff"))
  }

  /** Neighborhood Jaccard over an (a, b) edge list: wedge-enumerated
    * candidate pairs (≥ 1 common neighbor), J by inclusion-exclusion
    * on the open neighborhoods. */
  def jaccardNeighbors(edges: DataFrame): DataFrame = {
    val sym = symEdges(edges)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("u").as("x"), col("v").as("w"))
      .join(sym.select(col("u").as("y"), col("v").as("w")), Seq("w"))
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    wedges
      .join(deg.select(col("u").as("x"), col("deg").as("deg_1")),
        Seq("x"))
      .join(deg.select(col("u").as("y"), col("deg").as("deg_2")),
        Seq("y"))
      .select(col("x").as("id1"), col("y").as("id2"), col("common"),
        col("deg_1"), col("deg_2"),
        U.round6(col("common").cast("double")
          / (col("deg_1") + col("deg_2") - col("common")))
          .as("jaccard"))
  }

  /** Bounded k-core peel: up to `rounds` synchronous rounds of "drop
    * every node with degree < k, restrict edges to survivors", early-
    * stopped when a round removes nothing (the edge set shrinks
    * monotonically, so an unchanged COUNT means an unchanged SET and
    * every further round is a no-op). Returns surviving per-node
    * degrees. Runs on the [[graft.plans.Iterate]] harness. */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int,
      driverCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    // Guarded driver fast path (the [[Bounded]] probe, as in
    // connectedComponents): each distributed peel round is one degree
    // aggregate + two semi-joins — ~4 stage barriers over a few
    // thousand edges at test scale. Under the cap the synchronous peel
    // runs locally on the collected edge list (integer degree counting
    // — no ordering sensitivity), with the identical early-stop rule
    // (a round that removes nothing ends the loop). Above the cap the
    // Iterate-harness rounds below run untouched; parity is pinned
    // both-sides in GraphSpec.
    val spark = edges.sparkSession
    Bounded.path("kcore")(longEdges(edges, driverCap)) match {
      case Some(eArr) =>
        var es = eArr
        var r = 0
        var stable = false
        while (!stable && r < rounds) {
          val deg = new java.util.HashMap[Long, Long]()
          es.foreach { case (a, b) =>
            deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
          }
          val next = es.filter { case (a, b) =>
            deg.get(a) >= k && deg.get(b) >= k }
          stable = next.length == es.length
          es = next
          r += 1
        }
        val coreDeg = new java.util.LinkedHashMap[Long, Long]()
        es.foreach { case (a, b) =>
          coreDeg.merge(a, 1L, _ + _); coreDeg.merge(b, 1L, _ + _)
        }
        import scala.jdk.CollectionConverters._
        import spark.implicits._
        val vT = edges.schema("a").dataType
        return spark.createDataset(
            coreDeg.entrySet().asScala.toSeq
              .map(e => (e.getKey.longValue, e.getValue.longValue)))
          .select(col("_1").cast(vT).as("vec_id"),
            col("_2").as("core_degree"))
      case None =>
    }
    var last = -1L
    var done = 0
    val (core, _) = graft.plans.Iterate.fixpoint(
      start = edges, fanout = 3, maxIters = rounds + 1)(
      step = { e =>
        val deg = e.select(col("a").as("n0"))
          .unionByName(e.select(col("b").as("n0")))
          .groupBy("n0").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select(col("n0"))
        e.join(keep.select(col("n0").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n0").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      })(
      eval = { (out, _) =>
        val rows = out.count()
        done += 1
        val stop = done >= rounds || rows == last
        last = rows
        stop
      })(
      onFail = i => s"k-core peel did not settle in $i rounds")
    core.select(col("a").as("vec_id"))
      .unionByName(core.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("core_degree"))
  }

  /** Katz centrality, DISTRIBUTED: `rounds` synchronous iterations of
    * x ← α·A·x + 1 over an undirected edge list, from x₀ = 0. This is
    * the data-scaled-node-set counterpart of [[queries graph_pagerank
    * _types]]' driver loop (whose node set is the bounded type
    * vocabulary): here the rank vector LIVES as a DataFrame and each
    * round is one edge join + one decimal-bridged aggregate — keyed
    * shuffles linear in |E|, nothing collected. Determinism: each
    * edge contribution rounds to 1e-6 BEFORE the exact decimal sum
    * (the PageRank/ACF discipline), each new rank rounds after the +1
    * — partition-order invariant, so the oracle unrolls the identical
    * rounds in SQL. Fixed round count is the honest bounded contract
    * (Katz converges for α < 1/λ₁ but the oracle can only replay a
    * fixed horizon; 3 rounds ≡ counting α-damped walks of length ≤ 3). */
  def katzCentrality(edges: DataFrame, nodes: DataFrame,
      rounds: Int, alpha: Double,
      driverCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    // Guarded driver fast path (see [[bfsLayers]]), with the decimal
    // discipline replicated EXACTLY: each edge contribution quantizes
    // via U.r6MicroLong (the proven local twin of round6 → DECIMAL(18,6)
    // — same helper the PCA aggregator and pagerank's driver loop use),
    // micro-units integer-sum (≡ the exact decimal sum, order-free),
    // the sum re-enters double through BigDecimal(micro, 6).doubleValue
    // (≡ Spark's Decimal.toDouble), and the +1 re-round is the same
    // round(x·1e6)/1e6 both sides. Above the cap the distributed rounds
    // below run untouched; GraphSpec pins both paths on the
    // hand-unrolled fixture.
    val spark = edges.sparkSession
    Bounded.path("katz")(longGraph(edges, nodes, driverCap)) match {
      case Some((eArr, nArr)) =>
        val x = new java.util.HashMap[Long, Double]()
        nArr.foreach(n => x.put(n, 0.0))
        for (_ <- 1 to rounds) {
          val micro = new java.util.HashMap[Long, Long]()
          def add(u: Long, v: Long): Unit = if (x.containsKey(v))
            micro.merge(u, U.r6MicroLong(alpha * x.get(v)), _ + _)
          eArr.foreach { case (a, b) => add(a, b); add(b, a) }
          nArr.foreach { n =>
            val s = java.math.BigDecimal.valueOf(
              micro.getOrDefault(n, 0L), 6).doubleValue()
            x.put(n, U.r6MicroLong(s + 1.0).toDouble / 1e6)
          }
        }
        import spark.implicits._
        val nT = nodes.schema("node").dataType
        return spark.createDataset(nArr.toSeq.map(n => (n, x.get(n))))
          .select(col("_1").cast(nT).as("node"), col("_2").as("r"))
      case None =>
    }
    val sym = symEdges(edges)
    var x = nodes.select(col("node"), lit(0.0).as("r"))
    for (_ <- 1 to rounds) {
      val contrib = sym
        .join(x.select(col("node").as("v"), col("r")), Seq("v"))
        .select(col("u").as("node"),
          U.round6(lit(alpha) * col("r")).as("c"))
        .groupBy("node").agg(U.dbl(sum(U.dec6(col("c")))).as("s"))
      x = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          U.round6(coalesce(col("s"), lit(0.0)) + lit(1.0)).as("r"))
    }
    x
  }

  /** Newman degree assortativity over an (a, b) edge list: Pearson r
    * of endpoint degrees on the directed-symmetrized view; integer
    * moment sums, closed form on the single reduced row. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val sym = symEdges(edges)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg, Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")),
        Seq("v"))
    val m0 = pairs.groupBy().agg(
      count(lit(1)).as("m"),
      sum(col("deg")).as("s_u"), sum(col("deg_v")).as("s_v"),
      sum(col("deg") * col("deg_v")).as("s_uv"),
      sum(col("deg") * col("deg")).as("s_uu"),
      sum(col("deg_v") * col("deg_v")).as("s_vv"))
    val md = U.dbl(col("m"))
    val num = col("s_uv") / md - (col("s_u") / md) * (col("s_v") / md)
    val du = col("s_uu") / md - (col("s_u") / md) * (col("s_u") / md)
    val dv = col("s_vv") / md - (col("s_v") / md) * (col("s_v") / md)
    m0.select(col("m"),
      U.round6(num / sqrt(du * dv)).as("assortativity"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Triangle counting over the embedding near-dup graph — the local
    // clustering primitive (community cores, collusion detection; in a
    // data pipeline: how CLIQUEY is the near-dup neighborhood, which
    // separates template families from chains). Edges = LSH-bucket
    // pairs with cosine ≥ τ (cosine is not transitive, so this is a
    // genuine sparse graph, not bucket cliques). The count is the
    // classic sorted-edge two-join: every edge stored once as
    // (lo, hi), triangles enumerated as a<b<c via (a,b)⋈(b,c)⋈(a,c) —
    // each triangle found exactly once, no orientation dedup pass.
    // Per-node counts come from exploding each triangle's corners.
    // Scale: the joins key on node ids over the (already thresholded,
    // bucket-capped) edge table — shuffles scale with EDGES, never with
    // the corpus.
    "graph_triangle_count" -> ((s, d) => {
      val edges = lshEdges(s, d)
      val e1 = edges
      val e2 = edges.select(col("a").as("b"), col("b").as("c"))
      val e3 = edges.select(col("a").as("ta"), col("b").as("tc"))
      val tris = e1.join(e2, "b")
        .join(e3, col("a") === col("ta") && col("c") === col("tc"))
        .select(col("a"), col("b"), col("c"))
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy("vec_id")
    }),

    // Label propagation (2 synchronous rounds, min-label tie-break)
    // over the same embedding near-dup graph triangle counting uses —
    // the soft-community sibling of connected components: where CC
    // closes ANY connectivity, LPA labels by neighborhood MAJORITY, so
    // a weak bridge between two dense template families does not merge
    // them. Fixed round count makes the op deterministic and the
    // oracle an exact 2-step unroll (LPA has no general fixpoint —
    // labels can oscillate — so bounded rounds is the honest
    // contract). Each round is one join + one (node,label) count
    // aggregation + one per-node partitioned rank window: shuffles
    // carry edge endpoints, linear in |E| per round. The LSH edge
    // pipeline is recomputed per round by the suite's
    // no-persist-in-returned-lineage convention — at production the
    // edge table would be a persisted artifact.
    "graph_label_propagation" -> ((s, d) => {
      val edges = lshEdges(s, d)
      val nodes = t(s, d, "embeddings").select(col("vec_id").as("node"))
      labelPropagate(edges, nodes, rounds = 2)
        .select(col("node").as("vec_id"), col("lbl").as("label2"))
        .orderBy("vec_id")
    }),

    // Multi-source BFS hop layers over the same near-dup graph — "how
    // far is every vector from the seeded set" (contamination blast
    // radius, curated-seed expansion tiers). 3 synchronous
    // Bellman-Ford rounds: each round joins the current distance map
    // onto the symmetric edge list, takes min(neighbor dist)+1 per
    // node, and keeps the elementwise minimum — so after round k every
    // node ≤ k hops from a seed carries its exact hop count and
    // farther nodes stay NULL. Fixed rounds is the same honest bounded
    // contract as label propagation (the oracle unrolls exactly 3
    // steps); per round the shuffles are keyed on node ids, linear in
    // |E|. Seeds: vec_id ≡ 0 (mod 50) — a deterministic 2% sample.
    "graph_bfs_layers" -> ((s, d) => {
      val edges = lshEdges(s, d)
      val seeded = t(s, d, "embeddings")
        .select(col("vec_id").as("node"))
        .withColumn("dist", when(col("node") % 50 === 0, lit(0))
          .otherwise(lit(null).cast("int")))
      bfsLayers(edges, seeded, rounds = 3)
        .select(col("node").as("vec_id"), col("dist").as("hops"))
        .orderBy("vec_id")
    }),

    // The contracted transition graph exposed as its own surface — the
    // Markov transition matrix (P(next=dst | cur=src)) user journeys
    // are analyzed with: the same per-user lag contraction PageRank
    // consumes, row-normalized to probabilities. One window + one
    // aggregation; probabilities are exact count ratios.
    "agg_markov_transition" -> ((s, d) => {
      val perUser = Window.partitionBy("user_id")
        .orderBy(U.tsUs(col("ts")), col("event_id"))
      val W = Window.partitionBy("src")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("dst"),
          lag(col("event_type"), 1).over(perUser).as("src"))
        .filter(col("src").isNotNull)
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("n"))
        .withColumn("p", U.round6(col("n").cast("double")
          / sum(col("n")).over(W)))
        .orderBy("src", "dst")
    }),

    // PageRank over the event-type transition graph: which states of
    // the user journey accumulate stationary mass. Contraction is the
    // distributed half (window + aggregate); the ≤|types|² contracted
    // edge list iterates on the driver under a guard.
    "graph_pagerank_types" -> ((s, d) => {
      val (edges, nodes) = typeGraph(s, d)
      val n = nodes.length
      val outW: Map[String, Long] =
        edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      // ranks in 1e-6 micro-units (Long): sums are exact integers, so
      // the driver loop is order-invariant like the decimal sums the
      // engine queries use. Arithmetic mirrors the oracle SQL token for
      // token (same IEEE double ops, then half-up round to micros).
      var rank: Map[String, Long] =
        nodes.map(_ -> math.round(1e6 / n)).toMap
      for (_ <- 1 to iterations) {
        val contribs = edges.map { case (src, dst, w) =>
          dst -> math.round(
            rank(src) / 1e6 * w / outW(src) * 1e6)
        }
        val in: Map[String, Long] =
          contribs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        rank = nodes.map { node =>
          val sum = in.getOrElse(node, 0L)
          node -> math.round(
            (0.15 / n + damping * (sum.toDouble / 1e6)) * 1e6)
        }.toMap
      }
      val sess = s; import sess.implicits._
      nodes.map(node => (node, rank(node) / 1e6)).toSeq
        .toDF("event_type", "pagerank")
        .orderBy("event_type")
    }),

    // HITS hubs & authorities (Kleinberg) over the same contracted
    // transition graph — the directed-role complement to PageRank:
    // a state is a strong HUB when it leads into strong authorities
    // (the "launchpad" events) and a strong AUTHORITY when strong
    // hubs lead into it (the "destination" events); PageRank's single
    // score cannot separate the two roles. Two bounded iterations of
    // the weighted mutual recursion with L1 normalization, in the
    // pagerank_types micro-unit discipline: contributions round to
    // 1e-6 Longs, sums are exact integers, the driver loop mirrors
    // the oracle's unrolled stages token for token. The distributed
    // half is the same window+aggregate contraction; the ≤|types|²
    // edge list iterates under the same driver guard.
    "graph_hits_types" -> ((s, d) => {
      val (edges, nodes) = typeGraph(s, d)
      val n = nodes.length
      var hub: Map[String, Long] =
        nodes.map(_ -> math.round(1e6 / n)).toMap
      var auth: Map[String, Long] = hub
      def step(scores: Map[String, Long],
          keyOf: ((String, String, Long)) => String,
          srcOf: ((String, String, Long)) => String)
          : Map[String, Long] = {
        val raw = edges.map { e =>
          keyOf(e) -> math.round(scores(srcOf(e)) / 1e6 * e._3 * 1e6) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val tot = nodes.map(nd => raw.getOrElse(nd, 0L)).sum
        nodes.map(nd => nd -> math.round(
          raw.getOrElse(nd, 0L) / tot.toDouble * 1e6)).toMap
      }
      for (_ <- 1 to 2) {
        auth = step(hub, _._2, _._1)  // authority ← hubs pointing in
        hub = step(auth, _._1, _._2)  // hub ← authorities pointed to
      }
      val sess = s; import sess.implicits._
      nodes.map(nd => (nd, hub(nd) / 1e6, auth(nd) / 1e6)).toSeq
        .toDF("event_type", "hub", "authority")
        .orderBy("event_type")
    }),

    // Local clustering coefficient — triangle counting's per-node
    // normalization: C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2.
    // In a near-dup graph this is the template-vs-chain separator per
    // NODE: C ≈ 1 marks members of pasted-boilerplate cliques, C ≈ 0
    // marks incidental bridge vectors that merely connect families.
    // T(v) reuses the sorted-edge a<b<c triple join; degree is one
    // aggregate over the symmetric view; both key on node ids so every
    // shuffle scales with the thresholded EDGE table. The ratio is
    // per-row double math over exact integer counts — engine-identical
    // by construction.
    "graph_clustering_coeff" -> ((s, d) =>
      clusteringCoeff(lshEdges(s, d)).orderBy("vec_id")),

    // Neighborhood Jaccard — structural node similarity WITHOUT
    // touching the embeddings again: two vectors whose near-dup
    // NEIGHBORHOODS overlap belong to the same template family even
    // when their own cosine fell below τ (the classic link-prediction
    // / entity-consolidation signal). Candidate pairs come from wedge
    // enumeration — the symmetric edge list self-joined on the shared
    // middle node — so only pairs with ≥ 1 common neighbor ever
    // materialize, and the wedge count is Σ_w deg(w)², bounded here by
    // the LSH bucket cap (≤ 256 per bucket), never corpus-quadratic.
    // J = common / (deg_u + deg_v − common) by inclusion-exclusion on
    // the open neighborhoods.
    "graph_jaccard_neighbors" -> ((s, d) =>
      jaccardNeighbors(lshEdges(s, d)).orderBy("id1", "id2")),

    // k-core peel (k = 3, ≤ 4 synchronous rounds) — the density filter
    // that strips chains and pendant vectors off the near-dup graph,
    // leaving only neighborhoods where every member has ≥ 3 surviving
    // neighbors (the "burst of template spam" cores worth human
    // review). Each round drops every node with degree < k and
    // restricts the edge set to survivors; the loop runs on the
    // [[graft.plans.Iterate]] fixpoint harness (persist lifecycle,
    // fanout-derived lineage truncation) and stops early when a round
    // removes nothing — from which point further peels are no-ops,
    // which is exactly why the bounded contract ("the 4-round 3-core
    // approximant") stays oracle-equal whether or not the peel
    // converged: the oracle unrolls all 4 rounds unconditionally. Per
    // round: one degree aggregate + two semi-joins, all keyed on node
    // ids — shuffles scale with |E|.
    "graph_kcore" -> ((s, d) =>
      kcorePeel(lshEdges(s, d), k = 3, rounds = 4).orderBy("vec_id")),

    // Degree assortativity — Newman's r: the Pearson correlation of
    // endpoint degrees over the directed-symmetrized edge list. r > 0
    // (hubs attach to hubs) is the signature of template FAMILIES;
    // r < 0 (hubs attach to leaves) of hub-and-spoke scraping. One
    // degree aggregate, two broadcast-sized joins back onto the edges,
    // and a single-row reduce of integer moments — deg ≤ the LSH
    // bucket cap bounds every product at 2^16, so BIGINT sums hold to
    // ~10^14 edges before the DECIMAL bridge would be needed. The
    // closed form is per-row double math on the one reduced row.
    "graph_degree_assortativity" -> ((s, d) =>
      degreeAssortativity(lshEdges(s, d))),

    // Katz centrality over the near-dup graph (3 rounds, α = 0.1):
    // α-damped walk counts — the influence measure that sees PATHS,
    // not just degree (a vector bridging two dense template families
    // outranks an equal-degree clique member). Distributed iteration:
    // the rank vector never leaves the cluster.
    "graph_katz_centrality" -> ((s, d) => {
      val nodes = t(s, d, "embeddings").select(col("vec_id").as("node"))
      katzCentrality(lshEdges(s, d), nodes, rounds = 3, alpha = 0.1)
        .select(col("node").as("vec_id"), col("r").as("katz"))
        .orderBy("vec_id")
    }))

  val oracles: Map[String, String] = Map(
    // same plane-literal LSH replay as dedup_embedding_lsh, thresholded
    // into an edge set, then the a<b<c triple join
    "graph_triangle_count" ->
      s"""WITH $lshEdgesCte,
        |tris AS (
        |  SELECT x.a, x.b, y.b AS c
        |  FROM edges x JOIN edges y ON y.a = x.b
        |  JOIN edges z ON z.a = x.a AND z.b = y.b),
        |corners AS (
        |  SELECT a AS vec_id FROM tris
        |  UNION ALL SELECT b FROM tris
        |  UNION ALL SELECT c FROM tris)
        |SELECT vec_id, count(*) AS n_triangles
        |FROM corners GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "graph_label_propagation" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |nodes AS (SELECT vec_id AS node FROM embeddings),
        |l0 AS (SELECT node, node AS lbl FROM nodes),
        |n1 AS (SELECT s.u, l.lbl, count(*) AS cnt
        |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY s.u, l.lbl),
        |u1 AS (SELECT u AS node, lbl AS new_lbl FROM (
        |         SELECT u, lbl, row_number() OVER (
        |           PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
        |         FROM n1) WHERE rn = 1),
        |l1 AS (SELECT l.node, coalesce(u.new_lbl, l.lbl) AS lbl
        |       FROM l0 l LEFT JOIN u1 u USING (node)),
        |n2 AS (SELECT s.u, l.lbl, count(*) AS cnt
        |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY s.u, l.lbl),
        |u2 AS (SELECT u AS node, lbl AS new_lbl FROM (
        |         SELECT u, lbl, row_number() OVER (
        |           PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
        |         FROM n2) WHERE rn = 1),
        |l2 AS (SELECT l.node, coalesce(u.new_lbl, l.lbl) AS lbl
        |       FROM l1 l LEFT JOIN u2 u USING (node))
        |SELECT node AS vec_id, lbl AS label2
        |FROM l2 ORDER BY vec_id""".stripMargin,
    "graph_bfs_layers" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |d0 AS (SELECT vec_id AS node,
        |         CASE WHEN vec_id % 50 = 0 THEN 0 END AS dist
        |       FROM embeddings),
        |c1 AS (SELECT s.u, min(d.dist) + 1 AS cand
        |       FROM sym s JOIN d0 d ON d.node = s.v
        |       WHERE d.dist IS NOT NULL GROUP BY s.u),
        |d1 AS (SELECT d.node,
        |         coalesce(least(d.dist, c.cand), d.dist, c.cand) AS dist
        |       FROM d0 d LEFT JOIN c1 c ON c.u = d.node),
        |c2 AS (SELECT s.u, min(d.dist) + 1 AS cand
        |       FROM sym s JOIN d1 d ON d.node = s.v
        |       WHERE d.dist IS NOT NULL GROUP BY s.u),
        |d2 AS (SELECT d.node,
        |         coalesce(least(d.dist, c.cand), d.dist, c.cand) AS dist
        |       FROM d1 d LEFT JOIN c2 c ON c.u = d.node),
        |c3 AS (SELECT s.u, min(d.dist) + 1 AS cand
        |       FROM sym s JOIN d2 d ON d.node = s.v
        |       WHERE d.dist IS NOT NULL GROUP BY s.u),
        |d3 AS (SELECT d.node,
        |         coalesce(least(d.dist, c.cand), d.dist, c.cand) AS dist
        |       FROM d2 d LEFT JOIN c3 c ON c.u = d.node)
        |SELECT node AS vec_id, dist AS hops
        |FROM d3 ORDER BY vec_id""".stripMargin,
    "agg_markov_transition" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS dst,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS src
        |  FROM events),
        |edges AS (
        |  SELECT src, dst, count(*) AS n FROM seq
        |  WHERE src IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n,
        |  round(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY src) * 1000000) / 1000000 AS p
        |FROM edges ORDER BY src, dst""".stripMargin,
    "graph_hits_types" -> {
      // authority stage: group contributions by edge dst, scores join
      // on src; hub stage: the transpose
      def stage(scoreTbl: String, out: String, grp: String,
          jn: String): String =
        s"""r_$out AS (
           |  SELECT e.$grp AS node,
           |    SUM(CAST(round(sc.sc / 1000000.0 * e.w * 1000000)
           |      AS BIGINT)) AS s
           |  FROM edges e JOIN $scoreTbl sc ON sc.node = e.$jn
           |  GROUP BY e.$grp),
           |t_$out AS (SELECT CAST(SUM(s) AS BIGINT) AS tot FROM r_$out),
           |$out AS (
           |  SELECT nd.node, CAST(round(coalesce(r.s, 0)
           |      / CAST(tot AS DOUBLE) * 1000000) AS BIGINT) AS sc
           |  FROM nodes nd LEFT JOIN r_$out r ON r.node = nd.node,
           |    t_$out)""".stripMargin
      s"""WITH seq AS (
         |  SELECT user_id, event_type AS dst,
         |    lag(event_type) OVER (
         |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |      AS src
         |  FROM events),
         |edges AS (
         |  SELECT src, dst, count(*) AS w FROM seq
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |h0 AS (SELECT node, CAST(round(1000000.0 / n) AS BIGINT) AS sc
         |       FROM nodes, nn),
         |${stage("h0", "a1", "dst", "src")},
         |${stage("a1", "h1", "src", "dst")},
         |${stage("h1", "a2", "dst", "src")},
         |${stage("a2", "h2", "src", "dst")}
         |SELECT h2.node AS event_type,
         |  h2.sc / 1000000.0 AS hub,
         |  a2.sc / 1000000.0 AS authority
         |FROM h2 JOIN a2 ON a2.node = h2.node
         |ORDER BY event_type""".stripMargin
    },
    "graph_pagerank_types" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS dst,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS src
        |  FROM events),
        |edges AS (
        |  SELECT src, dst, count(*) AS w FROM seq
        |  WHERE src IS NOT NULL GROUP BY src, dst),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
        |         FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT event_type AS node FROM events),
        |n AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, round(1000000.0 / n) / 1000000 AS r
        |       FROM nodes, n),
        |s1 AS (
        |  SELECT e.dst AS node, CAST(SUM(CAST(
        |      round(r.r * e.w / o.ow * 1000000) / 1000000
        |    AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM edges e JOIN outw o USING (src)
        |  JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (
        |  SELECT node,
        |    round((0.15 / n + 0.85 * coalesce(s, 0.0)) * 1000000)
        |      / 1000000 AS r
        |  FROM nodes LEFT JOIN s1 USING (node), n),
        |s2 AS (
        |  SELECT e.dst AS node, CAST(SUM(CAST(
        |      round(r.r * e.w / o.ow * 1000000) / 1000000
        |    AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM edges e JOIN outw o USING (src)
        |  JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (
        |  SELECT node,
        |    round((0.15 / n + 0.85 * coalesce(s, 0.0)) * 1000000)
        |      / 1000000 AS r
        |  FROM nodes LEFT JOIN s2 USING (node), n),
        |s3 AS (
        |  SELECT e.dst AS node, CAST(SUM(CAST(
        |      round(r.r * e.w / o.ow * 1000000) / 1000000
        |    AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM edges e JOIN outw o USING (src)
        |  JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (
        |  SELECT node,
        |    round((0.15 / n + 0.85 * coalesce(s, 0.0)) * 1000000)
        |      / 1000000 AS r
        |  FROM nodes LEFT JOIN s3 USING (node), n)
        |SELECT node AS event_type, r AS pagerank
        |FROM r3 ORDER BY event_type""".stripMargin,
    // same LSH edge replay; triangle triple-join + symmetric degree,
    // then the per-node C(v) ratio on exact integer counts
    "graph_clustering_coeff" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |deg AS (SELECT u, count(*) AS degree FROM sym GROUP BY u),
        |tris AS (
        |  SELECT x.a, x.b, y.b AS c
        |  FROM edges x JOIN edges y ON y.a = x.b
        |  JOIN edges z ON z.a = x.a AND z.b = y.b),
        |tc AS (
        |  SELECT u, count(*) AS tri FROM (
        |    SELECT a AS u FROM tris
        |    UNION ALL SELECT b FROM tris
        |    UNION ALL SELECT c FROM tris) GROUP BY u)
        |SELECT deg.u AS vec_id, degree,
        |  coalesce(tri, CAST(0 AS BIGINT)) AS n_triangles,
        |  round(2.0 * coalesce(tri, 0) / (degree * (degree - 1))
        |    * 1000000) / 1000000 AS clustering_coeff
        |FROM deg LEFT JOIN tc ON tc.u = deg.u
        |WHERE degree >= 2 ORDER BY vec_id""".stripMargin,
    // wedge enumeration on the symmetric view; inclusion-exclusion on
    // the open neighborhoods
    "graph_jaccard_neighbors" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
        |wed AS (
        |  SELECT s1.u AS x, s2.u AS y, count(*) AS common
        |  FROM sym s1 JOIN sym s2 ON s2.v = s1.v AND s1.u < s2.u
        |  GROUP BY s1.u, s2.u)
        |SELECT x AS id1, y AS id2, common,
        |  d1.deg AS deg_1, d2.deg AS deg_2,
        |  round(CAST(common AS DOUBLE) / (d1.deg + d2.deg - common)
        |    * 1000000) / 1000000 AS jaccard
        |FROM wed JOIN deg d1 ON d1.u = x JOIN deg d2 ON d2.u = y
        |ORDER BY id1, id2""".stripMargin,
    // 4 unconditionally-unrolled peel rounds (k = 3); MATERIALIZED
    // keeps DuckDB from inlining each round's edge set into the 3
    // places the next round references it (the exponential-CTE-tree
    // hazard the xxhash replay documented)
    "graph_kcore" ->
      s"""WITH $lshEdgesCte,
        |e0 AS MATERIALIZED (SELECT a, b FROM edges),
        |k1 AS MATERIALIZED (SELECT n FROM (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY n) WHERE deg >= 3),
        |e1 AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
        |k2 AS MATERIALIZED (SELECT n FROM (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1)
        |  GROUP BY n) WHERE deg >= 3),
        |e2 AS MATERIALIZED (SELECT a, b FROM e1
        |  WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2)),
        |k3 AS MATERIALIZED (SELECT n FROM (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2)
        |  GROUP BY n) WHERE deg >= 3),
        |e3 AS MATERIALIZED (SELECT a, b FROM e2
        |  WHERE a IN (SELECT n FROM k3) AND b IN (SELECT n FROM k3)),
        |k4 AS MATERIALIZED (SELECT n FROM (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)
        |  GROUP BY n) WHERE deg >= 3),
        |e4 AS MATERIALIZED (SELECT a, b FROM e3
        |  WHERE a IN (SELECT n FROM k4) AND b IN (SELECT n FROM k4))
        |SELECT vec_id, count(*) AS core_degree FROM (
        |  SELECT a AS vec_id FROM e4 UNION ALL SELECT b FROM e4)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // three unrolled x ← α·A·x + 1 rounds; per-edge contributions
    // round at 1e-6 before the exact decimal sum, mirroring the engine
    "graph_katz_centrality" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |nodes AS (SELECT vec_id AS node FROM embeddings),
        |x0 AS (SELECT node, 0.0 AS r FROM nodes),
        |c1 AS (SELECT s.u AS node, CAST(sum(CAST(
        |         round(0.1 * x.r * 1000000) / 1000000
        |       AS DECIMAL(18, 6))) AS DOUBLE) AS s
        |       FROM sym s JOIN x0 x ON x.node = s.v GROUP BY s.u),
        |x1 AS (SELECT n.node,
        |         round((coalesce(c.s, 0.0) + 1.0) * 1000000) / 1000000 AS r
        |       FROM nodes n LEFT JOIN c1 c USING (node)),
        |c2 AS (SELECT s.u AS node, CAST(sum(CAST(
        |         round(0.1 * x.r * 1000000) / 1000000
        |       AS DECIMAL(18, 6))) AS DOUBLE) AS s
        |       FROM sym s JOIN x1 x ON x.node = s.v GROUP BY s.u),
        |x2 AS (SELECT n.node,
        |         round((coalesce(c.s, 0.0) + 1.0) * 1000000) / 1000000 AS r
        |       FROM nodes n LEFT JOIN c2 c USING (node)),
        |c3 AS (SELECT s.u AS node, CAST(sum(CAST(
        |         round(0.1 * x.r * 1000000) / 1000000
        |       AS DECIMAL(18, 6))) AS DOUBLE) AS s
        |       FROM sym s JOIN x2 x ON x.node = s.v GROUP BY s.u),
        |x3 AS (SELECT n.node,
        |         round((coalesce(c.s, 0.0) + 1.0) * 1000000) / 1000000 AS r
        |       FROM nodes n LEFT JOIN c3 c USING (node))
        |SELECT node AS vec_id, r AS katz FROM x3 ORDER BY vec_id""".stripMargin,
    // Newman's r over the directed-symmetrized edge list: integer
    // moment sums, closed form on the single reduced row
    "graph_degree_assortativity" ->
      s"""WITH $lshEdgesCte,
        |sym AS (SELECT a AS u, b AS v FROM edges
        |        UNION ALL SELECT b AS u, a AS v FROM edges),
        |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
        |pr AS (
        |  SELECT d1.deg AS du, d2.deg AS dv
        |  FROM sym JOIN deg d1 ON d1.u = sym.u
        |  JOIN deg d2 ON d2.u = sym.v),
        |a AS (
        |  SELECT count(*) AS m,
        |    sum(du) AS s_u, sum(dv) AS s_v, sum(du * dv) AS s_uv,
        |    sum(du * du) AS s_uu, sum(dv * dv) AS s_vv
        |  FROM pr)
        |SELECT m,
        |  round((CAST(s_uv AS DOUBLE) / m
        |      - (CAST(s_u AS DOUBLE) / m) * (CAST(s_v AS DOUBLE) / m))
        |    / sqrt((CAST(s_uu AS DOUBLE) / m
        |        - (CAST(s_u AS DOUBLE) / m) * (CAST(s_u AS DOUBLE) / m))
        |      * (CAST(s_vv AS DOUBLE) / m
        |        - (CAST(s_v AS DOUBLE) / m) * (CAST(s_v AS DOUBLE) / m)))
        |    * 1000000) / 1000000 AS assortativity
        |FROM a""".stripMargin)
}
