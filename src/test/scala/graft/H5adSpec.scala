package graft

import graft.sources.{H5ad, MiniHdf5, MiniHdf5Writer}
import graft.sources.H5ad.H5adInput

/** End-to-end h5ad ingestion: miniature CSR h5ad files written per the
  * public HDF5 spec (MiniHdf5Writer) → [[MiniHdf5]] reader →
  * `H5ad.rows` long form → `ProductBuild.build` — closing the loop
  * the reference's users start from (`bin/concatenate.py:62` reads a
  * cell_by_bin/cell_by_gene h5ad pair per dataset).
  */
class H5adSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = java.nio.file.Files.createTempDirectory("h5ad").toString

  // dataset uuid-A: 3 cells × 2 bins; c2 has no gene-modality rows
  private lazy val files: Seq[H5adInput] = {
    MiniHdf5Writer.writeH5ad(s"$dir/A_bin.h5ad",
      obsNames = Seq("c1", "c2", "c3"), varNames = Seq("bin1", "bin2"),
      data = Array(1.0, 2.0, 3.0, 4.0), indices = Array(0L, 1L, 0L, 1L),
      indptr = Array(0L, 2L, 3L, 4L), wide = true)
    // narrow types (f32 data, i32 indices) exercise both reader widths
    MiniHdf5Writer.writeH5ad(s"$dir/A_gene.h5ad",
      obsNames = Seq("c1", "c3"), varNames = Seq("g1", "g2", "g3"),
      data = Array(5.0, 6.0, 7.0), indices = Array(1L, 0L, 2L),
      indptr = Array(0L, 1L, 3L), wide = false)
    MiniHdf5Writer.writeH5ad(s"$dir/B_bin.h5ad",
      obsNames = Seq("c1"), varNames = Seq("bin1"),
      data = Array(9.0), indices = Array(0L), indptr = Array(0L, 1L))
    MiniHdf5Writer.writeH5ad(s"$dir/B_gene.h5ad",
      obsNames = Seq("c1"), varNames = Seq("g1"),
      data = Array(8.0), indices = Array(0L), indptr = Array(0L, 1L))
    Seq(
      H5adInput(s"$dir/A_bin.h5ad", "uuid-A", "cell_by_bin"),
      H5adInput(s"$dir/A_gene.h5ad", "uuid-A", "cell_by_gene"),
      H5adInput(s"$dir/B_bin.h5ad", "uuid-B", "cell_by_bin"),
      H5adInput(s"$dir/B_gene.h5ad", "uuid-B", "cell_by_gene"))
  }

  // the fixture plus uuid-C, which has a cell_by_bin file only
  private lazy val withC: Seq[H5adInput] = {
    MiniHdf5Writer.writeH5ad(s"$dir/C_bin.h5ad",
      obsNames = Seq("c1"), varNames = Seq("bin1"),
      data = Array(2.5), indices = Array(0L), indptr = Array(0L, 1L))
    files :+ H5adInput(s"$dir/C_bin.h5ad", "uuid-C", "cell_by_bin")
  }

  /** The same rows with no reported partitioning: a plain DataFrame. */
  private def plain(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(df.rdd, df.schema)

  /** Every node of an executed plan, through AQE's final plan. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case other => other +: other.children.flatMap(planNodes)
    }
  }

  /** One file's full long form, as plain tuples in file order. */
  private def longForm(f: H5adInput): Seq[(String, String, String, Double, String)] =
    H5ad.rows(f, H5ad.Schema.fieldNames.toSeq).map(r =>
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getUTF8String(2).toString, r.getDouble(3), r.getUTF8String(4).toString))
      .toSeq

  test("MiniHdf5 reads back groups, numeric widths and vlen strings") {
    files // force fixture write
    val r = new MiniHdf5.Reader(s"$dir/A_bin.h5ad")
    try {
      assert(r.ls("").sorted === Seq("X", "obs", "var"))
      assert(r.ls("X").sorted === Seq("data", "indices", "indptr"))
      assert(r.readStrings("obs/_index").toSeq === Seq("c1", "c2", "c3"))
      assert(r.readStrings("var/_index").toSeq === Seq("bin1", "bin2"))
      assert(r.readDoubles("X/data").toSeq === Seq(1.0, 2.0, 3.0, 4.0))
      assert(r.readLongs("X/indices").toSeq === Seq(0L, 1L, 0L, 1L))
      assert(r.readLongs("X/indptr").toSeq === Seq(0L, 2L, 3L, 4L))
    } finally r.close()
    // narrow file: f32/i32 datasets surface as the same doubles/longs
    val n = new MiniHdf5.Reader(s"$dir/A_gene.h5ad")
    try {
      assert(n.readDoubles("X/data").toSeq === Seq(5.0, 6.0, 7.0))
      assert(n.readLongs("X/indices").toSeq === Seq(1L, 0L, 2L))
    } finally n.close()
  }

  test("vlen strings past 65,535 span several heap collections and read back") {
    // object ids are 16-bit: one collection holds at most 65,535 strings
    val d = java.nio.file.Files.createTempDirectory("graft-h5-vlen").toString
    val names = (0 until 70000).map(i => f"cell-$i%06d")
    MiniHdf5Writer.writeH5ad(s"$d/many.h5ad", obsNames = names,
      varNames = Seq("f1"), data = Array.empty[Double],
      indices = Array.empty[Long], indptr = new Array[Long](names.size + 1))
    val r = new MiniHdf5.Reader(s"$d/many.h5ad")
    try assert(r.readStrings("obs/_index").toSeq === names)
    finally r.close()

    // an element naming an object id its collection lacks fails by name;
    // so does one pointing at something that is not a collection
    MiniHdf5Writer.writeH5ad(s"$d/ids.h5ad", obsNames = Seq("a", "bb", "ccc"),
      varNames = Seq("f1"), data = Array.empty[Double],
      indices = Array.empty[Long], indptr = new Array[Long](4))
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$d/ids.h5ad"))
    // "bb": length 2, collection at 96 (right after the superblock), id 2
    val elem = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(2).putLong(96L).putInt(2).array()
    val at = orig.indexOfSlice(elem)
    assert(at > 0 && orig.lastIndexOfSlice(elem) == at)
    def patched(name: String)(edit: java.nio.ByteBuffer => Unit): String = {
      val b = orig.clone()
      edit(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$name"), b)
      s"$d/$name"
    }
    def decodeError(path: String): String = {
      val r = new MiniHdf5.Reader(path)
      try intercept[IllegalArgumentException](r.readStrings("obs/_index")).getMessage
      finally r.close()
    }
    val missing = decodeError(patched("missing.h5ad")(_.putInt(at + 12, 9)))
    assert(missing.contains("global heap object 9 not found in collection at 96"), missing)
    val notCol = decodeError(patched("notcol.h5ad")(_.putLong(at + 4, 0L)))
    assert(notCol.contains("bad global heap collection at 0"), notCol)
  }

  test("H5ad.rows expands CSR to long form with AnnData sparse semantics") {
    val t = longForm(files.head)
    assert(t.map(x => (x._1, x._3, x._4)) === Seq(
      ("c1", "bin1", 1.0), ("c1", "bin2", 2.0),
      ("c2", "bin1", 3.0), ("c3", "bin2", 4.0)))
    assert(t.forall(x => x._2 == "uuid-A" && x._5 == "cell_by_bin"))
    // a projection emits only the requested columns, in request order
    val p = H5ad.rows(files.head, Seq("value", "cell_id")).toSeq
    assert(p.map(r => (r.numFields, r.getDouble(0), r.getUTF8String(1).toString)) ===
      Seq((2, 1.0, "c1"), (2, 2.0, "c1"), (2, 3.0, "c2"), (2, 4.0, "c3")))
  }

  test("distributed scan + ProductBuild: h5ad pair to data product, end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("h5ad-prod").toString
    val modalities = H5ad.scanModalities(spark, files)
    assert(modalities.keySet === Set("cell_by_bin", "cell_by_gene"))
    val donors = Seq(("uuid-A", "40", "Male"), ("uuid-B", "55", "Female"))
      .toDF("uuid", "age", "sex")
    // the build caches nothing: the returned product is the written one
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val product = operators.ProductBuild.build(modalities, donors,
      s"$tmp/product")
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
    val rows = product
      .select("dataset", "cell_id", "modality", "feature_id", "value", "age")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getDouble(4), r.getDouble(5))).toSet
    // intersect_obs: A/c2 exists only in cell_by_bin → dropped entirely
    assert(rows === Set(
      ("uuid-A", "c1", "cell_by_bin", "bin1", 1.0, 40.0),
      ("uuid-A", "c1", "cell_by_bin", "bin2", 2.0, 40.0),
      ("uuid-A", "c1", "cell_by_gene", "g2", 5.0, 40.0),
      ("uuid-A", "c3", "cell_by_bin", "bin2", 4.0, 40.0),
      ("uuid-A", "c3", "cell_by_gene", "g1", 6.0, 40.0),
      ("uuid-A", "c3", "cell_by_gene", "g3", 7.0, 40.0),
      ("uuid-B", "c1", "cell_by_bin", "bin1", 9.0, 55.0),
      ("uuid-B", "c1", "cell_by_gene", "g1", 8.0, 55.0)))
  }

  test("intersect decodes each h5ad file once: one scan per modality, no join") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val modalities = H5ad.scanModalities(spark, files)
    val out = operators.ProductBuild.unionIntersect(modalities)
    // materialize so AQE's final plan exists; A/c2 is bin-only → dropped
    assert(out.collect().length === 8)
    val nodes = planNodes(out.queryExecution.executedPlan)
    // the h5ad decode is a scan of the RDD that H5ad.scala creates
    assert(nodes.count {
      case s: RDDScanExec => s.rdd.toDebugString.contains("H5ad.scala")
      case _ => false
    } === modalities.size, out.queryExecution.executedPlan.toString)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      out.queryExecution.executedPlan.toString)
  }

  test("intersect drops a cell whose CSR row is empty in one modality, via both doors") {
    // uuid-E lists c1 and c2 in both modalities' obs, but c2's gene row
    // stores nothing: the intersect is over stored entries, so c2 drops
    val root = java.nio.file.Files.createTempDirectory("h5ad-empty-row")
    java.nio.file.Files.createDirectories(root.resolve("uuid-E"))
    MiniHdf5Writer.writeH5ad(s"$root/uuid-E/cell_by_bin.h5ad",
      Seq("c1", "c2"), Seq("b1"), Array(1.0, 2.0), Array(0L, 0L), Array(0L, 1L, 2L))
    MiniHdf5Writer.writeH5ad(s"$root/uuid-E/cell_by_gene.h5ad",
      Seq("c1", "c2"), Seq("g1"), Array(3.0), Array(0L), Array(0L, 1L, 1L))
    val inputs = Seq("cell_by_bin", "cell_by_gene")
      .map(m => H5adInput(s"$root/uuid-E/$m.h5ad", "uuid-E", m))
    val grouped = H5ad.scanModalities(spark, inputs)
    val generic = inputs.map(f => f.modality ->
      spark.read.format("h5ad").load(f.path).drop("modality")).toMap
    for (mods <- Seq(grouped, generic)) {
      val out = operators.ProductBuild.unionIntersect(mods)
        .select("dataset", "cell_id", "modality", "feature_id", "value")
        .as[(String, String, String, String, Double)].collect().toSet
      assert(out === Set(("uuid-E", "c1", "cell_by_bin", "b1", 1.0),
        ("uuid-E", "c1", "cell_by_gene", "g1", 3.0)))
    }
  }

  test("ProductBuild over scanModalities: no shuffle, one file per (modality, dataset)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    val donors = Seq(("uuid-A", "40", "Male"), ("uuid-B", "55", "Female"),
      ("uuid-C", "61", "Male")).toDF("uuid", "age", "sex")
    val tmp = java.nio.file.Files.createTempDirectory("h5ad-grouped").toString
    // the product, the write query's plan nodes, and the sidecar
    def build(mods: Map[String, DataFrame], out: String) = {
      val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val ql = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])) writes.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(ql)
      val product = try {
        val p = operators.ProductBuild.build(mods, donors, out)
        org.apache.spark.GraftBusDrain.drain(spark.sparkContext)
        p
      } finally spark.listenerManager.unregister(ql)
      assert(writes.size === 1)
      val rows = product.collect().map(_.toString).sorted.toSeq
      val meta = spark.read.json(s"$out/metadata")
        .select("n_rows", "total_cell_count", "datasets").head()
      (rows, planNodes(writes.peek().executedPlan), (meta.getLong(0), meta.getLong(1),
        meta.getSeq[String](2)))
    }
    val (rows, nodes, meta) = build(H5ad.scanModalities(spark, withC), s"$tmp/grouped")
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]), nodes.head.toString)
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeLike]), nodes.head.toString)
    // uuid-C's bin-only cells drop; the rest is the end-to-end product,
    // whose distinct cell ids are c1 and c3
    assert(meta === ((8L, 2L, Seq("uuid-A", "uuid-B"))))
    // one parquet file per (modality, dataset) directory
    val fact = java.nio.file.Paths.get(s"$tmp/grouped/fact")
    val parquet = {
      val w = java.nio.file.Files.walk(fact)
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally w.close()
    }
    assert(parquet.groupBy(_.getParent).map { case (d, fs) =>
      fact.relativize(d).toString -> fs.size } === Map(
      "modality=cell_by_bin/dataset=uuid-A" -> 1, "modality=cell_by_gene/dataset=uuid-A" -> 1,
      "modality=cell_by_bin/dataset=uuid-B" -> 1, "modality=cell_by_gene/dataset=uuid-B" -> 1))
    // the same inputs as plain DataFrames: the window's exchange, the same product
    val (plainRows, plainNodes, plainMeta) = build(
      H5ad.scanModalities(spark, withC).map { case (m, df) => m -> plain(df) }, s"$tmp/plain")
    assert(plainNodes.exists(_.isInstanceOf[ShuffleExchangeLike]), plainNodes.head.toString)
    assert(plainRows === rows)
    assert(plainMeta === meta)
  }

  test("dataset-grouped scans keep joins exact: both frames, self, separate scans") {
    import org.apache.spark.sql.DataFrame
    def same(got: DataFrame, want: DataFrame): Unit = {
      val g = got.collect().map(_.toString).sorted.toSeq
      assert(g.nonEmpty)
      assert(g === want.collect().map(_.toString).sorted.toSeq,
        got.queryExecution.executedPlan.toString)
    }
    val key = Seq("dataset", "cell_id")
    val m = H5ad.scanModalities(spark, withC)
    val (bin, gene) = (m("cell_by_bin"), m("cell_by_gene"))
    same(bin.join(gene, key), plain(bin).join(plain(gene), key))
    same(bin.join(gene, key, "full"), plain(bin).join(plain(gene), key, "full"))
    val other = bin.select($"cell_id", $"dataset", $"value".as("v2"))
    same(bin.join(other, key), plain(bin).join(plain(bin).select(
      $"cell_id", $"dataset", $"value".as("v2")), key))
    // one call per modality: the scans' dataset lists differ ([A, B, C]
    // and [A, B]), and so may their lengths ([A, B] against [B, C])
    def scan(fs: Seq[H5adInput]) = H5ad.scanModalities(spark, fs).values.head
    val binAbc = scan(withC.filter(_.modality == "cell_by_bin"))
    val geneAb = scan(withC.filter(_.modality == "cell_by_gene"))
    val binAb = scan(files.filter(_.modality == "cell_by_bin"))
    val geneBc = scan(withC.filter(f => f.dataset != "uuid-A")
      .map(_.copy(modality = "cell_by_gene")))
    for ((b, g) <- Seq(binAbc -> geneAb, binAb -> geneBc)) {
      same(b.join(g, key), plain(b).join(plain(g), key))
      same(b.join(g, "dataset"), plain(b).join(plain(g), "dataset"))
      same(operators.ProductBuild.unionIntersect(Map("cell_by_bin" -> b, "cell_by_gene" -> g)),
        operators.ProductBuild.unionIntersect(
          Map("cell_by_bin" -> plain(b), "cell_by_gene" -> plain(g))))
    }
  }

  test("DataSource V2: spark.read.format(\"h5ad\") with layout-derived identity") {
    // reference layout: <dataset-uuid>/<modality>.h5ad
    val root = java.nio.file.Files.createTempDirectory("h5ad-dsv2").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/uuid-A"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/uuid-B"))
    MiniHdf5Writer.writeH5ad(s"$root/uuid-A/cell_by_bin.h5ad",
      Seq("c1", "c2"), Seq("b1"), Array(1.0, 2.0), Array(0L, 0L),
      Array(0L, 1L, 2L))
    MiniHdf5Writer.writeH5ad(s"$root/uuid-B/cell_by_gene.h5ad",
      Seq("c9"), Seq("g1", "g2"), Array(3.0, 4.0), Array(0L, 1L),
      Array(0L, 2L), wide = false, gzipChunks = 2)
    val df = spark.read.format("h5ad").load(root)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getDouble(3), r.getString(4))).toSet
    assert(rows === Set(
      ("c1", "uuid-A", "b1", 1.0, "cell_by_bin"),
      ("c2", "uuid-A", "b1", 2.0, "cell_by_bin"),
      ("c9", "uuid-B", "g1", 3.0, "cell_by_gene"),
      ("c9", "uuid-B", "g2", 4.0, "cell_by_gene")))

    // one input partition per file
    assert(df.rdd.getNumPartitions === 2)

    // column pruning reaches the reader: a metadata projection scans
    // only the requested columns
    val pruned = df.select("dataset", "modality").distinct()
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("columns [dataset, modality]"),
      s"scan did not prune to the projection:\n$p")
    assert(!p.contains("cell_id"), s"pruned scan still carries cell_id:\n$p")

    // explicit multi-path load + option overrides for flat layouts
    val flat = spark.read.format("h5ad")
      .option("dataset", "dsX").option("modality", "m1")
      .load(s"$root/uuid-A/cell_by_bin.h5ad", s"$root/uuid-B/cell_by_gene.h5ad")
    assert(flat.select("dataset").distinct().as[String].collect().toSeq === Seq("dsX"))
    assert(flat.count() === 4)
  }

  test("format(\"h5ad\") and scanModalities: same rows, each file decoded once") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{lit, spark_partition_id}
    // the fixture in the reference layout, from which format("h5ad")
    // derives the same (dataset, modality) identities
    val root = java.nio.file.Files.createTempDirectory("h5ad-doors")
    val laidOut = files.map { f =>
      val to = root.resolve(f.dataset).resolve(s"${f.modality}.h5ad")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(f.path), to)
      f.copy(path = to.toString)
    }
    // (has an RDD created in H5ad.scala, task count) per stage
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add((e.stageInfo.rddInfos.exists(_.callSite.contains("H5ad.scala")),
          e.stageInfo.numTasks))
    }
    val sc = spark.sparkContext
    // (partition id, long-form row) in row order, and the read's stages
    def read(df: DataFrame)
        : (Seq[(Int, (String, String, String, Double, String))], Seq[(Boolean, Int)]) = {
      stages.clear()
      sc.addSparkListener(listener)
      val rows = try {
        val r = df.select(spark_partition_id(), df("cell_id"), df("dataset"),
          df("feature_id"), df("value"), df("modality")).collect()
        org.apache.spark.GraftBusDrain.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
      (rows.map(r => (r.getInt(0), (r.getString(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getString(5)))).toSeq, stages.asScala.toSeq)
    }
    val (viaFormat, formatStages) = read(spark.read.format("h5ad").load(root.toString))
    val (viaModalities, modalityStages) = read(H5ad.scanModalities(spark, laidOut)
      .map { case (m, df) => df.withColumn("modality", lit(m)) }
      .reduce(_ unionByName _))
    // each file's rows exactly once: a file decoded twice would repeat them
    val want = files.flatMap(longForm).sorted
    assert(viaFormat.map(_._2).sorted === want)
    assert(viaModalities.map(_._2).sorted === want)
    // ... each in one task: format("h5ad") one per file, scanModalities
    // one per dataset, holding both of its modalities
    def tasksOf(rows: Seq[(Int, (String, String, String, Double, String))],
        key: ((String, String, String, Double, String)) => Any) =
      rows.groupBy(r => key(r._2)).values.map(_.map(_._1).distinct.size).toSet
    assert(tasksOf(viaFormat, r => (r._2, r._5)) === Set(1))
    assert(tasksOf(viaModalities, _._2) === Set(1))
    assert(viaModalities.groupBy(_._1).values.map(_.map(_._2._2).distinct.size).toSet === Set(1))
    // both doors decode in stages whose RDDs the reader created, with one
    // task per file or per dataset
    val datasets = files.map(_.dataset).distinct.size
    for ((st, tasks) <- Seq(formatStages -> files.size, modalityStages -> datasets)) {
      assert(st.exists(_._1), st)
      assert(st.filter(_._1).map(_._2).sum === tasks, st)
    }
  }

  test("load paths: a file: URI reads as its local path; any other " +
    "scheme fails at load, by name") {
    val root = java.nio.file.Files.createTempDirectory("h5ad-uri")
    java.nio.file.Files.createDirectories(root.resolve("uuid-U"))
    MiniHdf5Writer.writeH5ad(s"$root/uuid-U/cell_by_bin.h5ad",
      Seq("c1", "c2"), Seq("b1"), Array(1.0, 2.0), Array(0L, 0L),
      Array(0L, 1L, 2L))
    def rows(path: String) = spark.read.format("h5ad").load(path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getString(4))).toSet
    val want = Set(("c1", "uuid-U", "b1", 1.0, "cell_by_bin"),
      ("c2", "uuid-U", "b1", 2.0, "cell_by_bin"))
    assert(rows(root.toString) === want)
    assert(rows(root.toUri.toString) === want) // file:///…/ directory
    assert(rows(s"file:$root/uuid-U/cell_by_bin.h5ad") === want)
    val e = intercept[IllegalArgumentException](
      spark.read.format("h5ad").load("s3a://bucket/x.h5ad"))
    assert(e.getMessage.contains("'s3a'") && e.getMessage.contains("POSIX"),
      e.getMessage)
  }

  test("a file the reader rejects leaves no open descriptor") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val d = java.nio.file.Files.createTempDirectory("graft-h5-reject")
    val valid = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(files.head.path))
    def patched(name: String, at: Int, v: Int): String = {
      val b = valid.clone(); b(at) = v.toByte
      java.nio.file.Files.write(d.resolve(name), b).toString
    }
    val notHdf5 = java.nio.file.Files.write(d.resolve("text.h5ad"),
      "definitely not hdf5".getBytes).toString
    // a sparse file past the one-map limit: no block is written
    val huge = d.resolve("huge.h5ad").toString
    val raf = new java.io.RandomAccessFile(huge, "rw")
    try raf.setLength(Int.MaxValue.toLong + 1) finally raf.close()
    val rejects = Seq(
      notHdf5 -> "not an HDF5 file",
      patched("v1.h5ad", 8, 1) -> "superblock v1 unsupported",
      patched("off4.h5ad", 13, 4) -> "only 8-byte offsets",
      huge -> "2 GiB limit")
    try {
      val before = os.getOpenFileDescriptorCount
      for (_ <- 0 until 50; (path, why) <- rejects) {
        val e = intercept[IllegalArgumentException](new MiniHdf5.Reader(path))
        assert(e.getMessage.contains(why), e.getMessage)
      }
      // 200 rejected opens; a leak would hold 200 more descriptors
      val grown = os.getOpenFileDescriptorCount - before
      assert(grown < 50, s"$grown descriptors still open")
    } finally java.nio.file.Files.delete(java.nio.file.Paths.get(huge))
  }

  test("chunked + deflate datasets (compression='gzip' layout) read back exactly") {
    // 10 cells × 4 features, 23 nonzeros, 8-element chunks → multi-chunk
    // with a padded tail chunk, plus a single-chunk indptr
    val nnz = 23
    val data = Array.tabulate(nnz)(i => i * 1.5 + 0.25)
    val indices = Array.tabulate(nnz)(i => (i % 4).toLong)
    val indptr = Array[Long](0, 3, 5, 8, 10, 12, 15, 17, 20, 21, 23)
    val obs = (0 until 10).map(i => s"cell$i")
    val vars = (0 until 4).map(i => s"feat$i")
    MiniHdf5Writer.writeH5ad(s"$dir/gz.h5ad", obs, vars, data, indices, indptr,
      wide = true, gzipChunks = 8)
    MiniHdf5Writer.writeH5ad(s"$dir/plain.h5ad", obs, vars, data, indices, indptr,
      wide = true)
    val gz = new MiniHdf5.Reader(s"$dir/gz.h5ad")
    try {
      assert(gz.readDoubles("X/data").toSeq === data.toSeq)
      assert(gz.readLongs("X/indices").toSeq === indices.toSeq)
      assert(gz.readLongs("X/indptr").toSeq === indptr.toSeq)
    } finally gz.close()
    // and the gzip file is actually smaller-or-different on disk while
    // yielding identical triplets
    val a = longForm(H5adInput(s"$dir/gz.h5ad", "d", "m"))
    val b = longForm(H5adInput(s"$dir/plain.h5ad", "d", "m"))
    assert(a === b && a.size === nnz)
    // narrow chunked (f32/i32) too
    MiniHdf5Writer.writeH5ad(s"$dir/gz32.h5ad", obs, vars, data, indices, indptr,
      wide = false, gzipChunks = 7)
    val gz32 = new MiniHdf5.Reader(s"$dir/gz32.h5ad")
    try {
      assert(gz32.readDoubles("X/data").toSeq === data.map(_.toFloat.toDouble).toSeq)
      assert(gz32.readLongs("X/indices").toSeq === indices.toSeq)
    } finally gz32.close()

    // shuffle+gzip (h5py `compression='gzip', shuffle=True`): the
    // byte-plane transpose must be undone after inflate, both widths
    for (w <- Seq(true, false)) {
      val p = s"$dir/shuf_$w.h5ad"
      MiniHdf5Writer.writeH5ad(p, obs, vars, data, indices, indptr,
        wide = w, gzipChunks = 8, shuffle = true)
      val r = new MiniHdf5.Reader(p)
      try {
        val want = if (w) data.toSeq else data.map(_.toFloat.toDouble).toSeq
        assert(r.readDoubles("X/data").toSeq === want)
        assert(r.readLongs("X/indices").toSeq === indices.toSeq)
        assert(r.readLongs("X/indptr").toSeq === indptr.toSeq)
      } finally r.close()
    }
  }

  test("lzf-compressed chunks round-trip (h5py compression='lzf'), both widths, with shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5-lzf").toString
    val nnz = 23
    // repetitive values so lzfCompress emits real back-references, plus
    // a varying tail so literal runs are exercised in the same stream
    val data = Array.tabulate(nnz)(i => if (i < 12) 7.5 else i * 1.25)
    val indices = Array.tabulate(nnz)(i => (i % 4).toLong)
    val indptr = Array[Long](0, 3, 5, 8, 10, 12, 15, 17, 20, 21, 23)
    val obs = (0 until 10).map(i => s"cell$i")
    val vars = (0 until 4).map(i => s"feat$i")
    for (w <- Seq(true, false); sh <- Seq(false, true)) {
      val p = s"$dir/lzf_${w}_$sh.h5ad"
      MiniHdf5Writer.writeH5ad(p, obs, vars, data, indices, indptr,
        wide = w, gzipChunks = 8, shuffle = sh, lzf = true)
      val r = new MiniHdf5.Reader(p)
      try {
        val want = if (w) data.toSeq else data.map(_.toFloat.toDouble).toSeq
        assert(r.readDoubles("X/data").toSeq === want, s"wide=$w shuffle=$sh")
        assert(r.readLongs("X/indices").toSeq === indices.toSeq)
        assert(r.readLongs("X/indptr").toSeq === indptr.toSeq)
      } finally r.close()
    }
  }

  test("zstd-compressed chunks round-trip (hdf5plugin.Zstd), both widths, with shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5-zstd").toString
    val nnz = 23
    val data = Array.tabulate(nnz)(i => if (i < 12) 7.5 else i * 1.25)
    val indices = Array.tabulate(nnz)(i => (i % 4).toLong)
    val indptr = Array[Long](0, 3, 5, 8, 10, 12, 15, 17, 20, 21, 23)
    val obs = (0 until 10).map(i => s"cell$i")
    val vars = (0 until 4).map(i => s"feat$i")
    for (w <- Seq(true, false); sh <- Seq(false, true)) {
      val p = s"$dir/zstd_${w}_$sh.h5ad"
      MiniHdf5Writer.writeH5ad(p, obs, vars, data, indices, indptr,
        wide = w, gzipChunks = 8, shuffle = sh, zstd = true)
      val r = new MiniHdf5.Reader(p)
      try {
        val want = if (w) data.toSeq else data.map(_.toFloat.toDouble).toSeq
        assert(r.readDoubles("X/data").toSeq === want, s"wide=$w shuffle=$sh")
        assert(r.readLongs("X/indices").toSeq === indices.toSeq)
        assert(r.readLongs("X/indptr").toSeq === indptr.toSeq)
      } finally r.close()
    }
  }

  test("fletcher32 checksums verify and strip; corruption fails by name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5-fletch").toString
    val data = Array.tabulate(23)(i => i * 0.5)
    val indices = Array.tabulate(23)(i => (i % 4).toLong)
    val indptr = Array[Long](0, 3, 5, 8, 10, 12, 15, 17, 20, 21, 23)
    val obs = (0 until 10).map(i => s"cell$i")
    val vars = (0 until 4).map(i => s"feat$i")
    // over every compressor (the checksum covers the compressed bytes)
    for ((lz, zs) <- Seq((false, false), (true, false), (false, true))) {
      val p = s"$dir/fl_${lz}_$zs.h5ad"
      MiniHdf5Writer.writeH5ad(p, obs, vars, data, indices, indptr,
        gzipChunks = 8, lzf = lz, zstd = zs, fletcher32 = true)
      val r = new MiniHdf5.Reader(p)
      try {
        assert(r.readDoubles("X/data").toSeq === data.toSeq, s"lzf=$lz zstd=$zs")
        assert(r.readLongs("X/indptr").toSeq === indptr.toSeq)
      } finally r.close()
    }
    // a flipped payload byte is caught by the checksum with a named error
    val payload = Array.tabulate(40)(i => (i * 7).toByte)
    val ck = MiniHdf5.fletcher32(payload, payload.length)
    val withCk = payload ++ Array[Byte](ck.toByte, (ck >> 8).toByte,
      (ck >> 16).toByte, (ck >> 24).toByte)
    assert(MiniHdf5.fletcherStrip(withCk, "t").toSeq === payload.toSeq)
    val corrupt = withCk.clone()
    corrupt(10) = (corrupt(10) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](
      MiniHdf5.fletcherStrip(corrupt, "t"))
    assert(e.getMessage.contains("fletcher32 checksum mismatch"), e.getMessage)
    // a chunk shorter than its own checksum is refused, not sliced
    val e2 = intercept[IllegalArgumentException](
      MiniHdf5.fletcherStrip(Array[Byte](1, 2), "t"))
    assert(e2.getMessage.contains("shorter"), e2.getMessage)
  }

  test("HDF5 fletcher32 checksum pins the reference algorithm") {
    // H5_checksum_fletcher32 reference values: big-endian 16-bit words,
    // mod-65535 folds. Empty data -> 0.
    assert(MiniHdf5.fletcher32(Array.emptyByteArray, 0) === 0L)
    // single byte 0xAB: sum1 = 0xAB00, sum2 = sum1
    assert(MiniHdf5.fletcher32(Array(0xAB.toByte), 1) === 0xAB00AB00L)
    // two bytes 0x01 0x02 -> word 0x0102, sum2 = sum1 = 0x0102
    assert(MiniHdf5.fletcher32(Array[Byte](1, 2), 2) === 0x01020102L)
    // four bytes: words 0x0102, 0x0304; sum1 = 0x0406, sum2 = 0x0508
    assert(MiniHdf5.fletcher32(Array[Byte](1, 2, 3, 4), 4) === 0x05080406L)
  }

  test("lzf decompressor: handcrafted streams pin the format byte-for-byte") {
    def dec(bytes: Int*) = MiniHdf5.lzfDecompress(
      bytes.map(_.toByte).toArray, 64, "test").toSeq.map(_ & 0xff)
    // pure literal run: ctrl=2 -> 3 literals
    assert(dec(0x02, 10, 20, 30) === Seq(10, 20, 30))
    // back-reference: 3 literals then match len 3 (ctrl>>5=1 -> 1+2),
    // distance d=2 -> ref = op-3 (copies bytes 0..2)
    assert(dec(0x02, 1, 2, 3, 0x20 | 0x00, 0x02) === Seq(1, 2, 3, 1, 2, 3))
    // SELF-OVERLAPPING match: 1 literal, then len code 3 (-> 5 copies)
    // at distance 0 -> ref = op-1, the classic run encoding
    assert(dec(0x00, 9, 0x60 | 0x00, 0x00) === Seq.fill(6)(9))
    // extended length: len code 7 + ext 1 -> match length 10
    assert(dec(0x00, 4, 0xE0, 0x01, 0x00) === Seq.fill(11)(4))
    // corruption fails loudly, never writes out of bounds
    val e = intercept[IllegalArgumentException] {
      MiniHdf5.lzfDecompress(Array[Byte](0x20, 0x05), 64, "test")
    }
    assert(e.getMessage.contains("corrupt LZF"))
  }

  test("unsupported filter pipelines are refused by name before any data read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5-filters").toString
    val data = Array(1.0, 2.0, 3.0)
    val indices = Array(0L, 1L, 0L)
    val indptr = Array(0L, 2L, 3L)
    for ((id, name) <- Seq(4 -> "szip", 6 -> "scaleoffset", 32001 -> "blosc")) {
      val p = s"$dir/$name.h5ad"
      MiniHdf5Writer.writeH5ad(p, Seq("c1", "c2"), Seq("f1", "f2"),
        data, indices, indptr, gzipChunks = 2,
        foreignFilter = Some((id, name)))
      val r = new MiniHdf5.Reader(p)
      try {
        val e = intercept[IllegalArgumentException](r.readDoubles("X/data"))
        // the refusal names the filter and carries the one-time rewrite
        // instruction — the operational path for szip/blosc-compressed
        // uploads this reader deliberately does not decode
        assert(e.getMessage.contains(name), e.getMessage)
        assert(e.getMessage.contains("re-write"), e.getMessage)
      } finally r.close()
    }
    // unregistered id: still loud, by number
    val p2 = s"$dir/custom.h5ad"
    MiniHdf5Writer.writeH5ad(p2, Seq("c1", "c2"), Seq("f1", "f2"),
      data, indices, indptr, gzipChunks = 2,
      foreignFilter = Some((40000, "acme")))
    val r2 = new MiniHdf5.Reader(p2)
    try {
      val e = intercept[IllegalArgumentException](r2.readDoubles("X/data"))
      assert(e.getMessage.contains("40000"), e.getMessage)
    } finally r2.close()
  }

  test("corrupt CSR structure fails loudly instead of dropping rows") {
    // decreasing indptr: row 1's range is empty, row 0 truncated — both
    // silent data loss without validation
    MiniHdf5Writer.writeH5ad(s"$dir/bad.h5ad",
      obsNames = Seq("c1", "c2"), varNames = Seq("f1", "f2"),
      data = Array(1.0, 2.0, 3.0), indices = Array(0L, 1L, 0L),
      indptr = Array(0L, 3L, 1L))
    val e = intercept[IllegalArgumentException](
      longForm(H5adInput(s"$dir/bad.h5ad", "d", "m")))
    assert(e.getMessage.contains("indptr"))
    // truncating indptr (end != nnz) also refuses
    MiniHdf5Writer.writeH5ad(s"$dir/bad2.h5ad",
      obsNames = Seq("c1", "c2"), varNames = Seq("f1", "f2"),
      data = Array(1.0, 2.0, 3.0, 4.0), indices = Array(0L, 1L, 0L, 1L),
      indptr = Array(0L, 2L, 2L))
    val e2 = intercept[IllegalArgumentException](
      longForm(H5adInput(s"$dir/bad2.h5ad", "d", "m")))
    assert(e2.getMessage.contains("nnz"))
  }

  test("unsupported-feature errors name the limitation, not a parse crash") {
    val bogus = java.nio.file.Files.createTempFile("not-hdf5", ".h5ad")
    java.nio.file.Files.write(bogus, "definitely not hdf5".getBytes)
    val e = intercept[IllegalArgumentException](
      new MiniHdf5.Reader(bogus.toString))
    assert(e.getMessage.contains("not an HDF5 file"))
    val r = new MiniHdf5.Reader(files.head.path)
    try {
      val miss = intercept[IllegalArgumentException](r.readLongs("X/nope"))
      assert(miss.getMessage.contains("no object 'nope'"))
    } finally r.close()
  }
}
