package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftSession, SparkEntry}
import graft.operators.ProductBuild
import graft.sources.{H5ad, ProductSink}

/** One benchmark run in one JVM: set up, one first pass, warm-up passes,
  * then timed passes for the rest of `seconds`, driven by this single
  * client thread in a closed loop. Writes the raw record (set-ups, passes,
  * operations, listener counters, spans) as JSON to `out`;
  * `perfbench/run.py` checks the outputs and turns the record into metrics.
  *
  * Arguments are `key=value`: workload, seconds, trace (0/1), cpus, work
  * (scratch directory of this run), out, and per workload: `data` and `ops`
  * (the ordered query names, or `*` for all) for eager_mix; `atac` (input
  * directory), `seed`, `datasets` and `cells` for atac_product. */
object Main {
  private var spark: SparkSession = _
  private val tracer = new Tracer(() => Option(spark).map(_.sparkContext).orNull)
  private val counters = new Counters
  private val plans = new PlanListener
  private var nextOp = 0L
  private val WarmPasses = 4

  final case class OpRec(pass: Int, op: Long, name: String, constructNs: Long,
      execNs: Long, totalNs: Long, qeId: Long, rows: Long, var hash: String,
      error: String, extra: String)
  final case class PassRec(idx: Int, kind: String, traced: Boolean, wallNs: Long,
      cpuTicks: Long, boxNonSelfTicks: Long, stealTicks: Long, gcMs: Long, jitMs: Long,
      otherJvms: Seq[String])

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble

    // Set-up: build the session and warm it up, timed from JVM start, so it
    // carries JVM start, class loading and the first session as a batch
    // job pays them on every run.
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - Proc.jvmStartEpochMs()) * 1000000L
    tracer.recording = trace
    var buildNs, warmNs = 0L
    tracer.at("setup", jvmStartNs) {
      buildNs = timed { tracer("session.build") { spark = GraftSession.local(cpus) } }
      warmNs = timed { tracer("warmup") { warmup() } }
    }
    val setup = (System.nanoTime() - jvmStartNs, buildNs, warmNs)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)

    val (runPass, finish) = workload match {
      case "atac_product" => atacProduct(a, work)
      case "eager_mix" =>
        val names = if (a("ops") == "*") SparkEntry.queries.keys.toSeq.sorted
          else a("ops").split(',').filter(_.nonEmpty).toSeq
        eagerMix(a("data"), names, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    var heapPeakMb = 0.0
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    def pass(kind: String, traced: Boolean): Unit = {
      val idx = passes.size
      val jvms = Proc.otherJvms()
      tracer.recording = traced
      tracer.pass = idx
      val (cpu0, (box0, steal0), gc0, jit0) = (Proc.selfCpuTicks(), Proc.boxTicks(), Proc.gcMs(), Proc.jitMs())
      val t0 = System.nanoTime()
      val recs = tracer("pass") { runPass(idx) }
      val wall = System.nanoTime() - t0
      val cpu = Proc.selfCpuTicks() - cpu0
      val (box1, steal1) = Proc.boxTicks()
      passes += PassRec(idx, kind, traced, wall, cpu, box1 - box0 - cpu, steal1 - steal0,
        Proc.gcMs() - gc0, Proc.jitMs() - jit0, jvms)
      ops ++= recs
      heapPeakMb = math.max(heapPeakMb, Proc.heapAfterGcMb())
    }
    pass("first", trace)
    // The first WarmPasses passes after the first are untimed warm-up: the
    // JIT keeps compiling for several passes, and a fixed count of passes,
    // unlike a fixed time, leaves it in the same state however busy the box
    // was. Timed passes then run until `seconds` after the warm-up began.
    // In a traced run, timed passes alternate untraced and traced (at least
    // untraced, traced, untraced), so the run measures its own tracing
    // overhead against the passes on either side.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    (0 until (if (seconds > 0) WarmPasses else 0)).foreach(_ => pass("warm", trace))
    var timedPasses = 0
    while (System.nanoTime() < deadline || timedPasses < (if (trace) 3 else 1)) {
      pass("timed", trace && timedPasses % 2 == 1)
      timedPasses += 1
    }
    tracer.recording = false
    val endMetrics = Map("vm_hwm_mb" -> Proc.vmHwmMb(), "heap_peak_mb" -> heapPeakMb,
      "codecache_mb" -> Proc.codeCacheMb())
    counters.drain(spark.sparkContext)
    val extra = finish()
    writeRecord(Paths.get(a("out")), a, setup, passes.toSeq, ops.toSeq, endMetrics, extra)
    spark.stop()
  }

  private def timed(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  /** Untimed warm-up on plain Spark: a shuffle aggregate over a broadcast
    * join. It touches no program state that the workload's operations could
    * later hit. */
  private def warmup(): Unit = {
    val r = spark.range(0, 100000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), (col("id") * 0.5).as("v"))
    r.join(broadcast(r.limit(100).select("id")), "id").groupBy("k").agg(sum("v"), count(lit(1))).collect()
  }

  /** Order-independent digest of a result: the sorted rows' text. */
  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def newOp(): Long = { nextOp += 1; nextOp }

  /** The query mix. Every pass reads a fresh directory of symbolic links to
    * the same parquet files, so the program's per-path memos miss as they do
    * on newly landed data. */
  private def eagerMix(data: String, names: Seq[String],
      work: Path): (Int => Seq[OpRec], () => String) = {
    val registry = SparkEntry.queries
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val dataFiles = Option(new java.io.File(data).listFiles()).getOrElse(Array.empty)
      .map(_.toPath.toAbsolutePath).sortBy(_.toString)
    def dirFor(pass: Int): String = {
      val snap = work.resolve("snap").resolve(s"p$pass").toAbsolutePath
      Files.createDirectories(snap)
      dataFiles.foreach(f => Files.createSymbolicLink(snap.resolve(f.getFileName), f))
      snap.toString
    }
    val runPass = (pass: Int) => {
      val dir = dirFor(pass)
      val results = mutable.ArrayBuffer.empty[(OpRec, Array[Row], StructType)]
      names.foreach { name =>
        val op = newOp()
        var df: DataFrame = null
        var rows: Array[Row] = null
        var err = ""
        var c, e = 0L
        val t0 = System.nanoTime()
        tracer("op", op) {
          try {
            c = timed { tracer("construct") { df = registry(name)(spark, dir) } }
            e = timed { tracer("exec") { rows = df.collect() } }
          } catch { case ex: Throwable => err = s"${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300) }
        }
        val total = System.nanoTime() - t0
        val qe = if (df == null) -1L else df.queryExecution.id
        results += ((OpRec(pass, op, name, c, e, total, qe,
          if (rows == null) -1L else rows.length.toLong, "", err, ""), rows,
          if (df == null) null else df.schema))
        spark.catalog.clearCache()
      }
      // Digest outside the pass's operations; keep the first result of
      // each query for the oracle check.
      results.map { case (rec, rows, schema) =>
        if (rows != null) {
          rec.hash = digest(rows)
          if (!firstRows.contains(rec.name)) firstRows(rec.name) = (rows, schema)
        }
        rec
      }.toSeq
    }
    val finish = () => {
      val resDir = work.resolve("results")
      val sc = spark.sparkContext
      sc.setLocalProperty(Counters.LayerProp, "check")
      firstRows.foreach { case (name, (rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(resDir.resolve(name).toString)
      }
      // Read only now: some oracle entries are filled in by running the
      // queries they check.
      val oracle = SparkEntry.oracleSql
      Json.obj("oracle_sql" -> Json.obj(names.distinct.flatMap(n => oracle.get(n).map(n -> Json.str(_))): _*),
        "results_dir" -> Json.str(resDir.toString))
    }
    (runPass, finish)
  }

  /** The paper's pipeline: h5ad → product → partition-pruned readback. */
  private def atacProduct(a: Map[String, String], work: Path): (Int => Seq[OpRec], () => String) = {
    val in = AtacGen.ensure(Paths.get(a("atac")), a("seed").toLong, a("datasets").toInt, a("cells").toInt)
    val donorSchema = StructType(Seq("uuid", "donor_id", "age", "sex").map(StructField(_, StringType)))
    val runPass = (pass: Int) => {
      val op = newOp()
      val outDir = work.resolve("product").resolve(s"op$op").toAbsolutePath.toString
      var rows: Array[Row] = null
      var qe = -1L
      var err = ""
      var c, e = 0L
      val t0 = System.nanoTime()
      tracer("op", op) {
        try {
          var mods: Map[String, DataFrame] = null
          var donors: DataFrame = null
          c = timed { tracer("construct") {
            mods = H5ad.scanModalities(spark, in.files)
            donors = ProductSink.readTsv(spark, in.donorsTsv, donorSchema)
          } }
          e = timed {
            tracer("product.build") { ProductBuild.build(mods, donors, outDir) }
            tracer("sources.readback") {
              val df = ProductSink.readProduct(spark, outDir)
                .where(col("modality") === "cell_by_gene")
                .groupBy("dataset").agg(count(lit(1)).as("rows"), sum("value").as("value_sum"))
              qe = df.queryExecution.id
              tracer("exec") { rows = df.collect() }
            }
          }
        } catch { case ex: Throwable => err = s"${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300) }
      }
      val total = System.nanoTime() - t0
      spark.catalog.clearCache()
      val readback = Option(rows).getOrElse(Array.empty[Row]).map { r =>
        Json.obj("dataset" -> Json.str(r.getString(0)), "rows" -> r.getLong(1).toString,
          "value_sum" -> r.getDouble(2).toString)
      }
      Seq(OpRec(pass, op, "atac_product", c, e, total, qe,
        if (rows == null) -1L else rows.length.toLong, "", err,
        Json.obj("product_dir" -> Json.str(outDir), "readback" -> Json.arr(readback.toSeq: _*))))
    }
    val finish = () => Json.obj("h5ad_files" -> in.files.size.toString,
      "expected" -> new String(Files.readAllBytes(Paths.get(a("atac")).resolve("expected.json"))))
    (runPass, finish)
  }

  private def writeRecord(out: Path, a: Map[String, String], setup: (Long, Long, Long),
      passes: Seq[PassRec], ops: Seq[OpRec], end: Map[String, Double], extra: String): Unit = {
    val layerCounters = counters.snapshot
    def countersOf(op: Long): String = Json.obj(layerCounters.toSeq.filter(_._1._1 == op)
      .sortBy(_._1._2).map { case ((_, layer), acc) =>
        layer -> Json.obj(acc.v.toSeq.map { case (k, v) => k -> v.toString }: _*)
      }: _*)
    val opJson = ops.map { o =>
      val plan = Option(plans.byId.get(o.qeId))
      Json.obj("pass" -> o.pass.toString, "op" -> o.op.toString, "name" -> Json.str(o.name),
        "construct_ns" -> o.constructNs.toString, "exec_ns" -> o.execNs.toString,
        "total_ns" -> o.totalNs.toString, "rows" -> o.rows.toString, "hash" -> Json.str(o.hash),
        "error" -> Json.str(o.error), "extra" -> (if (o.extra.isEmpty) "null" else o.extra),
        "plan" -> plan.map(p => Json.obj("ms" -> p.planMs.toString,
          "exchanges" -> p.exchanges.toString, "broadcasts" -> p.broadcasts.toString,
          "global_windows" -> p.globalWindows.toString)).getOrElse("null"),
        "counters" -> countersOf(o.op))
    }
    // The planner's phases become a `plan` span under the action's `exec`.
    val epochToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val qeOf = ops.map(o => o.op -> o.qeId).toMap
    tracer.recording = true
    tracer.spans.toList.filter(_.name == "exec").foreach { s =>
      Option(plans.byId.get(qeOf.getOrElse(s.op, -1L))).filter(_.startMs > 0).foreach { p =>
        tracer.addChild(s, "plan", p.startMs * 1000000L + epochToNs, p.endMs * 1000000L + epochToNs)
      }
    }
    val spanJson = tracer.spans.map { s =>
      s"[${s.id}, ${s.parent}, ${s.pass}, ${s.op}, ${Json.str(s.name)}, ${s.startNs}, ${s.endNs}]"
    }
    Proc.writeString(out, Json.obj(
      "workload" -> Json.str(a("workload")), "cpus" -> a("cpus"),
      "setup" -> Json.obj("total_ns" -> setup._1.toString, "build_ns" -> setup._2.toString,
        "warmup_ns" -> setup._3.toString),
      "passes" -> Json.arr(passes.map { p =>
        Json.obj("idx" -> p.idx.toString, "kind" -> Json.str(p.kind), "traced" -> p.traced.toString,
          "wall_ns" -> p.wallNs.toString, "cpu_ticks" -> p.cpuTicks.toString,
          "box_nonself_ticks" -> p.boxNonSelfTicks.toString, "steal_ticks" -> p.stealTicks.toString,
          "gc_ms" -> p.gcMs.toString,
          "jit_ms" -> p.jitMs.toString, "other_jvms" -> Json.arr(p.otherJvms.map(Json.str): _*))
      }: _*),
      "ops" -> Json.arr(opJson: _*),
      "end" -> Json.obj(end.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "workload_extra" -> extra,
      "spans" -> Json.arr(spanJson.toSeq: _*)))
  }
}

/** Minimal JSON rendering; values are passed already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(v: String*): String = v.mkString("[", ", ", "]")
}
