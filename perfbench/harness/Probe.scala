package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one (op, layer) pair, summed from listener events. */
final class Acc {
  val v: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "jobs" -> 0L, "stages" -> 0L, "stages_run" -> 0L, "tasks" -> 0L,
    "failed_tasks" -> 0L, "task_ms" -> 0L, "cpu_ms" -> 0L,
    "sched_delay_ms" -> 0L, "shuffle_write_bytes" -> 0L,
    "shuffle_read_bytes" -> 0L, "spill_bytes" -> 0L, "scan_bytes" -> 0L,
    "scan_rows" -> 0L, "write_bytes" -> 0L, "write_rows" -> 0L,
    "write_job_ms" -> 0L, "h5ad_decode_tasks" -> 0L, "h5ad_decode_task_ms" -> 0L)
  def add(k: String, n: Long): Unit = v(k) += n
}

/** Spark listener that attributes jobs, stages and tasks to the span open
  * on the calling thread when each job started. The benchmark marks the
  * open span with two local properties, which Spark copies into every job
  * the thread starts. Events arrive on the listener bus thread; read the
  * counters only after [[drain]]. */
final class Counters extends SparkListener {
  import Counters._
  private val byKey = new ConcurrentHashMap[(Long, String), Acc]()
  private val stageKey = new ConcurrentHashMap[Int, (Long, String)]()
  private val decodeStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobKey = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val writingJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var marker: Option[(String, CountDownLatch)] = None

  private def acc(k: (Long, String)): Acc = byKey.computeIfAbsent(k, _ => new Acc)
  def snapshot: Map[(Long, String), Acc] = byKey.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val op = Option(p).flatMap(x => Option(x.getProperty(OpProp))).map(_.toLong).getOrElse(-1L)
    val layer = Option(p).flatMap(x => Option(x.getProperty(LayerProp))).getOrElse("other")
    val k = (op, layer)
    jobKey.put(e.jobId, k)
    jobStart.put(e.jobId, e.time)
    val a = acc(k)
    a.add("jobs", 1)
    a.add("stages", e.stageInfos.size)
    e.stageInfos.foreach { s => stageKey.put(s.stageId, k); stageJob.put(s.stageId, e.jobId) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    Option(stageKey.get(s.stageId)).foreach(acc(_).add("stages_run", 1))
    // H5ad.scan parallelizes one element per input file, so every task of
    // a stage whose lineage starts at that call decodes one h5ad file.
    if (s.rddInfos.exists(_.callSite.contains("H5ad.scala"))) decodeStages.add(s.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageKey.get(e.stageId)
    if (k == null) return
    val a = acc(k)
    a.add("tasks", 1)
    if (e.reason != Success) a.add("failed_tasks", 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      a.add("task_ms", m.executorRunTime)
      a.add("cpu_ms", m.executorCpuTime / 1000000L)
      // The scheduler-delay definition of Spark's own stage page.
      a.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)))
      a.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      a.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      a.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      a.add("scan_bytes", m.inputMetrics.bytesRead)
      a.add("scan_rows", m.inputMetrics.recordsRead)
      a.add("write_bytes", m.outputMetrics.bytesWritten)
      a.add("write_rows", m.outputMetrics.recordsWritten)
      if (m.outputMetrics.recordsWritten > 0)
        Option(stageJob.get(e.stageId)).foreach(writingJobs.add(_))
    }
    if (e.reason == Success && decodeStages.contains(e.stageId)) {
      a.add("h5ad_decode_tasks", 1)
      if (m != null) a.add("h5ad_decode_task_ms", m.executorRunTime)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val k = jobKey.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (k != null && t0 != null && writingJobs.remove(e.jobId))
      acc(k).add("write_job_ms", e.time - t0)
    marker.foreach { case (layer, latch) => if (k != null && k._2 == layer) latch.countDown() }
  }

  /** Run one marker job and wait until this listener has seen it end: the
    * bus delivers events in order, so every earlier event has arrived. */
  def drain(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    val layer = s"drain-${System.nanoTime()}"
    marker = Some((layer, latch))
    val (op0, l0) = (sc.getLocalProperty(OpProp), sc.getLocalProperty(LayerProp))
    sc.setLocalProperty(OpProp, "-2"); sc.setLocalProperty(LayerProp, layer)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(OpProp, op0); sc.setLocalProperty(LayerProp, l0) }
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
    marker = None
  }
}

object Counters {
  val OpProp = "perfbench.op"
  val LayerProp = "perfbench.layer"
}

/** What the planner did for one QueryExecution, keyed by its id. */
final case class PlanRec(planMs: Long, startMs: Long, endMs: Long,
    exchanges: Int, broadcasts: Int, globalWindows: Int)

/** Reads planning time from the tracker of the QueryExecution that ran an
  * action, and counts exchanges, broadcasts and unpartitioned windows in
  * its final (adaptive) plan. */
final class PlanListener extends QueryExecutionListener {
  val byId = new ConcurrentHashMap[Long, PlanRec]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    // Analysis runs when the DataFrame is built; optimization and physical
    // planning run inside the action.
    val phases = qe.tracker.phases.view.filterKeys(k => k == "optimization" || k == "planning").values
    val (ms, s, e) =
      if (phases.isEmpty) (0L, 0L, 0L)
      else (phases.map(_.durationMs).sum, phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max)
    var (ex, bc, gw) = (0, 0, 0)
    try walk(qe.executedPlan) {
      case _: ShuffleExchangeLike => ex += 1
      case _: BroadcastExchangeLike => bc += 1
      case w: WindowExec if w.partitionSpec.isEmpty => gw += 1
      case _ =>
    } catch { case _: Throwable => () }
    byId.put(qe.id, PlanRec(ms, s, e, ex, bc, gw))
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }
}

/** One timed interval at a boundary the benchmark calls. */
final case class Span(id: Int, parent: Int, pass: Int, op: Long, name: String, startNs: Long, endNs: Long)

/** Opens spans around calls into the program. Every span marks the calling
  * thread's local properties so the listener can attribute jobs to it;
  * spans are only recorded when tracing is on, kept in memory and written
  * out when the run ends. */
final class Tracer(sc: () => SparkContext) {
  @volatile var recording = false
  var pass = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Long, String)]
  private var nextId = 0

  def apply[T](name: String, op: Long = -1L)(body: => T): T = at(name, -1L, op)(body)

  /** A span that started at `startNs` (or now, when negative). */
  def at[T](name: String, startNs: Long, op: Long = -1L)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val opId = if (op >= 0) op else stack.headOption.map(_._2).getOrElse(-1L)
    val ctx = Option(sc())
    ctx.foreach { c =>
      c.setLocalProperty(Counters.OpProp, opId.toString)
      c.setLocalProperty(Counters.LayerProp, name)
    }
    stack = (id, opId, name) :: stack
    val t0 = if (startNs >= 0) startNs else System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (recording) spans += Span(id, parent, pass, opId, name, t0, t1)
      ctx.foreach { c =>
        c.setLocalProperty(Counters.OpProp, stack.headOption.map(_._2.toString).orNull)
        c.setLocalProperty(Counters.LayerProp, stack.headOption.map(_._3).orNull)
      }
    }
  }

  /** Record a span measured elsewhere (the planner's phases). */
  def addChild(parent: Span, name: String, startNs: Long, endNs: Long): Unit =
    if (recording) { nextId += 1; spans += Span(nextId, parent.id, parent.pass, parent.op, name, startNs, endNs) }
}

/** Process, JVM and box readings from MXBeans and /proc. */
object Proc {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Throwable => "" }

  /** Process user + system CPU, in clock ticks (USER_HZ = 100). */
  def selfCpuTicks(): Long = {
    val s = read("/proc/self/stat")
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong // fields 14 and 15 of stat(5)
  }

  /** Busy and steal ticks of the whole box, all cores summed. Steal is time
    * the hypervisor ran other machines while this one wanted the CPU. */
  def boxTicks(): (Long, Long) = {
    val f = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum - f(3) - f(4), f(7)) // busy is all but idle and iowait
  }

  def vmHwmMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Live JVMs on the box other than this one. */
  def otherJvms(): Seq[String] = {
    val self = ProcessHandle.current().pid()
    val procs = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty[java.io.File])
    procs.iterator.filter(d => d.getName.forall(_.isDigit) && d.getName.toLong != self)
      .flatMap { d =>
        val cmd = read(s"${d.getPath}/cmdline").split('\u0000')
        if (cmd.headOption.exists(c => c == "java" || c.endsWith("/java")))
          Some(s"${d.getName}:${cmd.lastOption.getOrElse("")}") else None
      }.toSeq
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Code")).map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use right after the last collection of each pool: the data
    * the program keeps live, without the garbage eden holds between GCs. */
  def heapAfterGcMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def jvmStartEpochMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def writeString(p: Path, s: String): Unit = { Files.createDirectories(p.getParent); Files.writeString(p, s) }
}
