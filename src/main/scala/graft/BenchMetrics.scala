// Shim in the Spark namespace: listenerBus/waitUntilEmpty are
// private[spark], and draining the async listener bus is the only way to
// attribute task metrics to the query whose timed window just closed
// (task-end events post asynchronously; without a drain the last tasks'
// executorRunTime would bleed into the NEXT query's delta).
package org.apache.spark {
  object GraftBusDrain {
    def drain(sc: SparkContext): Unit =
      try sc.listenerBus.waitUntilEmpty(10000L)
      catch { case _: Throwable => () }
  }
}

package graft {

  import java.lang.management.ManagementFactory
  import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
  import scala.collection.mutable
  import scala.jdk.CollectionConverters._

  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
    SparkListenerStageCompleted, SparkListenerTaskEnd}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Bench self-attribution (VERDICT r12 item 1): the per-query wall time
    * alone could not explain four rounds of driver-tail divergence
    * (copurchase 7.03 s under the driver vs 3.13 s in the same-HEAD record
    * sweep), because nothing recorded WHERE the extra seconds went. This
    * collector snapshots, per timed window:
    *
    *  - `gc_ms`: JVM-wide GC time delta (all collector beans — in
    *    local[n] driver and executors share the JVM, so this is total GC
    *    landing inside the window);
    *  - `task_ms`: sum of executor task run time over tasks that ENDED in
    *    the window (listener-bus drained first, so the sum is the
    *    query's own tasks) — wall time far above task_ms/cores + gc means
    *    the stall was NOT Spark work (scheduler gap, external load);
    *  - jobs split by the [[PhaseProp]] local property the bench sets
    *    around DataFrame construction and execution, shuffle/spill
    *    bytes, one row per completed stage of those jobs, and the noop
    *    write's own QueryExecution (planning phases + final plan);
    *  - a bench-start sentinel listing concurrent graft/sbt/spark JVMs
    *    (the stray-duplicate-sweep failure mode that contaminated the
    *    round-12 close: a "dead" background ritual still timing queries).
    */
  object BenchMetrics {
    /** Local property naming the step a job belongs to: `construct`
      * (building the DataFrame) or `exec` (the timed noop write). */
    val PhaseProp = "graft.bench.phase"

    private val taskMs = new AtomicLong(0L)
    private val taskCpuNs = new AtomicLong(0L)
    private val taskCount = new AtomicLong(0L)
    private val constructJobs = new AtomicLong(0L)
    private val execJobs = new AtomicLong(0L)
    private val shuffleRead = new AtomicLong(0L)
    private val shuffleWrite = new AtomicLong(0L)
    private val spill = new AtomicLong(0L)

    /** One completed stage: wall ms (submission to completion), tasks,
      * shuffle write/read bytes, executor run and CPU ms. */
    final case class StageRow(id: Int, name: String, wallMs: Long,
        tasks: Int, shuffleWriteBytes: Long, shuffleReadBytes: Long,
        runMs: Long, cpuMs: Long)

    // stages of jobs started under PhaseProp, and their completed rows;
    // both guarded by `rows`
    private val tracked = mutable.Set.empty[Int]
    private val rows = mutable.ArrayBuffer.empty[StageRow]

    private final class L extends SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
          .foreach { phase =>
            (if (phase == "construct") constructJobs else execJobs)
              .incrementAndGet()
            rows.synchronized { tracked ++= e.stageIds }
          }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        rows.synchronized {
          if (tracked.remove(si.stageId)) {
            val m = si.taskMetrics
            rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60),
              (for (s <- si.submissionTime; c <- si.completionTime)
                yield c - s).getOrElse(-1L),
              si.numTasks, m.shuffleWriteMetrics.bytesWritten,
              m.shuffleReadMetrics.totalBytesRead, m.executorRunTime,
              m.executorCpuTime / 1000000L)
          }
        }
      }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          // executorCpuTime is nanoseconds of ON-CPU time (VERDICT r15
          // item 2): task_ms (wall inside tasks) minus cpu_ms names the
          // time tasks spent scheduled-out — CPU steal from ambient
          // load, run-queue waits — which no JVM-internal counter
          // (gc_ms, jit_ms) can see. The copurchase driver-window
          // "task_ms doubled" signature becomes self-explaining when
          // cpu_ms stays flat while task_ms inflates.
          taskCpuNs.addAndGet(m.executorCpuTime)
          taskCount.incrementAndGet()
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }

    /** The last QueryExecution that finished in a watched session. The
      * noop write is the last SQL execution of a bench window, and the
      * bus delivers in order, so after a drain this is the write's. */
    private val lastExecution = new AtomicReference[QueryExecution]()

    private object Executions extends QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastExecution.set(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = lastExecution.set(qe)
    }

    // contexts and sessions already watched (weak: a dropped child
    // session must not be kept alive by the bench)
    private val watched = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()))

    /** Watch `spark`: one listener per SparkContext, one execution
      * listener per session. Idempotent. */
    def install(spark: SparkSession): Unit = {
      if (watched.add(spark.sparkContext))
        spark.sparkContext.addSparkListener(new L)
      if (watched.add(spark)) spark.listenerManager.register(Executions)
    }

    /** Cumulative counters; diff two snapshots for a window. */
    final case class Snap(gcMs: Long, taskMs: Long, cpuMs: Long,
        tasks: Long, constructJobs: Long, execJobs: Long,
        shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
      def -(o: Snap): Snap = Snap(gcMs - o.gcMs, taskMs - o.taskMs,
        cpuMs - o.cpuMs, tasks - o.tasks, constructJobs - o.constructJobs,
        execJobs - o.execJobs, shuffleReadBytes - o.shuffleReadBytes,
        shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
    }

    private def snapshot(spark: SparkSession): Snap = {
      org.apache.spark.GraftBusDrain.drain(spark.sparkContext)
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
      Snap(gc, taskMs.get(), taskCpuNs.get() / 1000000L, taskCount.get(),
        constructJobs.get(), execJobs.get(), shuffleRead.get(),
        shuffleWrite.get(), spill.get())
    }

    /** What one timed window did: counter deltas, its stage rows, and
      * the write's planning ms (optimization + physical planning on its
      * own tracker; analysis ran during construction) and final plan. */
    final case class Window(d: Snap, stages: Seq[StageRow], planMs: Long,
        plan: String)

    /** Open a window: drain the bus, forget earlier stages and
      * executions, return the counters to diff against. */
    def begin(spark: SparkSession): Snap = {
      val s = snapshot(spark)
      rows.synchronized { rows.clear(); tracked.clear() }
      lastExecution.set(null)
      s
    }

    /** Close a window opened by [[begin]]. The plan is formatted here,
      * after the timed window, and the execution is then dropped so its
      * shuffles can be cleaned. */
    def end(spark: SparkSession, s0: Snap): Window = {
      val d = snapshot(spark) - s0
      val stages = rows.synchronized {
        val out = rows.sortBy(_.id).toSeq
        rows.clear(); tracked.clear(); out
      }
      Option(lastExecution.getAndSet(null)) match {
        case Some(qe) =>
          val planMs = qe.tracker.phases.collect {
            case ("optimization" | "planning", p) => p.durationMs
          }.sum
          val plan =
            try qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            catch { case e: Throwable => s"(plan unavailable: ${e.getMessage})" }
          Window(d, stages, planMs, plan)
        case None => Window(d, stages, 0L, "(no execution recorded)")
      }
    }

    /** JIT state sample: (cumulative JIT compilation ms, code-cache
      * bytes in use across the CodeHeap pools). The round-14 follow-up
      * to the box sample: with GC, graft JVMs AND box ambient load all
      * excluded, the remaining suspect for "same plan, double task_ms
      * late in a 356-query suite" is the JVM compiler — hundreds of
      * queries of codegen classes fill the reserved code cache, and
      * under `-XX:+UseCodeCacheFlushing` (run_bench.sh) flushed hot
      * methods re-interpret until recompiled, inflating executor task
      * time with no GC signature. A query window with a large `jit_ms`
      * delta (recompilation churn) or a near-capacity
      * `codecache_used_mb` names that mechanism in the artifact. */
    def jitStat(): (Long, Long) = {
      val comp =
        try {
          val c = ManagementFactory.getCompilationMXBean
          if (c != null && c.isCompilationTimeMonitoringSupported)
            c.getTotalCompilationTime
          else -1L
        } catch { case _: Throwable => -1L }
      val cc =
        try ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(p => p.getName.contains("CodeHeap") ||
            p.getName.contains("Code Cache"))
          .map(_.getUsage.getUsed).sum
        catch { case _: Throwable => -1L }
      (comp, cc)
    }

    /** Box-level CPU/load sample (VERDICT r13 item 1): the r13
      * attribution excluded GC and concurrent graft JVMs from the
      * five-round copurchase driver-window divergence but could not SEE
      * what inflated task_ms 2.5× — the JVM sentinel only detects
      * graft/sbt processes, and whatever competed for cores in the
      * driver window was invisible to it. This sample reads, from
      * /proc (Linux-only; all fields -1 elsewhere, never a throw):
      *
      *  - `load1`: /proc/loadavg 1-minute run-queue average;
      *  - `busyJiffies`: non-idle CPU jiffies summed over all cores
      *    (/proc/stat "cpu" line, total minus idle+iowait);
      *  - `selfJiffies`: THIS process's utime+stime
      *    (/proc/self/stat — run_bench.sh launches the bench as a bare
      *    `java` process, so "self" is exactly the benchmarked JVM).
      *
      * Diffed across a query's timed window, busy − self is the CPU
      * time OTHER processes burned while the query ran — the ambient
      * load share that makes a core-saturated query's inflated wall
      * time self-explaining at last. Jiffies convert to ms at
      * USER_HZ = 100 (the Linux default everywhere this runs; the
      * value is a *ratio* consumer either way — ambient share =
      * nonself/(cores·wall) is HZ-invariant in the comparison that
      * matters, nonself vs self). */
    final case class BoxStat(load1: Double, busyJiffies: Long,
        selfJiffies: Long)

    private def readFirstLine(path: String): String = {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().next() finally src.close()
    }

    def boxStat(): BoxStat = {
      val load1 =
        try readFirstLine("/proc/loadavg").split("\\s+")(0).toDouble
        catch { case _: Throwable => -1.0 }
      val busy =
        try {
          // "cpu  user nice system idle iowait irq softirq steal guest
          // guest_nice" — only the first 8 fields (through steal) are
          // summed: the kernel already folds guest/guest_nice into
          // user/nice, so including columns 9-10 would double-count
          // guest CPU on VM hosts (ADVICE r14).
          val f = readFirstLine("/proc/stat").split("\\s+").drop(1)
            .map(_.toLong).take(8)
          f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
        } catch { case _: Throwable => -1L }
      val self =
        try {
          // comm (field 2) may contain spaces/parens: parse after the
          // LAST ')'; post-paren 0-indexed fields: state=0 … utime=11,
          // stime=12
          val line = readFirstLine("/proc/self/stat")
          val rest = line.substring(line.lastIndexOf(')') + 2)
            .split("\\s+")
          rest(11).toLong + rest(12).toLong
        } catch { case _: Throwable => -1L }
      BoxStat(load1, busy, self)
    }

    /** Other live graft/sbt/spark JVMs at bench start, excluding this
      * process and its ancestor chain (the sbt that launched us). Each
      * entry: "pid:cmd-snippet". A non-empty list means the box was NOT
      * exclusively ours and every number in the run is suspect. */
    def concurrentJvms(): Seq[String] = {
      try {
        val self = ProcessHandle.current()
        val ancestors = Iterator.iterate(Option(self)) {
          _.flatMap(p => p.parent().asScala())
        }.takeWhile(_.isDefined).flatten.map(_.pid()).toSet
        ProcessHandle.allProcesses().iterator().asScala
          .filterNot(p => ancestors.contains(p.pid()))
          .flatMap { p =>
            p.info().commandLine().asScala()
              .filter { c =>
                (c.contains("java") || c.contains("sbt")) &&
                  (c.contains("graft") || c.contains("sbt-launch") ||
                    c.contains("spark"))
              }
              .map { c =>
                val snip = c.replaceAll("\\s+", " ").trim
                s"${p.pid()}:${snip.substring(0, math.min(snip.length, 80))}"
              }
          }.toSeq
      } catch { case _: Throwable => Seq.empty }
    }

    /** java.util.Optional → Option without requiring scala 2.13.11+
      * OptionConverters import noise at every call site. */
    private implicit final class OptOps[T](private val o: java.util.Optional[T]) {
      def asScala(): Option[T] = if (o.isPresent) Some(o.get) else None
    }
  }
}
