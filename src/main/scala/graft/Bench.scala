package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so the
  * full plan executes (a bare `count()` would let Catalyst prune most of
  * the work and overstate throughput). Each query's min pass is also its
  * profile: phase/job/shuffle fields in the JSON `attrib` object, and its
  * stage table and final adaptive plan in `target/profile/<query>.txt`.
  */
object Bench {
  /** One timed execution: (seconds, succeeded). */
  type Pass = (Double, Boolean)

  /** One timed execution with self-attribution (VERDICT r12 item 1):
    * wall seconds plus where they went — GC ms and executor task-time
    * ms landing inside the timed window, and any [[Attrib]] notes the
    * operators recorded (e.g. which guarded fast path ran). The min
    * pass's attribution is what the JSON reports: it describes the
    * number the gate actually reads. The profile part splits the wall
    * into DataFrame construction, planning and execution, counts the
    * jobs each step started, and carries the stage table and the final
    * formatted plan. */
  final case class PassRec(sec: Double, ok: Boolean, gcMs: Long,
      taskMs: Long, cpuMs: Long, tasks: Long, boxNonSelfMs: Long,
      boxLoad1: Double, jitMs: Long, codeCacheMb: Long,
      notes: Seq[(String, String)], constructMs: Long, planMs: Long,
      execMs: Long, constructJobs: Long, execJobs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      stageRows: Seq[BenchMetrics.StageRow], plan: String)

  /** Final per-query record: the min successful pass plus `warmMs`, the
    * measured warm-up tax (first-pass seconds minus the min) — the
    * round-15 tier proxy. Under the back-to-back pass protocol the
    * first pass absorbs codegen compilation AND the JIT profile warm-up
    * of the query's generated classes, so warmMs names exactly the cost
    * the old sweep-ordered protocol leaked into its timed windows (the
    * six-round copurchase "driver window" residual, VERDICT r14 item 1).
    * -1 when the first pass failed (its fail-fast duration is not a
    * warm-up measurement). */
  final case class QueryRec(min: PassRec, warmMs: Long)

  /** Steady-state estimate: min across SUCCESSFUL passes; None when
    * every pass failed (the query must read as red, never as a
    * timing — a fail-fast duration would masquerade as a speedup). */
  def minSuccessful(passes: Seq[Pass]): Option[Double] = {
    val good = passes.filter(_._2).map(_._1)
    if (good.nonEmpty) Some(good.min) else None
  }

  /** A query earns a tie-break pass when its successful passes
    * DISAGREE by >1.5x AND >0.5 s absolute: the full-suite noise is
    * one-sided (a GC pause or deletion burst only ever ADDS time), so
    * a wide spread means at least one pass was hit and the min may
    * still be an unlucky draw. Agreement — fast or slow — needs no
    * third opinion; the 0.5 s min floor and the absolute-delta guard
    * skip sub-second queries whose pass-1 codegen-compile overhead
    * alone clears the ratio (the first full sweep re-ran 36 queries,
    * mostly 0.5→0.9 s spreads no gate can see). */
  def needsTieBreak(passes: Seq[Pass]): Boolean = {
    val good = passes.filter(_._2).map(_._1)
    good.size >= 2 && good.min >= 0.5 &&
      good.max / good.min > 1.5 && good.max - good.min > 0.5
  }

  /** Warm-up tax in ms: first-pass seconds minus the reported min.
    * Defined only when the FIRST pass succeeded (-1 otherwise: a
    * fail-fast first-pass duration is not a warm-up measurement);
    * clamped at 0 — the first pass being the min means no tax, not a
    * negative one. */
  def warmUpMs(passes: Seq[Pass], minSec: Double): Long =
    if (passes.isEmpty || !passes.head._2) -1L
    else math.max(0L, math.round((passes.head._1 - minSec) * 1000))

  /** Passes per query, run BACK-TO-BACK (round 15), min reported: the
    * first pass absorbs per-query classload/codegen-compile cost AND the
    * JIT tier warm-up of the query's generated classes, so the recorded
    * numbers are steady-tier execution, which is what round-over-round
    * comparison needs on a box with intermittent external load. The
    * r14 codegen-cache fix removed recompilation between sweeps, but
    * with sweep-ordered passes 359 other queries ran between a query's
    * pass 1 and pass 2, so its generated classes' JIT profiles decayed
    * (code-cache flushing + tiered deopt) and even the "warm" pass
    * re-ran in interpreter/C1; the absorbed tax is REPORTED per query
    * as `warm_ms` (first-pass minus min).
    *
    * Min across SUCCESSFUL passes: back-to-back identical full sweeps
    * measured a median per-query ratio of 1.01 but INDIVIDUAL queries
    * at 2.5-4.7x between runs with unchanged code (round-11 forensics).
    * The noise is one-sided (a GC pause, a deletion burst, or ambient
    * box load only adds time), so the min is the steady-state
    * estimator; a failed pass's fail-fast duration must not masquerade
    * as a speedup, and a query with ZERO successful passes is reported
    * in a separate "failed" array, NOT as a timing. A query whose
    * passes disagree ([[needsTieBreak]]) gets one extra pass. */
  val Passes = 2

  /** One timed pass of `fn` through the noop sink, with attribution.
    * Counters are snapshotted around the timed window (the listener bus
    * is drained so task-end events attribute to THIS query); Attrib
    * notes are drained before AND after — before, so a previous
    * non-bench code path can't bleed notes in; after, to collect them.
    * The [[BenchMetrics.PhaseProp]] local property marks which step
    * started each job; nothing here adds a job or a planning pass to
    * the window. After the window, every cached block is dropped and
    * the ContextCleaner nudged (shuffle-file GC): in one JVM, state
    * queries leave behind (persisted fixpoint results, memoized tables,
    * hundreds of MB of shuffle files) contaminated LATER queries'
    * numbers by factors — sql_q18 41.7 s in-suite vs 5.7 s isolated at
    * sf1, agg_approx_distinct 4.66 s vs 0.99 s at sf0.1 (round 9). */
  def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, tag: String = ""): PassRec = {
    val sc = spark.sparkContext
    BenchMetrics.install(spark)
    Attrib.drain()
    val s0 = BenchMetrics.begin(spark)
    val box0 = BenchMetrics.boxStat()
    val (jit0, _) = BenchMetrics.jitStat()
    val t0 = System.nanoTime()
    var t1 = t0
    var ok = true
    try {
      sc.setLocalProperty(BenchMetrics.PhaseProp, "construct")
      val df = fn(spark, sfDir)
      t1 = System.nanoTime()
      // a query may return a DataFrame of a child session
      BenchMetrics.install(df.sparkSession)
      sc.setLocalProperty(BenchMetrics.PhaseProp, "exec")
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      ok = false
      System.err.println(s"[bench] $name$tag failed: ${e.getMessage}")
    } finally sc.setLocalProperty(BenchMetrics.PhaseProp, null)
    val t2 = System.nanoTime()
    val box1 = BenchMetrics.boxStat()
    val (jit1, cc1) = BenchMetrics.jitStat()
    val w = BenchMetrics.end(spark, s0)
    val notes = Attrib.drain()
    spark.catalog.clearCache()
    System.gc() // lets the ContextCleaner reap dead shuffles
    // Ambient (non-self) CPU ms that landed inside the timed window
    // (VERDICT r13 item 1): busy-jiffies delta across ALL cores minus
    // this JVM's own utime+stime delta, at USER_HZ = 100 → ×10 ms.
    // -1 when /proc was unreadable (non-Linux) — a consumer must not
    // read that as "zero ambient load".
    val boxNonSelf =
      if (box0.busyJiffies < 0 || box1.busyJiffies < 0 ||
          box0.selfJiffies < 0 || box1.selfJiffies < 0) -1L
      else math.max(0L, (box1.busyJiffies - box0.busyJiffies) -
        (box1.selfJiffies - box0.selfJiffies)) * 10L
    // jit_ms: JVM compiler thread time landing inside the window
    // (recompilation churn when the code cache flushes); codecache_mb:
    // CodeHeap bytes in use at window end (near the 1 GiB reserve ⇒
    // flushing territory). Both -1 when the beans are unavailable.
    val jitMs =
      if (jit0 < 0 || jit1 < 0) -1L else math.max(0L, jit1 - jit0)
    val d = w.d
    PassRec((t2 - t0) / 1e9, ok, d.gcMs, d.taskMs, d.cpuMs, d.tasks,
      boxNonSelf, math.max(box0.load1, box1.load1), jitMs,
      if (cc1 < 0) -1L else cc1 >> 20, notes,
      constructMs = (t1 - t0) / 1000000L, planMs = w.planMs,
      execMs = math.max(0L, (t2 - t1) / 1000000L - w.planMs),
      constructJobs = d.constructJobs, execJobs = d.execJobs,
      shuffleReadBytes = d.shuffleReadBytes,
      shuffleWriteBytes = d.shuffleWriteBytes, spillBytes = d.spillBytes,
      stageRows = w.stages, plan = w.plan)
  }

  /** Locale.ROOT formatting: f"" uses the JVM default locale, and a
    * comma decimal separator would silently break the JSON contract. */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Attribution object, one entry per query: the min pass's counters
    * and phase split, the measured warm-up tax (warm_ms, r15), plus
    * operator Attrib notes (e.g. "resolve_path":"driver"). Numeric note
    * values stay bare. */
  def attribJson(entries: Seq[(String, QueryRec)]): String =
    entries.map { case (k, q) =>
      val r = q.min
      val notes = r.notes.map { case (nk, nv) =>
        Verify.jstr(nk) + ":" +
          (if (nv.matches("""-?\d+(\.\d+)?""")) nv else Verify.jstr(nv))
      }
      val fields = Seq("gc_ms" -> r.gcMs, "task_ms" -> r.taskMs,
        "cpu_ms" -> r.cpuMs, "tasks" -> r.tasks,
        "box_nonself_ms" -> r.boxNonSelfMs, "box_load1" -> num(r.boxLoad1),
        "jit_ms" -> r.jitMs, "codecache_mb" -> r.codeCacheMb,
        "warm_ms" -> q.warmMs, "construct_ms" -> r.constructMs,
        "plan_ms" -> r.planMs, "exec_ms" -> r.execMs,
        "construct_jobs" -> r.constructJobs, "exec_jobs" -> r.execJobs,
        "stages" -> r.stageRows.size,
        "shuffle_read_bytes" -> r.shuffleReadBytes,
        "shuffle_write_bytes" -> r.shuffleWriteBytes,
        "spill_bytes" -> r.spillBytes)
        .map { case (fk, v) => Verify.jstr(fk) + ":" + v }
      Verify.jstr(k) + ":" + (fields ++ notes).mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  /** The text profile of one pass: phase line, one row per completed
    * stage (wall, tasks, shuffle MB, executor run/CPU ms) and the final
    * formatted plan. */
  def profileText(name: String, r: PassRec): String = {
    def mb(b: Long) = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(b / 1e6))
    val head =
      s"$name: ${num(r.sec)} s = construct ${r.constructMs} ms " +
        s"(${r.constructJobs} jobs) + plan ${r.planMs} ms + exec " +
        s"${r.execMs} ms (${r.execJobs} jobs)"
    val table = (Seq("stage", "wall_ms", "tasks", "shW_MB", "shR_MB",
        "run_ms", "cpu_ms", "name") +:
      r.stageRows.map(s => Seq(s.id, s.wallMs, s.tasks,
        mb(s.shuffleWriteBytes), mb(s.shuffleReadBytes), s.runMs, s.cpuMs,
        s.name)))
      .map(c => "%5s %8s %5s %8s %8s %8s %8s  %s".format(c: _*))
    (head +: "" +: table :+ "" :+ r.plan).mkString("", "\n", "\n")
  }

  def writeProfile(dir: Path, name: String, r: PassRec): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$name.txt"), profileText(name, r).getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Bench-start sentinel BEFORE the session spins up: other live
    // graft/sbt/spark JVMs mean the box is shared and every number in
    // this run is suspect — recorded in the JSON so a divergent round
    // artifact names its own contamination instead of leaving a
    // three-round mystery (the r10-r12 copurchase driver-tail saga).
    val jvmSentinel = BenchMetrics.concurrentJvms()
    if (jvmSentinel.nonEmpty)
      System.err.println(
        s"[bench] WARNING: concurrent JVMs at start: ${jvmSentinel.mkString("; ")}")
    // Session semantics centralized in GraftSession (incl. the AQE
    // coalesce floor that keeps tiny test-SF stages parallel).
    val spark = GraftSession.local(cpus)
    BenchMetrics.install(spark)
    // JIT/IO warmup on untimed toy plans so per-query numbers reflect
    // steady-state execution, not first-run classloading: the JSON-path
    // machinery, WindowExec, the join execs, HashAggregate, Generate, and
    // the whole-stage-codegen compiler each cost O(100ms..s) of one-time
    // class loading/compilation that would otherwise land on whichever
    // query alphabetically touches them first.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      spark.range(1).select(get_json_object(lit("""{"k":1}"""), "$.k")).count()
      graft.Tables.t(spark, sfDir, "events").limit(1).count()
      val r = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      // window machinery
      r.withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy("id"))).count()
      // broadcast + sort-merge join paths
      r.join(broadcast(r.limit(10)), "id").count()
      r.hint("MERGE").join(r.select((col("id") + 1).as("id")), "id").count()
      // aggregate + generate (explode) paths
      r.select(explode(sequence(lit(0), col("id") % 3)).as("e"))
        .groupBy("e").agg(count(lit(1)), sum("e")).count()
      // noop sink registration
      r.write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Optional args restrict the run to named queries (dev loop); no
    // args runs the full suite.
    val only = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // Tie-break pass for noise-hit queries: min-of-2 still lets a query
    // lose BOTH draws (the round-11 driver tail recorded copurchase at
    // 6.58 s min-of-2 vs 2.9 s in four other sweeps), so a wide
    // spread earns one extra pass and the min ranges over all three.
    val perQuery: Seq[(String, (Seq[PassRec], Boolean))] =
      selected.map { case (name, fn) =>
        val base = (1 to Passes).map(i =>
          runOne(spark, sfDir, name, fn, if (i == 1) "" else s" pass$i"))
        val tied = needsTieBreak(base.map(r => (r.sec, r.ok)))
        val all = if (tied) base :+ runOne(spark, sfDir, name, fn, " tie-break")
          else base
        name -> (all, tied)
      }
    val byName = perQuery.toMap
    val failed = selected.map(_._1)
      .filter(n => !byName(n)._1.exists(_.ok)).sorted
    val tieBreak = selected.map(_._1).filter(n => byName(n)._2)
    if (tieBreak.nonEmpty)
      System.err.println(s"[bench] tie-break pass over ${tieBreak.size} " +
        s"noise-suspect queries: ${tieBreak.mkString(", ")}")
    // Per-query record = the MIN successful pass's PassRec (so the
    // attribution in the JSON describes the exact number the gates
    // read) plus the measured warm-up tax.
    val results: Seq[(String, QueryRec)] =
      selected.flatMap { case (name, _) =>
        val all = byName(name)._1
        val good = all.filter(_.ok)
        if (good.isEmpty) None
        else {
          val min = good.minBy(_.sec)
          Some(name -> QueryRec(min,
            warmUpMs(all.map(r => (r.sec, r.ok)), min.sec)))
        }
      }
    val profileDir = Paths.get("target", "profile")
    results.foreach { case (name, q) =>
      try writeProfile(profileDir, name, q.min)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write the $name profile: ${e.getMessage}")
      }
    }
    def qsJson(entries: Seq[(String, QueryRec)]): String =
      entries.map { case (k, v) => Verify.jstr(k) + ":" + num(v.min.sec) }
        .mkString("{", ",", "}")
    val total = results.map(_._2.min.sec).sum
    // sf is numeric when the dir follows the .../sfN.N convention; quote
    // anything else so the output line stays valid JSON.
    val sfRaw = sfDir.replaceAll(".*sf", "")
    val sf = if (sfRaw.matches("""-?\d+(\.\d+)?""")) sfRaw
      else Verify.jstr(sfRaw)
    // "failed" rides along in every output line (empty array when all
    // green) so gate/compare scripts can distinguish "not in this run"
    // from "ran and broke" — consumers must treat entries here as RED.
    val failedJson = failed.map(Verify.jstr).mkString("[", ",", "]")
    // Warm-up tax aggregates in the header (VERDICT r15 item 7): the
    // back-to-back protocol absorbs Σwarm_ms ≈ 80+ s per sweep OUTSIDE
    // the timed mins; promoting total + the top-5 payers to header
    // fields makes round-over-round drift in that tax visible without
    // parsing 368 attribution entries. Queries whose first pass failed
    // (warmMs = -1, not a measurement) are excluded.
    val warmKnown = results.filter(_._2.warmMs >= 0)
    val warmTotalMs = warmKnown.map(_._2.warmMs).sum
    val warmTopJson = warmKnown.sortBy(-_._2.warmMs).take(5)
      .map { case (k, q) => Verify.jstr(k) + ":" + q.warmMs }
      .mkString("{", ",", "}")
    // "tiebreak" (ADVICE r12): which queries received a third sample —
    // round-over-round compare scripts can now tell a 2-sample min from
    // a 3-sample one without parsing stderr.
    val tiebreakJson = tieBreak.sorted
      .map(Verify.jstr).mkString("[", ",", "]")
    val sentinelJson = jvmSentinel.map(Verify.jstr).mkString("[", ",", "]")
    def mkLine(entries: Seq[(String, QueryRec)], attrib: Boolean): String =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","passes":$Passes,""" +
        s""""n_queries":${results.size},"failed":$failedJson,""" +
        s""""warm_total_ms":$warmTotalMs,"warm_top":$warmTopJson,""" +
        s""""tiebreak":$tiebreakJson,"concurrent_jvms":$sentinelJson,""" +
        s""""queries":${qsJson(entries)},""" +
        (if (attrib) s""""attrib":${attribJson(entries)},""" else "") +
        s""""sf":$sf}"""
    val fullLine = mkLine(results, attrib = true)
    // Persist the full per-query JSON to a file FIRST: stdout goes through
    // the driver's log-tail capture, which keeps only the last ~2000 chars —
    // a file keeps every per-query number on record for round-over-round
    // comparison.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    def writeLine(path: String): Unit =
      try {
        val out = Paths.get(path)
        Option(out.getParent).foreach(Files.createDirectories(_))
        Files.write(out, (fullLine + "\n").getBytes(UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    writeLine(outPath)
    // ALSO write into the git-tracked bench/ directory unconditionally:
    // the driver commits uncommitted work at round close, so the full
    // per-query record lands in history without the manual copy step
    // that round-6 review flagged as fragile (only ~60 of ~200 per-query
    // entries survive the driver's stdout tail truncation). Full-suite
    // runs only — a dev run restricted to a few queries must not
    // overwrite the round record.
    if (only.isEmpty) {
      writeLine("bench/bench_latest.json")
      // Snapshot path: bench_latest.json is overwritten by EVERY
      // full-suite run. A run tagged with SPARK_GRAFT_BENCH_TAG=<tag>
      // ALSO lands at bench/bench_<tag>.json, which no untagged run
      // overwrites. Full-suite runs only — a query-restricted dev run
      // with a stale tag still exported must not overwrite the tagged
      // record (same guard as bench_latest.json).
      sys.env.get("SPARK_GRAFT_BENCH_TAG").map(_.trim).filter(_.nonEmpty)
        .foreach { tag =>
          val safe = tag.replaceAll("[^A-Za-z0-9._-]", "_")
          writeLine(s"bench/bench_$safe.json")
        }
    }
    // The stdout line must survive the driver's 2000-char tail capture
    // (every BENCH_r{1..4}.json has parsed:null because the 100+-query map
    // overflows it; sbt appends its own ~80-char "[success]" line after
    // ours). If the full line fits the budget, print it; otherwise print
    // the slowest queries — the ones perf review actually reads — up to the
    // budget, and point at the file holding the rest.
    val budget = 1800
    // the pointer names the RESOLVED output file (SPARK_GRAFT_BENCH_OUT
    // may have redirected it), JSON-escaped
    val fullPtr = ""","full":""" + Verify.jstr(outPath) + "}"
    val line =
      if (fullLine.length <= budget) fullLine
      else {
        // stdout fallback omits attrib (it lives in the full file) and
        // keeps only the slowest queries up to the tail-capture budget
        val byCost = results.sortBy(-_._2.min.sec)
        // fixed overhead of the non-queries fields + the "full" pointer
        var used = mkLine(Nil, attrib = false).length + fullPtr.length + 1
        val kept = byCost.takeWhile { case (k, v) =>
          val cost = k.length + 10 // "name":12.345,
          if (used + cost <= budget) { used += cost; true } else false
        }
        mkLine(kept.sortBy(_._1), attrib = false).dropRight(1) + fullPtr
      }
    println(line)
    spark.stop()
  }
}
