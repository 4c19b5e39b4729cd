package graft

import org.apache.spark.sql.SparkSession

/** The engine's session entry point: one place that encodes every
  * session-level semantic the library depends on, so applications,
  * the CLI mains (Verify/Bench), and tests all run with identical
  * behavior. To see the physical plan a query gets under these
  * semantics, run `tools/run_bench.sh <query>` and read its final
  * adaptive plan in `target/profile/<query>.txt`.
  *
  * Semantics pinned here:
  *  - `GraftExtensions`: every native function plus the
  *    RangeJoinRewrite and MvRewrite rules. It is the only way the
  *    functions reach a session, so a session built without
  *    `configure` has neither them nor the semantics below;
  *  - ANSI off: cast-failure-to-null, matching the reference's
  *    pandas.to_numeric coercion (`bin/concatenate.py:110`) and DuckDB
  *    TRY_CAST (Spark 4 defaults ANSI on);
  *  - UTC session time zone (event-time arithmetic is zone-free);
  *  - nanosAsLong for TIMESTAMP(NANOS) parquet (see Tables.t);
  *  - NTZ inference off: untagged parquet timestamps are instants;
  *  - a low AQE coalesce floor so small-scale stages keep parallelism
  *    (inert at production sizes — see DESIGN_SCALE.md);
  *  - `file:` paths go through [[graft.sources.NioLocalFileSystem]], which
  *    sets permissions with `java.nio` instead of forking `chmod` for
  *    every file and directory a local write creates.
  *
  * On a cluster, call `configure(SparkSession.builder())` without
  * `master` and submit normally; the local knobs here are for the
  * single-JVM harness.
  */
object GraftSession {

  /** Apply the engine's required configs to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Generated-class cache sized for a MANY-DISTINCT-PLAN workload.
    // This is a STATIC, PER-JVM conf (must be set at session build; on
    // a cluster it ships via SparkConf so every executor JVM gets it
    // too — each executor has its own CodeGenerator cache with the same
    // 100-entry default). The default is smaller than one pass of this
    // engine's 360-query suite, so in any long-lived many-query session
    // every entry evicts before its plan re-runs and EVERY execution
    // recompiles its whole-stage classes from source — and the freshly
    // loaded classes then run their first profile-gathering executions
    // in low JIT tiers, which nearly doubled executor task time in the
    // r14 forensics (sf0.1 suite A/B at 4096: wall 298.5 → 215.6 s,
    // Σtask_ms 1978 → 1085 s, in-window jit_ms 213 → 114 s). Memory
    // cost is codecache, not heap: ~60 MB extra at 360-plan scale
    // (131 → 191 MB of the JVM's 1 GiB reserved code cache, i.e. ~19%
    // — capacity is nowhere near the constraint; eviction was). Sized
    // at 4096 so a production session cycling thousands of distinct
    // plans stays eviction-free; see DESIGN_SCALE.md §codegen.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    // Untagged parquet timestamp[us] (isAdjustedToUTC=false) must read as
    // TIMESTAMP, not TIMESTAMP_NTZ: event-time arithmetic (unix_micros)
    // operates on instants, and the DuckDB oracle reads the same naive
    // micros verbatim — with the UTC session zone the two agree bit-for-
    // bit. Spark 4 defaults this inference ON, which would instead surface
    // NTZ and reject unix_micros at analysis time.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)

  /** Local harness session: `local[cpus]`, shuffle partitions = cores;
    * scan and shuffle sizing are Spark's defaults.
    *
    * `uiEnabled = true` attaches the live UI and keeps Spark's own
    * status-store retention and live-update defaults, so the UI shows
    * the whole session as it runs. */
  def local(cpus: String, uiEnabled: Boolean = false): SparkSession = {
    val b = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Harness-only (cluster path `configure` is untouched): shuffle
      // cleanup runs SYNCHRONOUSLY on the ContextCleaner thread instead
      // of fire-and-forget. The round-11 bench forensics pinned async
      // deletion bursts (kicked off by the between-query System.gc())
      // landing inside the NEXT query's timed window as one of the
      // heavy-tail noise sources; serializing the deletes keeps the
      // burst inside the untimed cleanup gap where it was triggered.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      // codegen.cache.maxEntries moved INTO `configure` (VERDICT r14
      // item 4): it is static and per-JVM, so the cluster path needs it
      // on every executor, not just this harness.
      .config("spark.ui.enabled", uiEnabled.toString))
    val spark = (if (uiEnabled) b else b
      // Status-store retention, capped: even with the UI off, the
      // app/SQL status listeners process every task event and retain
      // the last 1000 executions/jobs/stages WITH task metrics. In a
      // many-query session that store is pure overhead that grows with
      // position — measured on the 89-query bench prefix: the 90th
      // query ran 4.25 s under default retention vs 3.11 s capped, and
      // the prefix total dropped 87.8 → 71.2 s at the same heap (the
      // round-12 position-dependence forensics, BASELINE.md).
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "32")
      .config("spark.ui.retainedStages", "64")
      .config("spark.ui.retainedTasks", "1000")
      // No UI attached → live entity updates are write-only work on
      // the listener thread; -1 defers store writes to completion
      // events (another -4 s on the 89-query prefix, copurchase
      // 3.15 → 3.0 s).
      .config("spark.ui.liveUpdate.period", "-1"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
