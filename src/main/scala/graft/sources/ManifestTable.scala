package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A miniature manifest-tracked table format — the lakehouse core idea
  * (Iceberg/Delta's data+metadata split) built from scratch:
  *
  *  - data = plain parquet files;
  *  - metadata = versioned MANIFEST files (`_manifests/vNNNNN.json`),
  *    each a complete snapshot listing every live data file with its
  *    row count and per-column min/max stats;
  *  - commits are atomic: a manifest is written to a temp name and
  *    RENAMEd into place; readers only ever see complete snapshots
  *    (no `_SUCCESS`-scanning, no partial-directory reads);
  *  - appends write new data files + a NEW manifest version that
  *    includes the previous snapshot's files — old versions stay
  *    readable (time travel) until a retention pass drops them.
  *
  * Why this matters at 100 TB — two scan costs disappear:
  *  1. **File listing**: a directory with 10^6 objects costs thousands
  *     of paged LIST calls per query on an object store; the manifest
  *     is ONE file read.
  *  2. **Stats-based file skipping**: a range predicate on any stats
  *     column prunes whole FILES before Spark plans the scan — the
  *     coarse level above parquet row-group stats, and the one that
  *     works without directory partitioning. Combined with writing
  *     data sorted/z-ordered on the stats columns (tight per-file
  *     ranges), selective queries read a handful of files out of
  *     millions.
  *
  * Concurrency: optimistic, Delta-style. A writer stages its data
  * files under a nonce-unique directory (two racing writers can never
  * clobber each other's parquet), then claims the next version number
  * by renaming its manifest into place WITHOUT overwrite — on HDFS a
  * single atomic namenode op, on object stores the if-none-match CAS.
  * A losing [[write]] re-reads the new latest snapshot and retries the
  * claim (its staged files are version-independent); a losing
  * [[compact]]/[[merge]] throws ConcurrentModificationException
  * instead, because its rewrite was derived from a snapshot that is no
  * longer latest — retrying without re-deriving could resurrect
  * deleted rows. Staged directories of failed commits are orphans no
  * manifest references; readers are lock-free and always consistent.
  */
object ManifestTable {
  private[graft] case class FileEntry(path: String, rows: Long,
      mins: Map[String, String], maxs: Map[String, String],
      blooms: Map[String, String] = Map.empty) // col → base64 BloomFilter

  private def fs(path: String) =
    new Path(path).getFileSystem(new Configuration())

  private def manifestDir(table: String) = new Path(table, "_manifests")

  private def versionOf(p: Path): Int =
    p.getName.stripPrefix("v").stripSuffix(".json").toInt

  /** All committed versions, ascending. */
  def versions(table: String): Seq[Int] = {
    val dir = manifestDir(table)
    val f = fs(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json"))
      .map(versionOf).sorted.toSeq
  }

  /** Write `df` as a new snapshot. `mode` Overwrite starts a fresh file
    * set; Append carries the previous snapshot's files forward. Stats
    * are collected for `statsCols` (numeric/string/date — compared as
    * the column's own type at prune time). Returns the new version. */
  def write(df: DataFrame, table: String, statsCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      bloomCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    // Stage ONCE under a nonce directory: the staged parquet is
    // version-independent, so losing the claim below never rewrites
    // data, and two racing writers can never clobber each other's
    // files no matter which version each ends up with.
    val dataDir = s"$table/data-${java.util.UUID.randomUUID}"
    df.write.mode(SaveMode.Overwrite).parquet(dataDir)
    // Per-file stats in ONE distributed pass: group by input_file_name.
    // (A production writer collects these from the parquet footers it
    // just wrote — same numbers, zero extra read; this re-scan keeps
    // the demo simple and the stats provably consistent with content.)
    val withFile = spark.read.parquet(dataDir)
      .withColumn("__file", input_file_name())
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    } :+ count(lit(1)).as("__rows")
    val entries = withFile.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileEntry(r.getAs[String]("__file"),
          r.getAs[Long]("__rows"),
          statsCols.map(c => c -> r.getAs[String](s"min_$c")).toMap,
          statsCols.map(c => c -> r.getAs[String](s"max_$c")).toMap,
          bloomCols.map(c =>
            c -> fileBloom(spark, r.getAs[String]("__file"), c)).toMap)
      }.sortBy(_.path).toSeq
    val types = statsCols.map(c =>
      c -> df.schema(c).dataType.simpleString).toMap
    // Optimistic claim loop: re-read the log each attempt (Append must
    // carry the CURRENT latest snapshot forward, which changes when a
    // concurrent writer wins a round), then try to commit the next
    // version. The staged entries never change across attempts.
    var attempt = 0
    var committed = -1
    while (committed < 0) {
      val vOld = versions(table)
      val prev: Seq[FileEntry] =
        if (mode == SaveMode.Append && vOld.nonEmpty)
          readManifest(table, vOld.last)
        else Seq.empty
      val newVersion = vOld.lastOption.getOrElse(0) + 1
      if (tryCommitManifest(table, newVersion, prev ++ entries, statsCols,
          types)) committed = newVersion
      else {
        attempt += 1
        if (attempt >= 20) throw new java.util.ConcurrentModificationException(
          s"lost $attempt version claims in a row on $table — writer storm")
      }
    }
    committed
  }

  /** Per-file bloom of a point-lookup column, base64'd into the
    * manifest. Point predicates on unsorted high-cardinality keys get
    * FILE skipping that min/max ranges cannot give (every file's range
    * covers the key space; almost no file actually contains the key).
    * One small job per file here — a production writer accumulates the
    * bloom while writing the file (zero extra read); 1% fpp at the
    * file's row count ≈ 1.2 KB per 1k rows of manifest weight. */
  private def fileBloom(spark: SparkSession, file: String,
      c: String): String = {
    val df = spark.read.parquet(file)
    val bloom = df.stat.bloomFilter(c, math.max(df.count(), 1L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** Point-lookup read: keep only files whose bloom for `bloomCol`
    * might contain `value` (false positives re-filter in Spark; false
    * negatives are impossible). Returns (frame, filesKept, total). */
  def readPoint(spark: SparkSession, table: String, bloomCol: String,
      value: Long, version: Option[Int] = None): (DataFrame, Int, Int) = {
    val v = version.getOrElse(versions(table).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $table")))
    val entries = readManifest(table, v)
    require(entries.forall(_.blooms.contains(bloomCol)),
      s"no bloom index on $bloomCol — write(bloomCols = ...) first")
    val kept = entries.filter { e =>
      val bytes = java.util.Base64.getDecoder.decode(e.blooms(bloomCol))
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(value)
    }
    val df =
      if (kept.isEmpty)
        spark.read.parquet(entries.map(_.path): _*).limit(0)
      else spark.read.parquet(kept.map(_.path): _*)
    (df, kept.size, entries.size)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Stage + attempt to claim `version`. Returns false when another
    * writer committed that version first — the staged tmp is cleaned
    * up and nothing in the log changed. Package-visible so the spec
    * can drive a deterministic two-writer conflict. A null min/max
    * (e.g. an all-null stats column in some file) is written as JSON
    * null — readers treat it as "stats unknown, keep the file". */
  private[graft] def tryCommitManifest(table: String, version: Int,
      entries: Seq[FileEntry], statsCols: Seq[String],
      types: Map[String, String]): Boolean = {
    val f = fs(table)
    f.mkdirs(manifestDir(table))
    val root = mapper.createObjectNode()
    val typesNode = root.putObject("types")
    types.toSeq.sortBy(_._1).foreach { case (c, t) => typesNode.put(c, t) }
    val files = root.putArray("files")
    entries.foreach { e =>
      val file = files.addObject()
      file.put("path", e.path)
      file.put("rows", e.rows)
      val stats = file.putObject("stats")
      statsCols.foreach { c =>
        stats.putObject(c).put("min", e.mins(c)).put("max", e.maxs(c))
      }
      val blooms = file.putObject("blooms")
      e.blooms.toSeq.sortBy(_._1).foreach { case (c, b) => blooms.put(c, b) }
    }
    val json = mapper.writeValueAsBytes(root)
    val tmp = new Path(manifestDir(table),
      f"v$version%05d.json.${java.util.UUID.randomUUID}%s.tmp")
    val dst = new Path(manifestDir(table), f"v$version%05d.json")
    val out = f.create(tmp, true)
    out.write(json)
    out.close()
    // Version claim: rename-without-overwrite. On HDFS
    // FileSystem.rename fails atomically when dst exists (one namenode
    // op — the production guarantee); object-store committers use the
    // if-none-match CAS the same way. The LOCAL filesystem's rename(2)
    // overwrites, so the exists guard carries the check there — atomic
    // enough for tests and single-host use, and the claim below a
    // java-synchronized block closes the in-process window local[*]
    // could actually hit. A false return means "lost the race —
    // re-read the log and decide".
    val won = claimLock.synchronized { !f.exists(dst) && f.rename(tmp, dst) }
    if (!won) f.delete(tmp, false)
    won
  }
  private val claimLock = new Object

  private[graft] def readManifest(table: String, version: Int): Seq[FileEntry] =
    readManifestFull(table, version)._1

  private def readTypes(table: String, version: Int): Map[String, String] =
    readManifestFull(table, version)._2

  private def readManifestFull(table: String,
      version: Int): (Seq[FileEntry], Map[String, String]) = {
    val p = new Path(manifestDir(table), f"v$version%05d.json")
    val f = fs(table)
    val in = f.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val node = mapper.readTree(bytes)
    val typesNode = node.get("types")
    var types = Map.empty[String, String]
    if (typesNode != null) {
      val it = typesNode.fieldNames()
      while (it.hasNext) {
        val c = it.next(); types += c -> typesNode.get(c).asText()
      }
    }
    val files = node.get("files")
    (0 until files.size()).map { i =>
      val e = files.get(i)
      val stats = e.get("stats")
      val cols = stats.fieldNames()
      var mins = Map.empty[String, String]
      var maxs = Map.empty[String, String]
      while (cols.hasNext) {
        val c = cols.next()
        val mn = stats.get(c).get("min")
        val mx = stats.get(c).get("max")
        mins += c -> (if (mn.isNull) null else mn.asText())
        maxs += c -> (if (mx.isNull) null else mx.asText())
      }
      var blooms = Map.empty[String, String]
      val bn = e.get("blooms")
      if (bn != null) {
        val bit = bn.fieldNames()
        while (bit.hasNext) {
          val c = bit.next(); blooms += c -> bn.get(c).asText()
        }
      }
      FileEntry(e.get("path").asText(), e.get("rows").asLong(), mins, maxs,
        blooms)
    } -> types
  }

  /** Read a snapshot (latest by default). The returned frame scans
    * exactly the manifest's file list — no directory listing. */
  def read(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(versions(table).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $table")))
    val entries = readManifest(table, v)
    spark.read.parquet(entries.map(_.path): _*)
  }

  /** Range-pruned read: keep only files whose [min, max] interval for
    * `statsCol` intersects [lo, hi] (string-compared exactly as the
    * stats were cast — callers use the same canonical formatting, e.g.
    * zero-padded numerics or ISO dates). The residual filter still
    * applies in Spark: stats skip FILES, the scan's own pushdown skips
    * row groups, the filter keeps rows. Returns (frame, filesKept,
    * filesTotal) so callers — and tests — can assert the skipping. */
  def readRange(spark: SparkSession, table: String, statsCol: String,
      lo: String, hi: String, version: Option[Int] = None,
      hiExclusive: Boolean = false)
      : (DataFrame, Int, Int) = {
    val v = version.getOrElse(versions(table).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $table")))
    val (entries, types) = readManifestFull(table, v)
    // typed interval intersection: numeric stats compare as numbers
    // (lexicographic would mis-prune unpadded values like "999" vs
    // "1000"); timestamps/dates/strings compare as their canonical
    // string forms (ISO order == chronological)
    val numeric = Set("tinyint", "smallint", "int", "bigint",
      "float", "double").contains(types.getOrElse(statsCol, "string")) ||
      types.getOrElse(statsCol, "").startsWith("decimal")
    def geq(a: String, b: String) =
      if (numeric) BigDecimal(a) >= BigDecimal(b) else a >= b
    def leq(a: String, b: String) =
      if (numeric) BigDecimal(a) <= BigDecimal(b) else a <= b
    def lt(a: String, b: String) =
      if (numeric) BigDecimal(a) < BigDecimal(b) else a < b
    // With hiExclusive the prune window is [lo, hi): callers whose
    // residual predicate is `col < hi` must use it — an inclusive
    // bound derived by "rounding hi down" (e.g. '…23:59:59' for
    // `< 1997-01-01`) silently drops files whose min stat falls in the
    // sub-second gap (a '…23:59:59.5' min string-compares above it).
    val kept = entries.filter { e =>
      val (mn, mx) = (e.mins(statsCol), e.maxs(statsCol))
      // null stats (all-null column in that file) = unknown → keep
      mn == null || mx == null ||
        (geq(mx, lo) && (if (hiExclusive) lt(mn, hi) else leq(mn, hi)))
    }
    val df =
      if (kept.isEmpty)
        spark.read.parquet(entries.map(_.path): _*).limit(0)
      else spark.read.parquet(kept.map(_.path): _*)
    (df, kept.size, entries.size)
  }

  /** OPTIMIZE: rewrite the current snapshot's files below
    * `smallBytes` into `targetFiles` compacted ones, committing the
    * result as a NEW version (large files carry over untouched — no
    * data rewrite for the already-healthy part of the table). The
    * lakehouse maintenance op: streaming ingestion leaves small files,
    * and a scan over 10^6 small objects pays per-file open/seek costs
    * that dwarf the bytes; compaction restores big sequential reads
    * WITHOUT breaking time travel (old versions still reference the
    * old files until [[vacuum]]). */
  def compact(spark: SparkSession, table: String, statsCols: Seq[String],
      smallBytes: Long = 32L * 1024 * 1024, targetFiles: Int = 1,
      clusterBy: Option[String] = None): Int = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no snapshots at $table")
    val entries = readManifest(table, vs.last)
    val f = fs(table)
    val (small, large) = entries.partition(e =>
      f.getFileStatus(new Path(e.path)).getLen < smallBytes)
    if (small.size <= 1) return vs.last // nothing to do
    val newVersion = vs.last + 1
    val dataDir = s"$table/data-v$newVersion-${java.util.UUID.randomUUID}"
    // clusterBy keeps the rewritten files RANGE-clustered on the named
    // stats column (Delta OPTIMIZE-style): a plain round-robin
    // repartition would smear every file's min/max across the whole
    // domain and silently defeat the stats pruning the table was
    // written for. Default (None) preserves the old size-only behavior.
    val src = spark.read.parquet(small.map(_.path): _*)
    val shaped = clusterBy match {
      case Some(c) => src.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(c)
      case None => src.repartition(targetFiles)
    }
    shaped.write.mode(SaveMode.Overwrite).parquet(dataDir)
    val withFile = spark.read.parquet(dataDir)
      .withColumn("__file", input_file_name())
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    } :+ count(lit(1)).as("__rows")
    // Compacted files must carry the SAME index surface as the files
    // they replace: if the previous manifest had bloom indexes, rebuild
    // them for the new files — otherwise the first readPoint after
    // compaction fails its "no bloom index" require even though the
    // caller asked for one at write time.
    val bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted
    val compacted = withFile.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileEntry(r.getAs[String]("__file"), r.getAs[Long]("__rows"),
          statsCols.map(c => c -> r.getAs[String](s"min_$c")).toMap,
          statsCols.map(c => c -> r.getAs[String](s"max_$c")).toMap,
          bloomCols.map(c =>
            c -> fileBloom(spark, r.getAs[String]("__file"), c)).toMap)
      }.sortBy(_.path).toSeq
    if (!tryCommitManifest(table, newVersion, large ++ compacted,
        statsCols, readTypes(table, vs.last)))
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit claimed v$newVersion of $table before this " +
          "compaction — rerun against the new snapshot")
    newVersion
  }

  /** MERGE (copy-on-write upsert/delete) — the CDC landing op of a real
    * lakehouse (Delta MERGE INTO / Iceberg copy-on-write): apply a
    * batch of changes keyed on `keyCol` — rows with `opCol` = "U"
    * upsert (replace-or-insert), "D" delete — by rewriting ONLY the
    * data files whose `keyCol` stats range can contain a change key.
    * Untouched files carry over into the new snapshot by reference:
    * zero data movement for the (at 100 TB, overwhelming) cold part of
    * the table. That file-level selectivity is the entire point — a
    * naive merge rewrites the table; this one rewrites
    * O(changed key locality) files, which is why CDC tables cluster on
    * their merge key.
    *
    * The change-key set is collected to the driver: a CDC batch is
    * bounded by arrival rate, not table size (same contract as every
    * metadata collect here). Stats prune with the same typed compare
    * as [[readRange]]; a file with null key stats is conservatively
    * rewritten. New files recompute stats and carry rebuilt blooms if
    * the previous snapshot had them; `clusterBy` keeps the rewrite
    * range-clustered like [[compact]]. Time travel to the pre-merge
    * snapshot keeps working. Returns the new version. */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
      keyCol: String, opCol: String = "__op",
      clusterBy: Option[String] = None): Int = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no snapshots at $table")
    val (entries, types) = readManifestFull(table, vs.last)
    val statsCols = entries.headOption
      .map(_.mins.keys.toSeq.sorted).getOrElse(Seq.empty)
    require(statsCols.contains(keyCol),
      s"merge key $keyCol has no stats — write(statsCols = ...) first")
    val numeric = Set("tinyint", "smallint", "int", "bigint",
      "float", "double").contains(types.getOrElse(keyCol, "string")) ||
      types.getOrElse(keyCol, "").startsWith("decimal")
    def geq(a: String, b: String) =
      if (numeric) BigDecimal(a) >= BigDecimal(b) else a >= b
    def leq(a: String, b: String) =
      if (numeric) BigDecimal(a) <= BigDecimal(b) else a <= b
    val keys = changes.select(col(keyCol).cast("string").as("k"))
      .distinct().collect().map(_.getString(0))
    val (affected, untouched) = entries.partition { e =>
      val (mn, mx) = (e.mins(keyCol), e.maxs(keyCol))
      mn == null || mx == null ||
        keys.exists(k => geq(k, mn) && leq(k, mx))
    }
    val newVersion = vs.last + 1
    val upserts = changes.filter(col(opCol) === "U").drop(opCol)
    val changedKeys = changes.select(col(keyCol)).distinct()
    val merged =
      if (affected.isEmpty) upserts
      else spark.read.parquet(affected.map(_.path): _*)
        .join(broadcast(changedKeys), Seq(keyCol), "left_anti")
        .unionByName(upserts)
    val dataDir = s"$table/data-v$newVersion-${java.util.UUID.randomUUID}"
    val targetFiles = math.max(1, affected.size)
    val shaped = clusterBy match {
      case Some(c) => merged.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(c)
      case None => merged.repartition(targetFiles)
    }
    shaped.write.mode(SaveMode.Overwrite).parquet(dataDir)
    val bloomCols = entries.flatMap(_.blooms.keys).distinct.sorted
    val withFile = spark.read.parquet(dataDir)
      .withColumn("__file", input_file_name())
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    } :+ count(lit(1)).as("__rows")
    val rewritten = withFile.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileEntry(r.getAs[String]("__file"), r.getAs[Long]("__rows"),
          statsCols.map(c => c -> r.getAs[String](s"min_$c")).toMap,
          statsCols.map(c => c -> r.getAs[String](s"max_$c")).toMap,
          bloomCols.map(c =>
            c -> fileBloom(spark, r.getAs[String]("__file"), c)).toMap)
      }.sortBy(_.path).toSeq
    if (!tryCommitManifest(table, newVersion, untouched ++ rewritten,
        statsCols, types))
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit claimed v$newVersion of $table before this " +
          "merge — re-derive against the new snapshot and rerun")
    newVersion
  }

  /** VACUUM: expire every version before `keepFrom` and delete data
    * files no surviving snapshot references. Time travel to expired
    * versions stops working — that is the retention trade. Returns the
    * number of data files deleted. */
  def vacuum(table: String, keepFrom: Int): Int = {
    val vs = versions(table)
    val (expired, kept) = vs.partition(_ < keepFrom)
    require(kept.nonEmpty, s"vacuum would expire every snapshot of $table")
    val referenced = kept.flatMap(v => readManifest(table, v).map(_.path)).toSet
    val doomed = expired.flatMap(v => readManifest(table, v).map(_.path))
      .distinct.filterNot(referenced)
    val f = fs(table)
    doomed.foreach(p => f.delete(new Path(p), false))
    expired.foreach(v =>
      f.delete(new Path(manifestDir(table), f"v$v%05d.json"), false))
    doomed.size
  }

  /** Snapshot row count straight from manifest metadata — a count(*)
    * that reads ONE small json, zero data files (the lakehouse
    * "metadata-only query" fast path). */
  def countFromMetadata(table: String, version: Option[Int] = None): Long = {
    val v = version.getOrElse(versions(table).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $table")))
    readManifest(table, v).map(_.rows).sum
  }
}
