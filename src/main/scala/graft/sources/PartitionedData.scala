package graft.sources

import graft.Tables
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Derived hive-partitioned layout of the `events` table — the physical
  * design a 100 TB event store actually uses (the reference's flat
  * per-dataset files, `bin/concatenate.py:62-77`, re-laid-out for scale):
  * `events_by_type_date/event_type=<t>/dt=<yyyy-MM-dd>/` parquet files.
  *
  * Partitioning by (low-cardinality key, date) is what makes the two
  * pruning paths demonstrable and cheap at scale:
  *  - static partition pruning: a literal `dt` predicate never opens
  *    non-matching directories (PartitionFilters in the scan, zero I/O
  *    for pruned days);
  *  - dynamic partition pruning: a selective dim-side filter on the
  *    partition key prunes fact directories at RUNTIME via the reused
  *    broadcast (`dynamicpruningexpression` in PartitionFilters).
  *
  * Every layout here is materialized once per (sfDir, content signature)
  * under `target/graft-derived/`, and its path is a [[graft.Derived]]
  * entry like the IVF centroids: a layout is a property of the DATASET,
  * not of any query; at production scale it is the table's permanent
  * storage layout, not a per-query step.
  *
  * Write discipline (round-12, ADVICE r11): layouts build in a
  * process-private `.tmp-<pid>` sibling and publish with ONE atomic
  * directory rename, so a crash mid-write can never leave a
  * half-layout under the final name, and a concurrent reader never
  * observes a partially-written generation. The source-dir tag in the
  * layout name is a truncated SHA-256 of the absolute path (was:
  * 32-bit String.hashCode) — a tag collision between two dataset dirs
  * would let the stale-sibling sweep delete a LIVE layout.
  */
object PartitionedData {
  /** The `kind` layout of `d`, derived from `table`: a [[graft.Derived]]
    * entry whose compute is [[derivedLayout]], so regenerated testdata
    * re-materializes the layout. */
  private def layout(spark: SparkSession, d: String, table: String,
      kind: String, ready: java.nio.file.Path => Boolean = p =>
        java.nio.file.Files.isDirectory(p),
      inPlace: Boolean = false)
      (write: java.nio.file.Path => Unit): String =
    graft.Derived.get(spark, kind, d, table)(sig =>
      derivedLayout(d, kind, sig, ready, inPlace)(write))

  /** Collision-resistant tag of the source dataset dir: first 8 bytes
    * of SHA-256 over the absolute path. Layouts for DIFFERENT source
    * dirs (sf0.001/0.01/0.1) coexist; only stale GENERATIONS of the
    * same source dir are swept. */
  private def dirTag(d: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Paths.get(d).toAbsolutePath.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Newest last-modified instant across an entire file tree — the
    * write-recency evidence the stale-tmp sweep keys on. None when ANY
    * stat fails (deleted-under-us entries, permission hiccups): the
    * caller must then treat the tmp as live, because fabricated
    * evidence (the old EPOCH fallback) is what turned a transient stat
    * failure into deleting a live builder's output (ADVICE r13). */
  private def newestMtime(
      root: java.nio.file.Path): Option[java.time.Instant] = {
    try {
      val s = java.nio.file.Files.walk(root)
      try {
        var newest = java.time.Instant.MIN
        val it = s.iterator()
        while (it.hasNext) {
          val m = java.nio.file.Files.getLastModifiedTime(it.next())
            .toInstant
          if (m.isAfter(newest)) newest = m
        }
        if (newest == java.time.Instant.MIN) None else Some(newest)
      } finally s.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException =>
      None }
  }

  /** The shared derived-layout lifecycle: resolve the content-addressed
    * name, and if the layout is not `ready`, sweep stale same-source
    * generations, build into a `.tmp-<pid>` sibling via `write`, and
    * publish with one atomic rename. Returns the final path string.
    *
    * `inPlace = true` skips the tmp/rename step and builds at the
    * final path directly — REQUIRED for [[ManifestTable]]-backed
    * layouts: their manifests reference data files by ABSOLUTE path,
    * so a directory rename would strand every manifest entry at the
    * dead tmp path (caught live in the round-12 repro bench: all four
    * manifest scans PATH_NOT_FOUND after the first refactor). Those
    * tables already commit each snapshot atomically themselves, and
    * `ready` (`versions.nonEmpty`) rejects a build that crashed before
    * its first commit. */
  private[sources] def derivedLayout(d: String, kind: String, sig: Long,
      ready: java.nio.file.Path => Boolean, inPlace: Boolean)
      (write: java.nio.file.Path => Unit): String = {
    val base = java.nio.file.Paths.get("target", "graft-derived")
      .toAbsolutePath
    val prefix = s"${kind}_${dirTag(d)}_"
    val name = f"$prefix$sig%016x"
    val out = base.resolve(name)
    // In-place builds can span SEVERAL manifest commits (base write +
    // upsert / appends + compact), so `versions.nonEmpty` alone would
    // accept a build that crashed between commits. The marker file is
    // written strictly AFTER `write` returns; in-place readiness
    // requires both. (Rename-published layouts need no marker — the
    // atomic move IS the completion signal.)
    val marker = out.resolve("_GRAFT_COMPLETE")
    val isReady = ready(out) &&
      (!inPlace || java.nio.file.Files.exists(marker))
    if (!isReady) {
      // stale generations would otherwise accumulate a full table copy
      // per testdata regeneration — drop same-source siblings (other
      // sigs AND leftover tmp dirs of crashed builds)
      if (java.nio.file.Files.isDirectory(base)) {
        val s = java.nio.file.Files.list(base)
        try {
          val it = s.iterator()
          val liveTmp = """.*\.tmp-(\d+)$""".r
          // legacy (pre-SHA-256) tags were 32-bit hashCode hex, ≤ 8
          // chars — a length the new 16-hex tag can never produce;
          // sweeping them here keeps an upgraded machine from carrying
          // an orphaned full copy of every layout forever
          val legacy = ("^" + java.util.regex.Pattern.quote(kind)
            + "_[0-9a-f]{1,8}_.*").r
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            val isLiveBuilder = n match {
              // a CONCURRENT process's in-flight .tmp-<pid> build is
              // NOT a crashed leftover — deleting it under the builder
              // fails its write tasks mid-flight. Liveness is pid
              // presence AND plausibility (ADVICE r12: after OS pid
              // reuse, a crashed builder's tmp would otherwise be
              // spared forever): the claimed builder must have STARTED
              // before the tmp's last write (a later-started process
              // cannot have produced it), and a tmp idle past a
              // generous age bound is dead regardless — real builds
              // write continuously and finish in minutes.
              case liveTmp(pid) =>
                pid.toLongOption.exists { q =>
                  q != java.lang.ProcessHandle.current().pid() && {
                    val h = java.lang.ProcessHandle.of(q)
                    h.isPresent && {
                      // Liveness evidence must fail SAFE (ADVICE r13):
                      // a transient stat failure previously mapped the
                      // mtime to EPOCH, which made startsBeforeWrite
                      // false and idleMs huge — classifying a LIVE
                      // builder's tmp as dead and deleting it under its
                      // write tasks, the exact hazard this guard
                      // prevents. No readable mtime → treat as live
                      // (skip the sweep for this entry; the next sweep
                      // with working stats reclaims a real corpse).
                      // The write-recency signal is the NEWEST mtime in
                      // the tmp TREE, not the top-level dir (which only
                      // updates on direct-child churn — a long build
                      // writing deep part files looked idle for hours).
                      newestMtime(p) match {
                        case None => true
                        case Some(mtime) =>
                          val started = h.get.info().startInstant()
                          val startsBeforeWrite = !started.isPresent ||
                            !started.get.isAfter(mtime)
                          val idleMs = java.time.Duration
                            .between(mtime, java.time.Instant.now())
                            .toMillis
                          startsBeforeWrite && idleMs < 6L * 3600 * 1000
                      }
                    }
                  }
                }
              case _ => false
            }
            if (!isLiveBuilder && n != name &&
                (n.startsWith(prefix) || legacy.matches(n)))
              deleteRecursively(p)
          }
        } finally s.close()
      }
      java.nio.file.Files.createDirectories(base)
      deleteRecursively(out) // a not-ready partial build is garbage
      if (inPlace) {
        write(out)
        java.nio.file.Files.write(marker, Array.emptyByteArray)
      } else {
        val tmp = base.resolve(
          s"$name.tmp-${java.lang.ProcessHandle.current().pid()}")
        deleteRecursively(tmp)
        write(tmp)
        // publish atomically; if a concurrent build won the race, keep
        // the winner and drop our duplicate (contents are deterministic
        // functions of (source dir, sig) — either copy is correct)
        // a lost race surfaces differently per OS/filesystem:
        // FileAlreadyExists, AccessDenied (Windows), or
        // DirectoryNotEmpty (Linux rename(2) ENOTEMPTY onto the
        // winner's non-empty dir) — all subtypes of
        // FileSystemException. Adopt the winner only if its copy is
        // actually READY; any other move failure must surface.
        try java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: java.nio.file.FileSystemException =>
            if (ready(out)) deleteRecursively(tmp) else throw e
        }
      }
    }
    out.toString
  }

  /** Path of the (event_type, dt)-partitioned events layout, writing it
    * on first use. 5 types × 30 days at test SF → 150 directories; the
    * partition columns are dropped from the data files (hive layout). */
  def eventsByTypeDate(spark: SparkSession, d: String): String =
    layout(spark, d, "events", "events_by_type_date") { tmp =>
      Tables.t(spark, d, "events")
        .withColumn("dt", to_date(col("ts")))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_type", "dt")
        .parquet(tmp.toString)
    }

  /** Avro landing-zone copy of `orders` — the ingest-side fixture for
    * [[AvroDataSource]]: at production scale this directory is what a
    * Kafka-connect/CDC dump writes; the engine reads it splittable and
    * every analytic query runs on the columnar store instead. Memoized
    * per (sfDir, orders content) exactly like [[eventsByTypeDate]]. */
  def ordersAvroLanding(spark: SparkSession, d: String): String =
    layout(spark, d, "orders", "orders_avro") { tmp =>
      Tables.t(spark, d, "orders")
        .write.format("graft-avro").mode(SaveMode.Overwrite)
        .save(tmp.toString)
    }

  /** ORC landing-zone copy of `events` — the second real columnar
    * ingest format next to [[ordersAvroLanding]] (Hive/Trino shops land
    * ORC the way Kafka shops land Avro). Spark's built-in ORC
    * reader/writer (the bundled orc-core jars) carries the full type
    * mix this fixture checks: long, timestamp[us] (instant semantics
    * under the UTC session), string, double. Memoized per (sfDir,
    * events content). */
  def eventsOrcLanding(spark: SparkSession, d: String): String =
    layout(spark, d, "events", "events_orc") { tmp =>
      Tables.t(spark, d, "events")
        .write.mode(SaveMode.Overwrite).orc(tmp.toString)
    }

  /** h5ad landing-zone fixture — the reference's OWN wire format
    * (`bin/concatenate.py:62` reads a CSR AnnData file per dataset)
    * derived deterministically from the `events` parquet so DuckDB can
    * replay the derivation without reading HDF5: the cell×feature
    * matrix is user_id × event_type with value = Σ value per pair
    * (DECIMAL(18,4)-exact, so the f64 payload is bit-identical on both
    * sides). Written CHUNKED + deflate (h5py `compression='gzip'`
    * layout, 256-element chunks) so the oracled round-trip exercises
    * the compressed read path, not just contiguous storage.
    *
    * The driver-side collect is bounded by matrix SHAPE, not corpus
    * size: #users × 5 event types (7.5k nnz at sf0.1), and an HDF5
    * file is single-writer by format — at production scale this is the
    * per-dataset ingest artifact ([[H5ad.scan]] parallelizes across
    * files, one task each), not a query-path step. Memoized per
    * (sfDir, events content) like every layout here. */
  def eventsH5adLanding(spark: SparkSession, d: String): String = {
    val dir = layout(spark, d, "events", "events_h5ad") { tmp =>
      val rows = Tables.t(spark, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .groupBy("user_id", "event_type")
        .agg(graft.U.dbl(sum(graft.U.dec4(col("value")))).as("v"))
        .collect()
      val vars = rows.map(_.getString(1)).distinct.sorted
      val varIdx = vars.zipWithIndex.toMap
      val byUser = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      val obs = byUser.map { case (u, _) => s"user_$u" }
      val data = scala.collection.mutable.ArrayBuffer.empty[Double]
      val indices = scala.collection.mutable.ArrayBuffer.empty[Long]
      val indptr = scala.collection.mutable.ArrayBuffer(0L)
      byUser.foreach { case (_, rs) =>
        rs.map(r => (varIdx(r.getString(1)).toLong, r.getDouble(2)))
          .sortBy(_._1).foreach { case (j, v) =>
            indices += j; data += v
          }
        indptr += indices.length.toLong
      }
      java.nio.file.Files.createDirectories(tmp)
      MiniHdf5Writer.writeH5ad(tmp.resolve("events.h5ad").toString,
        obs, vars, data.toArray, indices.toArray, indptr.toArray,
        wide = true, gzipChunks = 256)
    }
    s"$dir/events.h5ad"
  }

  /** The near-dup EDGE SET the whole graph family iterates on
    * (plane-literal hyperplane LSH → capped buckets → cosine ≥ 0.05
    * pairs, stored once as a < b) — materialized as a derived layout.
    * Eight queries (k-core, BFS, Katz, label propagation, triangles,
    * clustering, neighborhood Jaccard, assortativity) iterate on this
    * ONE graph; before round 11 each recomputed the LSH bucketing +
    * within-bucket cosine pass from the raw embeddings (~1-1.5 s per
    * query at sf0.1, ~8x redundantly per sweep). At 100 TB the near-dup
    * graph IS a persisted table — computed once at ingest, stored next
    * to the embeddings, re-derived only when the corpus changes — so the
    * signature-keyed derived layout is the production shape, not a bench
    * trick. The DuckDB graph oracles replay the edge derivation from the
    * raw table (`Graph.lshEdgesCte`), so a stale or wrong layout fails
    * the gate loudly. The quantizer width is ADAPTIVE
    * ([[graft.similarity.Similarity.adaptiveNBits]]): bits grow with
    * the corpus count so expected bucket occupancy stays bounded —
    * fixed 8-bit bucketing made the edge set grow ~quadratically with
    * occupancy (measured at sf2, BASELINE.md r11). */
  def lshEdgeSet(spark: SparkSession, d: String): String =
    layout(spark, d, "embeddings", "lsh_edges") { tmp =>
      val emb = Tables.t(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.dedup.Dedup.embeddingLshPairs(emb,
          graft.similarity.Similarity.adaptiveNBits(emb.count()))
        .filter(col("cos_sim") >= 0.05)
        .select(col("id1").as("a"), col("id2").as("b"))
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }

  /** CSV landing-zone copy of `nation` with 3 PLANTED malformed lines
    * — the permissive-ingest fixture for scan_csv_permissive: real
    * feeds carry garbage rows, and the ingest contract is
    * quarantine-don't-crash. Exactly 3 bad lines is part of the
    * fixture contract (the oracle encodes it as a literal): one
    * unparseable key, one unparseable region, one token-count
    * overflow. Headerless (schema supplied at read); Spark's CSV
    * writer handles quoting, and the extra bad-lines part file slots
    * into the directory like any other split. The bad lines append
    * inside the tmp dir BEFORE the atomic publish, so a layout missing
    * its garbage can never be observed under the final name. */
  def nationCsvLanding(spark: SparkSession, d: String): String =
    layout(spark, d, "nation", "nation_csv") { tmp =>
      Tables.t(spark, d, "nation")
        .write.mode(SaveMode.Overwrite)
        .option("header", "false").csv(tmp.toString)
      java.nio.file.Files.write(
        tmp.resolve("part-99999-malformed.csv"),
        java.util.Arrays.asList(
          "notakey,BADLAND planted malformed row,0",
          "98,WORSELAND planted malformed row,notaregion",
          "99,EXTRALAND planted malformed row,1,too,many,columns"),
        java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Manifest-tracked snapshot of `orders` ([[ManifestTable]]) —
    * range-partitioned and sorted on `o_orderdate` so per-file min/max
    * stats are TIGHT and date-range queries skip whole files from the
    * manifest alone. Memoized like the other derived layouts; at
    * production scale this is the table's permanent format.
    * ManifestTable commits snapshots atomically itself, so manifest
    * layouts build in place with `versions.nonEmpty` as readiness. */
  def ordersManifestTable(spark: SparkSession, d: String): String =
    layout(spark, d, "orders", "orders_manifest",
      p => ManifestTable.versions(p.toString).nonEmpty,
      inPlace = true) { tmp =>
      ManifestTable.write(
        Tables.t(spark, d, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate"),
        tmp.toString, statsCols = Seq("o_orderdate"))
    }

  /** The FULL lakehouse ingestion path as one derived table (round-8
    * verdict item 8): producer lands `orders` as Avro
    * ([[ordersAvroLanding]]) → the engine's `graft-avro`
    * MicroBatchStream ingests it exactly-once into staged parquet
    * (checkpointed file log) → the staged files commit as a
    * [[ManifestTable]] snapshot with o_orderdate stats → COMPACTION
    * rewrites the small streamed files into a new snapshot. Queries on
    * the result exercise land → stream → manifest → compact → prune
    * end-to-end, with a CORRECTNESS row against the plain parquet
    * original (`scan_lakehouse_ingest`). Memoized per (sfDir, orders
    * content) like every derived layout here. The whole multi-step
    * build (stage dir, checkpoint, snapshots) happens inside the tmp
    * dir and publishes with one rename; the returned path is the
    * `table` subdirectory. */
  def ordersLakehouseTable(spark: SparkSession, d: String): String = {
    val root = layout(spark, d, "orders", "orders_lakehouse",
      p => ManifestTable.versions(p.resolve("table").toString).nonEmpty,
      inPlace = true) { tmp =>
      val stage = tmp.resolve("stage").toString
      val ckpt = tmp.resolve("ckpt").toString
      val table = tmp.resolve("table").toString
      val q = spark.readStream.format("graft-avro")
        .schema(Tables.t(spark, d, "orders").schema)
        .load(ordersAvroLanding(spark, d))
        .writeStream.format("parquet").option("path", stage)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // streamed micro-batch output → manifest snapshot v1 (small
      // files, per-file o_orderdate stats), then compact → v2: the
      // maintenance op a streaming-ingested table always needs
      ManifestTable.write(
        spark.read.parquet(stage)
          .repartitionByRange(8, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate"),
        table, statsCols = Seq("o_orderdate"))
      ManifestTable.compact(spark, table, Seq("o_orderdate"),
        targetFiles = 4, clusterBy = Some("o_orderdate"))
    }
    java.nio.file.Paths.get(root).resolve("table").toString
  }

  /** CDC-merged snapshot of `orders` — the [[ManifestTable.merge]]
    * end-to-end path as a derived table: base snapshot range-clustered
    * on o_orderkey (8 files, tight key ranges), then ONE deterministic
    * CDC batch merged copy-on-write:
    *   - UPDATE rows with o_orderkey < 1000 (price + 50);
    *   - DELETE rows with 1000 ≤ o_orderkey < 2000;
    *   - INSERT fresh rows keyed o_orderkey + 10_000_000 for
    *     o_orderkey < 500 (priority carried, price 1000.0).
    * The change keys live in a narrow slice of the key domain, so the
    * merge rewrites the low-range file(s) plus one insert file and
    * carries the rest by reference — ManifestSpec asserts that
    * selectivity; `scan_manifest_merge` oracles the merged CONTENT
    * against plain SQL over the original orders. */
  def ordersMergedManifestTable(spark: SparkSession, d: String): String =
    layout(spark, d, "orders", "orders_merged",
      p => ManifestTable.versions(p.toString).nonEmpty,
      inPlace = true) { tmp =>
      val out = tmp.toString
      val orders = Tables.t(spark, d, "orders")
      ManifestTable.write(
        orders.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        out, statsCols = Seq("o_orderkey"))
      val updates = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") + 50.0)
        .withColumn("__op", lit("U"))
      val deletes = orders
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
        .withColumn("__op", lit("D"))
      val inserts = orders.filter(col("o_orderkey") < 500)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", lit(1000.0))
        .withColumn("__op", lit("U"))
      ManifestTable.merge(spark, out,
        updates.unionByName(deletes).unionByName(inserts),
        keyCol = "o_orderkey", clusterBy = Some("o_orderkey"))
    }

  /** Z-ORDERED manifest snapshot of `orders` — one layout serving
    * range predicates on EITHER (o_custkey, o_orderdate): files sorted
    * by the Morton interleave keep per-file min/max tight on both
    * dimensions. Both dims normalize to comparable bit ranges first
    * (custkey rescaled to ~256 buckets from its actual domain, dates
    * to 8-day buckets from the corpus floor) — unbalanced ranges
    * degenerate the curve to a single-column sort (ZOrderSpec). */
  def ordersZorderManifestTable(spark: SparkSession, d: String): String =
    layout(spark, d, "orders", "orders_zorder",
      p => ManifestTable.versions(p.toString).nonEmpty,
      inPlace = true) { tmp =>
      graft.plans.ZOrder64.register(spark)
      val orders = Tables.t(spark, d, "orders")
      val maxCust = orders.agg(max(col("o_custkey"))).head().getLong(0)
      val cDiv = math.max(1L, (maxCust + 1) / 256)
      val day0 = 9131L // epoch day of 1995-01-01, the corpus floor
      val zkey = call_function("zorder64",
        expr(s"o_custkey div $cDiv"),
        (((unix_micros(col("o_orderdate")) / lit(86400000000L))
          .cast("long") - day0) / lit(8L)).cast("long"))
      ManifestTable.write(
        orders.repartitionByRange(32, zkey).sortWithinPartitions(zkey),
        tmp.toString, statsCols = Seq("o_custkey", "o_orderdate"))
    }

  /** Embeddings partitioned BY COARSE CELL — the DESIGN_SCALE claim
    * ("at production `cid` is the storage partition key") made real:
    * each vector's IVF cell assignment is computed once at ingest and
    * becomes the directory partition, so an ANN probe's cell filter
    * prunes PARTITIONS before Spark lists a single data file —
    * nProbe/nCentroids of the corpus is never read, not merely
    * filtered. Memoized per (sfDir, embeddings content); the quantizer
    * is the same memoized [[graft.similarity.Similarity.ivfCentroids]]
    * every IVF query shares, so layouts and probes can never disagree
    * on cell ids. */
  def embeddingsByCell(spark: SparkSession, d: String): String =
    layout(spark, d, "embeddings", "embeddings_by_cell") { tmp =>
      graft.plans.NearestCentroid.register(spark)
      val cents = graft.similarity.Similarity.ivfCentroids(spark, d, 16)
      Tables.t(spark, d, "embeddings")
        .withColumn("cid", graft.similarity.Similarity.assignCol(
          graft.functions.VectorOps.toDouble(col("embedding")), cents))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cid").parquet(tmp.toString)
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
}
