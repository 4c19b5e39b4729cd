package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sources & sinks — SURVEY.md §2 A.1.
  *
  * The reference's I/O boundary re-expressed Spark-first:
  *  - TSV with an explicit schema, never inference (`bin/concatenate.py:
  *    121` reads TSV all-string; schema inference is a full extra scan at
  *    100 TB, so the engine requires a `StructType` at every text source);
  *  - the data product sink (`bin/concatenate.py:150-152` .h5mu + metadata
  *    JSON): modality/dataset-partitioned parquet + a one-line JSON
  *    sidecar carrying uuid/creation-time/counts/schema — partition columns give
  *    partition pruning on every downstream read, and the sidecar is the
  *    `uns` dict analog (SURVEY §1.4). Writing to `s3a://` URIs is the
  *    same call — no separate upload step (`bin/upload.py:14-22`).
  */
object ProductSink {

  private val PartitionCols = Seq("modality", "dataset")
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Explicit-schema TSV source (scan_tsv_typed). */
  def readTsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("sep", "\t").option("header", "true")
      .csv(path)

  /** TSV sink with header (sink_tsv, make_uuids_tsv.py:164). */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true")
      .csv(path)

  /** ORC sink/source (sink_orc) — the second columnar format warehouses
    * standardize on (Hive ecosystems). Same partition-pruning and
    * predicate-pushdown story as parquet (ORC stripe/row-group stats);
    * Spark's native vectorized ORC reader is built in, so offering the
    * format is a `.orc` call, not a new engine path. zlib over snappy:
    * cold archival copies trade CPU for bytes. Avro is offered as the
    * INGEST/interchange format only — `format("graft-avro")`, a
    * from-scratch DSv2 on the avro core jars ([[AvroDataSource]]:
    * splittable sync-marker reads, reader-schema pruning) — because a
    * row-major format has no stats-pruning story at 100 TB: avro in,
    * columnar (parquet/ORC) out. */
  def writeOrc(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "zlib")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Write a multimodal data product: fact rows partitioned by
    * (modality, dataset) under `$outDir/fact`, plus a one-line JSON
    * sidecar at `$outDir/metadata/part-00000.json` (readable with
    * `spark.read.json(s"$outDir/metadata")`). Mirrors
    * `bin/concatenate.py:81-96,140-152`. The sidecar fields:
    *  - `n_rows`, `total_cell_count` (`countDistinct(cell_id)`): one
    *    hash aggregate over the written `cell_id` column, so an uncached
    *    `fact` is computed once;
    *  - `datasets`: the sorted, unescaped ids of the written `dataset=`
    *    directories, without the default (null) partition;
    *  - `raw_file_size_bytes`: the written fact's size on the FileSystem;
    *  - `product_uuid`, `creation_time`: made on the driver — the only
    *    non-deterministic fields, never in oracle-checked query output
    *    (SURVEY §7.4.1);
    *  - `schema`: the product schema as Spark JSON, in the order
    *    [[readProduct]] returns it (data columns, then `modality` and
    *    `dataset` as strings).
    * The sidecar is written through the Hadoop FileSystem: no Spark job.
    */
  def writeProduct(fact: DataFrame, outDir: String): Unit = {
    fact.write.mode(SaveMode.Overwrite)
      .partitionBy(PartitionCols: _*)
      .parquet(s"$outDir/fact")

    // fs_file_size (bin/concatenate.py:151): product size via the Hadoop
    // FileSystem API — works identically against s3a:// at scale.
    val spark = fact.sparkSession
    val factPath = new Path(s"$outDir/fact")
    val fs = factPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byteSize = fs.getContentSummary(factPath).getLength

    val counts = readFact(spark, outDir, StructType(Seq(fact.schema("cell_id"))))
      .agg(count(lit(1)), countDistinct(col("cell_id"))).head()
    // collect_set skipped null datasets: so does skipping the default
    // partition; UTF8String order is sort_array's
    val datasets = fs.listStatus(factPath)
      .filter(m => m.isDirectory && m.getPath.getName.startsWith("modality="))
      .flatMap(m => fs.listStatus(m.getPath))
      .map(_.getPath.getName)
      .filter(_.startsWith("dataset="))
      .map(d => ExternalCatalogUtils.unescapePathName(d.stripPrefix("dataset=")))
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .distinct.sortBy(UTF8String.fromString)
    val schema = StructType(
      fact.schema.filterNot(f => PartitionCols.contains(f.name)).map(_.copy(nullable = true)) ++
        PartitionCols.map(StructField(_, StringType)))
    val tz = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))

    val meta = Json.createObjectNode()
    meta.put("n_rows", counts.getLong(0))
    meta.put("total_cell_count", counts.getLong(1))
    val ds = meta.putArray("datasets")
    datasets.foreach(d => ds.add(d))
    meta.put("raw_file_size_bytes", byteSize)
    meta.put("product_uuid", java.util.UUID.randomUUID().toString)
    meta.put("creation_time", java.time.LocalDateTime.now(tz)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
    meta.put("schema", schema.json)
    val metaDir = new Path(s"$outDir/metadata")
    fs.delete(metaDir, true)
    val out = fs.create(new Path(metaDir, "part-00000.json"), true)
    try out.write((Json.writeValueAsString(meta) + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read a written product back, with partition pruning available on
    * modality/dataset. The schema comes from the sidecar's `schema`
    * field, so no Spark job starts; a sidecar without it (a product
    * written before the field existed) fails, naming the field. */
  def readProduct(spark: SparkSession, outDir: String): DataFrame = {
    val metaDir = new Path(s"$outDir/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = Option(fs.globStatus(new Path(metaDir, "*.json")))
      .flatMap(_.headOption).map(_.getPath).getOrElse(
        throw new java.io.FileNotFoundException(s"no product sidecar in $metaDir"))
    val in = fs.open(sidecar)
    val meta = try Json.readTree(in) finally in.close()
    val schema = Option(meta.get("schema")).getOrElse(
      throw new IllegalArgumentException(s"product sidecar $sidecar has no " +
        "`schema` field; rewrite the product with writeProduct"))
    readFact(spark, outDir, DataType.fromJson(schema.asText).asInstanceOf[StructType])
  }

  /** The written fact in `schema`'s columns and order, with no inference
    * job; partition columns stay the strings written (inference reads
    * dataset "0123" as 123, and a session conf to stop it would race). */
  private[graft] def readFact(spark: SparkSession, outDir: String,
      schema: StructType): DataFrame =
    spark.read.schema(StructType(schema.map(f =>
        if (PartitionCols.contains(f.name)) f.copy(dataType = StringType) else f)))
      .parquet(s"$outDir/fact").select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Incremental refresh of ONLY the partitions present in `delta`
    * (sink_partition_overwrite): dynamic partition-overwrite mode
    * rewrites the directories the delta touches and leaves every other
    * partition's files untouched — the idempotent daily-refresh pattern
    * for a partitioned 100 TB product (re-running a day replaces that
    * day, never truncates the table, unlike static overwrite which
    * drops ALL partitions first). The mode is a PER-WRITE option, never
    * a session-conf mutation: the conf is read at execution time, so a
    * set/restore around the write races with concurrent writers on the
    * same session (a finally-restore from one caller can flip another
    * caller's still-executing overwrite back to table-truncating static
    * mode). */
  def overwritePartitions(delta: DataFrame, outDir: String,
      partitionCols: Seq[String]): Unit =
    delta.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(outDir)

  /** Small-file compaction (sink_compact): rewrite one parquet leaf
    * directory (a single partition, or an unpartitioned table) into
    * ~`targetFileBytes` files; partitioned tables compact partition by
    * partition, so a refresh never rewrites the table.
    * Long-running incremental pipelines accrete per-batch small files
    * until open/list/footer overhead dominates the scan; periodic
    * compaction is table maintenance, not a query. File count is sized
    * from actual bytes (never a hardcoded N that silently under- or
    * over-splits at a different scale). Returns (filesBefore, filesAfter).
    *
    * CONTRACT: the caller must exclude concurrent writers on `dir` for
    * the duration (plain parquet has no transaction log — a batch
    * appended between the snapshot read and the swap would be lost;
    * table formats with commit protocols are the concurrent-writer
    * answer, not this). Crash recovery: the swap is two renames; a crash
    * between them leaves the full pre-compaction data intact at
    * `<dir>._compact_old` — rename it back. Old data is deleted only
    * after the promote rename succeeds. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    // normalize via Path so a trailing slash can't turn the staging
    // dirs into children of the directory being swapped
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = path.suffix("._compact_tmp")
    val old = path.suffix("._compact_old")
    require(!fs.exists(old),
      s"compact: $old exists — a previous compaction crashed mid-swap; " +
        "inspect and rename it back (or delete it) before compacting")
    def parquetFiles(): Long = {
      val it = fs.listFiles(path, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = parquetFiles()
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(path.toString)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // staged swap: rename old out of the way, promote, then clean
    require(fs.rename(path, old), s"compact: could not stage $path")
    require(fs.rename(tmp, path), s"compact: could not promote $tmp")
    fs.delete(old, true)
    val after = parquetFiles()
    (before, after)
  }
}
