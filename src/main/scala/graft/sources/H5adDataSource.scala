package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 front door for h5ad ingestion — the SURVEY §4.3 stretch
  * goal: `spark.read.format("h5ad").load(paths...)` yields the engine
  * long form directly, one input partition per file (HDF5 is not
  * splittable; the per-dataset file layout IS the parallelism, exactly
  * as in [[H5ad.scan]]).
  *
  * Per-file identity follows the reference layout
  * (`<dataset-uuid>/cell_by_bin.h5ad`, `bin/concatenate.py:62`):
  * `dataset` = parent directory name, `modality` = file stem. Both are
  * overridable via options of the same name when a flat layout is read
  * one (dataset, modality) at a time.
  *
  * Column pruning is pushed into the reader ([[SupportsPushDownRequiredColumns]]):
  * a metadata-only projection (e.g. `dataset`, `modality` counts) never
  * materializes the value triplets' strings. Filters are left to Spark —
  * an HDF5 file offers no sub-file pushdown anyway.
  */
class H5adDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "h5ad"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    H5adDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new H5adTable(H5adDataSource.resolveInputs(
      new CaseInsensitiveStringMap(properties)))
}

object H5adDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("cell_id", StringType),
    StructField("dataset", StringType),
    StructField("feature_id", StringType),
    StructField("value", DoubleType),
    StructField("modality", StringType)))

  /** Expand `path`/`paths` options (files or directories of `*.h5ad`,
    * walked with `java.nio`, so local or shared POSIX paths only) into
    * per-file inputs with derived (dataset, modality) identity. */
  private[sources] def resolveInputs(
      options: CaseInsensitiveStringMap): Seq[H5ad.H5adInput] = {
    val raw: Seq[String] =
      Option(options.get("paths")).map { js =>
        // DataFrameReader encodes multiple load() paths as a JSON array —
        // parse it with a real JSON parser (Jackson ships with Spark) so
        // paths containing ',' or '"' survive intact
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
        require(node != null && node.isArray,
          s"h5ad source: 'paths' option is not a JSON array: $js")
        (0 until node.size()).map(i => node.get(i).asText()).toSeq
          .filter(_.nonEmpty)
      }.getOrElse(Option(options.get("path")).toSeq)
    require(raw.nonEmpty, "h5ad source needs load(path, ...)")
    val files = raw.flatMap { p =>
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(path)) {
        val s = java.nio.file.Files.walk(path)
        try {
          val it = s.iterator()
          val out = scala.collection.mutable.ArrayBuffer[String]()
          while (it.hasNext) {
            val f = it.next()
            if (java.nio.file.Files.isRegularFile(f) &&
              f.toString.endsWith(".h5ad")) out += f.toString
          }
          out.toSeq
        } finally s.close()
      } else Seq(p)
    }.sorted
    require(files.nonEmpty, s"no .h5ad files under ${raw.mkString(", ")}")
    files.map { f =>
      val path = java.nio.file.Paths.get(f)
      val stem = path.getFileName.toString.stripSuffix(".h5ad")
      val parent = Option(path.getParent).map(_.getFileName.toString)
        .getOrElse("")
      H5ad.H5adInput(f,
        dataset = Option(options.get("dataset")).getOrElse(parent),
        modality = Option(options.get("modality")).getOrElse(stem))
    }
  }
}

class H5adTable(inputs: Seq[H5ad.H5adInput]) extends Table with SupportsRead {
  override def name(): String = s"h5ad(${inputs.size} files)"
  override def schema(): StructType = H5adDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new H5adScanBuilder(inputs)
}

class H5adScanBuilder(inputs: Seq[H5ad.H5adInput])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = H5adDataSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new H5adScan(inputs, required)
}

case class H5adFilePartition(input: H5ad.H5adInput) extends InputPartition

class H5adScan(inputs: Seq[H5ad.H5adInput], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"h5ad ${inputs.size} files, columns [${required.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    inputs.map(H5adFilePartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new H5adReaderFactory(required.fieldNames)
}

class H5adReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val input = p.asInstanceOf[H5adFilePartition].input
    new PartitionReader[InternalRow] {
      private val it = H5ad.readTriplets(input)
      private var cur: H5ad.CellFeature = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow =
        InternalRow.fromSeq(columns.toIndexedSeq.map {
          case "cell_id" => UTF8String.fromString(cur.cell_id)
          case "dataset" => UTF8String.fromString(cur.dataset)
          case "feature_id" => UTF8String.fromString(cur.feature_id)
          case "value" => cur.value
          case "modality" => UTF8String.fromString(cur.modality)
        })
      override def close(): Unit = ()
    }
  }
}
