package graft.sources

import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("h5ad").load(paths...)`: the engine long form
  * ([[H5ad.Schema]]) read through [[H5adRelation]], one task per file
  * (HDF5 is not splittable; the per-dataset file layout IS the
  * parallelism). The scan reports no partitioning, so a product build
  * over it shuffles the fact on (dataset, cell_id); a build over
  * [[H5ad.scanModalities]], one task per dataset, does not.
  *
  * Per-file identity follows the reference layout
  * (`<dataset-uuid>/cell_by_bin.h5ad`, `bin/concatenate.py:62`):
  * `dataset` = parent directory name, `modality` = file stem. Both are
  * overridable via options of the same name when a flat layout is read
  * one (dataset, modality) at a time.
  *
  * Column pruning is pushed into the reader ([[SupportsPushDownRequiredColumns]]):
  * the scan emits only the requested columns, though it still decodes
  * every array of every file (the CSR checks need them all). Filters are
  * left to Spark — an HDF5 file offers no sub-file pushdown anyway.
  */
class H5adDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "h5ad"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    H5ad.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new H5adTable(H5adDataSource.resolveInputs(
      new CaseInsensitiveStringMap(properties)))
}

object H5adDataSource {
  /** Expand `path`/`paths` options (files or directories of `*.h5ad`,
    * walked with `java.nio`, so local or shared POSIX paths only — see
    * [[localPath]]) into per-file inputs with derived (dataset,
    * modality) identity. */
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
    val files = raw.map(localPath).flatMap { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path)) {
        val s = Files.walk(path)
        try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.toString.endsWith(".h5ad")).map(_.toString).toList
        finally s.close()
      } else Seq(p)
    }.sorted
    require(files.nonEmpty, s"no .h5ad files under ${raw.mkString(", ")}")
    files.map { f =>
      val path = Paths.get(f)
      val stem = path.getFileName.toString.stripSuffix(".h5ad")
      val parent = Option(path.getParent).map(_.getFileName.toString)
        .getOrElse("")
      H5ad.H5adInput(f,
        dataset = Option(options.get("dataset")).getOrElse(parent),
        modality = Option(options.get("modality")).getOrElse(stem))
    }
  }

  private val UriScheme = "^([a-zA-Z][a-zA-Z0-9+.-]*):".r

  /** A load() path as a local path: plain paths as given, `file:` URIs
    * as their path. Any other scheme fails here, at load, rather than
    * as a missing file inside a task. */
  private def localPath(p: String): String =
    UriScheme.findFirstMatchIn(p).map(_.group(1)) match {
      case None => p
      case Some(s) if s.equalsIgnoreCase("file") =>
        new org.apache.hadoop.fs.Path(p).toUri.getPath
      case Some(s) => throw new IllegalArgumentException(
        s"h5ad source reads local or shared POSIX paths only (a plain " +
          s"path or a file: URI), not scheme '$s': $p")
    }
}

class H5adTable(inputs: Seq[H5ad.H5adInput]) extends Table with SupportsRead {
  override def name(): String = s"h5ad(${inputs.size} files)"
  override def schema(): StructType = H5ad.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new H5adScanBuilder(inputs)
}

class H5adScanBuilder(inputs: Seq[H5ad.H5adInput])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = H5ad.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new H5adScan(inputs, required)
}

/** Plans as [[H5adRelation]], so the decode RDD is created by the one
  * reader, not by Spark's DSv2 scan at the action's call site. */
class H5adScan(inputs: Seq[H5ad.H5adInput], required: StructType)
    extends V1Scan {
  override def readSchema(): StructType = required
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    H5adRelation(context, inputs, required).asInstanceOf[T]
}
