package graft.sources

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, GraftPlanRun, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** h5ad (AnnData-on-HDF5) ingestion — the reference's actual input format
  * (`/root/reference/bin/concatenate.py:62` `anndata.read_h5ad`,
  * `cell_by_bin.h5ad` / `cell_by_gene.h5ad` per dataset).
  *
  * Reads the CSR layout AnnData writes:
  * `X/{data,indices,indptr}` (the sparse matrix), `obs/_index` (cell
  * barcodes), `var/_index` (feature names) — via [[MiniHdf5]] (pure JVM,
  * no native HDF5) — and emits the engine's long form (SURVEY.md §1.4:
  * one row per nonzero, absent entry = 0, exactly AnnData sparse
  * semantics): (cell_id, dataset, feature_id, value, modality).
  *
  * [[rows]] is the one decoder and [[decode]] the one decode RDD:
  * `spark.read.format("h5ad")` ([[H5adDataSource]], through
  * [[H5adRelation]]) scans one file per task, and [[scanModalities]] one
  * dataset per task.
  *
  * Scale shape: an HDF5 file is not splittable, so parallelism is one
  * task per file or per dataset, which matches the reference's
  * per-dataset file layout — 10k datasets = 10k-way parallel ingest.
  * Convert once to parquet ([[ProductSink]]), query forever; the h5ad
  * path is the ingest boundary, not the query path.
  */
object H5ad {

  /** One input file: where it is, which dataset (uuid) it belongs to,
    * which modality its matrix carries. */
  final case class H5adInput(path: String, dataset: String, modality: String)

  /** The long form, one row per nonzero of the cell×feature matrix; a
    * stored value is never null. */
  val Schema: StructType = StructType(Seq(
    StructField("cell_id", StringType),
    StructField("dataset", StringType),
    StructField("feature_id", StringType),
    StructField("value", DoubleType, nullable = false),
    StructField("modality", StringType)))

  /** Pure-JVM read of one CSR h5ad into long-form rows of `columns` (a
    * subset of [[Schema]], in any order) — runs wherever the file is
    * readable (driver or executor task). Every array materializes in
    * memory whatever the projection (the per-file cost the format
    * imposes); names become `UTF8String`s once per file and rows stream
    * out lazily. */
  def rows(file: H5adInput, columns: Seq[String]): Iterator[InternalRow] = {
    val r = new MiniHdf5.Reader(file.path)
    try {
      val obs = r.readStrings(indexPath(r, "obs"))
      val vars = r.readStrings(indexPath(r, "var"))
      val data = r.readDoubles("X/data")
      val indices = r.readLongs("X/indices")
      val indptr = r.readLongs("X/indptr")
      require(indptr.length == obs.length + 1,
        s"${file.path}: indptr length ${indptr.length} != obs ${obs.length} + 1 " +
          "(not CSR? CSC matrices transpose obs/var roles)")
      require(data.length == indices.length,
        s"${file.path}: data/indices length mismatch")
      // A malformed indptr would SILENTLY drop rows (a decreasing pair
      // yields an empty range) or truncate trailing nonzeros — validate
      // the full CSR contract up front instead.
      require(indptr.headOption.contains(0L),
        s"${file.path}: indptr must start at 0, got ${indptr.headOption}")
      require(indptr.last == data.length,
        s"${file.path}: indptr end ${indptr.last} != nnz ${data.length}")
      var r0 = 0
      while (r0 < indptr.length - 1) {
        require(indptr(r0) <= indptr(r0 + 1),
          s"${file.path}: indptr not non-decreasing at row $r0")
        r0 += 1
      }
      require(indices.forall(i => i >= 0 && i < vars.length),
        s"${file.path}: column index out of range [0, ${vars.length})")
      val cells = obs.map(UTF8String.fromString)
      val features = vars.map(UTF8String.fromString)
      val dataset = UTF8String.fromString(file.dataset)
      val modality = UTF8String.fromString(file.modality)
      val fields = columns.map(Schema.fieldIndex).toArray
      Iterator.range(0, cells.length).flatMap { row =>
        Iterator.range(indptr(row).toInt, indptr(row + 1).toInt).map { k =>
          new GenericInternalRow(fields.map[Any] { // positions in Schema
            case 0 => cells(row)
            case 1 => dataset
            case 2 => features(indices(k).toInt)
            case 3 => data(k)
            case _ => modality
          }): InternalRow
        }
      }
    } finally r.close() // data already materialized into arrays
  }

  /** AnnData writes the dataframe index as `_index` (older writers:
    * `index`); resolve whichever exists. */
  private def indexPath(r: MiniHdf5.Reader, group: String): String = {
    val names = r.ls(group).toSet
    val idx = Seq("_index", "index").find(names.contains).getOrElse(
      throw new IllegalArgumentException(
        s"group '$group' has no _index/index dataset (found: " +
          names.toSeq.sorted.mkString(", ") + ")"))
    s"$group/$idx"
  }

  /** One task per group, decoding the group's files in order to rows of
    * `columns`. `parallelize` with one slice per element gives exactly
    * one group per partition (contiguous slicing); a round-robin
    * repartition could land two groups in one task and none in another. */
  private[sources] def decode(sc: SparkContext, groups: Seq[Seq[H5adInput]],
      columns: Seq[String]): RDD[InternalRow] =
    sc.parallelize(groups, groups.size)
      .flatMap(_.iterator.flatMap(rows(_, columns)))

  /** Ingest grouped by modality — the shape [[graft.operators
    * .ProductBuild.build]] consumes, without the `modality` column. Lazy:
    * no job starts here.
    *
    * Each modality's scan has one input partition per dataset, over the
    * same sorted list of every dataset in `files`: partition i holds
    * dataset i's file(s) of that modality, and is empty where the
    * modality has none. The scan reports `KeyGroupedPartitioning(dataset)`
    * with the dataset ids as partition values, so the modalities' union
    * stays grouped by dataset and an operator clustered on keys that
    * include `dataset` (the intersect window) runs in the decode task,
    * with no exchange. Scans over different dataset lists (one call per
    * modality) report different partition values, so Spark shuffles a
    * join or union of them as it would any other input. A task holds one
    * dataset's files of one modality: at most modalities × the reader's
    * 2 GiB per-file limit when an operator runs over the union. */
  def scanModalities(spark: SparkSession,
      files: Seq[H5adInput]): Map[String, DataFrame] = {
    val datasets = files.map(_.dataset).distinct.sorted
    val keys = datasets.map(d => InternalRow(UTF8String.fromString(d)))
    files.groupBy(_.modality).map { case (m, fs) =>
      val output = DataTypeUtils.toAttributes(
        StructType(Schema.filterNot(_.name == "modality")))
      val byDataset = fs.groupBy(_.dataset)
      val scan = LogicalRDD(output,
        decode(spark.sparkContext, datasets.map(byDataset.getOrElse(_, Nil)),
          output.map(_.name)),
        KeyGroupedPartitioning(output.filter(_.name == "dataset"),
          datasets.size, keys, keys))(spark.asInstanceOf[classic.SparkSession])
      m -> GraftPlanRun.frame(spark, scan)
    }
  }
}

/** The `format("h5ad")` scan: one task per file, decoding it straight
  * to rows of `schema` (a subset of [[H5ad.Schema]]). It reports no
  * partitioning, so an operator clustered by dataset shuffles its
  * output. Each file must be at a local or shared POSIX path that every
  * executor can open: the reader memory-maps a `java.nio` path, so
  * `s3a://` URIs are not readable. */
case class H5adRelation(sqlContext: SQLContext, inputs: Seq[H5ad.H5adInput],
    schema: StructType) extends BaseRelation with TableScan {
  require(inputs.nonEmpty, "no h5ad inputs")

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    H5ad.decode(sqlContext.sparkContext, inputs.map(Seq(_)), schema.fieldNames.toSeq)
      .asInstanceOf[RDD[Row]] // InternalRows, as needConversion = false says

  // the scan node's name in plans
  override def toString: String =
    s"h5ad ${inputs.size} files, columns [${schema.fieldNames.mkString(", ")}]"
}
