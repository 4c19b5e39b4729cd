package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** h5ad (AnnData-on-HDF5) ingestion — the reference's actual input format
  * (`/root/reference/bin/concatenate.py:62` `anndata.read_h5ad`,
  * `cell_by_bin.h5ad` / `cell_by_gene.h5ad` per dataset).
  *
  * Reads the CSR layout AnnData writes:
  * `X/{data,indices,indptr}` (the sparse matrix), `obs/_index` (cell
  * barcodes), `var/_index` (feature names) — via [[MiniHdf5]] (pure JVM,
  * no native HDF5) — and emits the engine's long form (SURVEY.md §1.4:
  * one row per nonzero, absent entry = 0, exactly AnnData sparse
  * semantics): (cell_id, dataset, feature_id, value).
  *
  * Scale shape: an HDF5 file is not splittable, so parallelism is one
  * task PER FILE ([[scan]]), which matches the reference's per-dataset
  * file layout — 10k datasets = 10k-way parallel ingest. Convert once to
  * parquet ([[ProductSink]]), query forever; the h5ad path is the ingest
  * boundary, not the query path.
  */
object H5ad {

  /** One input file: where it is, which dataset (uuid) it belongs to,
    * which modality its matrix carries. */
  final case class H5adInput(path: String, dataset: String, modality: String)

  /** One nonzero of the cell×feature matrix, engine long form. */
  final case class CellFeature(cell_id: String, dataset: String,
      feature_id: String, value: Double, modality: String)

  /** Pure-JVM triplet read of one CSR h5ad — runs wherever the file is
    * readable (driver or executor task). Arrays materialize in memory
    * (the per-file cost the format imposes); rows stream out lazily. */
  def readTriplets(file: H5adInput): Iterator[CellFeature] = {
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
      obs.indices.iterator.flatMap { row =>
        (indptr(row) until indptr(row + 1)).iterator.map { k =>
          CellFeature(obs(row), file.dataset,
            vars(indices(k.toInt).toInt), data(k.toInt), file.modality)
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

  /** Distributed ingest: one task per file. Each file must be at a
    * local or shared POSIX path that every executor can open: the reader
    * memory-maps a `java.nio` path, so object-store URIs (`s3a://`) are
    * not readable here. Returns the long-form fact
    * across all inputs, ready for [[graft.operators.ProductBuild]]. */
  def scan(spark: SparkSession, files: Seq[H5adInput]): DataFrame = {
    import spark.implicits._
    require(files.nonEmpty, "no h5ad inputs")
    // parallelize with numSlices = nFiles gives EXACTLY one file per
    // partition (contiguous slicing); a round-robin repartition can land
    // two files in one task and zero in another, doubling stage wall.
    spark.createDataset(
      spark.sparkContext.parallelize(files, files.size))
      .flatMap(readTriplets _)
      .toDF()
  }

  /** Ingest grouped by modality — the shape [[graft.operators
    * .ProductBuild.build]] consumes. Lazy: no job starts here; an action
    * decodes each file in one task. */
  def scanModalities(spark: SparkSession,
      files: Seq[H5adInput]): Map[String, DataFrame] =
    files.groupBy(_.modality).map { case (m, fs) =>
      m -> scan(spark, fs).drop("modality")
    }
}
