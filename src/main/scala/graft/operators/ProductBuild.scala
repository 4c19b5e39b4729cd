package graft.operators

import graft.sources.ProductSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship flow (`pipeline.cwl` → `bin/concatenate.py:
  * 119-152`) as ONE public API a reference user calls instead of the
  * CWL pipeline: annotate per-modality matrices, outer-union them,
  * restrict to cells present in every modality (`mu.pp.intersect_obs`),
  * attach donor metadata, write the partitioned product + metadata
  * sidecar.
  *
  * Inputs are long-form fact tables (SURVEY.md §1.4: sparse X as COO —
  * absent entry = 0, exactly AnnData sparse semantics), one DataFrame
  * per modality with columns (cell_id, dataset, feature_id, value).
  * [[Pipeline.flagship]] is this flow inlined over the synthetic star
  * schema; GoldenPipelineSpec drives THIS entry point end-to-end.
  *
  * Scale shape: modality tagging and union are map-only; the
  * intersection is one window over (dataset, cell_id), so each input is
  * read once; the donor join broadcasts the dim; the write is
  * partitioned by (modality, dataset) for downstream partition pruning.
  * Over [[graft.sources.H5ad.scanModalities]] the inputs report that
  * they are grouped by dataset, so the window runs in the task that
  * decodes the dataset's files and the build has no exchange: each task
  * writes one file per modality. Other inputs shuffle and sort the fact
  * once on (dataset, cell_id). [[Pipeline.flagship]] intersects with a
  * key-set semi-join instead: its key branch prunes parquet columns,
  * while an h5ad scan decodes every array of its file.
  */
object ProductBuild {

  /** Tag + outer-union the modalities, then keep only cells present in
    * ALL of them (`anndata.concat(join="outer")` + `intersect_obs`,
    * `bin/concatenate.py:99-102,138-139`). Cell identity is
    * (dataset, cell_id): raw AnnData barcodes are only unique within a
    * dataset until the annotate step prefixes them
    * (`bin/concatenate.py:71-76`), so intersecting on cell_id alone
    * would conflate same-barcode cells from different datasets. */
  def unionIntersect(modalities: Map[String, DataFrame]): DataFrame = {
    require(modalities.nonEmpty, "at least one modality")
    val tagged = modalities.map { case (name, df) =>
      df.select(col("cell_id"), col("dataset"), col("feature_id"),
        col("value").cast("double").as("value"))
        .withColumn("modality", lit(name))
    }
    val fact = tagged.reduce(_ unionByName _)
    // One window, not a key-set semi-join: an h5ad scan decodes every
    // array whatever its projection, so a key branch would decode every
    // file twice. A window groups null keys together, so a null-keyed
    // "cell" (unparseable barcode) survives when its group spans all
    // modalities: dropping it is a QC decision, not an intersect artifact.
    // A cell counts as present in a modality when it has a stored entry
    // there: one with an empty CSR row drops.
    val cell = Window.partitionBy("dataset", "cell_id")
    fact.withColumn("__nmod", size(collect_set(col("modality")).over(cell)))
      .filter(col("__nmod") === modalities.size)
      .drop("__nmod")
  }

  /** Attach donor metadata by dataset uuid (inner broadcast join — cells
    * with unknown uuid drop, `bin/concatenate.py:105-111`) and coerce
    * the numeric donor fields (`pd.to_numeric`, `:110`). */
  def annotateDonors(fact: DataFrame, donors: DataFrame): DataFrame = {
    val dim = broadcast(donors.withColumn("age", col("age").cast("double")))
    fact.join(dim, fact("dataset") === dim("uuid"), "inner")
      .drop("uuid")
  }

  /** Full build: writes the partitioned product + metadata sidecar via
    * [[graft.sources.ProductSink]] and returns the product read back from
    * `outDir` in its own schema and column order. Nothing is cached: the
    * write is the build DAG's only consumer. */
  def build(modalities: Map[String, DataFrame], donors: DataFrame,
      outDir: String): DataFrame = {
    val product = annotateDonors(unionIntersect(modalities), donors)
    ProductSink.writeProduct(product, outDir)
    ProductSink.readFact(product.sparkSession, outDir, product.schema)
  }
}
