package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested search-response extraction — SURVEY.md §2 A.6
  * (`nested_extract_hits`) + A.4 (`pivot_donor_concepts`).
  *
  * The reference discovers datasets by POSTing an Elasticsearch bool query
  * and unpacking `hits.hits[]._source` with null-safe `.get` chains, then
  * pivots `organ_donor_data[]` / `living_donor_data[]` concept/value
  * structs into fixed donor columns (`make_uuids_tsv.py:67-142`). Engine
  * equivalent: the HTTP fetch stays a driver-side ingestion step that
  * lands the raw JSON; everything after is one declarative plan —
  * `from_json` → `explode` → struct projection (missing fields become
  * null automatically) → conditional-aggregation pivot.
  */
object EsResponse {

  /** Schema of the slice of the ES response the reference consumes
    * (explicit — schema-on-read inference is a full extra scan). */
  val schema: StructType = {
    val donorItem =
      "array<struct<grouping_concept_preferred_term: string, " +
        "data_value: string, preferred_term: string>>"
    StructType.fromDDL(
      s"""hits struct<
         |  total: struct<value: bigint, relation: string>,
         |  hits: array<struct<_source: struct<
         |  uuid: string,
         |  hubmap_id: string,
         |  origin_samples_unique_mapped_organs: array<string>,
         |  donor: struct<metadata: struct<
         |    organ_donor_data: $donorItem,
         |    living_donor_data: $donorItem>>
         |>>>>""".stripMargin)
  }

  /** Concepts whose value is numeric `data_value` vs categorical
    * `preferred_term` (`make_uuids_tsv.py:109-121`). */
  val valueConcepts = Seq("Age", "Height", "Weight", "Body Mass Index")
  val termConcepts = Seq("Sex", "Race", "Cause of Death")

  /** hits.hits[]._source → one row per dataset hit. */
  def extractHits(raw: DataFrame): DataFrame =
    raw.select(explode(col("hits.hits")).as("hit"))
      .select(
        col("hit._source.uuid").as("uuid"),
        col("hit._source.hubmap_id").as("hubmap_id"),
        col("hit._source.origin_samples_unique_mapped_organs").getItem(0)
          .as("organ"),
        // organ_donor_data and living_donor_data are mutually exclusive in
        // practice; concat handles either/both, null-safe via coalesce.
        coalesce(
          concat(
            coalesce(col("hit._source.donor.metadata.organ_donor_data"),
              array()),
            coalesce(col("hit._source.donor.metadata.living_donor_data"),
              array())),
          array()).as("donor_data"))

  /** Pivot concept/value structs to fixed donor columns, honoring the
    * per-concept data_value vs preferred_term choice. */
  def pivotDonorConcepts(hits: DataFrame): DataFrame = {
    // str_strip_laterality (bin/concatenate.py:28): "Lung (Left)" → "Lung"
    // so organ joins the 54-code dimension regardless of laterality.
    val organBase = regexp_replace(col("organ"), " \\((Left|Right)\\)$", "")
    val exploded = hits.select(col("uuid"), col("hubmap_id"), col("organ"),
      organBase.as("organ_base"),
      explode_outer(col("donor_data")).as("d"))
      .select(col("uuid"), col("hubmap_id"), col("organ"), col("organ_base"),
        col("d.grouping_concept_preferred_term").as("concept"),
        col("d.data_value").as("data_value"),
        col("d.preferred_term").as("preferred_term"))
    def pick(concept: String, src: String) =
      first(when(col("concept") === concept, col(src)), ignoreNulls = true)
    exploded.groupBy("uuid", "hubmap_id", "organ", "organ_base").agg(
      pick("Age", "data_value").cast("double").as("age"),
      pick("Sex", "preferred_term").as("sex"),
      pick("Height", "data_value").cast("double").as("height"),
      pick("Weight", "data_value").cast("double").as("weight"),
      pick("Body Mass Index", "data_value").cast("double").as("bmi"),
      pick("Cause of Death", "preferred_term").as("cause_of_death"),
      pick("Race", "preferred_term").as("race"))
  }

  /** Full discovery extraction from a raw JSON response document. */
  def datasetsFromResponse(spark: SparkSession, jsonPath: String): DataFrame =
    pivotDonorConcepts(extractHits(
      spark.read.schema(schema).option("multiLine", "true").json(jsonPath)))

  /** Multi-page snapshot merge — the discovery path past the reference's
    * single-page bound (`make_uuids_tsv.py:24-25` pins `from: 0,
    * size: 10000`, silently capping a product at 10k datasets). The HTTP
    * paging loop (incl. the 303-redirect follow, `:49-59`) stays a
    * driver-side ingestion step that lands one JSON snapshot per page;
    * this merges the landed pages declaratively and VALIDATES
    * completeness:
    *  - every page must report the same `hits.total.value` (pages
    *    fetched across an index change disagree → error, re-fetch);
    *  - distinct uuids across pages must equal that total (a missed or
    *    truncated page → error, never a silently smaller product);
    *  - overlapping pages (re-fetched from/size windows) dedup by uuid.
    * The validation counts are dim-sized driver checks (≤ total
    * datasets), not fact-table scans. */
  def pagedDatasets(spark: SparkSession, pagePaths: Seq[String]): DataFrame = {
    require(pagePaths.nonEmpty, "no page snapshots")
    // persist the parsed snapshot: three actions read it (totals check,
    // completeness count, final pivot) and multiLine JSON parse is the
    // dominant cost — unpersisted, validation would double ingest time
    graft.Cut.scoped(spark.read.schema(schema).option("multiLine", "true")
        .json(pagePaths: _*)) { raw =>
      val totals = raw.select(col("hits.total.value").as("t"))
        .na.drop().distinct().collect().map(_.getLong(0)).sorted
      require(totals.length == 1,
        s"page snapshots disagree on hits.total (${totals.mkString(", ")}) — " +
          "pages were fetched across an index change; re-fetch the set")
      val hits = extractHits(raw).dropDuplicates("uuid")
      val n = hits.count()
      require(n == totals.head,
        s"paged snapshot incomplete: $n distinct datasets vs " +
          s"hits.total ${totals.head} — a page is missing or truncated")
      // materialize the dim-sized pivot to LOCAL rows off the cached
      // parse: the caller gets a self-contained DataFrame (≤ one row per
      // dataset) and nothing stays pinned in the block manager after
      // this returns
      val out = pivotDonorConcepts(hits)
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    }
  }
}
