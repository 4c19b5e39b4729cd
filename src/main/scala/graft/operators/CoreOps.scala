package graft.operators

import graft.{Tables, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scans, projections, filters, limits — SURVEY.md §2 Part A.1/A.2.
  *
  * Mirrors the reference's column pruning / predicate ordering behaviors
  * (`bin/concatenate.py:62-77,108`, `make_directory.py:48-49`,
  * `make_uuids_tsv.py:15-38`) as declarative plans so Catalyst pushes the
  * filters and projections into the parquet scan (checked via
  * `PushedFilters`/`ReadSchema` in the plan, see BenchNotes).
  */
object CoreOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** filter_dynamic_pred (make_uuids_tsv.py:20-21): the organ predicate is
    * appended only when the argument is present — predicate composition is
    * plain Scala over Columns; Catalyst still sees one conjunction and
    * pushes the whole thing to the scan. */
  def dynamicFilter(df: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.Column,
      optional: Option[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame =
    df.filter(optional.map(base && _).getOrElse(base))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pruned scan: filter + 3-column projection reach the parquet reader.
    "scan_parquet_pushdown" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // Avro ingest scan (scan_avro_roundtrip): orders landed as Avro
    // container files (graft.sources.AvroDataSource — splittable sync-
    // marker reads, reader-schema pruning), aggregated straight off the
    // landing zone. Oracled against the parquet original: the round-trip
    // must be value-exact for every type it carries (long, string,
    // double, timestamp-micros).
    "scan_avro_roundtrip" -> ((s, d) =>
      s.read.format("graft-avro")
        .load(graft.sources.PartitionedData.ordersAvroLanding(s, d))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          U.dsum(col("o_totalprice")).as("sum_price"),
          max(U.tsUs(col("o_orderdate"))).as("max_date_us"))
        .orderBy("o_orderpriority")),

    // ORC ingest scan (scan_orc_roundtrip): events landed as ORC (the
    // Hive-ecosystem columnar landing format, Spark's bundled
    // reader/writer), aggregated straight off the landing zone.
    // Oracled against the parquet original — a value mismatch means
    // the ORC round-trip corrupted a long, timestamp, string, or
    // double. Splittable scan with predicate/column pushdown like any
    // file-source read; at production scale the landing dir is what a
    // Hive/Trino pipeline drops.
    "scan_orc_roundtrip" -> ((s, d) =>
      s.read.orc(graft.sources.PartitionedData.eventsOrcLanding(s, d))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          U.dsum(col("value")).as("sum_value"),
          max(U.tsUs(col("ts"))).as("max_ts_us"))
        .orderBy("event_type")),

    // h5ad ingest scan (scan_h5ad_roundtrip): the reference's OWN wire
    // format (bin/concatenate.py:62 reads a CSR AnnData h5ad per
    // dataset) round-tripped under the oracle — a user×event_type
    // value matrix derived DECIMAL-exactly from `events`, written as
    // chunked+deflate HDF5 (graft.sources.MiniHdf5Writer), read back
    // through `format("h5ad")` (H5adRelation, over the one decoder),
    // and aggregated. The DuckDB oracle replays the matrix derivation
    // from the parquet original, so a single corrupted f64 bit, dropped
    // nonzero, or mis-ordered indptr in EITHER the writer or the reader
    // fails the hash. One task per file by format; at scale ingest
    // parallelism is across dataset files, then parquet forever.
    "scan_h5ad_roundtrip" -> ((s, d) =>
      s.read.format("h5ad").option("dataset", "events")
        .option("modality", "rna")
        .load(graft.sources.PartitionedData.eventsH5adLanding(s, d))
        .groupBy("feature_id")
        .agg(count(lit(1)).as("n_cells"),
          U.dsum(col("value")).as("sum_value"))
        .orderBy("feature_id")),

    // Permissive CSV ingest (scan_csv_permissive): the landing-zone
    // read real feeds need — a garbage line must quarantine into the
    // corrupt-record column, not kill the job and not silently vanish.
    // The fixture ([[graft.sources.PartitionedData.nationCsvLanding]])
    // plants exactly 3 malformed lines (bad key / bad region / token
    // overflow) next to the clean nation rows; the clean aggregate is
    // oracled against the parquet original and the quarantine count
    // against the fixture contract. At scale this read is splittable
    // like any CSV scan, and the corrupt column costs nothing on rows
    // that parse.
    "scan_csv_permissive" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val path = graft.sources.PartitionedData.nationCsvLanding(s, d)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        // every data column is OBSERVED in the output on purpose: the
        // CSV parser only parses (and therefore only VALIDATES) the
        // columns the plan asks for — an aggregate touching a subset
        // would let garbage in unreferenced fields sail through as
        // "clean" (measured: 27/1 instead of 25/3 when only the key
        // was referenced). Ingest validation parses the whole row.
        .agg(
          count(when(col("_corrupt").isNull, 1)).as("n_clean"),
          count(when(col("_corrupt").isNotNull, 1)).as("n_quarantined"),
          sum(when(col("_corrupt").isNull, col("n_nationkey")))
            .as("key_sum"),
          max(when(col("_corrupt").isNull, length(col("n_name"))))
            .as("max_name_len"),
          max(when(col("_corrupt").isNull, col("n_regionkey")))
            .as("max_region"))
    }),

    // Manifest-pruned scan (scan_manifest_prune): a date-range query
    // over the ManifestTable snapshot of orders — file skipping comes
    // from MANIFEST stats (one json read), before Spark ever lists or
    // plans the data directory; the residual row filter still applies.
    // Oracled against the plain orders table with the same predicate:
    // a value mismatch means the manifest pruned a file it shouldn't
    // have. ManifestSpec additionally asserts files ARE skipped.
    "scan_manifest_prune" -> ((s, d) => {
      val table = graft.sources.PartitionedData.ordersManifestTable(s, d)
      val (df, _, _) = graft.sources.ManifestTable.readRange(
        s, table, "o_orderdate",
        "1996-01-01 00:00:00", "1997-01-01 00:00:00", hiExclusive = true)
      df.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          U.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // Full lakehouse ingestion end-to-end (scan_lakehouse_ingest): avro
    // landing → graft-avro MicroBatchStream (checkpointed, exactly-once)
    // → staged parquet → ManifestTable snapshot → clustered COMPACTION
    // → manifest-pruned range query. Oracled against the plain parquet
    // orders with the same predicate: a mismatch means some stage of the
    // pipeline dropped, duplicated, or corrupted rows. ManifestSpec
    // additionally asserts post-compaction files ARE skipped.
    "scan_lakehouse_ingest" -> ((s, d) => {
      val table = graft.sources.PartitionedData.ordersLakehouseTable(s, d)
      val (df, _, _) = graft.sources.ManifestTable.readRange(
        s, table, "o_orderdate",
        "1998-01-01 00:00:00", "1999-01-01 00:00:00", hiExclusive = true)
      df.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          U.dsum(col("o_totalprice")).as("sum_price"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy("o_orderstatus")
    }),

    // Copy-on-write MERGE end-to-end (scan_manifest_merge): base
    // snapshot → one CDC batch (update/delete/insert) merged via
    // ManifestTable.merge (only key-range-affected files rewritten) →
    // aggregate over the merged snapshot. Oracled against plain SQL
    // applying the same changes to the original orders: a mismatch
    // means the merge dropped, duplicated, or failed to route a row.
    "scan_manifest_merge" -> ((s, d) => {
      val table = graft.sources.PartitionedData.ordersMergedManifestTable(s, d)
      graft.sources.ManifestTable.read(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          U.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // Z-order pruned scan (scan_zorder_prune): a CUSTKEY range over the
    // layout clustered on the Morton interleave of (custkey, date) —
    // the same snapshot also serves date ranges (ManifestSpec's
    // z-order test asserts pruning on both dims); here the custkey
    // range's file skipping gets a CORRECTNESS row against the plain
    // table.
    "scan_zorder_prune" -> ((s, d) => {
      val table = graft.sources.PartitionedData.ordersZorderManifestTable(s, d)
      val (df, _, _) = graft.sources.ManifestTable.readRange(
        s, table, "o_custkey", "100", "300")
      df.filter(col("o_custkey").between(100, 300))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          U.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // project_select (make_directory.py:48 `df[["uuid"]]`)
    "project_select" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey", "c_name").orderBy("c_custkey")),

    // project_drop_col (bin/concatenate.py:108 drop junk column)
    "project_drop_col" -> ((s, d) =>
      t(s, d, "part").drop("p_type", "p_retailprice").orderBy("p_partkey")),

    // project_add_cols (bin/concatenate.py:66-77 derive barcode/dataset/
    // tissue/cell_id): surrogate key + literal + per-row arithmetic.
    "project_add_cols" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("cell_id",
          concat_ws("-", col("l_orderkey"), col("l_linenumber")))
        .withColumn("modality", lit("atac_cell_by_bin"))
        .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .select("l_orderkey", "l_linenumber", "cell_id", "modality", "rev")
        .orderBy("l_orderkey", "l_linenumber")),

    // filter_notnull (make_directory.py:49 dropna on key col)
    "filter_notnull" -> ((s, d) =>
      t(s, d, "events")
        .na.drop(Seq("props", "event_type"))
        .select("event_id", "event_type")
        .orderBy("event_id")),

    // filter_conj_pred (make_uuids_tsv.py:15-38 conjunctive bool query
    // incl. IS-NOT-MISSING term)
    "filter_conj_pred" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 1000 &&
          col("o_orderdate").isNotNull)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // filter_exists_semi (make_directory.py:29-31 QC-file existence
    // predicate as a left-semi join — shuffle-free when right side small)
    "filter_exists_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // filter_group_having (bin/concatenate.py:126 "dirs with >1 entry")
    "filter_group_having" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") > 3)
        .orderBy("l_orderkey")),

    // limit_first_match (bin/concatenate.py:38-45 first file matching a
    // pattern — made deterministic by explicit total order)
    "limit_first_match" -> ((s, d) =>
      t(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .limit(1)),

    // Scalar subquery: rows above half the global maximum — the 1-row
    // aggregate is broadcast and the comparison stays in the scan's filter
    // (no shuffle of the fact side). max is order-independent and exact,
    // so the filter boundary is engine-stable (avg would round).
    "filter_scalar_subquery" -> ((s, d) => {
      val maxPrice = t(s, d, "orders")
        .agg(max(col("o_totalprice")).as("max_price"))
      t(s, d, "orders")
        .crossJoin(broadcast(maxPrice))
        .filter(col("o_totalprice") > col("max_price") * 0.5)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // IN-subquery over a derived set: customers in nations that have at
    // least 4 suppliers — semi join against an aggregate-defined key set
    // (tiny → broadcast; the customer side never shuffles).
    "filter_in_subquery" -> ((s, d) => {
      val bigNations = t(s, d, "supplier")
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
        .filter(col("n_supp") >= 4)
        .select(col("s_nationkey").as("nk"))
      val c = t(s, d, "customer")
      c.join(broadcast(bigNations), c("c_nationkey") === col("nk"), "left_semi")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    }),

    // Content-hash sampling: a deterministic ~6% sample keyed on the
    // ROW CONTENT (md5 prefix), not on row position — stable under
    // repartitioning, re-runs, and engine choice, which random
    // sample()/TABLESAMPLE are not. The standard way to carve held-out
    // slices from a 100 TB corpus reproducibly.
    "filter_hash_sample" -> ((s, d) =>
      t(s, d, "documents")
        .filter(substring(md5(col("text")), 1, 2) < "10")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // limit_page (make_uuids_tsv.py:24-25 from/size pagination)
    "limit_page" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(100).limit(100)),

    // Typed Dataset escape hatch — KeyValueGroupedDataset.mapGroups for
    // genuinely imperative per-group logic (here: the user's first-8
    // event-type funnel path). DELIBERATE demonstration of the
    // preference-order tail (SURVEY B.8 "(d) last resort"): the group
    // materializes in memory and the function is opaque to Catalyst
    // (no pushdown/codegen through it), so the declarative window form
    // (window_rank_topk + listagg) is the 100 TB path — this query
    // exists to prove the typed API surface works end-to-end and agrees
    // with the relational oracle. State is bounded: one user's events.
    "typed_map_groups" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select(col("user_id"), U.tsUs(col("ts")).as("tsu"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (uid, rows) =>
          val path = rows.toSeq.sortBy(r => (r._2, r._3))
            .take(8).map(_._4).mkString(">")
          (uid, path)
        }
        .toDF("user_id", "path8")
        .orderBy("user_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // The oracle reads the PARQUET original — a value mismatch means the
    // ORC round-trip corrupted something.
    "scan_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The oracle replays the user×event_type matrix derivation from
    // the PARQUET original — a mismatch means the h5ad writer or
    // reader corrupted a value, dropped a nonzero, or broke CSR order.
    "scan_h5ad_roundtrip" ->
      """WITH cells AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY user_id, event_type)
        |SELECT event_type AS feature_id, count(*) AS n_cells,
        |  CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The oracle reads the PARQUET original — a value mismatch means the
    // avro round-trip corrupted something.
    "scan_avro_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  max(epoch_us(o_orderdate)) AS max_date_us
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // clean rows must equal the parquet original; the quarantine count
    // is the fixture's planted-bad-line contract
    "scan_csv_permissive" ->
      """SELECT count(*) AS n_clean, CAST(3 AS BIGINT) AS n_quarantined,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |  CAST(max(length(n_name)) AS INTEGER) AS max_name_len,
        |  max(n_regionkey) AS max_region
        |FROM nation""".stripMargin,
    "scan_manifest_prune" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "scan_parquet_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_zorder_prune" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_custkey BETWEEN 100 AND 300
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the CDC merge replayed as plain set algebra over the original
    "scan_manifest_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 50.0
        |    AS o_totalprice
        |  FROM orders WHERE o_orderkey < 1000
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey >= 2000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, 1000.0
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM merged GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the whole land→stream→manifest→compact pipeline vs the original
    "scan_lakehouse_ingest" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "project_select" ->
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",
    "project_drop_col" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |ORDER BY p_partkey""".stripMargin,
    "project_add_cols" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey || '-' || l_linenumber AS cell_id,
        |  'atac_cell_by_bin' AS modality,
        |  l_extendedprice * (1.0 - l_discount) AS rev
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "filter_notnull" ->
      """SELECT event_id, event_type FROM events
        |WHERE props IS NOT NULL AND event_type IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "filter_conj_pred" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 1000
        |  AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "filter_exists_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "filter_group_having" ->
      """SELECT l_orderkey, count(*) AS n_lines FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 3 ORDER BY l_orderkey""".stripMargin,
    "limit_first_match" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 1""".stripMargin,
    "limit_page" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 100 OFFSET 100""".stripMargin,
    "typed_map_groups" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path8
        |FROM e WHERE rn <= 8
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "filter_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.5
        |ORDER BY o_orderkey""".stripMargin,
    "filter_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(text), 1, 2) < '10'
        |ORDER BY doc_id""".stripMargin,
    "filter_in_subquery" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_nationkey IN (
        |  SELECT s_nationkey FROM supplier
        |  GROUP BY s_nationkey HAVING count(*) >= 4)
        |ORDER BY c_custkey""".stripMargin
  )
}
