package graft

import graft.sources.{EsResponse, ProductSink}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden end-to-end tests (SURVEY.md §5.2 item 3): the reference's three
  * entry points exercised through the engine's source→transform→sink path
  * on miniature fixtures with hand-computed expected outputs.
  */
class GoldenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft-golden").toString

  test("ES discovery: nested hits extraction + donor concept pivot (entry point 1)") {
    // Miniature of the reference's search response (make_uuids_tsv.py:67-142):
    // one organ donor (Age/Sex via different value sources), one living
    // donor, one hit with no donor metadata at all.
    val json =
      """{"hits": {"hits": [
        |  {"_source": {"uuid": "u1", "hubmap_id": "HBM1",
        |    "origin_samples_unique_mapped_organs": ["Lung (Left)"],
        |    "donor": {"metadata": {"organ_donor_data": [
        |      {"grouping_concept_preferred_term": "Age", "data_value": "61", "preferred_term": "years"},
        |      {"grouping_concept_preferred_term": "Sex", "data_value": "1", "preferred_term": "Female"}]}}}},
        |  {"_source": {"uuid": "u2", "hubmap_id": "HBM2",
        |    "origin_samples_unique_mapped_organs": ["Heart"],
        |    "donor": {"metadata": {"living_donor_data": [
        |      {"grouping_concept_preferred_term": "Body Mass Index", "data_value": "27.5", "preferred_term": "kg/m^2"}]}}}},
        |  {"_source": {"uuid": "u3", "hubmap_id": "HBM3",
        |    "origin_samples_unique_mapped_organs": ["Heart"]}}
        |]}}""".stripMargin
    val path = s"$tmp/es_response.json"
    Files.writeString(Paths.get(path), json)

    val out = EsResponse.datasetsFromResponse(spark, path)
      .orderBy("uuid")
      .select("uuid", "hubmap_id", "organ", "age", "sex", "bmi")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))

    assert(out.toSeq === Seq(
      ("u1", "HBM1", "Lung (Left)", Some(61.0), Some("Female"), None),
      ("u2", "HBM2", "Heart", None, None, Some(27.5)),
      ("u3", "HBM3", "Heart", None, None, None)))
  }

  test("ES paged discovery: overlap dedup, completeness and consistency gates") {
    def page(total: Int, uuids: Seq[String]): String = {
      val hits = uuids.map(u =>
        s"""{"_source": {"uuid": "$u", "hubmap_id": "HBM-$u",
           |  "origin_samples_unique_mapped_organs": ["Heart"],
           |  "donor": {"metadata": {"organ_donor_data": [
           |    {"grouping_concept_preferred_term": "Age",
           |     "data_value": "50", "preferred_term": "years"}]}}}}""".stripMargin)
        .mkString(",\n")
      s"""{"hits": {"total": {"value": $total, "relation": "eq"},
         |  "hits": [$hits]}}""".stripMargin
    }
    val d = s"$tmp/pages"
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(s"$d/p0.json"), page(3, Seq("u1", "u2")))
    // overlapping re-fetch: u2 appears on both pages
    Files.writeString(Paths.get(s"$d/p1.json"), page(3, Seq("u2", "u3")))
    val merged = sources.EsResponse.pagedDatasets(spark,
      Seq(s"$d/p0.json", s"$d/p1.json"))
    assert(merged.select("uuid").as[String].collect().sorted.toSeq ===
      Seq("u1", "u2", "u3"))
    assert(merged.count() === 3)

    // a missing page fails loudly (2 distinct uuids vs total 3)
    val incomplete = intercept[IllegalArgumentException](
      sources.EsResponse.pagedDatasets(spark, Seq(s"$d/p0.json")))
    assert(incomplete.getMessage.contains("incomplete"))

    // pages fetched across an index change (different totals) fail loudly
    Files.writeString(Paths.get(s"$d/p2.json"), page(4, Seq("u4")))
    val skew = intercept[IllegalArgumentException](
      sources.EsResponse.pagedDatasets(spark,
        Seq(s"$d/p0.json", s"$d/p1.json", s"$d/p2.json")))
    assert(skew.getMessage.contains("disagree"))
  }

  test("laterality stripping and dynamic predicate composition") {
    val lat = EsResponse.datasetsFromResponse(spark, s"$tmp/es_response.json")
      .select("organ", "organ_base").orderBy("uuid")
      .as[(String, String)].collect()
    assert(lat.toSeq === Seq(("Lung (Left)", "Lung"), ("Heart", "Heart"), ("Heart", "Heart")))

    val orders = Tables.t(spark, sfDir, "orders")
    val base = col("o_orderstatus") === "F"
    val without = operators.CoreOps.dynamicFilter(orders, base, None).count()
    val withOrgan = operators.CoreOps.dynamicFilter(orders, base,
      Some(col("o_totalprice") > 1000)).count()
    assert(withOrgan <= without && withOrgan > 0)
  }

  test("entity-API tissue fallback: no tissue argument resolves per-dataset " +
    "organ codes over HTTP and strips laterality (concatenate.py:22-28,60-61)") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.model.{CellObs, DataModel, FactRow}
    import graft.sources.{EntityApi, YamlDim}

    // organ dictionary fixture in the organ_types.yaml two-level shape
    val organDict = YamlDim.parse(
      """LK:
        |  description: Kidney (Left)
        |HT:
        |  description: Heart
        |""".stripMargin)
      .map { case (c, a) => c -> a("description") }.toMap

    // stub entity API: GET /dataset/{uuid}/organs/ → organ code body
    val codes = Map("d1" -> "LK", "d2" -> "HT")
    val gets = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      gets.incrementAndGet()
      val Pat = "/dataset/([^/]+)/organs/".r
      val body = ex.getRequestURI.getPath match {
        case Pat(ds) if codes.contains(ds) => codes(ds)
        case p => s"unknown path $p"
      }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(if (body.length <= 2) 200 else 404, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
      val fact = Seq(
        FactRow("d1-AAAC", "cell_by_bin", "d1", "bin1", 2.0),
        FactRow("d1-TTTG", "cell_by_bin", "d1", "bin1", 3.0),
        FactRow("d2-AAAC", "cell_by_bin", "d2", "bin1", 4.0)).toDS()
      // No tissue argument → the resolver fires once per DISTINCT dataset
      val obs = DataModel.obsFromFact(spark, fact, None,
          ds => EntityApi.resolveTissues(endpoint, ds, organDict))
        .collect().sortBy(_.cell_id)
      assert(obs.toSeq === Seq(
        CellObs("d1-AAAC", "AAAC", "d1", "Kidney"), // laterality stripped
        CellObs("d1-TTTG", "TTTG", "d1", "Kidney"),
        CellObs("d2-AAAC", "AAAC", "d2", "Heart")))
      assert(gets.get() === 2, s"expected one GET per distinct dataset, got ${gets.get()}")

      // a known tissue bypasses the resolver entirely
      val known = DataModel.obsFromFact(spark, fact, Some("lung"),
        _ => fail("resolver must not fire when tissue is supplied"))
      assert(known.collect().forall(_.tissue == "lung"))
      assert(gets.get() === 2)

      // an organ code absent from the dictionary fails loudly, named
      val err = intercept[IllegalArgumentException] {
        EntityApi.resolveTissues(endpoint, Seq("d1"), Map("HT" -> "Heart"))
      }
      assert(err.getMessage.contains("LK") && err.getMessage.contains("d1"))

      // a non-200 entity answer fails loudly with status + dataset named
      val http = intercept[IllegalArgumentException] {
        EntityApi.resolveTissues(endpoint, Seq("d9"), organDict)
      }
      assert(http.getMessage.contains("404") && http.getMessage.contains("d9"))
    } finally server.stop(0)
  }

  test("entity-API bounded failure semantics: request timeout, one retry on " +
    "transient 5xx, JSON organ bodies (ADVICE r10: no unbounded hangs)") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import java.time.Duration
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.sources.EntityApi

    // the live endpoint answers JSON, not plain text (the reference's own
    // parsing is broken — concatenate.py:26-27 keys organ_dict on the
    // Response object); all three single-organ shapes must normalize
    assert(EntityApi.normalizeOrganBody("LK", "d") === "LK")
    assert(EntityApi.normalizeOrganBody(""""LK"""", "d") === "LK")
    assert(EntityApi.normalizeOrganBody("""["LK"]""", "d") === "LK")
    assert(EntityApi.normalizeOrganBody(""" [ "LK" ] """, "d") === "LK")
    val multi = intercept[IllegalArgumentException](
      EntityApi.normalizeOrganBody("""["LK","RK"]""", "d7"))
    assert(multi.getMessage.contains("multiple") &&
      multi.getMessage.contains("d7"))
    val junk = intercept[IllegalArgumentException](
      EntityApi.normalizeOrganBody("""{"organ": "LK"}""", "d8"))
    assert(junk.getMessage.contains("d8"))

    val gets = new java.util.concurrent.atomic.AtomicInteger(0)
    val mode = new java.util.concurrent.atomic.AtomicReference[String]("flaky")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // concurrent handler pool: the default executor is the dispatcher
    // thread itself, so a handler sleeping past the client timeout would
    // serialize the retry BEHIND the stuck first request and the GET
    // counter would read 1 at assert time
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => {
      val n = gets.incrementAndGet()
      mode.get() match {
        case "slow" => // exceed the request timeout; client gives up first
          Thread.sleep(2000)
          ex.sendResponseHeaders(200, -1); ex.close()
        case "flaky" => // transient 500 on the first hit, then JSON 200
          val body = if (n == 1) "upstream blew up" else """["HT"]"""
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(if (n == 1) 500 else 200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
      // one retry absorbs a single transient 500 → resolves via JSON body
      val out = EntityApi.resolveTissues(endpoint, Seq("dA"),
        Map("HT" -> "Heart"), requestTimeout = Duration.ofSeconds(5))
      assert(out === Map("dA" -> "Heart"))
      assert(gets.get() === 2, s"expected 500-then-200, got ${gets.get()} GETs")

      // a stuck endpoint fails in bounded time (timeout × (retries+1)),
      // never hangs: 2 attempts at 250ms each ≪ the 2s server sleep
      mode.set("slow"); gets.set(0)
      val t0 = System.nanoTime()
      val stuck = intercept[IllegalArgumentException] {
        EntityApi.resolveTissues(endpoint, Seq("dB"), Map("HT" -> "Heart"),
          requestTimeout = Duration.ofMillis(250))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      assert(stuck.getMessage.contains("dB") &&
        stuck.getMessage.contains("attempt"))
      assert(gets.get() === 2, s"expected initial + 1 retry, got ${gets.get()}")
      assert(dt < 5.0, f"bounded-failure path took $dt%.1fs")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("TSV round-trip with explicit schema (entry point 2 staging table)") {
    val schema = StructType(Seq(
      StructField("uuid", StringType), StructField("hubmap_id", StringType)))
    val df = Seq(("u1", "HBM1"), ("u2", "HBM2")).toDF("uuid", "hubmap_id")
    ProductSink.writeTsv(df, s"$tmp/uuids_tsv")
    val back = ProductSink.readTsv(spark, s"$tmp/uuids_tsv", schema)
    assert(back.schema === schema)
    assert(back.orderBy("uuid").as[(String, String)].collect().toSeq ===
      Seq(("u1", "HBM1"), ("u2", "HBM2")))
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    // The 100 TB read-path contract: a fact table partitioned on the
    // join key is pruned at RUNTIME by the dim-side filter — only
    // matching partitions are scanned. (The star-schema testdata is
    // single-file, so the behavior is pinned here on a partitioned
    // fixture.)
    val fact = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
    fact.write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(s"$tmp/orders_part")
    val partFact = spark.read.parquet(s"$tmp/orders_part")
    // dim must be a real scan: a literal LocalRelation constant-folds the
    // filter away and DPP sees no selective predicate to reuse
    Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(s"$tmp/status_dim")
    val dim = spark.read.parquet(s"$tmp/status_dim")
    val joined = partFact.join(
        dim.filter($"label" === "finished"),
        partFact("o_orderstatus") === dim("status"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP subquery:\n$plan")
    // and the pruned result equals the statically-filtered one
    val expected = fact.filter($"o_orderstatus" === "F").count()
    assert(joined.count() === expected)
  }

  test("ORC round-trip (alternate columnar sink/source)") {
    val df = Tables.t(spark, sfDir, "nation")
    sources.ProductSink.writeOrc(df, s"$tmp/nation_orc")
    val back = sources.ProductSink.readOrc(spark, s"$tmp/nation_orc")
    assert(back.schema === df.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("partitioned ORC: partition pruning and predicate pushdown reach the scan") {
    val df = Tables.t(spark, sfDir, "customer")
      .withColumn("seg", $"c_mktsegment")
    sources.ProductSink.writeOrc(df, s"$tmp/cust_orc", Seq("seg"))
    val back = sources.ProductSink.readOrc(spark, s"$tmp/cust_orc")
      .filter($"seg" === "BUILDING" && $"c_acctbal" > 0)
      .select("c_custkey", "c_acctbal")
    val plan = back.queryExecution.executedPlan.toString
    // partition column filter prunes directories, not rows
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("seg"), plan)
    // data filter is pushed to the ORC reader (stripe-stat skipping)
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("c_acctbal"), plan)
    val expect = df.filter($"seg" === "BUILDING" && $"c_acctbal" > 0).count()
    assert(back.count() === expect)
  }

  test("ProductBuild facade: union + intersect_obs + donor join + sink (entry point 3 API)") {
    // Two modalities with partially overlapping cells; donor dim missing
    // one dataset — exercises every drop rule of concatenate.py in one
    // public call.
    val cbb = Seq(
      ("d1-c1", "d1", "f1", 1.0),
      ("d1-c2", "d1", "f2", 2.0),   // c2 absent from gene modality → drop
      ("d2-c1", "d2", "f1", 3.0),
      ("d3-c1", "d3", "f3", 4.0))   // d3 absent from donors → drop
      .toDF("cell_id", "dataset", "feature_id", "value")
    val cbg = Seq(
      ("d1-c1", "d1", "g1", 5.0),
      ("d2-c1", "d2", "g2", 6.0),
      ("d3-c1", "d3", "g3", 7.0))
      .toDF("cell_id", "dataset", "feature_id", "value")
    val donors = Seq(
      ("d1", "55", "Male"), ("d2", "bad-age", "Female"))
      .toDF("uuid", "age", "sex")

    val product = operators.ProductBuild.build(
      Map("cell_by_bin" -> cbb, "cell_by_gene" -> cbg), donors,
      s"$tmp/api_product")

    val rows = product
      .select("cell_id", "modality", "feature_id", "age", "sex")
      .orderBy("cell_id", "modality")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)), r.getString(4))).toSeq
    assert(rows === Seq(
      ("d1-c1", "cell_by_bin", "f1", Some(55.0), "Male"),
      ("d1-c1", "cell_by_gene", "g1", Some(55.0), "Male"),
      // d2 donor age unparseable → null (pd.to_numeric coercion)
      ("d2-c1", "cell_by_bin", "f1", None, "Female"),
      ("d2-c1", "cell_by_gene", "g2", None, "Female")))
    // the sink wrote the partitioned product + sidecar
    val meta = spark.read.json(s"$tmp/api_product/metadata")
    assert(meta.select("total_cell_count").head().getLong(0) === 2L)
  }

  test("ProductBuild intersect scopes cell identity to (dataset, cell_id)") {
    // Same raw barcode in two datasets, each present in only ONE
    // modality: neither is multimodal, so both must drop. An
    // intersect on cell_id alone would wrongly keep both.
    val cbb = Seq(("AAAC", "d1", "f1", 1.0)).toDF("cell_id", "dataset", "feature_id", "value")
    val cbg = Seq(("AAAC", "d2", "g1", 2.0)).toDF("cell_id", "dataset", "feature_id", "value")
    val out = operators.ProductBuild.unionIntersect(
      Map("cell_by_bin" -> cbb, "cell_by_gene" -> cbg))
    assert(out.count() === 0)
    // and a genuinely shared (dataset, cell) survives
    val cbb2 = cbb.union(Seq(("AAAC", "d2", "f9", 3.0))
      .toDF("cell_id", "dataset", "feature_id", "value"))
    val out2 = operators.ProductBuild.unionIntersect(
      Map("cell_by_bin" -> cbb2, "cell_by_gene" -> cbg))
    assert(out2.select("dataset").distinct().as[String].collect().toSeq === Seq("d2"))
    assert(out2.count() === 2)
  }

  test("ProductBuild intersect keeps null-keyed groups spanning all modalities") {
    // The intersect window groups null keys together — dropping
    // unparseable barcodes is a QC decision, not an intersect artifact.
    val cbb = Seq((null.asInstanceOf[String], "d1", "f1", 1.0),
      ("AAAC", "d1", "f2", 2.0))
      .toDF("cell_id", "dataset", "feature_id", "value")
    val cbg = Seq((null.asInstanceOf[String], "d1", "g1", 3.0))
      .toDF("cell_id", "dataset", "feature_id", "value")
    val out = operators.ProductBuild.unionIntersect(
      Map("cell_by_bin" -> cbb, "cell_by_gene" -> cbg))
    // the null-keyed "cell" spans both modalities → its 2 rows survive;
    // AAAC is bin-only → dropped
    assert(out.count() === 2)
    assert(out.filter($"cell_id".isNull).count() === 2)
  }

  test("product build + partitioned sink + metadata sidecar (entry point 3)") {
    // 3 synthetic datasets × 2 modalities, outer-union semantics.
    val fact = Seq(
      ("d1-c1", "d1", "f1", 1.0, "cell_by_bin"),
      ("d1-c1", "d1", "g1", 5.0, "cell_by_gene"),
      ("d1-c2", "d1", "f2", 2.0, "cell_by_bin"),
      ("d2-c1", "d2", "f1", 3.0, "cell_by_bin"),
      ("d2-c1", "d2", "g2", 6.0, "cell_by_gene"),
      ("d3-c1", "d3", "f3", 4.0, "cell_by_bin"))
      .toDF("cell_id", "dataset", "feature_id", "value", "modality")

    ProductSink.writeProduct(fact, s"$tmp/product")

    // Fact readable with partition pruning on modality/dataset.
    val back = ProductSink.readProduct(spark, s"$tmp/product")
    assert(back.count() === 6)
    val pruned = back.filter($"modality" === "cell_by_gene" && $"dataset" === "d1")
    assert(pruned.count() === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"), scan)

    // Metadata sidecar: counts + sorted dataset list + product uuid/time.
    val meta = spark.read.json(s"$tmp/product/metadata")
    val row = meta.select("n_rows", "total_cell_count", "datasets",
      "product_uuid", "creation_time").head()
    assert(row.getLong(0) === 6L)
    assert(row.getLong(1) === 4L) // d1-c1, d1-c2, d2-c1, d3-c1
    assert(row.getSeq[String](2) === Seq("d1", "d2", "d3"))
    assert(row.getString(3).matches("[0-9a-f-]{36}"))
    assert(row.getString(4).matches("\\d{4}-\\d{2}-\\d{2} .*"))
  }

  test("product partition columns round-trip as strings (all-digit dataset ids)") {
    val fact = Seq(
      ("c1", "0123", "f1", 1.0, "7"),
      ("c2", "0456", "f1", 2.0, "7"))
      .toDF("cell_id", "dataset", "feature_id", "value", "modality")
    ProductSink.writeProduct(fact, s"$tmp/digits")
    val back = ProductSink.readProduct(spark, s"$tmp/digits")
    assert(back.schema("dataset").dataType === StringType)
    assert(back.schema("modality").dataType === StringType)
    assert(back.select("dataset", "modality").as[(String, String)].collect()
      .sorted.toSeq === Seq(("0123", "7"), ("0456", "7")))
    // the sidecar lists the ids as written
    val meta = spark.read.json(s"$tmp/digits/metadata")
    assert(meta.select("datasets").head().getSeq[String](0) === Seq("0123", "0456"))

    // and ProductBuild.build returns them as written too
    val donors = Seq(("0123", "40", "Male"), ("0456", "55", "Female"))
      .toDF("uuid", "age", "sex")
    val built = operators.ProductBuild.build(
      Map("7" -> fact.drop("modality"), "8" -> fact.drop("modality")),
      donors, s"$tmp/digits_build")
    assert(built.schema("dataset").dataType === StringType)
    assert(built.select("dataset").distinct().as[String].collect().sorted.toSeq ===
      Seq("0123", "0456"))
  }

  test("product readback starts no job; the sidecar runs one hash aggregate and no write") {
    val fact = Seq(
      ("d1-c1", "d1", "f1", 1.0, "cell_by_bin"),
      ("d1-c1", "d1", "g1", 5.0, "cell_by_gene"),
      ("d2-c1", "d2", "f1", 3.0, "cell_by_bin"))
      .toDF("cell_id", "dataset", "feature_id", "value", "modality")
    val out = s"$tmp/jobless"
    val sc = spark.sparkContext

    // every query writeProduct executes: no object or sort-based
    // aggregate, and the only write is the fact
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executed.add(qe)
    }
    spark.listenerManager.register(ql)
    try {
      ProductSink.writeProduct(fact, out)
      org.apache.spark.GraftBusDrain.drain(sc)
    } finally spark.listenerManager.unregister(ql)
    val qes = executed.asScala.toSeq
    assert(qes.exists(_.executedPlan.toString.contains("HashAggregate")))
    qes.foreach { qe =>
      val plan = qe.executedPlan.toString
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"), plan)
    }
    val written = qes.flatMap(_.logical.collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.getName })
    assert(written.nonEmpty && written.forall(_ == "fact"), written)

    // the readback takes its schema from the sidecar: zero jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(jl)
    val (jobsToRead, back, jobsToCount) = try {
      val back = ProductSink.readProduct(spark, out)
      org.apache.spark.GraftBusDrain.drain(sc)
      val read = jobs.get()
      assert(back.count() === 3)
      org.apache.spark.GraftBusDrain.drain(sc)
      (read, back, jobs.get() - read)
    } finally sc.removeSparkListener(jl)
    assert(jobsToRead === 0)
    assert(jobsToCount > 0) // the listener sees this session's jobs
    // same columns, order and types as an inferred read of the fact
    assert(back.schema ===
      ProductSink.readFact(spark, out, spark.read.parquet(s"$out/fact").schema).schema)

    // a sidecar without `schema` fails, naming the field
    val sidecar = Paths.get(s"$out/metadata/part-00000.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readAllBytes(sidecar))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(meta.has("schema"))
    meta.remove("schema")
    Files.write(sidecar, (mapper.writeValueAsString(meta) + "\n").getBytes("UTF-8"))
    Files.deleteIfExists(sidecar.resolveSibling(".part-00000.json.crc"))
    val e = intercept[IllegalArgumentException](ProductSink.readProduct(spark, out))
    assert(e.getMessage.contains("`schema`"), e.getMessage)
  }

  test("sidecar datasets: [] for an empty product, the non-null ids otherwise") {
    val cols = Seq("cell_id", "dataset", "feature_id", "value", "modality")
    val empty = Seq.empty[(String, String, String, Double, String)].toDF(cols: _*)
    ProductSink.writeProduct(empty, s"$tmp/empty")
    val e = spark.read.json(s"$tmp/empty/metadata")
      .select("n_rows", "total_cell_count", "datasets").head()
    assert(e.getLong(0) === 0L && e.getLong(1) === 0L)
    assert(e.getSeq[String](2) === Seq.empty)
    assert(ProductSink.readProduct(spark, s"$tmp/empty").count() === 0)

    // a null dataset lands in the default partition and is not listed;
    // an escaped directory name lists as the id written
    val fact = Seq(
      ("c1", "d2", "f1", 1.0, "m1"),
      ("c2", null, "f1", 2.0, "m1"),
      ("c3", "d:1", "f1", 3.0, "m2"),
      ("c1", "d2", "g1", 4.0, "m2"))
      .toDF(cols: _*)
    ProductSink.writeProduct(fact, s"$tmp/nulls")
    val m = spark.read.json(s"$tmp/nulls/metadata")
      .select("n_rows", "total_cell_count", "datasets").head()
    assert(m.getLong(0) === 4L && m.getLong(1) === 3L)
    assert(m.getSeq[String](2) === Seq("d2", "d:1")) // sort_array order
    assert(ProductSink.readProduct(spark, s"$tmp/nulls")
      .filter($"dataset".isNull).count() === 1)
  }

  test("dynamic partition overwrite refreshes only the delta's partitions") {
    val dir = s"$tmp/incr"
    val day1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0)).toDF("id", "dt", "v")
    ProductSink.overwritePartitions(day1, dir, Seq("dt"))
    // re-run of day 2 with corrected values + a new day 3
    val delta = Seq((3L, "2024-01-02", 31.0), (4L, "2024-01-03", 40.0))
      .toDF("id", "dt", "v")
    ProductSink.overwritePartitions(delta, dir, Seq("dt"))
    val back = spark.read.parquet(dir)
      .select($"id", $"dt".cast("string"), $"v").as[(Long, String, Double)]
      .collect().sortBy(_._1)
    // day 1 untouched, day 2 replaced (not appended), day 3 added
    assert(back.toSeq === Seq((1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 31.0),
      (4L, "2024-01-03", 40.0)))
    // session conf restored (static is the default)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("static"))
  }

  test("compaction folds accreted small files without changing content") {
    val dir = s"$tmp/compact_me"
    // simulate 3 incremental appends of 8 files each → 24 small files
    (1 to 3).foreach { batch =>
      spark.range((batch - 1) * 100L, batch * 100L)
        .select($"id", ($"id" * 2).as("v"))
        .repartition(8)
        .write.mode("append").parquet(dir)
    }
    val checksumBefore = spark.read.parquet(dir)
      .agg(sum($"id"), sum($"v"), count(lit(1))).head()
    val (before, after) = ProductSink.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024)
    assert(before === 24L, s"expected 24 pre-compaction files, got $before")
    assert(after === 1L, s"300 tiny rows must fold into one file, got $after")
    assert(spark.read.parquet(dir)
      .agg(sum($"id"), sum($"v"), count(lit(1))).head() === checksumBefore)
  }

  test("parquet schema evolution: mergeSchema unions batches by name") {
    // A corpus written over months accretes columns (a new quality score,
    // a new language tag). Batch 2 adds `lang`; batch 1 predates it.
    // mergeSchema=true reconciles at read time: union-by-name with nulls
    // for pre-evolution files. Kept OFF by default on purpose — merging
    // reads every file footer, which at 100 TB is a driver-side listing
    // storm; production either pins an explicit read schema (free) or
    // flips the option knowingly. Both paths are pinned here.
    val dir = s"$tmp/evolve"
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "text"))
    val rows = merged.select($"doc_id", $"text", $"lang")
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "alpha", None), (2L, "beta", None),
      (3L, "gamma", Some("en"))))
    // The explicit-schema path (the 100 TB default): no footer merge, the
    // declared schema wins, pre-evolution files surface the column as null.
    val pinned = spark.read.schema(
      "doc_id BIGINT, text STRING, lang STRING").parquet(dir)
    assert(pinned.filter($"lang".isNull).count() === 2L)
    assert(pinned.filter($"lang" === "en").select($"doc_id").head().getLong(0) === 3L)
  }

  test("filesystem catalog: glob scan, per-file identity, first match") {
    // scan_fs_walk / limit_first_match (bin/concatenate.py:38-45,
    // make_directory.py:11-26): directory-per-dataset layout scanned via
    // glob; file identity via input_file_name(); deterministic first hit.
    val base = s"$tmp/datasets"
    Seq(("c1", 1.0)).toDF("cell_id", "v").write.parquet(s"$base/ds1/cell_by_bin.parquet")
    Seq(("c2", 2.0)).toDF("cell_id", "v").write.parquet(s"$base/ds2/cell_by_bin.parquet")
    val scanned = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(base)
      .withColumn("src_file", input_file_name())
    assert(scanned.count() === 2)
    assert(scanned.select("src_file").distinct().count() === 2)
    val first = scanned.orderBy("src_file", "cell_id").limit(1)
      .select("cell_id").as[String].head()
    assert(first === "c1")
  }

  test("JSON scan bad-record handling: PERMISSIVE captures corrupt lines, " +
    "FAILFAST raises") {
    // Real document feeds carry malformed lines; the engine must keep
    // good rows, quarantine bad ones into _corrupt_record, and offer a
    // strict mode that fails loudly instead of silently dropping data.
    val d = s"$tmp/badjson"
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(s"$d/part0.jsonl"),
      """{"id": 1, "text": "good row"}
        |{"id": 2 "text": "missing comma"}
        |{"id": 3, "text": "another good row"}
        |not json at all
        |""".stripMargin)
    val schema = "id LONG, text STRING, _corrupt_record STRING"
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(d).cache()
    try {
      assert(parsed.count() === 4)
      assert(parsed.filter($"_corrupt_record".isNull).count() === 2)
      val bad = parsed.filter($"_corrupt_record".isNotNull)
        .select("_corrupt_record").as[String].collect()
      assert(bad.exists(_.contains("missing comma")))
      assert(bad.contains("not json at all"))
      // good rows parse fully even with corrupt neighbors in the file
      assert(parsed.filter($"id" === 1).select("text").as[String].head()
        === "good row")
    } finally parsed.unpersist()
    val strict = intercept[org.apache.spark.SparkException] {
      spark.read.schema("id LONG, text STRING")
        .option("mode", "FAILFAST").json(d).collect()
    }
    assert(strict.getMessage.toLowerCase.contains("malformed") ||
      Option(strict.getCause).exists(_.getMessage.toLowerCase
        .contains("malformed")))
  }

  test("product metadata records filesystem byte size") {
    val fact = Seq(("d1-c1", "d1", "f1", 1.0, "m1"))
      .toDF("cell_id", "dataset", "feature_id", "value", "modality")
    ProductSink.writeProduct(fact, s"$tmp/product_sz")
    val meta = spark.read.json(s"$tmp/product_sz/metadata")
    assert(meta.select("raw_file_size_bytes").head().getLong(0) > 0L)
  }

  test("local writes set permissions through java.nio, not a forked chmod") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[sources.NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[sources.NioRawLocalFileSystem])
    def mode(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    // every mode lands exactly, whatever the file had before
    val f = Files.createTempFile("graft-perm", ".bin")
    for (octal <- Seq("750", "600", "000", "777", "644")) {
      val want = new FsPermission(octal)
      fs.setPermission(new Path(f.toUri), want)
      assert(mode(f) === want.toString)
    }
    // the written product carries the requested (umasked default) modes
    val fact = Seq(("d1-c1", "d1", "f1", 1.0, "m1"))
      .toDF("cell_id", "dataset", "feature_id", "value", "modality")
    ProductSink.writeProduct(fact, s"$tmp/product_perm")
    val umask = FsPermission.getUMask(conf)
    val written = {
      val w = Files.walk(Paths.get(s"$tmp/product_perm/fact"))
      try w.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      finally w.close()
    }
    assert(written.nonEmpty)
    written.foreach(p =>
      assert(mode(p) === FsPermission.getFileDefault.applyUMask(umask).toString, p))
    assert(mode(written.head.getParent) ===
      FsPermission.getDirDefault.applyUMask(umask).toString)
  }

  test("flagship query equals its de-sugared relational form (self-consistency)") {
    // The flagship plan (annotate→union→intersect→donor-join→stats) must
    // agree with an independently-written SQL formulation on real data.
    Tables.registerViews(spark, sfDir)
    val viaSql = spark.sql(
      """WITH cbb AS (SELECT l_orderkey || '-' || l_linenumber AS cell_id,
        |    l_orderkey, l_quantity AS value, l_returnflag AS dataset,
        |    'cell_by_bin' AS modality FROM lineitem),
        |cbg AS (SELECT l_orderkey || '-' || l_linenumber AS cell_id,
        |    l_orderkey, l_extendedprice AS value, l_returnflag AS dataset,
        |    'cell_by_gene' AS modality FROM lineitem WHERE l_linestatus = 'F'),
        |common AS (SELECT cell_id FROM cbb INTERSECT SELECT cell_id FROM cbg),
        |fact AS (SELECT * FROM cbb WHERE cell_id IN (SELECT cell_id FROM common)
        |  UNION ALL
        |  SELECT * FROM cbg WHERE cell_id IN (SELECT cell_id FROM common)),
        |donor AS (SELECT o_orderkey, c_mktsegment AS segment
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT modality, dataset, segment, count(DISTINCT cell_id) AS n_cells,
        |  count(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM fact JOIN donor ON fact.l_orderkey = donor.o_orderkey
        |GROUP BY modality, dataset, segment
        |ORDER BY modality, dataset, segment""".stripMargin).collect().toSeq
    val viaApi = operators.Pipeline.flagship(spark, sfDir).collect().toSeq
    assert(viaApi === viaSql)
  }

  test("permissive CSV ingest: clean rows parse, the 3 planted " +
    "malformed lines quarantine with their raw text intact") {
    val agg = operators.CoreOps.queries("scan_csv_permissive")(
      spark, sfDir).collect()(0)
    val nNation = Tables.t(spark, sfDir, "nation").count()
    val keySum = Tables.t(spark, sfDir, "nation")
      .agg(sum(col("n_nationkey"))).collect()(0).getLong(0)
    assert(agg.getLong(0) === nNation)
    assert(agg.getLong(1) === 3L)
    assert(agg.getLong(2) === keySum)
    // the quarantined lines are RECOVERABLE (raw text, not dropped)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType),
      StructField("_corrupt", StringType)))
    // a data column rides along: Spark refuses reads that reference
    // ONLY the corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val bad = spark.read.schema(schema)
      .option("header", "false").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(sources.PartitionedData.nationCsvLanding(spark, sfDir))
      .filter(col("_corrupt").isNotNull)
      // ALL data columns stay in the output: pruning any of them also
      // prunes its PARSE, and garbage confined to a pruned field would
      // not quarantine (the same effect the query's aggregate guards)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_corrupt"))
      .collect().map(r => Option(r.getString(3)).getOrElse(""))
    assert(bad.length === 3)
    assert(bad.forall(_.contains("planted malformed")))
  }
}
