package graft

import scala.jdk.CollectionConverters._

import graft.plans.GraftExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Parity of the fused vector kernels (graft.plans.VectorExprs) with the
  * higher-order-function spellings they replace — same discipline as the
  * MinHashSig/SimHash64 parity tests: the native path must be a pure
  * speedup, never a semantics change.
  */
class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Seq[java.lang.Double](3.0, 4.0)),
    (2L, Seq[java.lang.Double](0.0, 0.0, 0.0)),
    (3L, Seq[java.lang.Double]()),
    (4L, null),
    (5L, Seq[java.lang.Double](1.5, null, -2.5)),
    (6L, Seq[java.lang.Double](-7.25, 2.0, 0.125, -0.5)))
    .toDF("id", "v").withColumn("v", $"v".cast("array<double>"))

  test("vec_l2norm matches the aggregate/zip_with HOF form on all null shapes") {
    val hof = sqrt(aggregate(zip_with($"v", $"v", (x, y) => x * y),
      lit(0.0), (s, x) => s + x))
    val rows = vecs.select($"id", call_function("vec_l2norm", $"v").as("a"),
      hof.as("b")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch at ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) === r.getDouble(2), s"value mismatch at ${r.getLong(0)}")
    }
    // spot values: norm of (3,4) = 5, empty = 0, null array/element = null
    val m = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
      else r.getDouble(1))).toMap
    assert(m(1L) === 5.0)
    assert(m(3L) === 0.0)
    assert(m(4L) === null)
    assert(m(5L) === null)
  }

  test("vec_dot matches the zip_with/aggregate HOF incl. length-mismatch null") {
    val pairs = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)), // mismatch
      (3L, Seq[java.lang.Double](), Seq[java.lang.Double]()),
      (4L, null, Seq[java.lang.Double](1.0)),
      (5L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](2.0, 3.0)))
      .toDF("id", "a", "b")
      .withColumn("a", $"a".cast("array<double>"))
      .withColumn("b", $"b".cast("array<double>"))
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0.0), (s, x) => s + x)
    val rows = pairs.select($"id", call_function("vec_dot", $"a", $"b").as("n"),
      hof.as("h")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch at ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) === r.getDouble(2), s"value mismatch at ${r.getLong(0)}")
    }
    val m = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
      else r.getDouble(1))).toMap
    assert(m(1L) === 11.0)
    assert(m(2L) === null) // zip_with pads shorter side with null
    assert(m(3L) === 0.0)
  }

  test("vec_absmax matches array_max(transform(abs)) incl. null-skip semantics") {
    val hof = array_max(transform($"v", x => abs(x)))
    val rows = vecs.select($"id", call_function("vec_absmax", $"v").as("a"),
      hof.as("b")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch at ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) === r.getDouble(2), s"value mismatch at ${r.getLong(0)}")
    }
    val m = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
      else r.getDouble(1))).toMap
    assert(m(5L) === 2.5) // null element skipped, not propagated
    assert(m(6L) === 7.25)
    assert(m(3L) === null) // empty → null (array_max convention)
  }

  test("vec_divide/vec_scale match transform; division is not scaled reciprocal") {
    val k = lit(3.0)
    val rows = vecs.select($"id",
      call_function("vec_divide", $"v", k).as("nd"),
      transform($"v", x => x / k).as("hd"),
      call_function("vec_scale", $"v", k).as("nm"),
      transform($"v", x => x * k).as("hm")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2))
      assert(r.isNullAt(3) === r.isNullAt(4))
      if (!r.isNullAt(1)) {
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"divide at ${r.getLong(0)}")
        assert(r.getSeq[Any](3) === r.getSeq[Any](4), s"scale at ${r.getLong(0)}")
      }
    }
  }

  test("vec_divide nulls elements on a zero divisor, like non-ANSI Divide") {
    val rows = vecs.filter($"v".isNotNull).select($"id",
      call_function("vec_divide", $"v", lit(0.0)).as("n"),
      transform($"v", x => x / lit(0.0)).as("h")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2),
        s"zero-divisor mismatch at ${r.getLong(0)}")
      assert(r.getSeq[Any](1).forall(_ == null), s"expected all-null at ${r.getLong(0)}")
    }
  }

  test("vec_absmax ranks NaN greatest, matching array_max ordering") {
    val df = Seq((1L, Seq(5.0, Double.NaN)), (2L, Seq(Double.NaN, 3.0)))
      .toDF("id", "v").withColumn("v", $"v".cast("array<double>"))
    val rows = df.select($"id", call_function("vec_absmax", $"v").as("n"),
      array_max(transform($"v", x => abs(x))).as("h")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1).isNaN && r.getDouble(2).isNaN,
        s"NaN must win at ${r.getLong(0)}")
    }
  }

  test("vec_int8 + vec_lsum/vec_l1sum match the floor-transform/aggregate HOFs") {
    val scale = lit(127.0) / call_function("vec_absmax", $"v")
    val qNative = call_function("vec_int8", $"v", scale)
    val qHof = transform($"v", x => floor(x * scale + 0.5).cast("long"))
    val rows = vecs.select($"id",
      qNative.as("qn"), qHof.as("qh"),
      call_function("vec_lsum", qNative).as("sn"),
      aggregate(qHof, lit(0L), (acc, x) => acc + x).as("sh"),
      call_function("vec_l1sum", qNative).as("ln"),
      aggregate(qHof, lit(0L), (acc, x) => acc + abs(x)).as("lh")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"q null at ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"q at ${r.getLong(0)}")
      Seq((3, 4), (5, 6)).foreach { case (a, b) =>
        assert(r.isNullAt(a) === r.isNullAt(b), s"sum null at ${r.getLong(0)}")
        if (!r.isNullAt(a))
          assert(r.getLong(a) === r.getLong(b), s"sum at ${r.getLong(0)}")
      }
    }
    // the quantized max-abs element must hit exactly ±127
    val q6 = rows.find(_.getLong(0) == 6L).get.getSeq[Long](1)
    assert(q6.map(math.abs).max === 127L)
  }

  test("fused kernels stay inside whole-stage codegen (no interpreted eval)") {
    // A parquet scan, not a local Seq: Catalyst constant-folds projections
    // over LocalRelation, which would sidestep codegen entirely.
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
    val df = v.select(
      call_function("vec_l2norm", $"v").as("n"),
      call_function("vec_lsum",
        call_function("vec_int8", $"v", lit(2.0))).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` is the WholeStageCodegen stage marker in simpleString; the
    // kernels must sit INSIDE a span, not break it.
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("vec_l2norm")), plan)
    df.write.format("noop").mode("overwrite").save() // codegen actually compiles
  }

  test("extension: a new session resolves every native function before " +
    "any query registers one") {
    // every name an ExpressionInfo is built with, read from the sources
    // so a function left out of GraftExtensions.functions fails here
    val plans = java.nio.file.Paths.get("src", "main", "scala", "graft", "plans")
    val text = {
      val s = java.nio.file.Files.list(plans)
      try s.iterator().asScala.map(f => new String(
        java.nio.file.Files.readAllBytes(f), "UTF-8")).mkString("\n")
      finally s.close()
    }
    val spelled = """new ExpressionInfo\(\s*classOf\[\w+\]\.getName,\s*"([a-z0-9_]+)"\)"""
      .r.findAllMatchIn(text).map(_.group(1)).toList
    val names = spelled.toSet
    assert(names.contains("jaro_winkler") && names.size >= 20, names)
    assert(spelled.size === names.size,
      s"a name is spelled twice: ${spelled.diff(names.toList)}")
    val fresh = spark.newSession()
    val missing = names.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
  }

  test("building queries leaves every native function's registry entry " +
    "unchanged") {
    val registry = spark.sessionState.functionRegistry
    val names = GraftExtensions.functions.map(_._1.getName)
    def entries = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    val before = entries
    assert(names.size >= 20 && before.forall(_.isDefined), names.zip(before))
    Seq("sql_native_fns", "sim_maxsim_topk", "join_blocked_jaro")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir))
    val replaced = names.zip(before.zip(entries)).collect {
      case (n, (Some(a), Some(b))) if !(a eq b) => n
    }
    assert(replaced.isEmpty, s"registry entries replaced: $replaced")
  }

  test("sql surface: kernels callable through the extension-injected names") {
    vecs.createOrReplaceTempView("vx")
    val out = spark.sql(
      "SELECT id, vec_l2norm(v) AS n FROM vx WHERE id = 1").collect()
    assert(out.toSeq === Seq(Row(1L, 5.0)))
  }
}
