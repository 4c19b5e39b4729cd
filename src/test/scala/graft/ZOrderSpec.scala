package graft

import graft.plans.ZOrder64
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zorder64 interleaves bits (known values, eval == codegen)") {
    // x=0b101 (bits 0,2 → even positions 0,4), y=0b011 (bits 0,1 → odd
    // positions 1,3): z = 0b101 | 0b1010 at spread positions
    def morton(x: Long, y: Long): Long =
      ZOrder64.spread(x) | (ZOrder64.spread(y) << 1)
    assert(morton(0, 0) === 0L)
    assert(morton(1, 0) === 1L)
    assert(morton(0, 1) === 2L)
    assert(morton(1, 1) === 3L)
    assert(morton(5, 3) === (1L | (1L << 4) | (1L << 1) | (1L << 3)))
    // codegen path through a real plan matches the driver-side reference
    val rows = Seq((0L, 0L), (1L, 0L), (5L, 3L), (12345L, 67890L),
      (0xffffffffL, 0xffffffffL))
      .toDF("x", "y")
      .select($"x", $"y", call_function("zorder64", $"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (x, y, z) => assert(z === morton(x, y), s"($x,$y)") }
    // full-width interleave of all-ones = all-ones
    assert(rows.last._3 === -1L)
    // out-of-range inputs fail loudly instead of silently wrapping
    val e = intercept[Exception] {
      Seq((1L << 33, 0L)).toDF("x", "y")
        .select(call_function("zorder64", $"x", $"y")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("zorder64 input")), msgs(e).mkString("|"))
  }

  test("z-order file clustering tightens per-file ranges on BOTH dimensions") {
    // 64x64 grid written 4 ways; per-file (max-min) spread of x and y
    // under z-order sort must beat the single-column sort on the OTHER
    // column — the data-skipping win for two-dimensional predicates.
    val grid = spark.range(0, 64L * 64).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val nFiles = 16
    def perFileSpread(sorted: org.apache.spark.sql.DataFrame): (Double, Double) = {
      // emulate file assignment: contiguous chunks of the sorted order
      val chunk = sorted.count() / nFiles
      val chunked = sorted
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("s")))
        .withColumn("file", ((col("rn") - 1) / chunk).cast("int"))
        .groupBy("file")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).head()
      (chunked.getDouble(0), chunked.getDouble(1))
    }
    val byX = perFileSpread(grid.withColumn("s", col("x") * 4096 + col("y")))
    val byZ = perFileSpread(grid.withColumn("s",
      call_function("zorder64", col("x"), col("y"))))
    // x-sort: x is perfectly clustered but y spans the full domain
    assert(byX._2 > 60.0, s"byX=$byX")
    // z-sort: BOTH dimensions stay in tight quadrants per file
    assert(byZ._1 < 32.0 && byZ._2 < 32.0, s"byZ=$byZ")
  }
}
