package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture (one JVM-wide session across suites — Spark
  * session startup dominates test wall-clock otherwise). Config mirrors
  * Verify/Bench: UTC, ANSI off, nanos-as-long, small shuffle parallelism.
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // lower the runtime bloom-filter gate (Spark's default is 10 GB of
      // application-side scan) so the runtime-filter plan shape is
      // assertable at test SF
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}
