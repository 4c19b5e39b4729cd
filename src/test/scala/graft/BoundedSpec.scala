package graft

/** The driver-collect probe: at most cap rows come back as Some, more
  * as None, for every cap including the extremes the fast-path
  * parity tests pass (0 forces the distributed path, Long.MaxValue the
  * driver path). The probe caches nothing. */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  private def ints(n: Int) = (1 to n).toDF("x")

  test("cap 0: an empty frame takes the driver path, one row does not") {
    assert(Bounded.rows(ints(0), 0L).map(_.length) === Some(0))
    assert(Bounded.rows(ints(1), 0L) === None)
  }

  test("exactly cap rows come back whole; cap + 1 rows give None") {
    val five = Bounded.rows(ints(5), 5L)
    assert(five.map(_.map(_.getInt(0)).toSet) === Some((1 to 5).toSet))
    assert(Bounded.rows(ints(6), 5L) === None)
  }

  test("cap = Long.MaxValue clamps the limit without overflow") {
    assert(Bounded.rows(ints(3), Long.MaxValue).map(_.length) === Some(3))
    assert(Bounded.rows(ints(3), Int.MaxValue.toLong).map(_.length) ===
      Some(3))
  }

  test("collect returns the rows under the cap and names its site " +
    "above it") {
    assert(Bounded.collect(ints(2), 2L, "tiny dim").length === 2)
    val e = intercept[IllegalArgumentException](
      Bounded.collect(ints(3), 2L, "tiny dim lookup"))
    assert(e.getMessage.contains("tiny dim lookup"))
    assert(e.getMessage.contains("2"))
  }

  test("path notes driver when the probe returns rows, else distributed") {
    Attrib.drain()
    assert(Bounded.path("probe_spec")(Bounded.rows(ints(1), 1L)).isDefined)
    assert(Attrib.drain().toMap.get("probe_spec_path") === Some("driver"))
    assert(Bounded.path("probe_spec")(Bounded.rows(ints(2), 1L)).isEmpty)
    assert(Attrib.drain().toMap.get("probe_spec_path") ===
      Some("distributed"))
  }

  test("a probe leaves the persisted RDD set unchanged") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = ints(50).select(($"x" % 7).as("k")).distinct()
    assert(Bounded.rows(df, 100L).map(_.length) === Some(7))
    assert(Bounded.rows(df, 3L) === None)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}
