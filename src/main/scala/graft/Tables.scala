package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table catalog for the driver-generated testdata star schema
  * (TESTDATA.md). At production scale these would be partitioned
  * directories; here each table is one parquet file. Always read with
  * `spark.read.parquet` so filter pushdown / column pruning reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Base-table DataFrames are a `Derived` entry per (session, dir,
  // table). `spark.read.parquet` pays a driver-side file listing +
  // parquet footer read (schema inference) on EVERY call, and the suite
  // calls `t` ~900 times per sweep — measured as a visible slice of the
  // per-query "construction" phase (PhaseTime, r17). This is METADATA
  // caching only — exactly what a catalog/metastore table provides —
  // never result caching: every execution still scans the parquet. A
  // rewrite of the table changes its signature and re-reads it; the
  // session in the key isolates concurrent test sessions; DataFrames are
  // immutable, so sharing one plan object across queries is safe (a
  // self-join of the same relation goes through Spark's standard
  // DeduplicateRelations, the `val df = ...; df.join(df)` shape).
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Derived.get(spark, "table", dir, name, spark) { _ =>
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // `events.ts` is TIMESTAMP(NANOS) parquet, which Spark has no native
      // type for: sessions set spark.sql.legacy.parquet.nanosAsLong, and the
      // loader truncates to microsecond TimestampType here (identical to
      // DuckDB's epoch_us for positive epochs).
      df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case None => df
      }
    }

  /** Register every table as a temp view (for spark.sql-based queries).
    * A view that already wraps the frame [[t]] serves is kept (creating
    * the 10 views took ~45 ms at sf0.01 on 4 cores, checking them under
    * 1 ms); a table rewritten since, which `t` serves as a new frame,
    * gets its view replaced. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = t(spark, dir, n)
      val plan = df.queryExecution.analyzed
      if (!spark.sessionState.catalog.getRawTempView(n)
          .exists(_.plan.exists(_ eq plan)))
        df.createOrReplaceTempView(n)
    }
}

/** Determinism helpers shared by every oracle-checked query.
  *
  * Cross-engine float discipline (vs the DuckDB oracle):
  *  - per-row double arithmetic (+,-,*,/ on the same inputs) is IEEE-754
  *    bit-identical across engines → safe to emit raw;
  *  - double AGGREGATION order is engine/partition dependent → always sum
  *    through an exact DECIMAL cast, then CAST the final result to DOUBLE;
  *  - transcendental fns (log, pow) may differ in the last ulp → round.
  *  - the bare double→DECIMAL cast is itself engine-divergent at the
  *    target-scale tie (Spark rounds the double's SHORTEST decimal
  *    string, DuckDB the exact binary value): safe for raw parquet
  *    columns with few decimal digits, but COMPUTED doubles (quotients,
  *    products) must go through the engine-stable `round(y*1e6)/1e6`
  *    BEFORE the cast — [[U.dec6r]]; measured in ml_gmm (2/1500
  *    per-customer means flipped at the 1e-6 tie, drifting EM params).
  *  - `events.ts` carries sub-microsecond precision that Spark truncates on
  *    read → order/compare timestamps via `unix_micros` (oracle: epoch_us).
  */
object U {
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
  def dbl(c: Column): Column = c.cast(DoubleType)
  def lng(c: Column): Column = c.cast(LongType)
  /** Exact (decimal-bridged) double sum, deterministic at any parallelism. */
  def dsum(c: Column): Column = dbl(sum(dec4(c)))
  /** Microsecond epoch — the canonical event-time ordering key. */
  def tsUs(c: Column): Column = unix_micros(c)

  /** Cross-engine 6-decimal rounding for RATIO columns.
    *
    * `round(x, 6)` is NOT engine-stable on doubles: Spark rounds the
    * shortest decimal string of the double (BigDecimal.valueOf), DuckDB
    * rounds the exact binary value — they disagree whenever the quotient
    * of small integers lands on an exact 7-decimal half (e.g.
    * 333/640 = 0.5203125 → 0.520313 vs 0.520312; bit us at sf0.1).
    * `round(x * 1e6) / 1e6` is stable: both engines agree on rounding at
    * integer halves (half-up == half-away-from-zero for the magnitudes
    * here), and the final division of identical values is exact IEEE.
    * Oracle SQL must use the same spelling:
    * `round(x * 1000000) / 1000000`. Only needed where x is a ratio of
    * small integers; transcendental outputs can keep `round(x, 6)`
    * (boundary probability ~0) but the helper is always safe for
    * |x| < 2^53 / 1e6. */
  def round6(c: Column): Column = round(c * lit(1e6)) / lit(1e6)

  /** Engine-stable 1e-6 decimal quantization of a COMPUTED double:
    * [[round6]] first (both engines round the same double at integer
    * halves identically), then the decimal cast — whose tie is now
    * ~1e-10 away on both sides instead of wherever the computed value
    * landed. Oracle spelling:
    * `CAST(round(y * 1000000) / 1000000 AS DECIMAL(18,6))`. */
  def dec6r(c: Column): Column = dec6(round6(c))

  /** Driver/aggregator-side twin of `dec6r` as a 1e-6 micro-unit Long:
    * replicates Spark's `round(x·1e6)` half-up-on-the-shortest-decimal-
    * string semantics (Round on DOUBLE goes through BigDecimal.valueOf)
    * so a typed Aggregator can integer-sum what a Column pipeline would
    * have decimal-summed, bit-identically. Fast path: when x·1e6 is
    * farther than 1e-8·max(1,|y|·1e-7) from a rounding tie, string and
    * binary rounding provably agree (shortest string is within 1 ulp). */
  def r6MicroLong(x: Double): Long = {
    val y = x * 1e6
    val f = math.floor(y)
    val frac = y - f
    val guard = math.max(1e-8, math.abs(y) * 1e-15)
    if (math.abs(frac - 0.5) > guard) {
      if (frac >= 0.5) f.toLong + 1L else f.toLong
    } else {
      java.math.BigDecimal.valueOf(y)
        .setScale(0, java.math.RoundingMode.HALF_UP)
        .longValueExact()
    }
  }

  /** Round-robin fan-out to the session's shuffle parallelism.
    *
    * The testdata tables are single-row-group parquet files, so a scan
    * is ONE partition no matter what `maxPartitionBytes` says (a row
    * group is the atomic scan unit) — and any map-heavy pipeline that
    * does its expensive work BEFORE the first exchange (a ×B replicate
    * explode, a broadcast-nested-loop pair generation) runs serial on
    * one task. One cheap narrow-row shuffle up front buys full-core
    * parallelism for everything after it; measured: the exact-kNN
    * all-pairs stage sat at load ~1 on 32 cores without it. On a real
    * multi-file layout the scan already has its parallelism and this
    * is one redundant (row-count-bounded, narrow) exchange. */
  def fan(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
}
