package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-collect bounds, checked in one place. Every site that brings a
  * frame to the driver goes through [[rows]] (fast paths that fall back
  * to a distributed plan above the cap) or [[collect]] (sites with no
  * fallback, which fail loudly above it).
  *
  * The probe is one `limit(cap + 1).collect()`: a single action that
  * caches nothing, and at most cap+1 rows ever reach the driver. Getting
  * at most cap rows back proves the frame is complete and within the
  * bound; cap+1 rows prove it is not, and the caller runs its
  * distributed plan on the frame it already holds. Partition order is
  * the same as a plain `collect()`.
  */
object Bounded {

  /** Edge/row ceiling for the driver-side graph, union-find and
    * pointer-chase fast paths: 1M edges is tens of MB transient on the
    * driver, far under the bench/verify heap and far over any test-SF
    * edge set. Above it the distributed rounds run (the 100 TB path). */
  val DriverEdgeCap: Long = 1000000L

  /** Distinct-word ceiling for driver-side tokenizer training. Training
    * reads the word vocabulary (distinct words × freq), which the
    * language bounds, not the corpus: 100k entries are a few MB on the
    * driver. Under it the sequential merge rounds (each a few tiny Spark
    * jobs) run as one collect plus a driver loop. */
  val DriverVocabCap: Long = 100000L

  /** All rows of `df` if it has at most `cap` of them, else None. One
    * action; at most cap+1 rows reach the driver. `Dataset.limit` takes
    * an Int, so the limit is clamped: no Scala array holds more than
    * Int.MaxValue rows anyway. */
  def rows(df: DataFrame, cap: Long): Option[Array[Row]] = {
    val n = math.min(math.max(cap, 0L), Int.MaxValue - 1L).toInt + 1
    val got = df.limit(n).collect()
    if (got.length <= cap) Some(got) else None
  }

  /** All rows of `df`; throws, naming `why`, if there are more than
    * `cap`. For sites that have no distributed fallback. */
  def collect(df: DataFrame, cap: Long, why: String): Array[Row] =
    rows(df, cap).getOrElse(throw new IllegalArgumentException(
      s"$why: more than $cap rows, beyond its driver-collect bound"))

  /** Run a fast-path probe and note which path the site takes:
    * `<site>_path` = `driver` when the probe returned rows, else
    * `distributed`. */
  def path[A](site: String)(probe: => Option[A]): Option[A] = {
    val got = probe
    Attrib.note(s"${site}_path", if (got.isDefined) "driver" else "distributed")
    got
  }
}
