// Shim in the Spark namespace: classic.Dataset.ofRows is private[sql].
// Executing a tiny stats aggregate over the join children at plan time
// is how the rule derives its bucket width from the data, and
// H5ad.scanModalities wraps its grouped scan plan in a DataFrame.
package org.apache.spark.sql {
  object GraftPlanRun {
    def frame(spark: SparkSession,
        plan: catalyst.plans.logical.LogicalPlan): DataFrame =
      classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

    def head(spark: SparkSession,
        plan: catalyst.plans.logical.LogicalPlan): Row =
      frame(spark, plan).head()
  }
}

package graft.plans {

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

import scala.util.control.NonFatal

/** Optimizer rule: rewrite interval-overlap theta joins into bucketed
  * equi-joins (SURVEY.md §4.3 — the range-join weakness of vanilla Spark).
  *
  * Pattern: an inner join whose condition contains the overlap predicate
  *
  *   a_lo <= b_hi  AND  b_lo <= a_hi
  *
  * over integral columns from opposite sides and NO equi-join conjunct.
  * Vanilla Spark can only plan that as BroadcastNestedLoopJoin (or a
  * cartesian product) — O(|A|·|B|) comparisons and a broadcast
  * requirement. The rewrite explodes each interval into fixed-width
  * buckets and joins on bucket equality:
  *
  *   Generate(explode(sequence(lo div W, hi div W)))  on each side
  *   JOIN ON bucket_a = bucket_b            — hash-partitionable!
  *        AND <original overlap predicate>  — residual exactness
  *        AND bucket_a = greatest(a_lo div W, b_lo div W)
  *                                          — emit each pair exactly once
  *                                            (in its first shared bucket)
  *
  * The equality key makes the join shuffle-hash/sort-merge plannable: at
  * 100 TB both sides hash-partition by bucket and only bucket-local pairs
  * are compared. The canonical-bucket conjunct replaces a Distinct — no
  * extra shuffle for dedup.
  *
  * Preconditions (documented contract, standard for range-join
  * optimizers): intervals are well-formed (lo <= hi per row). The bucket
  * width is DERIVED from the data at plan time: one tiny min/max/avg
  * aggregate per side, then the [[deriveWidth]] cost model. A good width
  * respects BOTH the typical interval length (each interval should span
  * O(1) buckets — replication is 1 + length/W) AND the value DOMAIN
  * (key cardinality is domain/W; it must exceed the shuffle parallelism
  * or most cores idle — on a narrow domain, prefer the smallest W the
  * replication budget allows). When the stats are unavailable (an empty
  * side, a child plan the aggregate cannot run) the width is 50.
  *
  * The rewrite pins its shuffle at 2× the session's shuffle partitions:
  * this join class has dimension-sized INPUT but pair-volume OUTPUT, and
  * AQE sizes stages by shuffle-READ bytes — left to itself it coalesces
  * the join to single digits of tasks and one task computes the entire
  * pair explosion (measured at sf1: 37 tasks, 5-core average on a 150 s
  * run; pinned: 31.8 s). The 2× multiple smooths hash collisions when
  * domain/W is only a small multiple of the core count. Known trade: a
  * user-specified repartition opts out of AQE skew-splitting — bucket
  * skew is bounded by the uniform explode, and the canonical-bucket
  * conjunct keeps per-bucket output proportional to per-bucket input.
  *
  * Enabled via `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketAttrPrefix = "__graft_bucket_"

  /** Per-row span guard: an interval spanning more than this many
    * buckets raises a descriptive error instead of exploding into a
    * near-unbounded `sequence()` (array-size limit / OOM with a message
    * that wouldn't mention this rule). A width derived from the stats
    * never trips it: [[widthGrid]] starts at the width that keeps the
    * longest interval under the cap. */
  private val MaxSpanBuckets = 4096L

  /** Partition count of the bucket shuffle (see class doc). */
  private def numPartitions: Int = conf.numShufflePartitions * 2

  /** Plan-time interval stats for one join side: (min lo, max hi,
    * mean length, max length). One tiny global aggregate executed at
    * optimization time — the range-join input is dimension-sized by
    * this rule's own contract (pair-volume OUTPUT is the blow-up, not
    * the input), so the scan is cheap relative to the join it tunes,
    * and the result is memoized per canonicalized (child, lo, hi) so
    * optimizer re-application (fixed-point batches, multi-pass) pays
    * once. None on any failure → caller falls back to the fixed
    * default. */
  private def sideStats(child: LogicalPlan, lo: Expression,
      hi: Expression): Option[(Long, Long, Double, Long)] = {
    // Keyed on the CANONICALIZED plan/expressions themselves, not their
    // hashes: a hash collision would silently reuse another
    // plan's interval stats and derive a wrong width (perf-only, but the
    // whole point of measuring is not to guess). Canonicalized trees
    // compare structurally, and the 64-entry clear bounds retention.
    val key = (child.canonicalized, lo.canonicalized, hi.canonicalized)
    statsCache.get(key) match {
      case Some(v) => v
      case None =>
        val v =
          try {
            val loL = Cast(lo, LongType)
            val hiL = Cast(hi, LongType)
            val len = Subtract(Cast(hi, LongType), Cast(lo, LongType))
            val aggs = Seq(
              Alias(Min(loL).toAggregateExpression(), "mn")(),
              Alias(Max(hiL).toAggregateExpression(), "mx")(),
              Alias(Cast(Average(len).toAggregateExpression(),
                DoubleType), "av")(),
              Alias(Max(len).toAggregateExpression(), "ml")())
            val spark = SparkSession.active
            val r = org.apache.spark.sql.GraftPlanRun.head(spark,
              Aggregate(Nil, aggs, child))
            if ((0 to 3).exists(r.isNullAt)) None
            else Some((r.getLong(0), r.getLong(1), r.getDouble(2),
              r.getLong(3)))
          } catch { case NonFatal(_) => None }
        statsCache.synchronized {
          if (statsCache.size > 64) statsCache.clear()
          statsCache.update(key, v)
        }
        v
    }
  }
  private val statsCache =
    scala.collection.concurrent.TrieMap
      .empty[(LogicalPlan, Expression, Expression),
        Option[(Long, Long, Double, Long)]]

  /** MEASURED mean bucket replication per candidate width — one more
    * aggregate per side, every grid width as a column of the same row:
    * avg(hi divW − lo divW) + 1 under the exact IntegralDivide the
    * bucket Generate uses. Exists because the closed-form 1 + len/W
    * is blind to LATTICE ALIGNMENT: an sf1 A/B measured W=9 at
    * 1.62× the task time of W=10 on the demo data — a_lo is a multiple
    * of 10, so W=10 spans exactly 3 buckets per interval where the
    * average-length model predicted 3.5 vs 3.78 (a 6% difference that
    * was really 26%). Empty map on failure → caller falls back to the
    * closed form. */
  private def replStats(child: LogicalPlan, lo: Expression,
      hi: Expression, grid: Seq[Long]): Map[Long, Double] = {
    val key = (child.canonicalized, lo.canonicalized, hi.canonicalized,
      grid)
    replCache.get(key) match {
      case Some(v) => v
      case None =>
        val v =
          try {
            val aggs = grid.map { w =>
              val span = Subtract(divW(hi, w), divW(lo, w))
              Alias(Cast(Average(span).toAggregateExpression(),
                DoubleType), s"r$w")()
            }
            val r = org.apache.spark.sql.GraftPlanRun.head(
              SparkSession.active, Aggregate(Nil, aggs, child))
            if (grid.indices.exists(r.isNullAt)) Map.empty[Long, Double]
            else grid.zipWithIndex
              .map { case (w, i) => w -> (r.getDouble(i) + 1.0) }.toMap
          } catch { case NonFatal(_) => Map.empty[Long, Double] }
        replCache.synchronized {
          if (replCache.size > 64) replCache.clear()
          replCache.update(key, v)
        }
        v
    }
  }
  private val replCache = scala.collection.concurrent.TrieMap
    .empty[(LogicalPlan, Expression, Expression, Seq[Long]),
      Map[Long, Double]]

  /** Candidate widths: geometric ×1.15 (≥ +1) from the span-guard
    * floor up to the domain, capped at 64 evaluations. */
  private[graft] def widthGrid(domain: Long, maxLen: Long,
      spanCap: Long): Seq[Long] = {
    val wMin = math.max(1L, (maxLen + spanCap - 1) / spanCap)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var w = wMin
    while (w <= math.max(domain, wMin) && buf.size < 64) {
      buf += w
      w = math.max(w + 1, (w * 1.15).toLong)
    }
    buf.toSeq
  }

  /** Pick the width minimizing the rule's cost model over the grid,
    * with MEASURED mean replications (see [[replStats]]):
    *
    *   candidates(W) ∝ replA(W) · replB(W) · W / domain
    *     (per-bucket co-occupancy: |A|·replA/K · |B|·replB/K summed
    *      over K = domain/W keys)
    *   parallelism(W) = min(domain / W, numPartitions)
    *   cost(W) = candidates(W) / parallelism(W)
    *
    * Small W buys parallelism (more bucket keys) at extra replication
    * and candidate volume; large W cuts replication but starves the
    * shuffle — the two-sided constraint a hand-tuned width balances.
    * With the measured replications this lands ON the hand-tuned
    * optimum for the demo (W=10: the lattice-aligned 3-bucket span
    * beats W=9's 3.78 despite fewer keys); the closed-form fallback
    * (repl = 1 + meanLen/W, used when the repl job fails) lands in the
    * same regime one notch lower. The grid's span-guard floor keeps
    * auto mode from ever tripping the per-row span error. */
  private[graft] def deriveWidth(domain: Long, grid: Seq[Long],
      replA: Long => Double, replB: Long => Double, parts: Int): Long = {
    val dom = math.max(domain, 1L).toDouble
    def cost(w: Long): Double = {
      val cand = replA(w) * replB(w) * w / dom
      val par = math.min(dom / w, parts.toDouble).max(1.0)
      cand / par
    }
    grid.minBy(w => cost(w)) // ties resolve to the smaller width
  }

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The overlap bounds (aLo, aHi, bLo, bHi) of a join this rule
    * rewrites: an inner join, not yet bucketed, whose condition holds
    * `aLo <= bHi AND bLo <= aHi` with a* referencing only the left side
    * and b* only the right, and no cross-side equi conjunct. */
  private def overlap(j: Join)
      : Option[(Expression, Expression, Expression, Expression)] = j match {
    case Join(left, right, Inner, Some(cond), _)
        if !j.output.exists(_.name.startsWith(BucketAttrPrefix)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // No equi conjunct across sides — otherwise Spark already has a key.
      val hasEqui = conjuncts.exists {
        case EqualTo(l, r) =>
          (l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
            (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet))
        case _ => false
      }
      // Normalize each cross-side <= into (leftExpr, rightExpr) meaning
      // leftExpr <= rightExpr.
      def asLe(e: Expression): Option[(Expression, Expression)] = e match {
        case LessThanOrEqual(l, r) => Some((l, r))
        case GreaterThanOrEqual(l, r) => Some((r, l))
        case _ => None
      }
      def fromLeft(e: Expression) =
        e.references.nonEmpty && e.references.subsetOf(left.outputSet) && isIntegral(e)
      def fromRight(e: Expression) =
        e.references.nonEmpty && e.references.subsetOf(right.outputSet) && isIntegral(e)
      val les = conjuncts.flatMap(asLe)
      // a_lo <= b_hi : left-expr <= right-expr
      val lr = les.filter { case (l, r) => fromLeft(l) && fromRight(r) }
      // b_lo <= a_hi : right-expr <= left-expr
      val rl = les.filter { case (l, r) => fromRight(l) && fromLeft(r) }
      (lr, rl) match {
        case (Seq((aLo, bHi)), Seq((bLo, aHi))) if !hasEqui =>
          Some((aLo, aHi, bLo, bHi))
        case _ => None
      }
    case _ => None
  }

  private def divW(e: Expression, w: Long): Expression =
    new IntegralDivide(Cast(e, LongType), Literal(w))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join => overlap(j).fold[LogicalPlan](j)(o => rewrite(j, width(j, o)))
  }

  /** The bucket width for an overlap join: measure both sides and
    * minimize the cost model. The chosen width and its source land in
    * the bench attribution so a slow range join names its own tuning. */
  private def width(j: Join,
      o: (Expression, Expression, Expression, Expression)): Long = {
    val (aLo, aHi, bLo, bHi) = o
    (sideStats(j.left, aLo, aHi), sideStats(j.right, bLo, bHi)) match {
      case (Some((amn, amx, aav, aml)), Some((bmn, bmx, bav, bml))) =>
        val domain = math.max(amx, bmx) - math.min(amn, bmn) + 1
        val grid = widthGrid(domain, math.max(aml, bml), MaxSpanBuckets)
        // measured replication where the job succeeds, the closed-form
        // 1 + meanLen/W where it doesn't
        val ra = replStats(j.left, aLo, aHi, grid)
        val rb = replStats(j.right, bLo, bHi, grid)
        def repl(m: Map[Long, Double], meanLen: Double)(wc: Long): Double =
          m.getOrElse(wc, 1.0 + meanLen / wc)
        val dw = deriveWidth(domain, grid, repl(ra, aav), repl(rb, bav),
          numPartitions)
        graft.Attrib.note("range_join_width", dw)
        graft.Attrib.note("range_join_width_source",
          if (ra.nonEmpty && rb.nonEmpty) "auto-measured"
          else "auto-closed-form")
        dw
      case _ =>
        graft.Attrib.note("range_join_width", 50L)
        graft.Attrib.note("range_join_width_source", "fallback")
        50L
    }
  }

  /** `j` as a bucketed equi-join at bucket width `w`; `j` must be an
    * overlap join (see [[overlap]]). */
  private[graft] def rewrite(j: Join, w: Long): LogicalPlan = {
    val (aLo, aHi, bLo, bHi) = overlap(j).getOrElse(
      throw new IllegalArgumentException(s"not an interval-overlap join: $j"))
    // sequence() over non-null integral bounds yields non-null
    // elements; the attr nullability must match Explode's schema.
    val bucketL = AttributeReference(BucketAttrPrefix + "l", LongType,
      nullable = false)()
    val bucketR = AttributeReference(BucketAttrPrefix + "r", LongType,
      nullable = false)()
    def gen(child: LogicalPlan, lo: Expression, hi: Expression,
        out: AttributeReference) = {
      val loB = divW(lo, w)
      val hiB = divW(hi, w)
      // Post-analysis construction: TimeZoneAwareExpression needs
      // an explicit timeZoneId to count as resolved.
      val seq = Sequence(loB, hiB, None, Some(conf.sessionLocalTimeZone))
      // Per-row span guard: fail with a message that names the rule
      // rather than an opaque array-size error.
      val guarded = If(
        LessThanOrEqual(Subtract(hiB, loB), Literal(MaxSpanBuckets)),
        seq,
        Cast(new RaiseError(Literal(
          s"graft.plans.RangeJoinRewrite: interval spans more than " +
            s"$MaxSpanBuckets buckets at bucketWidth=$w")), seq.dataType))
      Generate(Explode(guarded),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(out), child = child)
    }
    val n = numPartitions
    val newLeft = RepartitionByExpression(
      Seq(bucketL), gen(j.left, aLo, aHi, bucketL), Some(n))
    val newRight = RepartitionByExpression(
      Seq(bucketR), gen(j.right, bLo, bHi, bucketR), Some(n))
    val canonical = EqualTo(bucketL,
      Greatest(Seq(divW(aLo, w), divW(bLo, w))))
    val newCond = And(And(EqualTo(bucketL, bucketR), j.condition.get),
      canonical)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }
}

} // package graft.plans
