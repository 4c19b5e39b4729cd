package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Cut

/** One round's verdict, produced by the caller's `eval` callback: `rows`
  * is the materialized cardinality of the round output (drives the
  * adaptive small-state switch), `done` is the convergence decision. */
final case class RoundEval(rows: Long, done: Boolean)

/** The iterative-DataFrame fixpoint harness — the ONE place that owns the
  * three disciplines every convergence-checked DataFrame loop in this
  * engine needs (pointer doubling, large-star/small-star connected
  * components, and any future label-propagation/PageRank-shaped op):
  *
  *  1. **Persist lifecycle.** The loop state lives in [[graft.Cut.rounds]]:
  *     at most two generations are persisted at once, and the last one
  *     is released when the loop ends, converged or not. The result
  *     leaves the loop as a [[graft.Cut.eager]] cut, so nothing this
  *     helper returns is a CacheManager entry.
  *
  *  2. **Lineage-truncation cadence derived from the loop's plan
  *     fanout.** A step that references its input f times multiplies the
  *     LOGICAL plan by f per round — persist caches rows but does not
  *     shrink the analyzed tree, and past ~2^5 nodes the driver burns
  *     minutes in Catalyst tree walks while executors idle (measured 68 s
  *     of generateTreeString at planted depth 1024). The round output is
  *     re-wrapped in a LogicalRDD (`createDataFrame(plan.rdd, schema)`)
  *     every `floor(log_f 32)` rounds — every 5th round for f=2, EVERY
  *     round for f=8 — capping the plan at ~32 step applications. The
  *     wrap is free: the persist's own materialization is the only pass,
  *     and the recompute path if blocks are lost still falls back through
  *     the original lineage.
  *
  *  3. **Adaptive small-state execution in an ISOLATED child session.**
  *     Once a round's materialized row count is known tiny (< `smallRows`
  *     — the count rides the caller's convergence aggregation, zero extra
  *     jobs), per-round cost is pure scheduler latency: 32-way shuffles
  *     and AQE's per-stage materialization barriers on a few thousand
  *     rows. The loop then re-homes its state into `spark.newSession()` —
  *     same SparkContext, shared cache, but a PRIVATE SQLConf — with AQE
  *     off and `ceil(rows/100k)` shuffle partitions (measured 3.05 →
  *     1.60 s per CC query at sf0.1). The parent session's conf is never
  *     touched, so concurrent queries on the shared session can't observe
  *     the loop's scheduling overrides, as a set/restore on the shared
  *     conf would let them. Above the threshold nothing changes: full
  *     parallelism, AQE skew/coalesce — the 100 TB path is untouched.
  */
object Iterate {

  /** Run `step` to a fixpoint.
    *
    * @param initial   loop state; persisted by the harness unless the
    *                  caller already holds it persisted.
    * @param fanout    how many times `step`'s plan references its input
    *                  (2 for a self-join, ~8 for a star alternation) —
    *                  sets the lineage-truncation cadence.
    * @param maxIters  hard round cap; `onFail(iters)` becomes the
    *                  IllegalStateException message past it (a partial
    *                  fixpoint must never masquerade as converged).
    * @param smallRows threshold below which the loop drops to the
    *                  child-session small-state path.
    * @param narrow    projection from a round's (possibly wide,
    *                  convergence-bookkeeping) output to the next round's
    *                  input AND the final result.
    * @param init      optional sizing pass over the persisted initial
    *                  state: it MUST materialize every partition and
    *                  return the row count, letting the loop enter the
    *                  small-state path BEFORE round 1 (for CC the
    *                  convergence fingerprint doubles as this pass, so
    *                  round 1's ~8 shuffle stages never run at full
    *                  width on a tiny graph — measured 6.1 → 1.3 s for
    *                  the first alternation at sf0.1). Leave None when
    *                  the caller has no such pass to reuse: an extra
    *                  count over a 100 TB initial state just to maybe
    *                  enter a fast path for tiny inputs is a bad trade.
    * @param step      one round: input state -> unevaluated output plan.
    * @param eval      materialize + judge one persisted round output
    *                  (it MUST run an action that touches every partition
    *                  — that action is what populates the round's cache);
    *                  receives (persisted round output, previous state).
    * @return (result as a [[graft.Cut.eager]] cut, and the round count)
    */
  def fixpoint(
      initial: DataFrame,
      fanout: Int,
      maxIters: Int,
      smallRows: Long = 1L << 20,
      narrow: DataFrame => DataFrame = identity,
      init: Option[DataFrame => Long] = None)(
      step: DataFrame => DataFrame)(
      eval: (DataFrame, DataFrame) => RoundEval)(
      onFail: Int => String): (DataFrame, Int) = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    val truncateEvery =
      math.max(1, (math.log(32.0) / math.log(fanout.toDouble)).toInt)
    Cut.rounds(initial) { state =>
      var cur = state.current
      var iters = 0
      var done = false
      var child: Option[SparkSession] = None
      // Re-home the loop state into an isolated small-state session: the
      // child-session LogicalRDD reads the persisted blocks through the
      // wrapped RDD (no recompute); coalesce (no shuffle) folds the wide
      // layout down to np so the next round already runs at small width.
      def enterSmall(rows: Long): Unit = {
        val np = math.max(1L, math.min(32L, rows / 100000L)).toInt
        val s = cur.sparkSession.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", np.toString)
        child = Some(s)
        cur = s.createDataFrame(cur.rdd.coalesce(np), cur.schema)
      }
      init.foreach { sizing =>
        val rows = sizing(state.current)
        if (rows < smallRows) enterSmall(rows)
      }
      while (!done && iters < maxIters) {
        // Small mode feeds the step a repartition of the state. With
        // np == 1 this is an `Exchange SinglePartition` — and
        // SinglePartition satisfies EVERY clustered distribution, so the
        // whole round's aggregates and joins plan with ZERO hash
        // exchanges (one codegen stage chain + broadcasts). A LogicalRDD
        // input reports UnknownPartitioning even with one partition, so
        // without the explicit exchange every aggregate/join inserts its
        // own hashpartitioning(…, 1) shuffle — 5 extra stage barriers per
        // round of pure scheduler latency.
        val in = child.map(s => cur.repartition(
          s.conf.get("spark.sql.shuffle.partitions").toInt)).getOrElse(cur)
        val plan = step(in)
        val wrapped =
          if ((iters + 1) % truncateEvery == 0)
            plan.sparkSession.createDataFrame(plan.rdd, plan.schema)
          else plan
        val verdict = state.advance(wrapped)(eval(_, cur))
        cur = narrow(state.current)
        done = verdict.done
        iters += 1
        if (!done && child.isEmpty && verdict.rows < smallRows)
          enterSmall(verdict.rows)
      }
      if (!done) throw new IllegalStateException(onFail(iters))
      // cut the narrow projection from the final round's cache while
      // that generation is still persisted
      (Cut.eager(cur), iters)
    }
  }
}
