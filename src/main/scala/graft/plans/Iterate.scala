package graft.plans

import org.apache.spark.sql.DataFrame

import graft.Cut

/** The iterative-DataFrame fixpoint harness — the ONE place that owns the
  * two disciplines every convergence-checked DataFrame loop in this
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
  * Every round runs in the input's session at its full shuffle width,
  * with AQE's coalescing: a loop whose state is small enough for the
  * driver never gets here, because each caller first probes it through
  * [[graft.Bounded]] and solves it locally under the cap.
  */
object Iterate {

  /** Run `step` to a fixpoint.
    *
    * @param start     loop state; persisted by the harness unless the
    *                  caller already holds it persisted.
    * @param fanout    how many times `step`'s plan references its input
    *                  (2 for a self-join, ~8 for a star alternation) —
    *                  sets the lineage-truncation cadence.
    * @param maxIters  hard round cap; `onFail(iters)` becomes the
    *                  IllegalStateException message past it (a partial
    *                  fixpoint must never masquerade as converged).
    * @param narrow    projection from a round's (possibly wide,
    *                  convergence-bookkeeping) output to the next round's
    *                  input AND the final result.
    * @param step      one round: input state -> unevaluated output plan.
    * @param eval      materialize + judge one persisted round output
    *                  (it MUST run an action that touches every partition
    *                  — that action is what populates the round's cache);
    *                  receives (persisted round output, previous state)
    *                  and returns whether the loop has converged.
    * @return (result as a [[graft.Cut.eager]] cut, and the round count)
    */
  def fixpoint(
      start: DataFrame,
      fanout: Int,
      maxIters: Int,
      narrow: DataFrame => DataFrame = identity)(
      step: DataFrame => DataFrame)(
      eval: (DataFrame, DataFrame) => Boolean)(
      onFail: Int => String): (DataFrame, Int) = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    val truncateEvery =
      math.max(1, (math.log(32.0) / math.log(fanout.toDouble)).toInt)
    Cut.rounds(start) { state =>
      var cur = state.current
      var iters = 0
      var done = false
      while (!done && iters < maxIters) {
        val plan = step(cur)
        val wrapped =
          if ((iters + 1) % truncateEvery == 0)
            plan.sparkSession.createDataFrame(plan.rdd, plan.schema)
          else plan
        done = state.advance(wrapped)(eval(_, cur))
        cur = narrow(state.current)
        iters += 1
      }
      if (!done) throw new IllegalStateException(onFail(iters))
      // cut the narrow projection from the final round's cache while
      // that generation is still persisted
      (Cut.eager(cur), iters)
    }
  }
}
