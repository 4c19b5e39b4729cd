package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point and the one way native functions
  * reach a session: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (set by [[graft.GraftSession.configure]]) injects every function in
  * [[GraftExtensions.functions]] plus the optimizer rules below into
  * each session, so no query touches the function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (info, builder) =>
      ext.injectFunction((FunctionIdentifier(info.getName), info, builder))
    }
    // Interval-overlap theta joins → bucketed equi-joins (no BNLJ).
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // Transparent materialized-view rewrite for subsumed aggregates.
    ext.injectOptimizerRule(s => new MvRewrite(s))
  }
}

object GraftExtensions {
  /** Every native function as (info, validated builder); the SQL name
    * is `info.getName`, spelled once where the info is built. */
  private[graft] val functions: Seq[(ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      PolyHash64.info -> PolyHash64.builder,
      MinHashSig.info -> MinHashSig.builder,
      SimHash64.info -> SimHash64.builder,
      NearestCentroid.info -> NearestCentroid.builder,
      ZOrder64.info -> ZOrder64.builder,
      GramStats.info -> GramStats.builder,
      WordKGrams.info -> WordKGrams.builder,
      GopherRep.info -> GopherRep.builder,
      CharEntropyStats.info -> CharEntropyStats.builder,
      JaroWinkler.info -> JaroWinkler.builder,
      BpeMerge.info -> BpeMerge.builder) ++ VectorExprs.entries
}
