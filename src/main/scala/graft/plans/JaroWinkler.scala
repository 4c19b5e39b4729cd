package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity as a native codegen Expression —
  * Spark ships `levenshtein` but no Jaro-Winkler, and entity-resolution
  * blocking (names, addresses, short labels) is exactly where JW beats
  * edit distance: it weights shared prefixes and tolerates adjacent
  * transpositions, the two dominant typo classes in human-keyed keys.
  *
  * Semantics are the textbook McLaughlin/Winkler definition, pinned
  * empirically against DuckDB's `jaro_winkler_similarity` (the oracle
  * engine) before implementation:
  *   - match window = max(|a|,|b|)/2 - 1, floored at 0;
  *   - transpositions = half the matched-but-misordered count;
  *   - either side empty → 0.0 (both engines, INCLUDING both empty);
  *   - Winkler boost `j + 0.1·ℓ·(1-j)` (ℓ = common prefix, capped at 4)
  *     applies only when jaro > 0.7 (verified: 0.6667 stays unboosted,
  *     0.7667 boosts).
  *
  * Comparison is BYTE-wise over UTF-8 (identical to DuckDB for ASCII;
  * multi-byte text compares by byte like the repo's other byte-exact
  * bridges — document text here is generated ASCII, asserted in
  * MultimodalSpec's corpus invariant).
  *
  * Scale: O(|a|·window) per pair, zero allocation beyond two small
  * boolean scratch arrays, fully inside whole-stage codegen via a
  * static call — the right shape for a blocked similarity join where
  * the pair generator (block equi-join) does the pruning and this
  * expression scores millions of candidate pairs per task.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (STRING, STRING), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.sim(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.JaroWinkler.sim($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  /** Static kernel (called from generated code via the companion's
    * static forwarder). Byte-wise; see class doc for the contract. */
  def sim(u1: UTF8String, u2: UTF8String): Double = {
    val a = u1.getBytes
    val b = u2.getBytes
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val amatch = new Array[Boolean](la)
    val bmatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bmatch(j) && a(i) == b(j)) {
          amatch(i) = true; bmatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // misordered matched pairs, counted pairwise then halved. The count
    // can be ODD (a 3-cycle permutation of the matched subsequence, e.g.
    // "abcZZZ" vs "cabZZZ" gives t=3), so integer division FLOORS here —
    // cross-engine equality relies on DuckDB's jaro_winkler_similarity
    // flooring identically, pinned by JaroWinklerSpec's odd-transposition
    // case (DuckDB = 0.9444444444444445 = (1+1+(6-1)/6)/3, i.e. floor).
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (amatch(i)) {
        while (!bmatch(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a(l) == b(l)) l += 1
    jaro + 0.1 * l * (1.0 - jaro)
  }

  private[plans] val info =
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "jaro_winkler(string, string)")
    JaroWinkler(exprs(0), exprs(1))
  }
}
