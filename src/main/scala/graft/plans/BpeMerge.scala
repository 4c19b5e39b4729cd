package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Ordered BPE merge application: `bpe_merge(symbols, rules)` applies
  * each rule `"a b"` (two space-separated symbols) in sequence to the
  * symbol array, replacing adjacent (a, b) pairs with the concatenation
  * `ab` greedily left-to-right non-overlapping — the classic BPE apply
  * step (Sennrich et al. 2016). A rule may carry an explicit merged
  * spelling as a third field `"a b m"` (byte-level BPE needs it:
  * decimal byte symbols join with `_` because plain concatenation is
  * ambiguous — `[1,11]` and `[11,1]` both concat to `"111"`); symbols
  * never contain spaces in either family, so the 3-field form is
  * unambiguous and the 2-field form keeps its `ab` default. A codegen'd
  * kernel rather than a lambda chain because the equivalent HOF
  * composition would be one interpreted `aggregate()` fold PER RULE per
  * row — on the tokenize path over a corpus, the same
  * interpreted-lambda bottleneck that motivated [[WordKGrams]] and
  * [[MinHashSig]].
  *
  * Null semantics: null symbol array → null result; null RULE entries
  * are skipped; null symbols inside the array never merge (compared by
  * value, null matches nothing) and pass through unchanged.
  */
case class BpeMerge(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bpe_merge requires (ARRAY<STRING>, ARRAY<STRING>), " +
          s"got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "bpe_merge"

  override protected def nullSafeEval(syms: Any, rules: Any): Any =
    BpeMerge.compute(
      syms.asInstanceOf[ArrayData], rules.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, r) => {
      val helper = BpeMerge.getClass.getName.stripSuffix("$") + ".compute"
      s"${ev.value} = $helper($s, $r);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeMerge =
    copy(left = newLeft, right = newRight)
}

object BpeMerge {
  private val SPACE = UTF8String.fromString(" ")

  /** Greedy non-overlapping left-to-right application of each rule in
    * order. Static so generated code calls it directly. */
  def compute(symsIn: ArrayData, rulesIn: ArrayData): ArrayData = {
    val n0 = symsIn.numElements()
    var cur = new Array[UTF8String](n0)
    var len = n0
    var i = 0
    while (i < n0) {
      cur(i) = if (symsIn.isNullAt(i)) null else symsIn.getUTF8String(i)
      i += 1
    }
    val nRules = rulesIn.numElements()
    var r = 0
    while (r < nRules) {
      if (!rulesIn.isNullAt(r)) {
        val rule = rulesIn.getUTF8String(r)
        val sep = rule.indexOf(SPACE, 0)
        if (sep > 0) {
          val a = rule.substring(0, sep)
          val sep2 = rule.indexOf(SPACE, sep + 1)
          val b =
            if (sep2 > sep) rule.substring(sep + 1, sep2)
            else rule.substring(sep + 1, rule.numChars())
          val merged =
            if (sep2 > sep) rule.substring(sep2 + 1, rule.numChars())
            else UTF8String.concat(a, b)
          // 3-field rules take everything after the second space as
          // the merged spelling; a spelling that itself contains a
          // space would be mis-split if it ever appeared on the left
          // side of a later rule — fail loudly instead of silently
          // producing a space-bearing symbol (ADVICE r16).
          if (sep2 > sep && merged.indexOf(SPACE, 0) >= 0)
            throw new IllegalArgumentException(
              s"bpe_merge: malformed rule '$rule' — merged spelling " +
                "contains a space")
          val out = new Array[UTF8String](len)
          var o = 0
          var j = 0
          while (j < len) {
            if (j < len - 1 && cur(j) != null && cur(j + 1) != null &&
                cur(j).equals(a) && cur(j + 1).equals(b)) {
              out(o) = merged; o += 1; j += 2
            } else {
              out(o) = cur(j); o += 1; j += 1
            }
          }
          cur = out
          len = o
        }
      }
      r += 1
    }
    val out = new Array[Any](len)
    var o = 0
    while (o < len) { out(o) = cur(o); o += 1 }
    new GenericArrayData(out)
  }

  private[plans] val info =
    new ExpressionInfo(classOf[BpeMerge].getName, "bpe_merge")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "bpe_merge(array<string>, array<string>)")
    BpeMerge(exprs.head, exprs(1))
  }
}
