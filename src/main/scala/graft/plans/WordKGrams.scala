package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused positional k-word shingling: `word_kgrams(words, k)` returns the
  * DISTINCT positional k-grams of a word array (first-occurrence order),
  * or the single gram joining all words when the document has fewer than
  * k — bit-identical to the HOF composition
  * `array_distinct(transform(sequence(0, n-k), i -> array_join(slice(...))))`
  * with its `< k` fallback, which it replaces because higher-order
  * functions evaluate interpreted: shingling feeds every near-dup path
  * (MinHash signatures, boilerplate n-grams, benchmark contamination), so
  * at corpus scale the lambda interpreter — not the hash or the join —
  * became the scan bottleneck. One pass, one LinkedHashSet, inside
  * whole-stage codegen via a static helper call.
  */
case class WordKGrams(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"word_kgrams requires k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_kgrams requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_kgrams"

  override protected def nullSafeEval(input: Any): Any =
    WordKGrams.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = WordKGrams.getClass.getName.stripSuffix("$") + ".compute"
      s"${ev.value} = $helper($c, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordKGrams =
    copy(child = newChild)
}

object WordKGrams {
  private val SPACE = UTF8String.fromString(" ")

  /** Distinct positional k-grams in first-occurrence order; `array_join`
    * null semantics (null words skipped by the joiner). Static so
    * generated code calls it directly. */
  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val m = n - k + 1
    if (m <= 0) {
      // < k words: one gram joining everything (incl. the empty doc)
      val all = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        all(j) = if (words.isNullAt(j)) null else words.getUTF8String(j)
        j += 1
      }
      return new GenericArrayData(
        Array[Any](UTF8String.concatWs(SPACE, all: _*)))
    }
    val parts = new Array[UTF8String](k)
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) {
        parts(j) = if (words.isNullAt(i + j)) null
          else words.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(SPACE, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  private[plans] val info =
    new ExpressionInfo(classOf[WordKGrams].getName, "word_kgrams")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "word_kgrams(array<string>, k)")
    require(exprs(1).foldable, "word_kgrams k must be a foldable integer literal")
    val k = exprs(1).eval(null) match {
      case v: Int => v
      case v: Long => v.toInt
      case other => throw new IllegalArgumentException(
        s"word_kgrams k must be an integer literal, got $other")
    }
    WordKGrams(exprs.head, k)
  }
}
