package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document n-gram repetition stats — the Gopher repetition
  * rules (Rae et al. 2021 §A1.1) computed where the document already is.
  *
  * `gram_stats(words, n)` returns
  * `struct(total: bigint, n_distinct: bigint, max_n: bigint)` over the
  * POSITIONAL word n-grams of one document, or NULL when the document has
  * fewer than n words (mirroring the explode-drops-empty-arrays semantics
  * of the relational formulation it replaces).
  *
  * Scale rationale: repetition stats are a per-document reduction, but
  * the explode + two-level groupBy formulation shuffles every gram STRING
  * of the corpus (at 100 TB, the grams are ~2× the corpus) just to count
  * within doc_id. All of that is intra-row work: this expression counts
  * grams in one hash map inside the scan task — map-only, no Generate, no
  * exchange, and the surrounding projection stays in whole-stage codegen
  * via a static helper call. Gram identity is the exact joined string
  * (UTF8String equality), not a hash — bit-identical distinct counts to
  * the SQL formulation and the DuckDB oracle.
  */
case class GramStats(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram_stats requires n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_stats requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_n", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "gram_stats"

  override protected def nullSafeEval(input: Any): Any =
    GramStats.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = GramStats.getClass.getName.stripSuffix("$") + ".compute"
      s"""
         |${ev.value} = $helper($c, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
}

object GramStats {
  private val SPACE = UTF8String.fromString(" ")

  /** One-pass gram counting; static so generated code calls it directly
    * (the row stays inside the enclosing WholeStageCodegen stage).
    * Null words are treated as skipped by the joiner, matching
    * `concat_ws(" ", ...)` null semantics in the relational form. */
  def compute(words: ArrayData, n: Int): InternalRow = {
    val m = words.numElements() - n + 1
    if (m <= 0) return null
    val counts = new java.util.HashMap[UTF8String, Array[Long]](m * 2)
    var maxN = 0L
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        // concat_ws semantics: null elements are skipped, not emitted
        parts(j) = if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      val gram = UTF8String.concatWs(SPACE, parts: _*)
      var cnt = counts.get(gram)
      if (cnt == null) { cnt = Array(0L); counts.put(gram, cnt) }
      cnt(0) += 1
      if (cnt(0) > maxN) maxN = cnt(0)
      i += 1
    }
    new GenericInternalRow(Array[Any](m.toLong, counts.size.toLong, maxN))
  }

  private[plans] val info =
    new ExpressionInfo(classOf[GramStats].getName, "gram_stats")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "gram_stats(array<string>, n)")
    require(exprs(1).foldable, "gram_stats n must be a foldable integer literal")
    val n = exprs(1).eval(null) match {
      case v: Int => v
      case v: Long => v.toInt
      case other => throw new IllegalArgumentException(
        s"gram_stats n must be an integer literal, got $other")
    }
    GramStats(exprs.head, n)
  }
}
