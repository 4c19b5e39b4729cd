package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document Gopher repetition statistics (r17 optimization —
  * the [[GramStats]] pattern extended to the full `text_gopher_repetition`
  * reduction).
  *
  * `gopher_rep(words)` returns
  * `struct(top2_c, top2_gl, dup5, dupw)` over one document's words:
  *  - `top2_c` / `top2_gl`: occurrence count and separator-free char
  *    length of the (count, length, gram)-lexicographic MAX positional
  *    2-gram — NULL when the document has fewer than 2 words (mirroring
  *    `max(when(n = 2, struct(c, gl, gm)))` over an empty gram set);
  *  - `dup5`: Σ c·gl over positional 5-grams with c ≥ 2 (0 when none);
  *  - `dupw`: Σ c·gl over words with c ≥ 2 (0 when none).
  *
  * Exact replication of the relational formulation it replaces: grams
  * are joined with `` (null words skipped, `concat_ws` semantics),
  * `gl = numChars(gram) − (n−1)` (CHARACTERS, not bytes), counts are
  * exact UTF8String-equality counts, and the top-2-gram tie order is
  * (c, gl, gm) with gm compared in UTF8String binary order — though gm
  * never leaves the struct, so only (c, gl) affects the output.
  *
  * Scale rationale: the repetition rules are a per-document reduction,
  * but the explode + two hash aggregates formulation shuffled every
  * gram STRING of the corpus (≈3× corpus bytes at the three widths)
  * just to count within doc_id — measured 32 s CPU of the query's
  * 2.5 s sf0.1 wall. This expression counts all three widths in one
  * pass inside the scan task: map-only, no Generate, no exchange.
  */
case class GopherRep(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gopher_rep requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("top2_c", LongType, nullable = true),
    StructField("top2_gl", LongType, nullable = true),
    StructField("dup5", LongType, nullable = false),
    StructField("dupw", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "gopher_rep"

  override protected def nullSafeEval(input: Any): Any =
    GopherRep.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = GopherRep.getClass.getName.stripSuffix("$") + ".compute"
      s"""
         |${ev.value} = $helper($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GopherRep =
    copy(child = newChild)
}

object GopherRep {
  private val SEP = UTF8String.fromString("\u0001")

  /** One pass per gram width; static so generated code calls it directly
    * (the row stays inside the enclosing WholeStageCodegen stage). */
  def compute(words: ArrayData): InternalRow = {
    val len = words.numElements()
    // per-width gram counting into one map each; count cells are
    // single-element arrays so the hot loop never re-puts
    def countGrams(n: Int): java.util.HashMap[UTF8String, Array[Long]] = {
      val m = len - n + 1
      if (m <= 0) return null
      val counts = new java.util.HashMap[UTF8String, Array[Long]](m * 2)
      var i = 0
      while (i < m) {
        val gram =
          if (n == 1) {
            // concat_ws over one element: null word → empty string
            val w = if (words.isNullAt(i)) null else words.getUTF8String(i)
            if (w == null) UTF8String.EMPTY_UTF8 else w
          } else {
            val parts = new Array[UTF8String](n)
            var j = 0
            while (j < n) {
              // concat_ws semantics: null elements are skipped
              parts(j) =
                if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
              j += 1
            }
            UTF8String.concatWs(SEP, parts: _*)
          }
        var cnt = counts.get(gram)
        if (cnt == null) { cnt = Array(0L); counts.put(gram, cnt) }
        cnt(0) += 1
        i += 1
      }
      counts
    }
    // dup sums: Σ c·gl over grams with c ≥ 2; gl = numChars − (n−1)
    def dupSum(counts: java.util.HashMap[UTF8String, Array[Long]],
        n: Int): Long = {
      if (counts == null) return 0L
      var s = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c >= 2) s += c * (e.getKey.numChars().toLong - (n - 1))
      }
      s
    }
    val c1 = countGrams(1)
    if (c1 == null) return null // no words: the relational form emits no rows
    val c2 = countGrams(2)
    val c5 = countGrams(5)
    // top 2-gram by (c, gl, gm) lexicographic max — gm tie-break via
    // UTF8String binary order, matching Spark struct ordering
    var top2C = -1L
    var top2Gl = -1L
    var top2Gm: UTF8String = null
    if (c2 != null) {
      val it = c2.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        val gl = e.getKey.numChars().toLong - 1
        if (c > top2C || (c == top2C && (gl > top2Gl ||
            (gl == top2Gl && e.getKey.compareTo(top2Gm) > 0)))) {
          top2C = c; top2Gl = gl; top2Gm = e.getKey
        }
      }
    }
    new GenericInternalRow(Array[Any](
      if (top2Gm == null) null else top2C,
      if (top2Gm == null) null else top2Gl,
      dupSum(c5, 5), dupSum(c1, 1)))
  }

  private[plans] val info =
    new ExpressionInfo(classOf[GopherRep].getName, "gopher_rep")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "gopher_rep(array<string>)")
    GopherRep(exprs.head)
  }
}
