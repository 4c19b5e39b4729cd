package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document character-entropy statistics (r17 optimization —
  * the [[GramStats]] pattern applied to `charEntropyOf`).
  *
  * `char_entropy_stats(text)` returns
  * `struct(n, n_distinct, sl_micro)` over one document's CODE POINTS:
  *  - `n`: total code points (what `explode(split(text, ''))` emitted);
  *  - `n_distinct`: distinct code points;
  *  - `sl_micro`: Σ over distinct code points of round6(c·ln c), summed
  *    EXACTLY in 1e-6 micro-units (BIGINT).
  *
  * Bit-exact replication of the relational form it replaces: each
  * per-char term c·ln(c) uses `java.lang.Math.log` (the same function
  * Catalyst's `log` compiles to), rounds through [[graft.U.r6MicroLong]]
  * — the driver-side twin of the engine's `round(x·1e6)`
  * shortest-decimal-string HALF_UP — and the micro-unit Long sum equals
  * the DECIMAL(18,6) sum of the rounded doubles exactly (each rounded
  * double is the unique 1e-6-grid value in its rounding interval, so
  * the decimal cast recovers the integer micros; integer addition is
  * exact). `sl_micro / 1e6` (one exact-input IEEE division by the
  * binary-exact 1e6) equals the old DECIMAL→DOUBLE cast of the sum —
  * both are the correctly-rounded double of the same rational.
  *
  * Scale rationale: entropy is a per-document reduction, but the
  * explode-per-character formulation shuffled one row per CHARACTER of
  * the corpus into a (doc_id, char) aggregate — at 100 TB that shuffle
  * IS the corpus (and was 20 s CPU of the 2.2 s sf0.1 wall). This
  * expression counts code points in one int→count map inside the scan
  * task: map-only, no Generate, no exchange.
  */
case class CharEntropyStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_entropy_stats requires STRING input, got ${other.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sl_micro", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy_stats"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropyStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper =
        CharEntropyStats.getClass.getName.stripSuffix("$") + ".compute"
      s"""
         |${ev.value} = $helper($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): CharEntropyStats = copy(child = newChild)
}

object CharEntropyStats {

  /** One-pass code-point counting; static so generated code calls it
    * directly. Returns null for the empty string — `split('', '')`
    * semantics differ between engines there, and every caller filters
    * empty text explicitly (the charEntropyOf empty-doc discipline), so
    * an empty input reaching this kernel must surface as a NULL row the
    * caller's filter drops, never as a silent n=0 row. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    if (len == 0) return null
    // code point → count; documents are overwhelmingly ASCII, so a
    // 128-slot array front-line with a map fallback keeps the hot loop
    // allocation-free
    val ascii = new Array[Long](128)
    var fallback: java.util.HashMap[Integer, Array[Long]] = null
    var n = 0L
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if (b >= 0) { ascii(b) += 1; i += 1 }
      else {
        // multi-byte UTF-8 sequence: decode the code point
        val b0 = b & 0xff
        var cp = 0
        var width = 0
        if (b0 >= 0xf0) { cp = b0 & 0x07; width = 4 }
        else if (b0 >= 0xe0) { cp = b0 & 0x0f; width = 3 }
        else { cp = b0 & 0x1f; width = 2 }
        var j = 1
        while (j < width && i + j < len) {
          cp = (cp << 6) | (bytes(i + j) & 0x3f)
          j += 1
        }
        if (fallback == null)
          fallback = new java.util.HashMap[Integer, Array[Long]]()
        var cnt = fallback.get(cp)
        if (cnt == null) { cnt = Array(0L); fallback.put(cp, cnt) }
        cnt(0) += 1
        i += width
      }
      n += 1
    }
    var distinct = 0L
    var slMicro = 0L
    var c = 0
    while (c < 128) {
      val cc = ascii(c)
      if (cc > 0) {
        distinct += 1
        slMicro += graft.U.r6MicroLong(cc * java.lang.Math.log(cc.toDouble))
      }
      c += 1
    }
    if (fallback != null) {
      distinct += fallback.size()
      val it = fallback.values().iterator()
      while (it.hasNext) {
        val cc = it.next()(0)
        slMicro += graft.U.r6MicroLong(cc * java.lang.Math.log(cc.toDouble))
      }
    }
    new GenericInternalRow(Array[Any](n, distinct, slMicro))
  }

  private[plans] val info =
    new ExpressionInfo(classOf[CharEntropyStats].getName, "char_entropy_stats")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "char_entropy_stats(string)")
    CharEntropyStats(exprs.head)
  }
}
