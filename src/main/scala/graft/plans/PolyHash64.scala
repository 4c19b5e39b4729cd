package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit polynomial rolling hash of a string
  * (document fingerprinting, SURVEY.md §2 B.6 "text analysis" /
  * §4.3 "custom Expression" slot).
  *
  * h = fold(bytes, SEED) { h * 31 + byte } over the UTF-8 bytes — the
  * classic content fingerprint. Implemented with `doGenCode` so it stays
  * inside WholeStageCodegen (no UDF/serialization boundary): the generated
  * loop is branch-free per byte and runs at memory bandwidth, which is
  * what you want when fingerprinting 100 TB of text.
  */
case class PolyHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash64 requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash64"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash64.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = ${PolyHash64.Seed}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + (long)($bytes[$i] & 0xff);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash64 =
    copy(child = newChild)
}

object PolyHash64 {
  val Seed = 1125899906842597L

  /** Reference implementation (used by eval and the ScalaTest oracle). */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Seed
    var i = 0
    while (i < bytes.length) {
      h = h * 31L + (bytes(i) & 0xff)
      i += 1
    }
    h
  }

  def hashString(s: String): Long =
    hashBytes(UTF8String.fromString(s).getBytes)

  private[plans] val info =
    new ExpressionInfo(classOf[PolyHash64].getName, "poly_hash64")
  private[plans] val builder: Seq[Expression] => Expression =
    exprs => PolyHash64(exprs.head)
}
