package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** 64-bit Z-order (Morton) interleave of two integral columns — the
  * multi-dimensional clustering key for storage layout: writing files
  * sorted by `zorder64(x, y)` keeps BOTH x and y ranges tight within
  * every file/row-group, so parquet min/max stats prune scans filtered
  * on either dimension (the Delta/Iceberg Z-ORDER idea, here as a plain
  * sort key usable with `sortWithinPartitions`/`sortBy`).
  *
  * Bit layout: the low 32 bits of each input, interleaved x at even and
  * y at odd positions, via the standard mask-shift spread (no loops —
  * 5 shift/mask steps per side). Inputs must fit in unsigned 32 bits;
  * out-of-range values (epoch-millis timestamps, snowflake ids, any
  * negative) RAISE an error rather than silently wrapping every 2^32 —
  * a wrapped key would interleave distant time ranges into the same key
  * space and quietly destroy the clustering win. Normalize wide domains
  * first: dense ranks, minute-resolution buckets, value - min. Curve
  * locality: equal high-order z-bits ⇒ same power-of-two quadrant.
  */
case class ZOrder64(left: Expression, right: Expression)
    extends BinaryExpression {

  private def integral(t: DataType) = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (integral(left.dataType) && integral(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder64 requires integral inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder64"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val x = ZOrder64.spread(ZOrder64.checked(l))
    val y = ZOrder64.spread(ZOrder64.checked(r))
    x | (y << 1)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => {
      // call the companion via the module instance (static forwarder
      // presence isn't guaranteed alongside a case class)
      val z = "graft.plans.ZOrder64$.MODULE$"
      s"($z.spread($z.checkRange((long)$l)) | ($z.spread($z.checkRange((long)$r)) << 1))"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder64 =
    copy(left = newLeft, right = newRight)
}

object ZOrder64 {
  private[plans] def checked(v: Any): Long = checkRange(v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  })

  /** Range guard (also called from generated code): zorder inputs must
    * be in [0, 2^32) — wrapping would silently interleave distant key
    * ranges together. */
  def checkRange(v: Long): Long = {
    if ((v & ~0xffffffffL) != 0L) throw new IllegalArgumentException(
      s"zorder64 input $v outside [0, 2^32): normalize the domain first " +
        "(dense rank, coarser bucket, or value - min)")
    v
  }

  /** Spread the low 32 bits of v to the even bit positions of a long
    * (classic Morton mask-shift cascade). Public + JVM-static-reachable
    * so generated code can call it. */
  def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8))  & 0x00ff00ff00ff00ffL
    x = (x | (x << 4))  & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  private[plans] val info =
    new ExpressionInfo(classOf[ZOrder64].getName, "zorder64")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "zorder64(x, y)")
    ZOrder64(exprs.head, exprs(1))
  }
}
