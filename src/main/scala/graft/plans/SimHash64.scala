package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused 64-bit SimHash of a token array — the second custom-Expression
  * slot (SURVEY.md §4.3): the whole signature materializes in ONE
  * codegen'd pass inside the scan, no explode, no shuffle.
  *
  * Semantics are bit-identical to the HOF formulation
  * [[graft.dedup.Dedup.simhash64]]: per token, `xxhash64(token)` (the
  * Spark seed-42 chain); per bit b, the token votes +1 if bit b of its
  * hash is set else -1; signature bit b is 1 iff the vote sum is > 0.
  * Order-insensitive by construction (sum is commutative).
  *
  * Why an Expression: the HOF form evaluates interpreted and re-hashes
  * every token once per bit, and an explode+aggregate spelling shuffles
  * one row per (doc, token). At 100 TB of documents this form is a
  * map-only scan: hash each token once, 64 counter bumps, emit
  * one long per document. Null tokens vote with hash = 42 (the seed),
  * because that is what `xxhash64(null)` evaluates to in the HOF
  * reference — a null column leaves the running hash at its seed.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      // xxhash64(null) = seed: null tokens vote with h = 42L
      val h = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xxh = classOf[XXH64].getName
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.isNullAt($i)
         |    ? 42L : $xxh.hashUTF8String($c.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $votes[$b] += (int) ((($h >>> $b) & 1L) << 1) - 1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private[plans] val info =
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64")

  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1, "simhash64(array<string>)")
    SimHash64(exprs.head)
  }
}
