package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused MinHash signature — the custom-Expression slot called out in
  * SURVEY.md §4.3: K minhashes of a shingle array computed in ONE pass
  * inside the scan, with `doGenCode`.
  *
  * Semantics are bit-identical to the built-in composition
  * `transform(seq(0,k-1), j -> array_min(transform(sh, s -> xxhash64(s, j))))`
  * because Spark's `xxhash64(s, j)` is the seed chain
  * `hashInt(j, hashUTF8String(s, 42))` — so this expression hashes each
  * shingle's bytes ONCE and then applies K cheap integer mixes, where the
  * built-in form re-hashes the full string K times and evaluates
  * interpreted (higher-order functions don't codegen). It needs no
  * explode and no shuffle: the signature materializes in the same
  * whole-stage-codegen'd map task as the scan — the shape you want when
  * sketching 100 TB of documents.
  *
  * Empty/all-null arrays yield Long.MaxValue sentinels (no shingles → no
  * minimum), matching `array_min`'s null only in the sense that callers
  * shingle via `split`, which never returns an empty array.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"minhash_sig requires k > 0, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val base = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var j = 0
        while (j < k) {
          val h = XXH64.hashInt(j, base)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xxh = classOf[XXH64].getName
      val gad = classOf[GenericArrayData].getName
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val h = ctx.freshName("h")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $base = $xxh.hashUTF8String($c.getUTF8String($i), 42L);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $h = $xxh.hashInt($j, $base);
         |      if ($h < $mins[$j]) $mins[$j] = $h;
         |    }
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private[plans] val info =
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig")

  /** Validated builder for [[GraftExtensions]]: checks arity and that
    * `k` is a foldable integer literal before eval, so misuse fails with
    * a clear message instead of an opaque IndexOutOfBounds/ClassCast at
    * analysis time. */
  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "minhash_sig(array<string>, k)")
    require(exprs(1).foldable,
      "minhash_sig k must be a foldable integer literal")
    val k = exprs(1).eval(null) match {
      case n: Int => n
      case n: Long => n.toInt
      case other => throw new IllegalArgumentException(
        s"minhash_sig k must be an integer literal, got $other")
    }
    MinHashSig(exprs.head, k)
  }
}
