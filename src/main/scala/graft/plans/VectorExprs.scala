package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused vector kernels over `ARRAY<DOUBLE>` embedding columns — the
  * codegen'd replacements for the higher-order-function forms in
  * [[graft.functions.VectorOps]] (SURVEY.md §4.3 custom-Expression slot).
  *
  * Why: `aggregate`/`transform` lambdas evaluate INTERPRETED in Spark —
  * each row pays closure dispatch + boxing per element, and the repo's own
  * measurements put a map-only normalize at ~7 s for what should be a
  * sub-second scan (same finding that motivated [[MinHashSig]] /
  * [[SimHash64]]). Each kernel here is one primitive Java loop inside
  * WholeStageCodegen — the shape that survives a 100 TB corpus scan.
  *
  * Null semantics mirror the HOF forms they replace (asserted in
  * VectorExprsSpec):
  *  - `vec_l2norm`, `vec_lsum`, `vec_l1sum`: a null ELEMENT nulls the
  *    result (a fold through null is null); empty array → 0.
  *  - `vec_absmax`: null elements are skipped (array_max semantics);
  *    empty / all-null array → null.
  *  - `vec_scale`, `vec_divide`, `vec_int8`: elementwise, null elements
  *    stay null.
  */
abstract class VecReduceDouble extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> input, got ${other.sql}")
  }
  override def dataType: DataType = DoubleType
  // Null elements can null the result even under a non-null child.
  override def nullable: Boolean = true
}

/** sqrt(Σ x²) — sequential fold, identical value to
  * `sqrt(aggregate(zip_with(a, a, (x,y) -> x*y), 0.0, (s,x) -> s+x))`. */
case class VecL2Norm(child: Expression) extends VecReduceDouble {
  override def prettyName: String = "vec_l2norm"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      val x = arr.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $c.numElements() && !${ev.isNull}; $i++) {
         |  if ($c.isNullAt($i)) { ${ev.isNull} = true; }
         |  else { double $x = $c.getDouble($i); $s += $x * $x; }
         |}
         |${ev.value} = ${ev.isNull} ? -1.0 : Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecL2Norm =
    copy(child = newChild)
}

/** max |x| over non-null elements — identical value to
  * `array_max(transform(a, x -> abs(x)))`. */
case class VecAbsMax(child: Expression) extends VecReduceDouble {
  override def prettyName: String = "vec_absmax"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var m = 0.0
    var any = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        // NaN ranks greatest in Spark's double ordering (array_max
        // parity): once seen, it is the max.
        if (!any || a > m || a.isNaN) { m = a; any = true }
      }
      i += 1
    }
    if (any) m else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("m")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val a = ctx.freshName("a")
      s"""
         |double $m = 0.0;
         |boolean $any = false;
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    double $a = Math.abs($c.getDouble($i));
         |    if (!$any || $a > $m || Double.isNaN($a)) { $m = $a; $any = true; }
         |  }
         |}
         |${ev.isNull} = !$any;
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecAbsMax =
    copy(child = newChild)
}

/** Sequential-fold dot product — identical values and null semantics to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (s,x) -> s+x)`: a null
  * ARRAY or null ELEMENT nulls the result, and arrays of different
  * lengths null it too (zip_with pads the shorter side with nulls). Both
  * empty → 0.0. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
          s"(${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |double $s = 0.0;
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |for (int $i = 0; $i < $a.numElements() && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |  else { $s += $a.getDouble($i) * $b.getDouble($i); }
         |}
         |${ev.value} = ${ev.isNull} ? -1.0 : $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Elementwise (array, scalar) kernels with `transform`-parity null
  * semantics: a null ARRAY is null, null ELEMENTS stay null, and a null
  * SCALAR yields an array of null elements of the input's length — which
  * is exactly what `transform(a, x -> x op k)` produces (the scalar nulls
  * each element, not the array), so the fused kernel is a drop-in for the
  * HOF even outside the usual `when(k IS NOT NULL)` guards. */
abstract class VecElementwise extends BinaryExpression {
  protected def elemType: DataType
  protected def evalElem(x: Double, k: Double): Any
  /** Java expression producing the BOXED element value. */
  protected def javaElem(x: String, k: String): String
  /** Scalar values that null every element, exactly as the HOF form
    * would (e.g. a zero divisor under non-ANSI Divide). */
  protected def scalarVoids(k: Double): Boolean = false
  protected def javaScalarVoids(k: String): String = "false"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, DOUBLE), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = ArrayType(elemType, containsNull = true)
  override def nullable: Boolean = left.nullable

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val arr = a.asInstanceOf[ArrayData]
    val k = right.eval(input)
    val out = new Array[Any](arr.numElements())
    if (k != null && !scalarVoids(k.asInstanceOf[Double])) {
      val kd = k.asInstanceOf[Double]
      var i = 0
      while (i < out.length) {
        if (!arr.isNullAt(i)) out(i) = evalElem(arr.getDouble(i), kd)
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val gad = classOf[GenericArrayData].getName
    val ad = classOf[ArrayData].getName
    val out = ctx.freshName("out")
    val i = ctx.freshName("i")
    val fill =
      s"""Object[] $out = new Object[${l.value}.numElements()];
         |if (!${r.isNull} && !(${javaScalarVoids(s"${r.value}")})) {
         |  for (int $i = 0; $i < $out.length; $i++) {
         |    if (!${l.value}.isNullAt($i)) {
         |      $out[$i] = ${javaElem(s"${l.value}.getDouble($i)", s"${r.value}")};
         |    }
         |  }
         |}
         |${ev.value} = new $gad($out);""".stripMargin
    ev.copy(code =
      code"""
        ${l.code}
        boolean ${ev.isNull} = ${l.isNull};
        $ad ${ev.value} = null;
        if (!${ev.isNull}) {
          ${r.code}
          $fill
        }""")
  }
}

/** Elementwise `x * k` (`divide = false`) or `x / k` (`divide = true`) —
  * identical values to `transform(a, x -> x * k)` / `transform(a, x -> x / k)`
  * (multiplication and division are kept distinct: `x / k` and
  * `x * (1/k)` differ in the last ulp, and the DuckDB oracles divide). */
case class VecScale(left: Expression, right: Expression, divide: Boolean)
    extends VecElementwise {
  override def prettyName: String = if (divide) "vec_divide" else "vec_scale"
  override protected def elemType: DataType = DoubleType
  override protected def evalElem(x: Double, k: Double): Any =
    if (divide) x / k else x * k
  override protected def javaElem(x: String, k: String): String =
    s"(Object) (Double) ($x ${if (divide) "/" else "*"} $k)"
  // Non-ANSI Divide nulls on a zero divisor (never Infinity/NaN); the
  // kernel must too, or unguarded callers diverge from the HOF form.
  override protected def scalarVoids(k: Double): Boolean = divide && k == 0.0
  override protected def javaScalarVoids(k: String): String =
    if (divide) s"$k == 0.0" else "false"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecScale =
    copy(left = newLeft, right = newRight)
}

/** Elementwise int8-style quantizer: `floor(x * scale + 0.5)` as BIGINT —
  * identical values to `transform(a, x -> CAST(floor(x * scale + 0.5) AS
  * BIGINT))`; this IS the quantized vector you would persist at scale. */
case class VecInt8(left: Expression, right: Expression) extends VecElementwise {
  override def prettyName: String = "vec_int8"
  override protected def elemType: DataType = LongType
  override protected def evalElem(x: Double, k: Double): Any =
    math.floor(x * k + 0.5).toLong
  override protected def javaElem(x: String, k: String): String =
    s"(Object) (Long) ((long) Math.floor($x * $k + 0.5))"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecInt8 =
    copy(left = newLeft, right = newRight)
}

/** Σ x (or Σ |x| with `absValues`) over ARRAY<BIGINT> — identical values
  * to `aggregate(a, 0L, (s, x) -> s + x)` / `... s + abs(x)`. */
case class VecLongSum(child: Expression, absValues: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = if (absValues) "vec_l1sum" else "vec_lsum"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var s = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      val x = arr.getLong(i)
      s += (if (absValues) math.abs(x) else x)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val term = if (absValues) s"Math.abs($c.getLong($i))" else s"$c.getLong($i)"
      s"""
         |long $s = 0L;
         |for (int $i = 0; $i < $c.numElements() && !${ev.isNull}; $i++) {
         |  if ($c.isNullAt($i)) { ${ev.isNull} = true; }
         |  else { $s += $term; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecLongSum =
    copy(child = newChild)
}

/** Exact integer dot product over two ARRAY<BIGINT> (the int8-retrieval
  * scoring kernel: quantized corpus vector · quantized query) — identical
  * values to `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, p) -> s + p)`.
  * Null semantics follow the HOF composition: null array → null, any null
  * element → null, length mismatch → null (zip_with pads with null).
  * Values are exact: int8 range products (≤ 127²·dim) never overflow. */
case class VecLongDot(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<BIGINT>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_ldot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |long $s = 0L;
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |for (int $i = 0; $i < $a.numElements() && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |  else { $s += $a.getLong($i) * $b.getLong($i); }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecLongDot =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  private type Entry = (ExpressionInfo, Seq[Expression] => Expression)

  private def unary(info: ExpressionInfo)(f: Expression => Expression): Entry =
    info -> (exprs => {
      require(exprs.length == 1, s"${info.getName}(array)")
      f(exprs.head)
    })
  private def binary(info: ExpressionInfo)(
      f: (Expression, Expression) => Expression): Entry =
    info -> (exprs => {
      require(exprs.length == 2, s"${info.getName}(array, scalar)")
      f(exprs(0), exprs(1))
    })

  private[plans] val entries: Seq[Entry] = Seq(
    binary(new ExpressionInfo(classOf[VecDot].getName, "vec_dot"))(VecDot.apply),
    unary(new ExpressionInfo(classOf[VecL2Norm].getName, "vec_l2norm"))(
      VecL2Norm.apply),
    unary(new ExpressionInfo(classOf[VecAbsMax].getName, "vec_absmax"))(
      VecAbsMax.apply),
    binary(new ExpressionInfo(classOf[VecScale].getName, "vec_scale"))(
      VecScale(_, _, divide = false)),
    binary(new ExpressionInfo(classOf[VecScale].getName, "vec_divide"))(
      VecScale(_, _, divide = true)),
    binary(new ExpressionInfo(classOf[VecInt8].getName, "vec_int8"))(
      VecInt8.apply),
    unary(new ExpressionInfo(classOf[VecLongSum].getName, "vec_lsum"))(
      VecLongSum(_, absValues = false)),
    unary(new ExpressionInfo(classOf[VecLongSum].getName, "vec_l1sum"))(
      VecLongSum(_, absValues = true)),
    binary(new ExpressionInfo(classOf[VecLongDot].getName, "vec_ldot"))(
      VecLongDot.apply))
}
