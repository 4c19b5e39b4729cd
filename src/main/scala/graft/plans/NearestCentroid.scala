package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-centroid assignment (IVF coarse quantization) as a native
  * codegen'd expression: argmin over squared L2 distance to a broadcast
  * centroid matrix, computed inside the scan.
  *
  * The HOF formulation (`zip_with` + `aggregate` per centroid) evaluates
  * interpreted and walks the vector once per centroid through generic
  * ArrayData; this expression embeds the centroid matrix as a reference
  * object in the generated class and runs the k×d loop over primitive
  * doubles — the shape that matters when quantizing 100 TB of embeddings
  * into IVF partitions. Ties break to the lowest centroid id (strict <),
  * matching `array_min` over (dist, id) structs lexicographically.
  *
  * Vectors shorter than the centroid dimension are scored on the shared
  * prefix; null elements count as 0.0.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "nearest_centroid requires >= 1 centroid")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires ARRAY<DOUBLE> input, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var dist = 0.0
      var i = 0
      val d = math.min(n, cent.length)
      while (i < d) {
        val x = (if (arr.isNullAt(i)) 0.0 else arr.getDouble(i)) - cent(i)
        dist += x * x
        i += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mat = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val best = ctx.freshName("best")
      val bestDist = ctx.freshName("bestDist")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val dist = ctx.freshName("dist")
      val x = ctx.freshName("x")
      s"""
         |int $best = 0;
         |double $bestDist = Double.MAX_VALUE;
         |for (int $c = 0; $c < $mat.length; $c++) {
         |  double $dist = 0.0;
         |  int $d = java.lang.Math.min($v.numElements(), $mat[$c].length);
         |  for (int $i = 0; $i < $d; $i++) {
         |    double $x = ($v.isNullAt($i) ? 0.0 : $v.getDouble($i)) - $mat[$c][$i];
         |    $dist += $x * $x;
         |  }
         |  if ($dist < $bestDist) { $bestDist = $dist; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  private[plans] val info =
    new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid")

  /** Builder: `nearest_centroid(vec, matrix)` where matrix is a foldable
    * array<array<double>> literal (e.g. `typedlit(Seq[Seq[Double]])`). */
  private[plans] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, "nearest_centroid(array<double>, matrix)")
    require(exprs(1).foldable,
      "nearest_centroid matrix must be a foldable literal")
    val rows = exprs(1).eval(null) match {
      case a: ArrayData => Array.tabulate(a.numElements()) { r =>
        a.getArray(r).toDoubleArray()
      }
      case other => throw new IllegalArgumentException(
        s"nearest_centroid matrix must be array<array<double>>, got $other")
    }
    NearestCentroid(exprs.head, rows)
  }
}
