package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns — SURVEY.md §2 B.5.
  *
  * All kernels compile to the fused native expressions in
  * [[graft.plans.VectorExprs]] (one primitive Java loop inside
  * WholeStageCodegen). The equivalent higher-order-function spellings
  * (`aggregate(zip_with(a, a, (x,y) -> x*y), ...)`) evaluate INTERPRETED
  * in Spark and measured ~30× slower on map-only scans; VectorExprsSpec
  * pins value-and-null parity between the two forms, so swapping was a
  * pure speedup.
  *
  * The functions come from `GraftExtensions`, which
  * [[graft.GraftSession]] injects into every session.
  *
  * All kernels fold left-to-right in DOUBLE (cast arrays first via
  * [[toDouble]]) so results are bit-reproducible and engine-comparable.
  */
object VectorOps {
  def toDouble(a: Column): Column = a.cast("array<double>")

  /** Sequential-fold dot product. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2norm(a: Column): Column = call_function("vec_l2norm", a)

  /** Cosine similarity; 0-norm guarded to null. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom === 0.0, lit(null).cast("double")).otherwise(dot(a, b) / denom)
  }
}
