package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<double>` columns, expressed with Spark's
  * higher-order array functions. These are codegen'd built-ins evaluated
  * inside whole-stage codegen — the idiomatic Spark replacement for
  * per-element loops. The dot-product and cosine forms live in the
  * test tree's HofSpecs, as the references the native
  * [[graft.plans.CosineSim]] and [[graft.plans.L2Dist]] kernels are
  * checked against.
  */
object VectorOps {
  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
}
