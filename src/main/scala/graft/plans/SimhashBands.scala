package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The simhash band projection as one native codegen'd expression —
  * the [[CosineSim]]/[[L2Dist]] treatment applied to the kernel every
  * banded dedup pass runs over the whole corpus
  * (q31/q49/q61/q68/q78/q86/q201/…): 32 hyperplane dot products over
  * the first 64 dims, packed into `bands` 8-bit band values. The HOF
  * form it replaces (`transform(planes, p → aggregate(zip_with(slice(v),
  * p, *), 0.0, +))` in `Dedup.bandTable`) runs 32 interpreted lambda
  * folds and allocates 32 zipped arrays + a dots array PER ROW; this
  * expression is one generated loop over a row-local copy of the
  * vector, no allocations beyond the `bands`-long output.
  *
  * Exact-parity contract with the HOF form (and with the plane
  * literals inlined in the DuckDB oracle CTEs — shared randomness):
  *
  *  - identical plane table ([[graft.operators.Dedup.simhashPlanes]],
  *    bound at construction like [[BpeEncode]]'s merge table);
  *  - identical fold order (dot = ((0 + v₀w₀) + v₁w₁) + …, doubles);
  *  - bit t of band k set iff dot(plane k·8+t) `>= 0` under SPARK
  *    comparison semantics, where NaN sorts greatest — a NaN dot (NaN
  *    components) sets the bit, exactly like the HOF's
  *    `when(dot >= 0, …)` on a NaN;
  *  - a vector SHORTER than planeDim, or with a null element among
  *    the first planeDim: the HOF's zip_with null-pads, the fold
  *    null-poisons every dot, every `when` fails → all band values 0.
  *    The expression returns the same all-zero bands (the documented
  *    degenerate-input contract of `simhashBandTable`);
  *  - null input → null.
  */
case class SimhashBands(child: Expression, bands: Int)
    extends UnaryExpression {

  private val planeDim = graft.operators.Dedup.planeDim
  private val bandBits = graft.operators.Dedup.bandBits

  /** Flat [bands·bandBits × planeDim] plane table, row-major. */
  @transient private lazy val flatPlanes: Array[Double] = {
    val ps = graft.operators.Dedup.simhashPlanes
    val out = new Array[Double](bands * bandBits * planeDim)
    var j = 0
    while (j < bands * bandBits) {
      System.arraycopy(ps(j), 0, out, j * planeDim, planeDim)
      j += 1
    }
    out
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_bands expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_bands"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(
      SimhashBands.compute(arr, flatPlanes, bands, bandBits, planeDim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("simhashPlanes", flatPlanes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val vals = ctx.freshName("vals")
      s"""
         |final long[] $vals = graft.plans.SimhashBands.compute(
         |  $a, $planesRef, $bands, $bandBits, $planeDim);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($vals);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashBands =
    copy(child = newChild)
}

object SimhashBands {
  /** The shared kernel — called from both the interpreted path and the
    * generated code (one static call per row keeps the codegen body
    * tiny while the loop itself JITs hot; the same shape Spark's own
    * complex expressions use). Not named `eval`: the case class
    * inherits `Expression.eval`, so Scala would emit no static
    * forwarder for it and the generated call would not compile. */
  def compute(arr: ArrayData, planes: Array[Double],
           bands: Int, bandBits: Int, planeDim: Int): Array[Long] = {
    val vals = new Array[Long](bands)
    val n = arr.numElements()
    if (n < planeDim) return vals // zip_with null-pad: all bands 0
    val v = new Array[Double](planeDim)
    var i = 0
    while (i < planeDim) {
      if (arr.isNullAt(i)) return vals // null element null-poisons every dot
      v(i) = arr.getDouble(i)
      i += 1
    }
    var j = 0
    while (j < bands * bandBits) {
      var dot = 0.0
      val off = j * planeDim
      var k = 0
      while (k < planeDim) {
        dot += v(k) * planes(off + k)
        k += 1
      }
      // Spark SQL comparison semantics: NaN sorts GREATEST, so the
      // HOF's `when(dot >= 0, …)` is TRUE on a NaN dot — plain Java
      // `>=` is false there; the explicit isNaN keeps bit parity
      if (dot >= 0.0 || java.lang.Double.isNaN(dot))
        vals(j / bandBits) |= (1L << (j % bandBits))
      j += 1
    }
    vals
  }

  /** Column-API entry point: `bands(v, n)` over an array<double>. */
  def bands(v: Column, n: Int): Column =
    SqlBridge.column(SimhashBands(SqlBridge.expression(v), n))
}
