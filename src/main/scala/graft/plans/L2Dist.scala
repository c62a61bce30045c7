package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused squared-L2 distance over two `array<double>` columns as a
  * native Catalyst expression with whole-stage codegen — the [[CosineSim]]
  * treatment applied to the OTHER distance the ANN ladder runs hot: the
  * k-means assignment kernel evaluates it corpus × K times PER LLOYD
  * ROUND (q116/q119/q148/q158/q224/q242) and the PQ coder corpus × M × K
  * times (q114), where the composable
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)))` form allocates a
  * zipped intermediate array per evaluation and runs the fold through
  * interpreted lambda machinery. Measured at the q242 sweep's tagged
  * assignment (sf0.1, 120 broadcast centroids): 2.2 s → 0.7 s per corpus
  * pass from this expression alone.
  *
  * Numeric parity with the HOF form is exact: [[L2Dist.compute]], the
  * one loop both eval paths run, is the same sequential left fold
  * `acc += (x_i − y_i)²` from `acc = 0.0` (and `0.0 + x == x` for
  * every non-negative square, so the first term matches the HOF's
  * seeded fold bit-for-bit). The DuckDB oracle's
  * `list_reduce(list_prepend(0.0, ...))` mirrors the same order — the
  * q76 contract. Null if either input is null, lengths differ or an
  * element is null (the zip_with form yields null on a length mismatch
  * through its padded-null lane, and its fold is null-poisoned by a
  * null element; this expression makes that contract explicit).
  */
case class L2Dist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_dist expects two array<double> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    L2Dist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |final java.lang.Double $r = graft.plans.L2Dist.compute($a, $b);
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = $r.doubleValue();
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2Dist =
    copy(left = newLeft, right = newRight)
}

object L2Dist {
  /** Shared by interpreted eval and generated code: the sequential left
    * fold `acc += (x_i − y_i)²` from 0.0; null on a length mismatch or
    * a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Column-API entry point: `sqDist(a, b)` over array<double> columns. */
  def sqDist(a: Column, b: Column): Column =
    SqlBridge.column(L2Dist(SqlBridge.expression(a), SqlBridge.expression(b)))
}
