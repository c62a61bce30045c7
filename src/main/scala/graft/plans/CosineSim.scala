package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused cosine similarity over two `array<double>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * The composable form (`aggregate(zip_with(a,b,*))` + two norm folds,
  * the HofSpecs reference KernelParitySpec checks this against) is pure
  * built-ins but materializes a zipped intermediate array per row and
  * walks each input twice. This expression is one allocation-free loop emitted straight
  * into the generated code — the right hot-loop shape for brute-force
  * ANN scoring, where the expression runs corpus × queries times.
  * [[L2Dist]] is the same treatment for the squared-L2 kernel the
  * k-means assignment and PQ coding passes run hot (SURVEY.md §7:
  * every other reference op lands on a built-in).
  *
  * Semantics (matches the HOF form and DuckDB's
  * `list_cosine_similarity` on equal-length inputs): null if either
  * input is null, lengths differ, an element is null (the HOF's
  * null-poisoned fold), or either norm is zero.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |final java.lang.Double $r = graft.plans.CosineSim.compute($a, $b);
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = $r.doubleValue();
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Shared by interpreted eval and generated code: one loop folds the
    * dot product and both squared norms left to right; null on a length
    * mismatch, a null element or a zero norm. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Column-API entry point: `cosine(a, b)` over array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    SqlBridge.column(CosineSim(SqlBridge.expression(a), SqlBridge.expression(b)))
}
