package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** The winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
  * over a position-ordered hash array, natively: the minimum of every
  * w-wide window (`max(n−w+1, 1)` windows, the last ones clamped at the
  * end), deduplicated in first-occurrence order.
  *
  * Why native: the HOF form `array_distinct(transform(sequence, j →
  * array_min(slice(gh, j, w))))` runs an interpreted lambda and
  * allocates a slice array per window; this kernel scans the windows
  * over one primitive copy and dedupes with one sort. Values are
  * identical to that form (its spec lives in test): a window's minimum
  * skips null hashes, a window of nulls (or the one window of an empty
  * array) selects null, and a null is kept once like `array_distinct`
  * keeps it. Null input → null. */
case class WinnowMinima(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"winnow_minima expects array<bigint> and w >= 1, got ${t.simpleString}, w=$w")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "winnow_minima"

  override def nullSafeEval(v: Any): Any =
    WinnowMinima.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowMinima.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMinima =
    copy(child = newChild)
}

object WinnowMinima {

  /** Shared by interpreted eval and generated code. */
  def compute(gh: ArrayData, w: Int): ArrayData = {
    val n = gh.numElements()
    val vals = new Array[Long](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (gh.isNullAt(i)) isNull(i) = true else vals(i) = gh.getLong(i)
      i += 1
    }
    // window minima, consecutive repeats dropped (they cannot survive
    // the distinct); a window with no non-null hash selects null
    val m = math.max(n - w + 1, 1)
    val mins = new Array[Long](m)
    var nm = 0
    var nullAt = -1 // the null selection's position among `mins`, if any
    var j = 0
    while (j < m) {
      var found = false
      var min = 0L
      var t = j
      val end = math.min(j + w, n)
      while (t < end) {
        if (!isNull(t) && (!found || vals(t) < min)) { min = vals(t); found = true }
        t += 1
      }
      if (!found) {
        if (nullAt < 0) nullAt = nm
      } else if (nm == 0 || mins(nm - 1) != min) {
        mins(nm) = min
        nm += 1
      }
      j += 1
    }
    // first-occurrence distinct: rank each selection in the sorted
    // distinct set, keep it the first time its rank is seen
    val uniq = java.util.Arrays.copyOf(mins, nm)
    java.util.Arrays.sort(uniq)
    var nu = 0
    i = 0
    while (i < nm) {
      if (nu == 0 || uniq(i) != uniq(nu - 1)) { uniq(nu) = uniq(i); nu += 1 }
      i += 1
    }
    val seen = new Array[Boolean](nu)
    val out = new Array[Long](nu)
    var no = 0
    var nullOut = -1
    i = 0
    while (i < nm) {
      if (i == nullAt) nullOut = no
      val r = java.util.Arrays.binarySearch(uniq, 0, nu, mins(i))
      if (!seen(r)) { seen(r) = true; out(no) = mins(i); no += 1 }
      i += 1
    }
    if (nullAt == nm) nullOut = no
    if (nullOut < 0) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](no + 1) { i =>
      if (i < nullOut) out(i) else if (i == nullOut) null else out(i - 1)
    })
  }

  def winnowMinima(gh: Column, w: Int): Column =
    SqlBridge.column(WinnowMinima(SqlBridge.expression(gh), w))
}
