package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Positional k-word gram hashes of a token array, natively: window i
  * hashes words i..i+k−1 as the poly-131 fold
  * `(acc·131 + tokenId(w)) mod P` — the q38 fingerprint chain, windowed.
  * `max(n−k+1, 1)` windows in position order, so a doc shorter than k
  * yields one whole-doc gram (an empty array yields the empty fold, 0).
  * Unlike [[ShingleHashes]] the grams are NOT deduplicated: winnowing
  * selects window minima over positions
  * ([[WinnowMinima]], [[graft.operators.TextAnalysis.winnowGrams]]).
  *
  * Why native: the HOF form `transform(sequence, i → aggregate(slice(
  * words, i, k), …))` runs an interpreted lambda fold per window and
  * allocates a slice array per window; this kernel hashes each word
  * once and folds the windows over a primitive long[]. Values are
  * identical to that form (its spec lives in test), including a null
  * word null-poisoning every window that covers it. Null input → null. */
case class GramHashes(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gram_hashes expects array<string> and k >= 1, got ${t.simpleString}, k=$k")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "gram_hashes"

  override def nullSafeEval(v: Any): Any =
    GramHashes.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GramHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {

  /** Shared by interpreted eval and generated code. */
  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val ids = new Array[Long](n)
    var anyNull = false
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) anyNull = true
      else ids(i) = TokenId.compute(words.getUTF8String(i))
      i += 1
    }
    val m = math.max(n - k + 1, 1)
    val gh = new Array[Long](m)
    i = 0
    while (i < m) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        acc = (acc * 131L + ids(j)) % TokenId.P
        j += 1
      }
      gh(i) = acc
      i += 1
    }
    if (!anyNull) UnsafeArrayData.fromPrimitiveArray(gh)
    else new GenericArrayData(Array.tabulate[Any](m) { w =>
      if ((w until math.min(w + k, n)).exists(words.isNullAt)) null else gh(w)
    })
  }

  def gramHashes(words: Column, k: Int): Column =
    SqlBridge.column(GramHashes(SqlBridge.expression(words), k))
}
