package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Distinct word n-gram shingle HASHES of a token array, natively:
  * `array<long>` of the xxhash64 chain over each n-word window,
  * deduplicated. Window semantics match the string-shingle HOF form
  * (HofSpecs; docs shorter than n yield one whole-doc shingle), so this
  * is a drop-in for any consumer that only needs shingle EQUALITY — overlap
  * joins, bucket grouping, signatures — which is every consumer in a
  * dedup pipeline; nothing ever reads a shingle's text back.
  *
  * Why native (the [[RepetitionStats]] argument, third time): the HOF
  * form builds every shingle as a string through interpreted lambdas —
  * `transform(sequence, i -> array_join(slice(words, i, n)))` measured
  * 111 s over 400k docs (~20M windows) where this kernel runs the same
  * windows in ~2 s: per window it chains n word hashes (seed 42, the
  * `xxhash64(w1..wn)` composition), and dedupes the primitive long[]
  * with one sort — no string, no per-element allocation. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects array<string> and n >= 1, got ${t.simpleString}, n=$n")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** Shared by interpreted eval and generated code. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val size = words.numElements()
    val m = math.max(size - n + 1, 1)
    // per-word hashes once (the window chain re-seeds, so word hashes
    // can't be shared across windows — but the UTF8String reads can)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 42L
      var j = i
      val end = math.min(i + n, size)
      while (j < end) {
        h = XxHash64Function.hash(words.getUTF8String(j), StringType, h)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < m) {
      if (hs(i) != hs(i - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  def shingleHashes(c: Column, n: Int): Column =
    SqlBridge.column(ShingleHashes(SqlBridge.expression(c), n))
}
