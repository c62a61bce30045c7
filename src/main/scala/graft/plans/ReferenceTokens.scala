package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference tokenizer's split-and-keep step, natively: the tokens
  * of `filter(split(s, "\\W+"), w → w rlike "^[a-z]+$")` over an
  * already-lowercased string ([[graft.functions.Portable.tokenize]]
  * applies Spark's own `lower()` first, so case mapping — Kelvin sign,
  * dotted İ, ligatures — stays exactly Spark's).
  *
  * Java's `\W` is `[^A-Za-z0-9_]`, an ASCII class, and every byte of a
  * multi-byte UTF-8 sequence is ≥ 0x80, so the split is a byte scan:
  * the maximal `[A-Za-z0-9_]` byte runs are the non-empty split parts,
  * and the kept tokens are the runs that are all `[a-z]`. No
  * `java.lang.String`, no regex, one copy per kept token.
  *
  * Why native: the HOF form runs the `rlike` lambda interpreted per
  * token and builds every part as a string through a Java regex split,
  * over every token of the corpus, behind every `Portable.tokenize`
  * call. Values are identical to that form (its spec lives in test).
  * Null → null. */
case class ReferenceTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"reference_tokens expects a string arg, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "reference_tokens"

  override def nullSafeEval(v: Any): Any =
    ReferenceTokens.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ReferenceTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ReferenceTokens =
    copy(child = newChild)
}

object ReferenceTokens {

  private def isWord(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new java.util.ArrayList[UTF8String]()
    var start = -1 // start of the current word run, or -1 between runs
    var lower = true
    var i = 0
    while (i <= n) {
      val b: Int = if (i < n) Platform.getByte(base, off + i) else -1
      if (isWord(b)) {
        if (start < 0) { start = i; lower = true }
        if (b < 'a' || b > 'z') lower = false
      } else if (start >= 0) {
        if (lower) {
          val bytes = new Array[Byte](i - start)
          Platform.copyMemory(base, off + start, bytes, Platform.BYTE_ARRAY_OFFSET, i - start)
          out.add(UTF8String.fromBytes(bytes))
        }
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Column-API entry point over an already-lowercased string. */
  def referenceTokens(lowered: Column): Column =
    SqlBridge.column(ReferenceTokens(SqlBridge.expression(lowered)))
}
