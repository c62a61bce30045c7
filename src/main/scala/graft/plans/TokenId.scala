package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native form of the portable polynomial token hash
  * ([[graft.functions.Portable.tokenId]]): fold
  * (acc*31 + codepoint) % 1000000007 over the string's code points.
  *
  * The composable HOF form (`aggregate(filter(split(w,"")), …)`)
  * allocates an array of one-character strings per row; this expression
  * walks the UTF8String's code points in place. Used by the hot hashing
  * queries (token encode, minhash, simhash, fingerprints, frame
  * hashes), where the hash runs once per token occurrence — O(corpus)
  * times. Values are IDENTICAL to the HOF form (asserted in tests), so
  * the DuckDB oracle fragments are unchanged.
  */
case class TokenId(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_id expects a string arg, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "token_id"

  override def nullSafeEval(v: Any): Any =
    TokenId.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenId.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenId =
    copy(child = newChild)
}

object TokenId {
  private[plans] val P = 1000000007L

  /** Shared by interpreted eval and generated code. Iterates code
    * points (matching `ascii()` per split-"" character, the HOF form).
    * All-ASCII input, the tokenizer's whole output domain, folds its
    * bytes in place; any byte >= 0x80 (a multi-byte character, or a
    * stray continuation byte) falls back to the code-point walk. */
  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) return computeCodePoints(s)
      acc = (acc * 31L + b) % P
      i += 1
    }
    acc
  }

  private def computeCodePoints(s: UTF8String): Long = {
    var acc = 0L
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  def tokenId(c: Column): Column = SqlBridge.column(TokenId(SqlBridge.expression(c)))
}
