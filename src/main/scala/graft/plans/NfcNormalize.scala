package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the
  * text-canonicalization gate a dedup/decontamination pipeline needs
  * BEFORE any content hash: "café" composed (U+00E9) and decomposed
  * (e + U+0301) are byte-different, so md5/minhash/shingle keys split
  * on a distinction no reader sees and exact dedup (q30) silently
  * under-merges. Normal-form canonicalization is the fix, run once at
  * ingest (q159 reports its effect).
  *
  * Spark has no normalization built-in, so this wraps
  * `java.text.Normalizer` (ICU-free, in the JDK) in the engine's
  * standard native-expression shape: shared static kernel for
  * interpreted eval and generated code, null-safe, registered in SQL as
  * `nfc_normalize` (the DuckDB-matching name, so oracle SQL and engine
  * SQL read identically). NFC (not NFKC) on purpose: canonical
  * composition is lossless, while compatibility folding (ﬁ → fi,
  * ② → 2) changes content and belongs to an explicit cleaning policy,
  * not a default gate.
  *
  * Scale: per-row scalar inside whole-stage codegen, zero shuffle —
  * scan-speed like the other Portable kernels. The common all-ASCII
  * fast path is O(n) with no allocation (`Normalizer.isNormalized` is
  * a cheap scan; already-NFC strings return the INPUT UTF8String,
  * copy-free).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects a string arg, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfc(c: Column): Column = SqlBridge.column(NfcNormalize(SqlBridge.expression(c)))
}
