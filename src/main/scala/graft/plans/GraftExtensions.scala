package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native expressions, injected via
  * `SparkSessionExtensions` — the sanctioned extension seam (builder
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`). After
  * registration the expressions compose in plain SQL exactly like
  * built-ins (and keep their codegen):
  *
  * {{{
  *   SELECT token_id(word), cosine_sim(a, b), bpe_encode(word),
  *          repetition_stats(words), shingle_hashes(words, 8)
  * }}}
  *
  * `bpe_encode` binds [[graft.operators.Bpe.pretrainedMerges]] — the
  * frozen artifact — matching how a pretrained tokenizer ships as a
  * versioned function in SQL engines. Training-time merge tables stay
  * on the Scala API ([[BpeEncode.bpe]]), where the table is a value.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // guard sessions against the generator-projection trap (SCALING.md:
    // a doc-level expression carried through an explode re-evaluates
    // per generated row; measured 64 s vs 13 s per stream pass)
    ext.injectOptimizerRule(_ => PushExpensiveProjectionsBelowGenerate)
  }
}

object GraftExtensions {
  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  /** (identifier, info, builder) triples in the shape
    * `SparkSessionExtensions.injectFunction` expects. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("token_id"), info("token_id"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "token_id expects 1 argument")
        TokenId(args.head)
      }),
    (FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim expects 2 arguments")
        CosineSim(args(0), args(1))
      }),
    (FunctionIdentifier("l2_dist"), info("l2_dist"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "l2_dist expects 2 arguments")
        L2Dist(args(0), args(1))
      }),
    (FunctionIdentifier("bpe_encode"), info("bpe_encode"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bpe_encode expects 1 argument")
        BpeEncode(args.head, graft.operators.Bpe.pretrainedMerges)
      }),
    (FunctionIdentifier("repetition_stats"), info("repetition_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "repetition_stats expects 1 argument")
        RepetitionStats(args.head)
      }),
    (FunctionIdentifier("shingle_hashes"), info("shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "shingle_hashes expects (words, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingle_hashes n must be an integer literal, got $other")
        }
        ShingleHashes(args.head, n)
      }),
    (FunctionIdentifier("simhash_bands"), info("simhash_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "simhash_bands expects (v, bands)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"simhash_bands bands must be an integer literal, got $other")
        }
        SimhashBands(args.head, n)
      }),
    (FunctionIdentifier("nfc_normalize"), info("nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize expects 1 argument")
        NfcNormalize(args.head)
      }))
}
