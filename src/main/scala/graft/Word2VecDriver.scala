package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Embed
import graft.sources.TextCorpus

/** The reference's CLI, re-expressed: `sbt "runMain graft.Word2VecDriver
  * <inputDir> <outputDir>"` scans a directory of text files, runs the
  * full pipeline (tokenize → count → train one global skip-gram model
  * on that count → encode), and writes the reference's exact output
  * line format `word,token,count,[v1,...,vN]` plus a `_SUCCESS` marker (reference
  * `Word2VecDriver.main`, `MapRedWord2Vec.scala:246-282`; line format
  * `README.md:22-23`). Hyperparameters tune via `--conf graft.w2v.*`
  * (see [[GraftConfig]]). */
object Word2VecDriver {
  /** The `--synonyms` report over a just-trained (word, vector) table:
    * top-k nearest words by cosine ([[Embed.synonyms]], the q41 plan),
    * one `word,cos_sim` line each — the cosine capability the reference
    * lost a point for (feedback.md:5), surfaced at its own entry point.
    * Locale-pinned fixed-point so the line grammar never varies. */
  def synonymLines(vocab: DataFrame,
                   word: String, k: Int): Seq[String] =
    Embed.synonyms(vocab.select("word", "vector"), word, k)
      .collect()
      .map(r => String.format(java.util.Locale.ROOT, "%s,%.4f",
        r.getString(0), r.getDouble(1): java.lang.Double))
      .toSeq

  /** The reference-format sink frame over a (word, token, count,
    * vector) table: one `word,token,count,[v1,...,vN]` line per row, in
    * the table's order. */
  def sinkLines(table: DataFrame): DataFrame =
    table.select(concat(
      col("word"), lit(","), col("token"), lit(","), col("count"),
      lit(",["), array_join(col("vector"), ","), lit("]")).as("value"))

  /** The driver's whole pipeline, session-agnostic (so the e2e test can
    * run it on the shared test session without the CLI's stop()):
    * text dir in → reference-format text sink out, plus the optional
    * synonyms report over the same fitted model (no refit). Returns the
    * vocabulary size, read off the driver-side model. */
  def run(spark: SparkSession, in: String, out: String,
          synonyms: Option[(String, Int)] = None): Long = {
    val corpus = TextCorpus.read(spark, in).select(col("value").as("text"))
    val model = Embed.fitText(spark, corpus)
    val result = Embed.table(spark, model)
    sinkLines(result).write.mode("overwrite").text(out)
    synonyms.foreach { case (word, k) =>
      if (model.contains(word))
        synonymLines(result, word, k).foreach(l => println(s"[synonyms] $l"))
      else println(s"[synonyms] '$word' is not in the vocabulary")
    }
    model.size.toLong
  }

  /** CLI grammar, separated from `main` so the parse → forward path is
    * testable without building a session: two positionals plus an
    * optional `--synonyms word,k` anywhere in the arg list. */
  def parseArgs(args: Array[String]): (String, String, Option[(String, Int)]) = {
    var synonyms: Option[(String, Int)] = None
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      if (args(i) == "--synonyms") {
        require(i + 1 < args.length, "--synonyms expects a word,k value")
        val parts = args(i + 1).split(",")
        val k = if (parts.length == 2) parts(1).toIntOption else None
        require(parts.length == 2 && k.exists(_ > 0),
          s"--synonyms expects word,k with k a positive int, got '${args(i + 1)}'")
        synonyms = Some((parts(0), k.get))
        i += 2
      } else { positional += args(i); i += 1 }
    }
    require(positional.length == 2,
      "usage: Word2VecDriver <inputDir> <outputDir> [--synonyms word,k]")
    (positional(0), positional(1), synonyms)
  }

  /** Everything `main` does after session construction: parse the raw
    * args and forward them — including the synonyms option — to [[run]].
    * The e2e test drives this entry so a parsed-but-dropped flag can't
    * pass the suite while being dead at the real command line. */
  def execute(spark: SparkSession, args: Array[String]): Long = {
    val (in, out, synonyms) = parseArgs(args)
    val n = run(spark, in, out, synonyms)
    println(s"[word2vec-driver] wrote $n vocabulary rows to $out")
    n
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8, b =>
      sys.env.get("SPARK_GRAFT_MASTER").fold(b)(b.master).appName("graft-word2vec"))
    execute(spark, args)
    spark.stop()
  }
}
