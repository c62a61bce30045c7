package graftbench

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.Word2VecDriver
import graft.operators.{Embed, Parity}
import graft.sources.TextCorpus

/** `w2v_cli`: the reference's own job. Each op is one
  * `Word2VecDriver.execute` over a seeded directory of text files with
  * `--synonyms <top word>,10`, writing the reference-format text sink.
  * The only workload where MLlib training, the text source and the text
  * sink dominate. */
final class W2vCli extends Workload {
  val Tokens = 30000
  val Vocab = 6000
  val NFiles = 4
  val K = 10

  private var tally: Map[String, Long] = Map.empty
  private var top = ""
  private var in = ""

  def itemsPerPass: Double = Tokens

  def prepare(ctx: Ctx): Unit = {
    val dir = new java.io.File(ctx.work, "w2v-in")
    IO.delete(dir)
    tally = Gen.textCorpus(dir, new Random(ctx.seed), Tokens, Vocab, NFiles)
    top = tally.toSeq.maxBy { case (w, c) => (c, w) }._1
    in = dir.getAbsolutePath
  }

  def pass(ctx: Ctx): Unit = {
    val out = ctx.path("w2v-out")
    ctx.op("Word2VecDriver", "execute") {
      val buf = new java.io.ByteArrayOutputStream
      val n = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Word2VecDriver.execute(ctx.spark, Array(in, out, "--synonyms", s"$top,$K"))
      }
      (n, buf.toString("UTF-8"))
    } { case (n, printed) =>
      val synonyms = printed.linesIterator.filter(_.startsWith("[synonyms] ")).toSeq
      if (n != tally.size) Some(s"CLI reported $n vocabulary rows, expected ${tally.size}")
      else if (synonyms.length != K) Some(s"${synonyms.length} synonym lines, expected $K")
      else checkSink(out)
    }
  }

  private val Line = """([a-z]+),(-?\d+),(\d+),\[([^\]]*)\]""".r

  /** Every line is `word,token,count,[v1..v100]`, counts equal the
    * generator's tally, tokens equal the reference token hash, and every
    * vector component is finite. */
  private def checkSink(out: String): Option[String] = {
    val dir = new java.io.File(out)
    if (!new java.io.File(dir, "_SUCCESS").exists()) return Some("sink wrote no _SUCCESS")
    val lines = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .iterator.flatMap(f => java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]))
    val seen = scala.collection.mutable.HashMap.empty[String, Long]
    for (l <- lines) l match {
      case Line(w, tok, cnt, vec) =>
        val v = vec.split(",")
        if (v.length != 100 || !v.forall(x => x.toDoubleOption.exists(d => !d.isNaN && !d.isInfinite)))
          return Some(s"bad vector for '$w'")
        if (tok.toLong != tokenId(w)) return Some(s"token $tok for '$w', expected ${tokenId(w)}")
        seen(w) = cnt.toLong
      case other => return Some(s"malformed sink line: ${other.take(80)}")
    }
    if (seen != tally) Some(s"sink counts differ from the generator's (${seen.size} vs ${tally.size} words)")
    else None
  }

  /** The reference token id: fold (acc * 31 + char) mod 1e9+7. */
  private def tokenId(w: String): Long = w.foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)

  def verify(ctx: Ctx): Unit = ()

  /** One run of the CLI's pipeline as separate public calls, each a span. */
  def layerMetrics(ctx: Ctx, traced: Seq[Span], passes: Int): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.newOp()
    val first = t.all.lastOption.map(_.id + 1).getOrElse(1L)
    val texts = t.span("TextCorpus", "read") {
      val df = TextCorpus.read(spark, in).select(col("value").as("text"))
      IO.noop(df)
      df
    }
    t.span("Parity", "wordCounts") {
      IO.noop(Parity.wordCounts(texts))
    }
    val result = t.span("Embed", "fit")(Embed.flagshipFromText(spark, texts).cache())
    t.span("sink", "write") {
      result.select(concat(col("word"), lit(","), col("token"), lit(","), col("count"),
        lit(",["), array_join(col("vector"), ","), lit("]")).as("value"))
        .write.mode("overwrite").text(ctx.path("w2v-out-layers"))
    }
    val syn = t.span("Word2VecDriver", "synonymLines")(Word2VecDriver.synonymLines(result, top, K))
    result.unpersist()
    ctx.verify("synonymLines")(if (syn.length == K) None else Some(s"${syn.length} synonym lines"))
    val spans = t.all.filter(_.id >= first)
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val fitJobs = ctx.exec.total(spark.sparkContext,
      spans.filter(_.name == "Embed.fit").map(_.id)).jobs
    Map(
      "TextCorpus.read_s" -> secs("TextCorpus.read"),
      "Parity.wordCounts_s" -> secs("Parity.wordCounts"),
      "Embed.fit_s" -> secs("Embed.fit"),
      "Embed.fit_jobs" -> fitJobs.toDouble,
      "sink.write_s" -> secs("sink.write"),
      "Word2VecDriver.synonymLines_s" -> secs("Word2VecDriver.synonymLines"))
  }
}
