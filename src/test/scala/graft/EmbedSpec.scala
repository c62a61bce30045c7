package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Embed

/** The Word2Vec CLI and the Embed queries around the native trainer:
  * what they leave persisted, the sink's plan shape, and output that
  * does not depend on the shuffle partition count or AQE. */
class EmbedSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.spark

  /** Four files with many tied word counts. */
  private def tiedCorpus(): Path = {
    val in = Files.createTempDirectory("graft-w2v-ties")
    val rnd = new scala.util.Random(3L)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "nova")
    for (f <- 0 until 4)
      Files.writeString(in.resolve(s"part$f.txt"),
        Seq.fill(12)(Seq.fill(8)(words(rnd.nextInt(words.length))).mkString(" ")).mkString("\n"))
    in
  }

  private def partBytes(out: String): Array[Byte] =
    new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => Files.readAllBytes(f.toPath))

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("CLI part files are byte-identical under 1, 4 and 16 shuffle partitions, AQE on and off") {
    val in = tiedCorpus().toString
    val outputs = for {
      parts <- Seq("1", "4", "16")
      aqe <- Seq("true", "false")
    } yield withConf("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe) {
      val out = Files.createTempDirectory("graft-w2v-inv").resolve("out").toString
      Word2VecDriver.run(spark, in, out)
      s"partitions=$parts aqe=$aqe" -> partBytes(out)
    }
    val (_, first) = outputs.head
    val counts = new String(first, "UTF-8").linesIterator.map(_.split(",")(2)).toSeq
    assert(counts.distinct.size < counts.size, "the corpus must have tied word counts")
    outputs.tail.foreach { case (label, bytes) =>
      assert(java.util.Arrays.equals(bytes, first), s"sink output differs at $label")
    }
  }

  test("the CLI sink frame is not a local relation and runs without an exchange") {
    val in = tiedCorpus().toString
    val corpus = graft.sources.TextCorpus.read(spark, in)
      .select(org.apache.spark.sql.functions.col("value").as("text"))
    val sink = Word2VecDriver.sinkLines(Embed.table(spark, Embed.fitText(spark, corpus)))
    val optimized = sink.queryExecution.optimizedPlan
    assert(optimized.collectFirst { case l: LocalRelation => l }.isEmpty,
      s"the sink must not fold into a local relation:\n$optimized")
    val executed = sink.queryExecution.executedPlan
    assert(collectFirst(executed) { case e: Exchange => e }.isEmpty,
      s"the sink must not shuffle:\n$executed")
  }

  test("Embed.fitWordVectors, q40 and q41 leave no persistent RDD behind") {
    // a seed no other test uses, so the memo misses and a fit really runs
    withConf("graft.w2v.seed" -> "4242") {
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      assert(Embed.fitWordVectors(spark, TestSpark.sf0001).count() > 0)
      assert(Embed.q40Word2VecVocab(spark, TestSpark.sf0001).collect().nonEmpty)
      assert(Embed.q41Synonyms(spark, TestSpark.sf0001).collect().nonEmpty)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty, s"Embed left persistent RDDs behind: $leaked")
    }
  }

  test("--synonyms with a word outside the vocabulary prints one not-in-vocabulary line") {
    val in = tiedCorpus().toString
    val out = Files.createTempDirectory("graft-w2v-oov").resolve("out").toString
    val stdout = new java.io.ByteArrayOutputStream()
    val n = Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
      Word2VecDriver.execute(spark, Array(in, out, "--synonyms", "zebra,5"))
    }
    assert(n == 14)
    val printed = stdout.toString("UTF-8").linesIterator.filter(_.startsWith("[synonyms]")).toSeq
    assert(printed == Seq("[synonyms] 'zebra' is not in the vocabulary"))
  }
}
