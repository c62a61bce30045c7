package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Parity
import graft.sources.TextCorpus

/** R1 text scan + R2 text sink against the reference's own fixture
  * content (test-file1/2 from the reference's input dir). */
class SourcesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("text corpus scan reads a directory of files line by line (R1)") {
    val dir = Files.createTempDirectory("graft-corpus")
    Files.writeString(dir.resolve("test-file1.txt"), "hello 123 hello 456 hello this is a test\n")
    Files.writeString(dir.resolve("test-file2.txt"), "hello, this is a test file for map reduce program\n")
    val corpus = TextCorpus.read(spark, dir.toString)
    assert(corpus.count() == 2)
    // the reference word-count half over the scanned corpus
    val counts = Parity.wordCounts(corpus.select(col("value").as("text")))
      .as[(String, Long)].collect().toMap
    assert(counts("hello") == 4)   // 3 from file1 + 1 from file2
    assert(counts("test") == 2)
    assert(!counts.contains("123"))
  }

  test("flagship pipeline runs over an arbitrary text corpus (the CLI path)") {
    val dir = Files.createTempDirectory("graft-cli-corpus")
    Files.writeString(dir.resolve("f1.txt"), "hello 123 hello 456 hello this is a test\n")
    Files.writeString(dir.resolve("f2.txt"), "hello, this is a test file for map reduce program\n")
    val corpus = TextCorpus.read(spark, dir.toString).select(col("value").as("text"))
    val result = graft.operators.Embed.flagshipFromText(spark, corpus).collect()
    val byWord = result.map(r => r.getString(0) -> r).toMap
    assert(byWord.keySet.contains("hello") && !byWord.keySet.exists(_.exists(_.isDigit)))
    assert(byWord("hello").getLong(2) == 4L)                    // count col
    assert(byWord("hello").getSeq[Double](3).length == 100)     // vector dim
    assert(byWord("a").getLong(1) == 97L)                       // token id
  }

  test("Word2VecDriver e2e: reference corpus layout in, exact output line grammar out") {
    // mirror the reference's input/ directory layout (a dir of small
    // text files; fixture strings from the reference's test-file1/2)
    // and assert the reference's EXACT sink grammar
    // `word,token,count,[v1,...,vN]` (MapRedWord2Vec.scala:235 output
    // format, Test.scala:134-135 exact-string assertion, README.md:22-23)
    val in = Files.createTempDirectory("graft-e2e-in")
    Files.writeString(in.resolve("test-file1.txt"), "hello 123 hello 456 hello this is a test\n")
    Files.writeString(in.resolve("test-file2.txt"), "hello, this is a test file for map reduce program\n")
    val out = Files.createTempDirectory("graft-e2e-out").resolve("w2v").toString
    val n = Word2VecDriver.run(spark, in.toString, out)
    assert(new java.io.File(s"$out/_SUCCESS").exists(), "sink must commit _SUCCESS")
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.length == n.toInt && n > 0)
    // exact line grammar: word, signed token id, count, bracketed vector
    val grammar = "^([a-z]+),(-?\\d+),(\\d+),\\[(.+)\\]$".r
    val parsed = lines.map {
      case grammar(word, token, count, vec) =>
        val vs = vec.split(",")
        assert(vs.length == 100, s"vector dim ${vs.length} != layerSize 100 for '$word'")
        vs.foreach(v => assert(v.toDouble == v.toDouble)) // every element parses
        word -> ((token.toLong, count.toLong))
      case bad => fail(s"line does not match the reference grammar: $bad")
    }.toMap
    // reference semantics on the fixture: digits dropped, counts summed
    assert(parsed("hello")._2 == 4L) // 3 from file1 + 1 from file2
    assert(parsed("test")._2 == 2L)
    assert(!parsed.keySet.exists(_.exists(_.isDigit)))
    assert(parsed("a")._1 == 97L) // the portable token encoding
  }

  test("Word2VecDriver --synonyms surfaces the q41 cosine report at the CLI") {
    // the reference lost a point for missing cosine similarity
    // (feedback.md:5); the engine's q41 capability must be visible at
    // the reference's own entry point, not only as a declared query
    val in = Files.createTempDirectory("graft-syn-in")
    Files.writeString(in.resolve("test-file1.txt"), "hello 123 hello 456 hello this is a test\n")
    Files.writeString(in.resolve("test-file2.txt"), "hello, this is a test file for map reduce program\n")
    val out = Files.createTempDirectory("graft-syn-out").resolve("w2v").toString
    // drive the REAL CLI path (parse → forward), not run() directly: a
    // parsed-but-dropped flag must fail this test, not only code review
    val stdout = new java.io.ByteArrayOutputStream()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val n = Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
      Word2VecDriver.execute(spark,
        Array(in.toString, out, "--synonyms", "hello,3"))
    }
    assert(n > 0)
    // the CLI releases everything it persisted (result, tokens, vectors)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"CLI left persistent RDDs behind: $leaked")
    val printed = stdout.toString("UTF-8").linesIterator
      .filter(_.startsWith("[synonyms] ")).map(_.stripPrefix("[synonyms] ")).toSeq
    assert(printed.length == 3,
      s"CLI must print 3 [synonyms] lines, got: ${stdout.toString("UTF-8")}")
    // the CLI prints synonymLines verbatim — assert the report itself
    val vocab = graft.operators.Embed.flagshipFromText(spark,
      TextCorpus.read(spark, in.toString).select(col("value").as("text")))
    val lines = Word2VecDriver.synonymLines(vocab, "hello", 3)
    assert(lines.length == 3, s"expected 3 synonym lines, got $lines")
    val grammar = "^([a-z]+),(-?\\d\\.\\d{4})$".r
    val parsed = lines.map {
      case grammar(word, cos) => (word, cos.toDouble)
      case bad => fail(s"synonym line does not match word,cos_sim grammar: $bad")
    }
    assert(parsed.forall(_._1 != "hello"), "the query word is not its own synonym")
    assert(parsed.forall(p => math.abs(p._2) <= 1.0), "cosine must be in [-1, 1]")
    val cosines = parsed.map(_._2)
    assert(cosines == cosines.sorted.reverse, "report must be descending by cosine")
  }

  test("Word2VecDriver.parseArgs accepts the flag anywhere and rejects bad forms") {
    assert(Word2VecDriver.parseArgs(Array("in", "out")) == (("in", "out", None)))
    assert(Word2VecDriver.parseArgs(Array("in", "out", "--synonyms", "hi,5")) ==
      (("in", "out", Some(("hi", 5)))))
    assert(Word2VecDriver.parseArgs(Array("--synonyms", "hi,5", "in", "out")) ==
      (("in", "out", Some(("hi", 5)))))
    for (bad <- Seq(Array("in", "out", "--synonyms"),
                    Array("in", "out", "--synonyms", "hi"),
                    Array("in", "out", "--synonyms", "hi,0"),
                    Array("in", "out", "--synonyms", "hi,x"),
                    Array("in")))
      intercept[IllegalArgumentException](Word2VecDriver.parseArgs(bad))
  }

  test("orc and json sinks round-trip the star-schema rows") {
    val base = Files.createTempDirectory("graft-io")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.write.orc(s"$base/orc")
    nation.write.json(s"$base/json")
    val orc = spark.read.orc(s"$base/orc")
    val json = spark.read.json(s"$base/json")
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
    assert(orc.exceptAll(nation).count() == 0 && nation.exceptAll(orc).count() == 0)
    assert(json.exceptAll(nation.select(orc.columns.map(col): _*)).count() == 0)
    assert(orc.count() == 25 && json.count() == 25)
  }

  test("orc scans push filters and prune columns like parquet") {
    // format parity contract: swapping the warehouse format must not
    // silently lose pushdown — a predicate over an ORC scan has to
    // reach the reader (PushedFilters) and a 2-column projection must
    // shrink ReadSchema, exactly as the parquet scans prove in
    // SCALING.md
    val base = Files.createTempDirectory("graft-orc-push")
    Tables.lineitem(spark, TestSpark.sf0001).write.orc(s"$base/li")
    val plan = spark.read.orc(s"$base/li")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      s"ORC scan must push the quantity predicate:\n${plan.take(1200)}")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"ORC scan must prune to the 2 projected columns:\n${plan.take(1200)}")
  }

  test("GraftConfig defaults to the reference hyperparameters and reads overrides (R3)") {
    assert(GraftConfig.from(spark) == GraftConfig(100, 5, 1, 1, 42L))
    spark.conf.set("graft.w2v.layerSize", "20")
    try assert(GraftConfig.from(spark).layerSize == 20)
    finally spark.conf.unset("graft.w2v.layerSize")
  }

  test("scratch sweeps dead-pid orphan roots and spares live and non-pid siblings") {
    // a SIGKILLed JVM never runs its shutdown hook, so its pid-scoped
    // scratch root (corpus-sized parquet trees) would leak under /tmp
    // forever — the first dir() call of a fresh JVM sweeps roots whose
    // owning pid is gone, and ONLY those
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val dead = new java.io.File(tmp, "graft-scratch-987654321") // > pid_max
    new java.io.File(dead, "store").mkdirs()
    java.nio.file.Files.writeString(
      dead.toPath.resolve("store").resolve("f.parquet"), "orphaned bytes")
    val notPid = new java.io.File(tmp, "graft-scratch-backup.bak")
    new java.io.File(notPid, "d").mkdirs()
    try {
      Scratch.sweepOrphans()
      assert(!dead.exists(), "a dead pid's orphan root must be swept")
      assert(notPid.exists(),
        "a sibling whose suffix is not a pid must be left alone")
      // this JVM's own root survives its sweep and stays writable
      val d = Scratch.dir("sweep-spec")
      assert(new java.io.File(d).isDirectory)
      Scratch.sweepOrphans()
      assert(new java.io.File(d).isDirectory,
        "a LIVE process's root must never be swept")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(notPid); rm(dead)
    }
  }
}
