package graft

import org.scalatest.funsuite.AnyFunSuite

/** The RunOne dev tool on the shared test session: one timing loop for
  * a single name and a list alike, the `jobs` mode, and fail-fast name
  * resolution. */
class RunOneSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  /** Runs RunOne with `args` and returns its `[runone]` lines. */
  private def runOne(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(RunOne.run(spark, args.toArray))
    out.toString("UTF-8").linesIterator.filter(_.startsWith("[runone] ")).toSeq
  }

  test("one name and a two-name list each print one timing line per name") {
    val one = runOne("q01_wordcount", sf0001, "1")
    assert(one.size == 1 && one.head.startsWith("[runone] q01_wordcount: min "), one)
    val two = runOne("q01_wordcount,q10_pricing_summary", sf0001, "1")
    assert(two.map(_.split(':').head) ==
      Seq("[runone] q01_wordcount", "[runone] q10_pricing_summary"), two)
  }

  test("jobs mode reports at least one Spark job per name") {
    val lines = runOne("q01_wordcount,q10_pricing_summary", sf0001, "1", "jobs")
    assert(lines.size == 2, lines)
    val jobs = lines.map { l =>
      "jobs (\\d+) \\(wall".r.findFirstMatchIn(l).map(_.group(1).toInt)
        .getOrElse(fail(s"no job count on: $l"))
    }
    assert(jobs.forall(_ >= 1), lines)
  }

  test("an unknown name or mode fails before anything runs, and the error names it") {
    for ((args, bad) <- Seq(
        Array("q01_wordcount,q999_no_such_query", sf0001, "1") -> "q999_no_such_query",
        Array("q01_wordcount", sf0001, "1", "jbos") -> "jbos")) {
      val out = new java.io.ByteArrayOutputStream()
      val e = intercept[IllegalArgumentException] {
        Console.withOut(out)(RunOne.run(spark, args))
      }
      assert(e.getMessage.contains(bad), e.getMessage)
      assert(!out.toString("UTF-8").contains("[runone]"),
        s"no query may run when '$bad' is unknown")
    }
  }
}
