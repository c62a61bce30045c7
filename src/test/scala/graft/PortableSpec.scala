package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Portable

/** Unit tests for the portable scalar functions, incl. the reference's
  * own tokenizer fixtures (reference `Test.scala:68,88`,
  * `input/test-file1.txt`: digits dropped, per-word counts). */
class PortableSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** JVM twin of the SQL fold — the spec the column must match. */
  private def tokenIdRef(w: String): Long =
    w.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % Portable.P)

  test("tokenId matches the polynomial fold spec") {
    val words = Seq("a", "hello", "spark", "zzz", "x")
    val got = words.toDF("w").select(Portable.tokenId(col("w"))).as[Long].collect()
    assert(got.toSeq == words.map(tokenIdRef))
    assert(tokenIdRef("a") == 97L)
  }

  test("tokenId is deterministic, total and bounded (property, 200 samples)") {
    val gen = Gen.listOfN(200, Gen.chooseNum(0, 30).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar)))
    val words = gen(Gen.Parameters.default, Seed(42L)).get
    val got = words.toDF("w").select(Portable.tokenId(col("w"))).as[Long].collect()
    assert(got.toSeq == words.map(tokenIdRef))
    assert(got.forall(h => h >= 0L && h < Portable.P))
  }

  test("native TokenId expression equals the HOF spec, incl. non-ASCII") {
    val words = Seq("", "a", "hello", "zzzzzzzzzzzzzzzzzzzz", "héllo", "日本語", "a b,c")
    val got = words.toDF("w")
      .select(Portable.tokenId(col("w")).as("native"), HofSpecs.tokenId(col("w")).as("hof"))
      .as[(Long, Long)].collect()
    got.zip(words).foreach { case ((n, h), w) => assert(n == h, s"mismatch for '$w'") }
    assert(got(1)._1 == 97L)
  }

  test("tokenize reproduces the reference fixture: digits dropped, counts kept") {
    // reference input/test-file1.txt: "hello 123 hello 456 hello this is a test"
    val words = Seq("hello 123 hello 456 hello this is a test").toDF("text")
      .select(explode(Portable.tokenize(col("text"))).as("w"))
      .as[String].collect().toSeq
    assert(words.count(_ == "hello") == 3)
    assert(!words.exists(w => w.exists(_.isDigit)))
    assert(words.toSet == Set("hello", "this", "is", "a", "test"))
  }

  test("tokenize splits punctuation like \\W+ (reference test-file2)") {
    val words = Seq("hello, this is a test file for map reduce program").toDF("text")
      .select(Portable.tokenize(col("text"))).as[Seq[String]].head()
    assert(words.head == "hello")
    assert(words.size == 10)
  }

  test("fingerprint is order-sensitive") {
    val fps = Seq(Seq("a", "b", "c"), Seq("c", "b", "a"), Seq("a", "b", "c"))
      .toDF("words").select(Portable.fingerprint(col("words"))).as[Long].collect()
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
  }

  test("shingles produce distinct n-grams incl. short-doc degenerate case") {
    val got = Seq(Seq("a", "b", "c", "d"), Seq("x"))
      .toDF("words").select(HofSpecs.shingles(col("words"), 3)).as[Seq[String]].collect()
    assert(got(0).toSet == Set("a b c", "b c d"))
    assert(got(1) == Seq("x"))
  }

  test("ShingleHashes preserves string-shingle equality structure (property, 80 docs)") {
    // the kernel replaces shingle STRINGS with hashes; every consumer
    // only needs equality, so the distinct count per doc and the
    // cross-doc overlap sizes must match the string form exactly
    val gen = Gen.listOfN(80,
      Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))))
    val docs = gen(Gen.Parameters.default, Seed(11L)).get.zipWithIndex
      .map { case (ws, i) => (i.toLong, ws) }
    val rows = docs.toDF("id", "words")
      .select(col("id"),
        graft.plans.ShingleHashes.shingleHashes(col("words"), 3).as("hashes"),
        HofSpecs.shingles(col("words"), 3).as("strings"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toSet, r.getSeq[String](2).toSet))).toMap
    rows.values.foreach { case (hs, ss) =>
      assert(hs.size == ss.size, "distinct shingle count must match the string form")
    }
    for ((ia, (ha, sa)) <- rows; (ib, (hb, sb)) <- rows if ia < ib)
      assert((ha & hb).size == (sa & sb).size,
        s"overlap size mismatch between docs $ia and $ib")
  }

  test("NfcNormalize composes decomposed sequences, is idempotent, and stays NFC-not-NFKC") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.NfcNormalize.nfc
    def run(s: String): String =
      spark.range(1).select(nfc(lit(s)).as("n")).head().getString(0)
    // \u escapes, not raw literals — a toolchain that silently
    // re-normalizes source bytes would make raw literals vacuous
    val decomposed = "cafe\u0301" // e + COMBINING ACUTE ACCENT
    val composed = "caf\u00e9"    // e-acute as one code point
    assert(composed != decomposed, "fixture must be non-vacuous")
    assert(run(decomposed) == composed, "decomposed sequences compose")
    assert(run(composed) == composed && run(run(decomposed)) == composed,
      "idempotent / already-NFC passthrough")
    assert(run("plain ascii text") == "plain ascii text")
    // NFC must NOT apply compatibility folds (that's NFKC's job):
    // the fi ligature (U+FB01) and fullwidth A (U+FF21) survive
    assert(run("\ufb01le") == "\ufb01le")
    assert(run("\uff21") == "\uff21")
    // Hangul decomposed jamo compose to the syllable; null propagates
    assert(run("\u1112\u1161\u11ab") == "\ud55c")
    assert(spark.range(1)
      .select(nfc(lit(null).cast("string"))).head().isNullAt(0))
  }
}
