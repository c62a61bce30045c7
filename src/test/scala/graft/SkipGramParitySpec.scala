package graft

import java.nio.file.Files

import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Portable
import graft.operators.SkipGram

/** The native skip-gram trainer against `ml.feature.Word2Vec`, which
  * stays in test as its spec. On one-file corpora whose word counts are
  * all distinct (MLlib breaks vocabulary ties by `reduceByKey` output
  * order) a one-partition fit must match MLlib bit for bit. */
class SkipGramParitySpec extends AnyFunSuite {
  import TestSpark.spark

  /** Lowercase-letter word names, so the reference tokenizer keeps them. */
  private def name(i: Int): String = {
    val sb = new StringBuilder("w")
    var n = i
    while ({ sb += ('a' + n % 26).toChar; n /= 26; n > 0 }) ()
    sb.toString
  }

  /** A one-file corpus: word `i` of `nWords` appears exactly `i + 1`
    * times (all counts distinct), shuffled with a fixed seed, cut into
    * lines of `lineLen` words; `blankEvery > 0` inserts an empty line
    * and a line of dropped tokens after every that many lines. */
  private def corpus(nWords: Int, lineLen: Int, blankEvery: Int = 0): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val tokens = rnd.shuffle((0 until nWords).flatMap(i => Seq.fill(i + 1)(name(i))))
    val lines = tokens.grouped(lineLen).map(_.mkString(" ")).zipWithIndex.flatMap {
      case (l, i) if blankEvery > 0 && i % blankEvery == 0 => Seq(l, "", "123 !!! 456")
      case (l, _) => Seq(l)
    }.toSeq
    textTokens(lines)
  }

  private def textTokens(lines: Seq[String]): DataFrame = {
    val dir = Files.createTempDirectory("graft-skipgram")
    Files.writeString(dir.resolve("corpus.txt"), lines.mkString("", "\n", "\n"))
    val tokens = spark.read.text(dir.toString)
      .select(Portable.tokenize(col("value")).as("words"))
    assert(tokens.rdd.getNumPartitions == 1, "a parity corpus must be one input partition")
    tokens
  }

  private def mllib(tokens: DataFrame, cfg: GraftConfig): Map[String, Array[Double]] =
    new Word2Vec()
      .setInputCol("words").setOutputCol("vec")
      .setVectorSize(cfg.layerSize).setWindowSize(cfg.windowSize)
      .setMaxIter(cfg.iterations).setMinCount(cfg.minWordFrequency)
      .setSeed(cfg.seed).setNumPartitions(1)
      .fit(tokens).getVectors.collect()
      .map(r => r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray)
      .toMap

  private def native(tokens: DataFrame, cfg: GraftConfig): Map[String, Array[Double]] = {
    val m = SkipGram.fit(tokens, cfg)
    m.words.indices.map { i =>
      m.words(i) -> Array.tabulate(m.dim)(j => m.syn0(i * m.dim + j).toDouble)
    }.toMap
  }

  private def assertBitIdentical(tokens: DataFrame, cfg: GraftConfig): Unit = {
    val expected = mllib(tokens, cfg)
    val actual = native(tokens, cfg)
    assert(actual.keySet == expected.keySet, "vocabularies differ")
    val differing = expected.keys.filterNot(w => java.util.Arrays.equals(actual(w), expected(w)))
    assert(differing.isEmpty,
      s"${differing.size} of ${expected.size} vectors differ from MLlib, e.g. ${differing.take(3)}")
    assert(expected.values.forall(_.length == cfg.layerSize))
  }

  for ((dim, window, iterations, lineLen) <- Seq((100, 5, 1, 15), (7, 3, 2, 1500), (16, 8, 3, 9)))
    test(s"native fit equals ml.feature.Word2Vec bit for bit: dim=$dim window=$window " +
      s"iterations=$iterations line=$lineLen") {
      // 150 words, 11325 tokens: past the 10000-word alpha update
      assertBitIdentical(corpus(150, lineLen),
        GraftConfig(layerSize = dim, windowSize = window, iterations = iterations))
    }

  test("native fit equals ml.feature.Word2Vec with minCount = 2") {
    val cfg = GraftConfig(layerSize = 10, minWordFrequency = 2)
    val tokens = corpus(60, 20)
    assertBitIdentical(tokens, cfg)
    assert(!SkipGram.fit(tokens, cfg).contains(name(0)), "a count-1 word is below minCount")
  }

  test("native fit equals ml.feature.Word2Vec over a corpus with empty lines") {
    assertBitIdentical(corpus(80, 12, blankEvery = 3), GraftConfig(layerSize = 12))
  }

  test("an empty corpus fails the vocabulary require with MLlib's message") {
    val tokens = textTokens(Seq("", "123 456", "!!!"))
    val cfg = GraftConfig(layerSize = 8)
    val theirs = intercept[IllegalArgumentException](mllib(tokens, cfg))
    val ours = intercept[IllegalArgumentException](SkipGram.fit(tokens, cfg))
    assert(ours.getMessage == theirs.getMessage)
    assert(ours.getMessage.contains("The vocabulary size should be > 0"))
  }

  test("numPartitions = 2 trains the same vocabulary with finite vectors of the right size") {
    val tokens = corpus(100, 10)
    val one = SkipGram.fit(tokens, GraftConfig(layerSize = 20))
    val two = SkipGram.fit(tokens, GraftConfig(layerSize = 20, numPartitions = 2))
    assert(two.words.sameElements(one.words) && two.counts.sameElements(one.counts))
    assert(two.dim == 20 && two.syn0.length == two.size * 20)
    assert(two.syn0.forall(v => !v.isNaN && !v.isInfinite))
    assert(!two.syn0.sameElements(one.syn0), "two partitions average two models' rows")
  }

  test("vocabulary orders count ties by word, whatever the aggregation's output order") {
    val tokens = textTokens(Seq("pear fig kiwi apple", "fig pear date", "kiwi banana fig"))
    val vocab = SkipGram.vocabulary(tokens, 1)
    assert(vocab.toSeq == Seq("fig" -> 3L, "kiwi" -> 2L, "pear" -> 2L,
      "apple" -> 1L, "banana" -> 1L, "date" -> 1L))
    assert(SkipGram.vocabulary(tokens, 2).map(_._1).toSeq == Seq("fig", "kiwi", "pear"))
  }
}
