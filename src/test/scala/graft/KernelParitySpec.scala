package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Portable
import graft.operators.{Dedup, TextAnalysis}
import graft.plans.{CosineSim, GramHashes, L2Dist, SimhashBands, WinnowMinima}

/** Parity harness for the native per-row kernels: the tokenizer
  * ([[graft.plans.ReferenceTokens]] behind [[Portable.tokenize]]),
  * [[graft.plans.TokenId]], [[GramHashes]], [[WinnowMinima]],
  * [[SimhashBands]], [[CosineSim]] and [[L2Dist]]. Random batches (scalacheck) are evaluated three
  * ways and must agree row for row:
  *  - interpreted: no whole-stage codegen, `factoryMode=NO_CODEGEN`;
  *  - generated: whole-stage codegen with `spark.sql.codegen.fallback`
  *    off, so a kernel whose generated code does not compile fails
  *    here instead of silently running interpreted;
  *  - the HOF forms the kernels replaced ([[HofSpecs]]), as the spec.
  * The inputs mix null, empty text, texts shorter than the gram or
  * window width, repeated words, control characters, non-BMP code
  * points and case-mapping traps (Kelvin sign, dotted capital I,
  * ligatures), arrays with null elements, and vector pairs of unequal
  * length, zero norm or NaN components. */
class KernelParitySpec extends AnyFunSuite {
  import TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("words", ArrayType(StringType, containsNull = true)),
    StructField("gh", ArrayType(LongType, containsNull = true)),
    StructField("v", ArrayType(DoubleType, containsNull = true)),
    StructField("u", ArrayType(DoubleType, containsNull = true))))

  /** One generated batch: the random gram width `k` and window `w` the
    * free-width kernels run at, and the rows. */
  private case class Batch(k: Int, w: Int, rows: Seq[Row])

  private val traps = Seq("\u212A", "\u212Aelvin", "\u0130", "\u0130stanbul", "\uFB01le",
    "STRA\u00DFE", "\u03A3\u039F\u03A3", "caf\u00E9", "\u65E5\u672C", "\uD83D\uDE00",
    "x\uD835\uDD18y", "\u01C5", "a\u0000b", "\u0007", "\u001F", "\u007F", "\u0085",
    "\u00A0", "\u2028", "\uD800", "\uDFFF")

  private val codePoints: Gen[String] = Gen.choose(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.choose(0, 0x10FFFF).map(cp => new String(Character.toChars(cp))))
      .map(_.mkString))

  private val word: Gen[String] = Gen.frequency(
    8 -> Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar)),
    2 -> Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar)),
    1 -> Gen.choose(1, 4).flatMap(n => Gen.stringOfN(n, Gen.oneOf('_', 'q', 'Q', '7'))),
    2 -> Gen.oneOf(traps),
    1 -> codePoints)

  private val sep: Gen[String] =
    Gen.frequency(10 -> " ", 1 -> "  ", 1 -> ", ", 1 -> "\t", 1 -> "\n", 1 -> "-", 1 -> "")

  private def joined(ws: Seq[String]): Gen[String] =
    Gen.listOfN(ws.length, sep).map(ss => ws.zip(ss).map { case (w, s) => w + s }.mkString)

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    3 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)).flatMap(joined),
    6 -> Gen.choose(0, 60).flatMap(Gen.listOfN(_, word)).flatMap(joined),
    2 -> (for { pool <- Gen.listOfN(3, word); n <- Gen.choose(4, 40)
                ws <- Gen.listOfN(n, Gen.oneOf(pool)); t <- joined(ws) } yield t))

  private def orNull[T](g: Gen[T], nullWeight: Int): Gen[Any] =
    Gen.frequency(nullWeight -> Gen.const(null), 10 -> g)

  private val words: Gen[Any] = orNull(Gen.choose(0, 20).flatMap(n =>
    Gen.listOfN(n, orNull(Gen.oneOf("a", "b", "the", "\u212A", "\uD83D\uDE00", ""), 1))), 1)

  private val gh: Gen[Any] = orNull(Gen.choose(0, 40).flatMap(n =>
    Gen.listOfN(n, orNull(Gen.frequency(3 -> Gen.choose(-5L, 20L), 1 -> Gen.long), 1))), 1)

  private val component: Gen[Any] = orNull(Gen.frequency(20 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.const(Double.NaN), 1 -> Gen.const(-0.0), 1 -> Gen.const(0.0),
    1 -> Gen.const(Double.NegativeInfinity)), 1)

  private val v: Gen[Any] = {
    val len = Gen.frequency(1 -> Gen.choose(0, Dedup.planeDim - 1),
      6 -> Gen.const(Dedup.planeDim), 1 -> Gen.choose(Dedup.planeDim + 1, 100))
    orNull(len.flatMap(n => Gen.listOfN(n, component)), 1)
  }

  /** The second vector of the (v, u) pair kernels: mostly v's length,
    * sometimes a zero vector of it, another length, or null. */
  private def u(v: Any): Gen[Any] = {
    val n = v match { case xs: Seq[_] => xs.length; case _ => Dedup.planeDim }
    Gen.frequency(6 -> Gen.listOfN(n, component), 1 -> Gen.const(Seq.fill(n)(0.0)),
      1 -> Gen.choose(0, 100).flatMap(Gen.listOfN(_, component)), 1 -> Gen.const(null))
  }

  private val ones = Seq.fill(Dedup.planeDim)(1.0)

  /** Fixed edge rows every batch carries. The (v, u) pairs: both null,
    * both empty, null elements, zero vectors, one null, a NaN
    * component, a length mismatch. */
  private val edges: Seq[Row] = Seq(
    Row(0L, null, null, null, null, null),
    Row(1L, "", Seq(), Seq(), Seq(), Seq()),
    Row(2L, "a", Seq(null), Seq(null), Seq.fill(Dedup.planeDim)(null), ones),
    Row(3L, "a b c", Seq("a", null, "b"), Seq(null, 3L, null), Seq.fill(Dedup.planeDim)(-0.0),
      Seq.fill(Dedup.planeDim)(0.0)),
    Row(4L, "the the the the the the", Seq.fill(9)("the"), Seq.fill(9)(7L), null, ones),
    Row(5L, "\u212Aelvin \u0130stanbul \uFB01le STRASSE \u00DF", Seq("\u212A"),
      Seq(Long.MaxValue, Long.MinValue), ones, Double.NaN +: ones.tail),
    Row(6L, "a\u0000b\u0007c  \uD83D\uDE00 abc x\uD835\uDD18y abc123 def_ghi \uD800",
      Seq("", " "), Seq(5L, 4L, 3L, 2L, 1L), Seq.fill(10)(1.0), ones))

  private val batch: Gen[Batch] = for {
    k <- Gen.choose(1, 6)
    w <- Gen.choose(1, 17)
    rows <- Gen.listOfN(200, for { t <- text; ws <- words; g <- gh; x <- v; y <- u(x) }
      yield Row(t, ws, g, x, y))
  } yield Batch(k, w, edges ++ rows.zipWithIndex.map { case (r, i) => Row(100L +: r.toSeq: _*) })

  private def grams(text: Column) = split(text, " ")

  /** The kernels, each named after the column it fills. */
  private def kernels(b: Batch, df: DataFrame): DataFrame = df.select(Seq(
    col("id"),
    Portable.tokenize(col("text")).as("tokens"),
    Portable.tokenId(col("text")).as("token_id"),
    GramHashes.gramHashes(grams(col("text")), TextAnalysis.WinnowK).as("gh_text"),
    GramHashes.gramHashes(col("words"), b.k).as("gh_k"),
    WinnowMinima.winnowMinima(col("gh"), b.w).as("sig_w"),
    SimhashBands.bands(col("v"), Dedup.nBands).as("bands"),
    CosineSim.cosine(col("v"), col("u")).as("cosine"),
    L2Dist.sqDist(col("v"), col("u")).as("sq_dist")) ++
    TextAnalysis.WinnowWindows.map(w => WinnowMinima.winnowMinima(
      GramHashes.gramHashes(grams(col("text")), TextAnalysis.WinnowK), w).as(s"sig_text_$w")): _*)

  /** The same columns from the HOF specs; `onNull` restores the
    * kernels' null → null where the HOF form maps a null array to a
    * non-null value (see [[HofSpecs]]). */
  private def specs(b: Batch, df: DataFrame): DataFrame = {
    def onNull(in: Column, c: Column) = when(in.isNull, lit(null)).otherwise(c)
    val ghText = HofSpecs.gramHashes(grams(col("text")), TextAnalysis.WinnowK)
    HofSpecs.simhashBands(df, "v", Dedup.nBands, "bands_hof").select(Seq(
      col("id"),
      HofSpecs.tokenize(col("text")).as("tokens"),
      HofSpecs.tokenId(col("text")).as("token_id"),
      onNull(col("text"), ghText).as("gh_text"),
      onNull(col("words"), HofSpecs.gramHashes(col("words"), b.k)).as("gh_k"),
      onNull(col("gh"), HofSpecs.winnowMinima(col("gh"), b.w)).as("sig_w"),
      onNull(col("v"), col("bands_hof")).as("bands"),
      HofSpecs.cosine(col("v"), col("u")).as("cosine"),
      HofSpecs.sqDist(col("v"), col("u")).as("sq_dist")) ++
      TextAnalysis.WinnowWindows.map(w =>
        onNull(col("text"), HofSpecs.winnowMinima(ghText, w)).as(s"sig_text_$w")): _*)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, x) => spark.conf.set(k, x) }
    try body finally old.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val generated = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")

  /** Rows by id, after checking the plan ran in the mode asked for. */
  private def run(df: DataFrame, wholeStage: Boolean): Map[Long, Row] = {
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == wholeStage,
      s"expected wholeStage=$wholeStage:\n$plan")
    rows.map(r => r.getLong(0) -> r).toMap
  }

  /** `s` with every character outside printable ASCII as a \\u escape,
    * so a failure report survives the test runner's encoding. */
  private def ascii(s: String): String =
    s.flatMap(c => if (c >= ' ' && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  private def check(b: Batch): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(b.rows, 2), schema)
    val want = specs(b, df).collect().map(r => r.getLong(0) -> r).toMap
    val modes = Seq(
      "interpreted" -> withConf(interpreted: _*)(run(kernels(b, df), wholeStage = false)),
      "generated" -> withConf(generated: _*)(run(kernels(b, df), wholeStage = true)))
    val names = kernels(b, df).columns
    val input = b.rows.map(r => r.getLong(0) -> r).toMap
    // doubles compare bit for bit: NaN equals NaN, -0.0 differs from 0.0
    def same(g: Any, s: Any) = (g, s) match {
      case (a: Double, b: Double) => java.lang.Double.compare(a, b) == 0
      case _ => g == s
    }
    for ((mode, got) <- modes; (id, spec) <- want; c <- 1 until names.length) {
      val (g, s) = (got(id).get(c), spec.get(c))
      if (!same(g, s)) fail(ascii(
        s"$mode ${names(c)} (k=${b.k}, w=${b.w}) on ${input(id)}: got $g, want $s"))
    }
  }

  test("kernels equal their HOF specs, interpreted and generated, on random inputs") {
    val prop = Prop.forAllNoShrink(batch) { b => check(b); Prop.passed }
    val params = Test.Parameters.default.withMinSuccessfulTests(4).withWorkers(1)
      .withInitialSeed(Seed(20031L))
    // report the first mismatch, not the whole generated batch
    Test.check(params, prop).status match {
      case Test.PropException(_, e, _) => throw e
      case status => assert(status == Test.Passed, status.toString)
    }
  }

  test("kernel data types equal the HOF forms they replace") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(edges, 1), schema)
      .filter(col("text").isNotNull)
    val ws = grams(col("text"))
    val pairs = Seq(
      Portable.tokenize(col("text")) -> HofSpecs.tokenize(col("text")),
      GramHashes.gramHashes(ws, TextAnalysis.WinnowK) ->
        HofSpecs.gramHashes(ws, TextAnalysis.WinnowK),
      WinnowMinima.winnowMinima(col("gh"), 8) -> HofSpecs.winnowMinima(col("gh"), 8),
      CosineSim.cosine(col("v"), col("u")) -> HofSpecs.cosine(col("v"), col("u")),
      L2Dist.sqDist(col("v"), col("u")) -> HofSpecs.sqDist(col("v"), col("u")))
    pairs.foreach { case (kernel, hof) =>
      val got = df.select(kernel).schema.head.dataType
      val want = df.select(hof).schema.head.dataType
      assert(got == want, s"$kernel: $got, HOF form: $want")
    }
  }
}
