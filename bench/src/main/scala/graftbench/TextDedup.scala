package graftbench

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Bpe, Dedup}
import graft.plans._

/** `text_dedup`: a seeded `documents.parquet` with a Zipf vocabulary and
  * a fixed planted share of exact and near duplicates, run through a
  * fixed chain of the documents-only dedup queries, each built with its
  * declared `SparkEntry.queries` function. The `graft.plans` kernels and
  * the shuffle carry this workload; MLlib training, which carries
  * `w2v_cli`, is absent.
  * The traced run also times each native kernel on this workload's own
  * inputs (the kernel panel) and runs the `IvfStore` lifecycle over one
  * seeded 64-dim vector per document ([[IvfLayer]]). */
final class TextDedup extends Workload {
  val Docs = 3000
  val Vocab = 5000
  /** (short name, declared `SparkEntry.queries` name) of the chain. */
  val Chain = Seq("q30" -> "q30_dedup_exact", "q31" -> "q31_minhash_sig",
    "q33" -> "q33_ngram_jaccard", "q264" -> "q264_winnowed_dedup")
  /** Lowest acceptable share of planted near copies found by the 4-gram
    * Jaccard >= 0.5 edge list. */
  val RecallFloor = 0.9

  private var dir = ""
  private var planted: Gen.Planted = _
  private var recall = 0.0
  private var candidateYield = 0.0

  def itemsPerPass: Double = Docs

  def prepare(ctx: Ctx): Unit = {
    dir = ctx.path("docs")
    IO.delete(new java.io.File(dir))
    planted = Gen.documents(ctx.spark, dir, new Random(ctx.seed), Docs, Vocab)
  }

  /** Each query is built with `fn(spark, dir)`, then executed through the
    * noop sink; the two phases are separate `SparkEntry` spans. */
  def pass(ctx: Ctx): Unit = Chain.foreach { case (q, name) =>
    ctx.op("Dedup", q) {
      val df = ctx.tracer.span("SparkEntry", "build")(SparkEntry.queries(name)(ctx.spark, dir))
      ctx.tracer.span("SparkEntry", "exec")(IO.noop(df))
    }(_ => None)
  }

  /** Exact dedup groups exactly the planted copies with their originals;
    * the near-duplicate edge list finds at least [[RecallFloor]] of the
    * planted near copies. */
  def verify(ctx: Ctx): Unit = {
    ctx.verify("q30 exact dedup") {
      val groups = Dedup.q30ExactDedup(ctx.spark, dir).filter(col("n_copies") > 1)
        .select("canonical_id", "n_copies").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = planted.exact.values.groupBy(identity).map { case (o, cs) => o -> (cs.size + 1L) }
      if (groups == want) None
      else Some(s"q30 found ${groups.size} duplicate groups (${groups.values.sum - groups.size} copies), " +
        s"planted ${want.size} (${planted.exact.size} copies)")
    }
    ctx.verify("near-duplicate recall") {
      val docs = ctx.spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val cands = Dedup.textNearDupEdges(docs, k = 4, dfCap = 50, minJaccard = 0.0)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val plantedPairs = planted.near.toSet ++ planted.exact.map { case (c, o) => (o, c) }
      recall = planted.near.count(p => cands.get(p).exists(_ >= 0.5)).toDouble / planted.near.size
      candidateYield = plantedPairs.count(cands.contains).toDouble / math.max(1, cands.size)
      if (recall >= RecallFloor) None else Some(f"near-duplicate recall $recall%.3f below $RecallFloor")
    }
  }

  def layerMetrics(ctx: Ctx, traced: Seq[Span], passes: Int): Map[String, Double] = {
    val perQuery = Chain.map { case (q, _) =>
      s"Dedup.${q}_s" -> traced.filter(s => s.layer == "Dedup" && s.call == q).map(_.seconds).sum / passes
    }
    def phase(call: String) = traced.filter(s => s.layer == "SparkEntry" && s.call == call)
    def phaseJobs(call: String) =
      ctx.exec.total(ctx.spark.sparkContext, phase(call).map(_.id)).jobs.toDouble / passes
    val entry = Seq(
      "SparkEntry.build_s" -> phase("build").map(_.seconds).sum / passes,
      "SparkEntry.build_jobs" -> phaseJobs("build"),
      "SparkEntry.exec_s" -> phase("exec").map(_.seconds).sum / passes,
      "SparkEntry.exec_jobs" -> phaseJobs("exec"))
    val rnd = new Random(ctx.seed + 1)
    val centers = Gen.centers(rnd, Docs / 25, 64, 16)
    val vectors = Gen.clustered(rnd, centers, Docs, 0L)
    (perQuery ++ entry ++ kernelPanel(ctx, vectors, centers.take(16)) ++
      new IvfLayer(ctx, rnd, centers, vectors).measure() ++ Seq(
      "Dedup.candidate_yield" -> candidateYield, "Dedup.recall" -> recall)).toMap
  }

  /** Rows per second of each native kernel, called through its public
    * Column builder in a noop-sink projection over this run's documents
    * and their vectors; median of three. */
  private def kernelPanel(ctx: Ctx, vectors: Array[(Long, Array[Double])],
                          centers: Array[Array[Double]]): Seq[(String, Double)] = {
    val spark = ctx.spark
    val vecs = Gen.vectorFrame(spark, vectors, "doc_id", "v")
    val input = spark.read.parquet(s"$dir/documents.parquet")
      .join(vecs, "doc_id")
      .select(col("text"), split(col("text"), " ").as("words"), col("v"),
        reverse(col("v")).as("u"))
      .cache()
    val rows = input.count().toDouble
    val cands = centers.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "CosineSim" -> CosineSim.cosine(col("v"), col("u")),
      "L2Dist" -> L2Dist.sqDist(col("v"), col("u")),
      "NearestL2" -> NearestL2.nearest(col("v"), cands),
      "ShingleHashes" -> ShingleHashes.shingleHashes(col("words"), 4),
      "SimhashBands" -> SimhashBands.bands(col("v"), Dedup.nBands),
      "TokenId" -> TokenId.tokenId(col("text")),
      "BpeEncode" -> BpeEncode.bpe(col("text"), Bpe.pretrainedMerges),
      "CharBigramIds" -> CharBigramIds.charBigramIds(col("text")),
      "RepetitionStats" -> RepetitionStats.repetitionStats(col("words")),
      "NfcNormalize" -> NfcNormalize.nfc(col("text")))
    val out = kernels.map { case (name, k) =>
      ctx.tracer.newOp()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("plans", name)(IO.noop(input.select(k.as("k"))))
        (System.nanoTime() - t0) / 1e9
      }
      s"plans.$name.rows_per_s" -> rows / Stats.median(times)
    }
    input.unpersist()
    out
  }
}
