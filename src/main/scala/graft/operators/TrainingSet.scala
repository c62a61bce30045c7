package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** The one-call "corpus in, training set out" build — the composition a
  * user of this library actually runs, materialized, not just analyzed:
  * quality gate (q37 scorer) → repetition filter (q65 kernel) → exact
  * dedup (q30 semantics) → eval-set decontamination (q70) → content-hash
  * split (q62) → sequence packing manifest (q90) — every stage the
  * oracle-checked operator's expressions, so the built artifact is the
  * one the declared queries describe.
  *
  * Artifacts under `outDir`:
  *   - `train/` `validation/` `test/` — surviving docs with their
  *     quality scores, parquet, partitioned-ready
  *   - `manifest/` — the (bin, slot, doc_id, bin_offset, n_tokens)
  *     loader manifest over the TRAIN split
  *   - returned [[BuildReport]] — per-stage survivor counts (the q72
  *     funnel's card for THIS build)
  *
  * Scale shape: one annotated scan feeds every gate (flag algebra, the
  * q72 shape — no per-stage re-scans); the only shuffles are the dedup
  * window on content_md5, the split-local packing window, and the
  * writes. The decontamination probe broadcasts the (bounded) eval
  * shingle set. The annotated table is persisted across its consumers
  * and released before returning.
  */
object TrainingSet {

  case class BuildReport(
      rawDocs: Long, qualityDocs: Long, repetitionDocs: Long,
      dedupDocs: Long, decontaminatedDocs: Long,
      trainDocs: Long, validationDocs: Long, testDocs: Long,
      manifestBins: Long)

  def build(spark: SparkSession, srcDir: String, outDir: String,
            minQuality: Double = 0.6): BuildReport = {
    val docs = Tables.documents(spark, srcDir)
    // one annotated scan: quality (q37 expressions via the shared
    // scorer), repetition stats (q65 kernel), content hash, split bucket
    val scored = TextAnalysis.qualityScored(docs, carry = Seq("text", "lang", "source"))
      .withColumn("st", graft.plans.RepetitionStats.repetitionStats(split(col("text"), " ")))
      .withColumn("rep_keep",
        col("st.n_bigrams") > 0L &&
          col("st.top_cnt").cast("double") / col("st.n_bigrams") <= 0.1 &&
          lit(1.0) - col("st.n_distinct").cast("double") / col("st.n_bigrams") <= 0.1)
      .withColumn("content_md5", md5(col("text")))
      .withColumn("bucket", Portable.tokenId(col("text")) % 100L)
      .withColumn("s_quality", col("quality") >= minQuality)
      .withColumn("s_rep", col("s_quality") && col("rep_keep"))
      .persist()
    try {
      // dedup among survivors: keep the smallest doc_id per content hash
      // (q30's canonical-winner rule), survivors-first so a passing doc
      // never loses its slot to a filtered twin
      val dw = Window.partitionBy("content_md5")
        .orderBy(col("s_rep").cast("int").desc, col("doc_id"))
      val deduped = scored
        .withColumn("s_dedup", col("s_rep") && row_number().over(dw) === 1)
      // decontamination: drop train-side docs sharing an 8-shingle with
      // the eval (test) split — the q70 probe. The eval table grows
      // with the corpus, so it reaches the probe through the
      // size-guarded broadcast (shuffle join beyond the bound), and the
      // contaminated id list joins back by key — never a driver-side
      // collected set
      val shingles = graft.plans.ShingleHashes
        .shingleHashes(split(col("text"), " "), 8)
      val evalSh = scored.filter(col("bucket") >= 95)
        .select(explode(shingles).as("shash")).distinct()
      val contaminatedIds = scored.filter(col("bucket") < 95)
        .select(col("doc_id"), explode(shingles).as("shash"))
        .join(Guard.modelBroadcast(evalSh), "shash")
        .select("doc_id").distinct()
        .withColumn("is_cont", lit(true))
      val flagged = deduped
        .join(contaminatedIds, Seq("doc_id"), "left")
        .withColumn("contaminated", coalesce(col("is_cont"), lit(false)))
        .drop("is_cont")
        .withColumn("s_decon", col("s_dedup") && !col("contaminated"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "validation")
            .otherwise("test"))
        .persist()
      try {
        val out = flagged.filter(col("s_decon"))
          .select("doc_id", "text", "lang", "source", "split",
            "quality", "n_tokens", "content_md5")
        Seq("train", "validation", "test").foreach { s =>
          out.filter(col("split") === s).drop("split")
            .write.mode("overwrite").parquet(s"$outDir/$s")
        }
        // the SHARED q90 manifest plan over the train split — same
        // geometry and schema as the declared query, by construction
        val train = spark.read.parquet(s"$outDir/train")
        TextAnalysis.packingManifest(train)
          .write.mode("overwrite").parquet(s"$outDir/manifest")
        // coalesce: sum() over ZERO rows is null, and an empty corpus
        // (a fully filtered shard) must yield a zero report, not an NPE
        val counts = flagged.agg(
          count(lit(1)),
          coalesce(sum(col("s_quality").cast("long")), lit(0L)),
          coalesce(sum(col("s_rep").cast("long")), lit(0L)),
          coalesce(sum(col("s_dedup").cast("long")), lit(0L)),
          coalesce(sum(col("s_decon").cast("long")), lit(0L))).head()
        val splits = flagged.filter(col("s_decon")).groupBy("split").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        BuildReport(
          rawDocs = counts.getLong(0),
          qualityDocs = counts.getLong(1),
          repetitionDocs = counts.getLong(2),
          dedupDocs = counts.getLong(3),
          decontaminatedDocs = counts.getLong(4),
          trainDocs = splits.getOrElse("train", 0L),
          validationDocs = splits.getOrElse("validation", 0L),
          testDocs = splits.getOrElse("test", 0L),
          manifestBins = spark.read.parquet(s"$outDir/manifest")
            .select("bin").distinct().count())
      } finally flagged.unpersist()
    } finally scored.unpersist()
  }
}
