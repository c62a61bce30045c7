package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Portable, VectorOps}
import graft.plans.CosineSim

/** The reference's ML macro-operator rebuilt Spark-first: one GLOBAL
  * skip-gram model ([[SkipGram]], a port of MLlib's Word2Vec fit)
  * instead of one DL4J model per mapper (the reference's per-mapper
  * models live in unaligned embedding spaces, so averaging them is
  * geometrically meaningless — SURVEY.md §4 quirk 1; reference
  * `MapRedWord2Vec.scala:132-174`).
  *
  * The trainer's vocabulary IS the job's word count, so the flagship
  * table (word, token, count, vector) is built straight from the
  * driver-side model, already in word order.
  *
  * Hyperparameters mirror the reference config
  * (`application.conf:3-7`): vectorSize=100, windowSize=5, maxIter=1,
  * minCount=1, seed=42.
  *
  * Outputs are never golden-compared on vector VALUES (the reference's
  * are run-dependent and this trainer's depend on its `numPartitions`
  * — SURVEY.md §4 quirk 2; at the default of 1, EmbedSpec pins
  * byte-identical CLI output under 1, 4 and 16 shuffle partitions);
  * flagship queries expose invariants (dims, norms, vocab, counts)
  * and the relational shape instead.
  */
object Embed {

  def tokensDF(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Portable.tokenize(col("text")).as("words"))

  /** Fitted models memoized per (corpus dir, hyperparams): several
    * queries (flagship, q40, q41) share one training run per process,
    * the same way a production pipeline trains once and serves many
    * lookups. The memo keeps the driver-side model, not a cached frame,
    * so nothing stays persisted. Hyperparameters come from
    * [[graft.GraftConfig]] (the reference's application.conf values by
    * default, R3). */
  private val fitted =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.HashMap[String, SkipGram.Model]]()

  /** The memoized model over a documents corpus. */
  def model(spark: SparkSession, dir: String): SkipGram.Model = {
    val cfg = graft.GraftConfig.from(spark)
    // weak-keyed by session: a model must not outlive, or pin, the
    // session whose configuration trained it; the lock makes queries
    // that ask concurrently (Verify) share one fit
    fitted.synchronized {
      fitted.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap.empty)
        .getOrElseUpdate(s"$dir|$cfg", SkipGram.fit(tokensDF(spark, dir), cfg))
    }
  }

  /** (word, vector: array<double>) of the memoized model. */
  def fitWordVectors(spark: SparkSession, dir: String): DataFrame =
    model(spark, dir).toDF(spark).select("word", "vector")

  /** Train on an arbitrary text corpus (column `text`). */
  def fitText(spark: SparkSession, texts: DataFrame): SkipGram.Model =
    SkipGram.fit(texts.select(Portable.tokenize(col("text")).as("words")),
      graft.GraftConfig.from(spark))

  /** The reference output table (word, token, count, vector) of a
    * model, in word order. */
  def table(spark: SparkSession, model: SkipGram.Model): DataFrame =
    model.toDF(spark).select(
      col("word"),
      Portable.tokenId(col("word")).as("token"),
      col("count"),
      col("vector"))

  /** The full reference pipeline over an arbitrary text corpus (column
    * `text`) → (word, token, count, vector) in word order. The
    * corpus-general core behind [[flagship]] and the
    * [[graft.Word2VecDriver]] CLI. Leaves nothing persisted. */
  def flagshipFromText(spark: SparkSession, texts: DataFrame): DataFrame =
    table(spark, fitText(spark, texts))

  /** The flagship parity pipeline (reference output shape
    * `word,token,count,[v1..v100]` — `README.md:22-23`) over the
    * memoized model: every vocabulary word (count >= minCount, the
    * reference's null-vector drop, R8) with its count and token id. */
  def flagship(spark: SparkSession, dir: String): DataFrame =
    table(spark, model(spark, dir))

  /** q40 (rows-only): flagship invariants — vector dim must equal the
    * configured layer size and norms must be positive finite. */
  def q40Word2VecVocab(spark: SparkSession, dir: String): DataFrame =
    flagship(spark, dir)
      .select(
        col("word"), col("token"), col("count"),
        size(col("vector")).cast("long").as("dim"),
        round(VectorOps.l2Norm(col("vector")), 4).as("norm"))
      .orderBy("word")

  /** Diagnostic for words that got no vector: the reference LOGS them
    * before discarding them (`MapRedWord2Vec.scala:160-164`). The
    * flagship table is built straight from the model's vocabulary, so
    * the only drop left is the trainer's `minCount` filter. This
    * left-anti twin names what it dropped.
    * @param counts (word, …) corpus word counts
    * @param vocab  (word, …) the vocabulary that DID get vectors */
  def droppedVocabulary(counts: DataFrame, vocab: DataFrame): DataFrame =
    counts.join(vocab.select("word"), Seq("word"), "left_anti")

  /** q58: dropped-vocabulary report under a frequency-thresholded
    * trainer — words whose count falls below 5% of the modal word count
    * (the deterministic vocab rule: Word2Vec's vocabulary is exactly
    * {word : cnt >= minCount}, so the anti-join is SQL-expressible even
    * though vector values are not). At the reference config
    * (minCount=1) the flagship drop set is empty — that invariant is
    * asserted in EmbedSpec; this declared query uses the relative
    * threshold so the report is non-trivial at every scale factor. */
  def q58DroppedVocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = Parity.wordCounts(Tables.documents(spark, dir).select("text"))
    val maxCnt = counts.agg(max(col("cnt")).as("max_cnt"))
    val vocab = counts.crossJoin(broadcast(maxCnt))
      .filter(col("cnt") >= col("max_cnt") * 0.05)
      .select("word")
    droppedVocabulary(counts, vocab).orderBy("word")
  }

  /** Top-k cosine-similarity neighbors of `word` over any (word,
    * vector) table — the q41 plan parameterized, and what the CLI's
    * `--synonyms` flag prints: broadcast the query word's vector, scan
    * the vocab, TakeOrderedAndProject k. */
  def synonyms(vectors: DataFrame, word: String, k: Int): DataFrame = {
    val target = broadcast(vectors.filter(col("word") === word)
      .select(col("vector").as("target_vec")))
    vectors.crossJoin(target)
      .filter(col("word") =!= word)
      .select(col("word"),
        round(CosineSim.cosine(col("vector"), col("target_vec")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("word"))
      .limit(k)
  }

  /** q41 (rows-only): cosine-similarity synonyms via the trained model —
    * the capability the reference was graded down for (X4,
    * `feedback.md:5`). Computed with the engine's own cosine expression
    * over the vector table (not model.findSynonyms) so the query is a
    * relational plan ([[synonyms]]). */
  def q41Synonyms(spark: SparkSession, dir: String): DataFrame =
    synonyms(fitWordVectors(spark, dir), "data", 10)
}
