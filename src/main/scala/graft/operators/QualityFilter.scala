package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Learned quality filter — the engine's second ML macro-operator
  * (after the Word2Vec flagship): a fastText/CCNet-style classifier
  * pipeline that DISTILLS a rule-based quality gate into a parametric
  * model emitting a smooth keep-probability per document.
  *
  * Real pipelines train such filters on weak labels (curated-source
  * vs crawl); this corpus has no curated source, so the weak label is
  * the engine's own q37 heuristic gate (quality ≥ 0.6) and the value
  * demonstrated is the DISTILLATION shape itself: labels from one
  * signal family, features extending it with the repetition kernel's
  * signals the label never saw, a content-hash train split (q62's
  * determinism rule — no random split, reproducible across runs), one
  * LR fit on the driver-side-small coefficient space, and a full-corpus
  * scoring pass.
  *
  * Scale shape: feature extraction is the per-row kernels (tokenize
  * HOFs + native RepetitionStats — no shuffle); the LBFGS fit
  * aggregates gradients treewise (O(features) driver state, like the
  * IVF centroids); scoring is one broadcast-model projection at scan
  * speed. Rows-only by the q40/q42 contract: coefficients are
  * engine-specific ML output, so the gate checks invariants
  * (QueriesSpec holds out a content-hash test split and asserts AUC),
  * not values.
  */
object QualityFilter {

  /** Per-doc feature/label frame: q37's signals (via the ONE shared
    * scorer, [[TextAnalysis.qualityScored]] — a weak label that drifted
    * from the batch gate would train the filter against a different
    * definition of quality than the one it replaces) + q65's repetition
    * fractions (0 for bigram-less docs) + the weak label. */
  private[graft] def featureFrame(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScored(Tables.documents(spark, dir), carry = Seq("text"))
      .withColumn("st",
        graft.plans.RepetitionStats.repetitionStats(split(col("text"), " ")))
      .select(col("doc_id"), col("n_tokens").cast("double").as("n_tokens"),
        col("ttr"), col("stop_share"), col("avg_token_len"),
        coalesce(col("st.top_cnt").cast("double")
          / nullif(col("st.n_bigrams").cast("double"), lit(0.0)), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(lit(1.0) - col("st.n_distinct").cast("double")
          / nullif(col("st.n_bigrams").cast("double"), lit(0.0)), lit(0.0))
          .as("dup_bigram_frac"),
        (col("quality") >= 0.6).cast("double").as("label"),
        (Portable.tokenId(col("text")) % 100L).as("bucket"))

  private val featureCols =
    Seq("n_tokens", "ttr", "stop_share", "avg_token_len",
      "top_bigram_frac", "dup_bigram_frac")

  /** q89 (rows-only): train on the content-hash buckets < 80, score the
    * WHOLE corpus — (doc_id, label, p_keep, pred, is_train). */
  def q89QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.functions.vector_to_array
    val frame = featureFrame(spark, dir)
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
    // one feature-extraction pass: the LBFGS fit and the full-corpus
    // scoring transform otherwise each re-run the tokenize/repetition
    // kernels (measured 92 s -> 27 s at the 100× corpus); released
    // after the scored result is materialized
    val all = assembler.transform(frame).persist()
    try {
      val model = new LogisticRegression()
        .setMaxIter(50).setRegParam(0.01).setStandardization(true)
        .fit(all.filter(col("bucket") < 80))
      model.transform(all)
        .select(col("doc_id"), col("label").cast("long").as("label"),
          round(vector_to_array(col("probability")).getItem(1), 4).as("p_keep"),
          col("prediction").cast("long").as("pred"),
          (col("bucket") < 80).cast("long").as("is_train"))
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally all.unpersist()
  }

  /** q150: reliability diagram of the q89 classifier on its held-out
    * split — the ML-ops check that decides whether `p_keep` can be
    * USED as a probability (mixture weights, expected-token budgeting)
    * or only as a ranking score: per predicted-probability decile, the
    * observed keep rate it promised vs what held out. Pure
    * O(rows)-scan + O(10)-row aggregate over the q89 output;
    * rows-only by the q89 model contract, with the expected-calibration
    * -error bound spec-tested instead (QueriesSpec). */
  def q150CalibrationCurve(spark: SparkSession, dir: String): DataFrame = {
    q89QualityClassifier(spark, dir)
      .filter(col("is_train") === 0L)
      .select(col("label"), col("p_keep"),
        least(floor(col("p_keep") * 10).cast("long"), lit(9L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg("p_keep"), 4).as("mean_pred"),
        round(avg(col("label").cast("double")), 4).as("obs_rate"))
      .withColumn("gap", round(abs(col("mean_pred") - col("obs_rate")), 4))
      .orderBy("bin")
  }

  /** q151: operating-point sweep for the q89 filter — held-out
    * precision/recall/F1 at each keep threshold 0.1…0.9: the table a
    * curator reads to PICK the threshold (q150 says whether `p_keep`
    * is honest; this says what each cut costs in kept-garbage vs
    * lost-quality). One scan of the scored held-out split against a
    * broadcast 9-row threshold frame, partial-aggregated counts —
    * O(rows × 9) predicate evaluations, O(9) output. Rows-only by the
    * q89 model contract; the recall-monotonicity and count-conservation
    * invariants are spec-tested. */
  def q151ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val held = q89QualityClassifier(spark, dir).filter(col("is_train") === 0L)
    val thresholds = spark.range(1, 10)
      .select((col("id") / 10.0).as("thr"))
    val c = held.crossJoin(broadcast(thresholds))
      .groupBy("thr")
      .agg(
        sum(((col("p_keep") >= col("thr")) && (col("label") === 1L)).cast("long")).as("tp"),
        sum(((col("p_keep") >= col("thr")) && (col("label") === 0L)).cast("long")).as("fp"),
        sum(((col("p_keep") < col("thr")) && (col("label") === 1L)).cast("long")).as("fn"))
    val prec = when(col("tp") + col("fp") > 0,
      col("tp") / (col("tp") + col("fp"))).otherwise(lit(1.0))
    val rec = when(col("tp") + col("fn") > 0,
      col("tp") / (col("tp") + col("fn"))).otherwise(lit(1.0))
    c.select(col("thr"), col("tp"), col("fp"), col("fn"),
        round(prec, 4).as("precision"),
        round(rec, 4).as("recall"),
        round(when(prec + rec > 0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(lit(0.0)), 4).as("f1"))
      .orderBy("thr")
  }
}
