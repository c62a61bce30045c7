package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Text-analysis operators a training-data pipeline needs: corpus
  * profiling, heuristic language ID, quality scoring, token counting and
  * document fingerprinting. All scalar/aggregate built-ins — per-row work
  * with no shuffle beyond the final group-by, so they run at scan speed
  * on any corpus size. */
object TextAnalysis {

  /** Stopword marker set used by the language/quality heuristics —
    * a fixed literal list shared with the oracle SQL. */
  val stopwords: Seq[String] =
    Seq("the", "a", "is", "this", "to", "of", "and", "in", "it", "for")

  /** q35: corpus profile per language tag. */
  def q35LangProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 4).as("avg_chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("lang")

  /** q36: heuristic language ID — fraction of token OCCURRENCES that are
    * English marker stopwords; a doc is tagged 'en' above the threshold.
    * Occurrence share is length-invariant (a distinct-types ratio would
    * shrink with vocabulary and misclassify any long document). An
    * n-gram frequency profile is the production version; the stopword
    * share is its first term and is exactly reproducible in SQL. */
  def q36LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Portable.tokenize(col("text")).as("words"))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        round(size(filter(col("words"), w => w.isin(stopwords: _*)))
          .cast("double") / greatest(size(col("words")), lit(1)), 6).as("stop_ratio"))
      .withColumn("pred_lang", when(col("stop_ratio") >= 0.08, lit("en")).otherwise(lit("unk")))
      .orderBy("doc_id")

  /** q94: character-n-gram language identification — the REAL n-gram
    * language profile (textcat/CLD shape) that q36's stopword share is
    * the first term of: per-language char-bigram log-likelihood models
    * trained on the corpus's own language labels, every doc scored
    * under all five profiles, argmax wins. Add-one smoothing over the
    * global bigram vocabulary; the model is built DENSE (langs ×
    * observed bigrams) so the scoring join needs no missed-key
    * handling — every doc bigram scores under every language.
    *
    * Scale shape: the model is O(langs × distinct bigrams) — charset-
    * bounded, checkpointed once, size-guard-broadcast; scoring is one
    * explode pass joined against it with a partial-aggregated
    * per-(doc, lang) sum and one tiny rank window. In production the
    * model trains once on a labeled seed corpus and the scoring pass
    * is the only per-corpus cost. Scores round at 6 (the q71/q74
    * FP-sum contract). */
  def q94NgramLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    langIdScore(docs, langIdFit(docs))
  }

  /** q94b: the production fit/score split on the declared surface — the
    * model trains on a 30 % labeled SEED (doc_id mod 10 < 3) and the
    * whole corpus is scored against it. Bigrams outside the seed
    * vocabulary contribute nothing (the probe is an inner join), which
    * is the real deployment semantics: an unseen character pair carries
    * no evidence under any profile, so it cancels out of the argmax. */
  def q94bLangIdSeed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    langIdScore(docs, langIdFit(docs.filter(col("doc_id") % 10 < 3)))
  }

  // bigram IDENTITY is an exact integer — cp1 * 0x110000 + cp2 over
  // code points (injective — not even a hash) — emitted by the
  // native CharBigramIds kernel, so the explode side allocates
  // nothing per character and the whole model/probe pipeline (group
  // keys, join keys, dense cross) stays numeric. Measured at 100×:
  // string bigrams 500 s; SQL-expression integer ids (two substring
  // allocations per position) no better; the native kernel is the
  // q33/q75/q65 lesson again.
  private def charBigrams(d: DataFrame) = d.select(col("doc_id"), col("lang"),
    explode(graft.plans.CharBigramIds.charBigramIds(col("text"))).as("bg"))

  /** FIT half of the char-bigram language-ID: per-language add-one-
    * smoothed bigram log-likelihood profiles from a LABELED corpus
    * (`(doc_id, lang, text)`), returned as a dense `(model_lang, bg,
    * logp)` table over langs × observed vocabulary and checkpointed so
    * one fit serves any number of scoring passes. In production this
    * runs once on a labeled seed sample; [[langIdScore]] is the only
    * per-corpus cost. O(langs × distinct bigrams) — charset-bounded. */
  def langIdFit(labeled: DataFrame): DataFrame = {
    val spark = labeled.sparkSession
    val langType = labeled.schema("lang").dataType
    // ONE distributed pass — the (lang, bg) collapse; the result is
    // charset-bounded (O(langs × distinct bigrams)), so the dense
    // add-one smoothing grid is driver arithmetic over a bounded
    // collect (round 14: the old form paid a persist, two distincts, a
    // vocab count, a totals agg, a 3-join crossJoin plan and an eager
    // checkpoint for the same bounded frame). Same logp expression,
    // same doubles.
    val counts = charBigrams(labeled).groupBy("lang", "bg")
      .agg(count(lit(1)).as("cnt"))
      .collect() // charset-bounded: langs × observed bigrams
      .map(r => (r.get(0), r.getLong(1), r.getLong(2)))
    val langs = counts.map(_._1).distinct
    val vocab = counts.map(_._2).distinct
    val vocabSize = vocab.length.toLong
    val totals = counts.groupBy(_._1).map { case (l, ts) =>
      (l, ts.map(_._3).sum)
    }
    val byKey = counts.map(t => ((t._1, t._2), t._3)).toMap
    val rows = for (bg <- vocab; l <- langs) yield
      org.apache.spark.sql.Row(l, bg,
        math.log((byKey.getOrElse((l, bg), 0L) + 1.0)
          / (totals(l) + vocabSize.toDouble)))
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*),
      StructType(Seq(StructField("model_lang", langType),
        StructField("bg", LongType, nullable = false),
        StructField("logp", DoubleType, nullable = false))))
  }

  /** SCORE half: every doc scored under every fitted profile, argmax
    * wins (ties on model_lang). Collapses each doc's repeated bigrams
    * BEFORE the model probe: the naive per-occurrence join expands
    * O(corpus chars × langs) rows (timed out at the 100× corpus); the
    * collapsed form probes once per (doc, DISTINCT bigram) and weights
    * by the count, and the per-(doc, lang) sums partial-aggregate
    * map-side. Scores round at 6 (the q71/q74 FP-sum contract). */
  def langIdScore(docs: DataFrame, model: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val scored = charBigrams(docs)
      .groupBy("doc_id", "lang", "bg").agg(count(lit(1)).as("n"))
      // the fitted model is a driver-local relation (O(langs×charset²)
      // rows) — its stats are exact, so the guard decides without a job
      .join(Guard.modelBroadcast(model), "bg")
      .groupBy("doc_id", "lang", "model_lang")
      .agg(round(sum(col("n") * col("logp")), 6).as("score"))
    scored
      .withColumn("rk", row_number().over(
        w.partitionBy("doc_id").orderBy(desc("score"), asc("model_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("model_lang").as("pred_lang"),
        col("score"),
        (col("model_lang") === col("lang")).cast("long").as("is_correct"))
      .orderBy("doc_id")
  }

  /** q37: quality scoring — length, lexical diversity (type-token ratio),
    * mean word length, stopword share; combined into one score. */
  def q37QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScored(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The q37 scorer over any (doc_id, text, n_chars) table — one
    * stateless projection, so the SAME expressions serve the batch
    * query and the q97 weighted sampler. `carry`
    * names extra input columns to thread through the projection — the
    * one-scan alternative to scoring and then self-joining the corpus
    * back on doc_id for a column the scorer dropped. */
  def qualityScored(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    docs
      .select(col("doc_id") +: col("n_chars") +:
        Portable.tokenize(col("text")).as("words") +: carry.map(col): _*)
      .select(col("doc_id") +:
        size(col("words")).cast("long").as("n_tokens") +:
        size(array_distinct(col("words"))).cast("long").as("n_distinct") +:
        round(size(array_distinct(col("words"))).cast("double")
          / greatest(size(col("words")), lit(1)), 6).as("ttr") +:
        round(col("n_chars").cast("double") / greatest(size(col("words")), lit(1)), 6).as("avg_token_len") +:
        round(size(filter(col("words"), w => w.isin(stopwords: _*)))
          .cast("double") / greatest(size(col("words")), lit(1)), 6).as("stop_share") +:
        carry.map(col): _*)
      .withColumn("quality",
        round(least(col("ttr") * 2.0, lit(1.0)) * 0.5
          + when(col("n_tokens").between(20, 400), 0.3).otherwise(0.0)
          + least(col("stop_share") * 3.0, lit(0.2)), 6))
  }

  /** q47: edit distance between neighboring documents' prefixes — the
    * character-level similarity measure (levenshtein is a codegen'd
    * built-in; bounded to a 40-char prefix because edit distance is
    * O(len²) and at corpus scale you only run it on candidate pairs the
    * cheap hashes already produced). */
  def q47EditDistance(spark: SparkSession, dir: String): DataFrame = {
    // sanitize to printable ASCII first: Spark levenshtein counts
    // characters while DuckDB's counts bytes, so the oracle contract
    // only holds on a domain where the two coincide
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 40), "[^\\x20-\\x7e]", "_").as("prefix"))
    d.as("a").join(d.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        levenshtein(col("a.prefix"), col("b.prefix")).cast("long").as("edit_dist"))
      .orderBy("id_a")
  }

  /** q59: C4/RefinedWeb-style LINE deduplication — drop text spans that
    * occur verbatim elsewhere in the corpus, keeping only the FIRST
    * occurrence, and return the cleaned text. The corpus has no
    * newlines, so a "line" is a pseudo-sentence: a consecutive
    * `segWords`-word segment (the same normalization choice C4 makes
    * with its three-sentence spans).
    *
    * Scale shape: segmentation is a per-row HOF; the dedup decision is
    * ONE window over the segment key (min occurrence + count in the
    * same pass — one shuffle of O(segments), one corpus scan; an
    * aggregate-plus-self-join form would scan and segment the corpus
    * twice). Key width is bounded by the segment text — swap in
    * md5(seg) at corpus scale the way q30 does for whole docs.
    * First-occurrence keep is deterministic: the winner is the minimum
    * (doc_id, seg_idx), encoded as doc_id * 100000 + seg_idx so MIN
    * works on both engines (contract: < 100000 segments per doc).
    * Cleaned text is rebuilt in segment order with collect-sort-join —
    * nulls (dropped segments) vanish inside collect_list. */
  def q59LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(Tables.documents(spark, dir))
    val bySeg = org.apache.spark.sql.expressions.Window.partitionBy("seg")
    segs
      .withColumn("keep",
        count(lit(1)).over(bySeg) === 1L || col("occ_key") === min("occ_key").over(bySeg))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(expr("transform(sort_array(collect_list(CASE WHEN keep THEN struct(seg_idx, seg) END)), x -> x.seg)"), " ")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** q62: deterministic corpus splitting — every document lands in
    * train/validation/test by a CONTENT-hash bucket (portable tokenId
    * of the text, mod 100 → 90/5/5), so the split is stable under
    * re-sharding, re-ordering and doc-id reassignment — the property
    * that keeps eval sets leak-free across pipeline re-runs. Pure
    * per-row scalar + one small aggregate. */
  /** Pseudo-sentence segmentation (q59):
    * consecutive `segWords`-word spans of each document, keyed for
    * first-occurrence arithmetic as doc_id * 100000 + seg_idx
    * (documented headroom contract: < 100000 segments per doc).
    * Per-row HOF only, no shuffle. */
  private[graft] def segments(docs: DataFrame, segWords: Int = 10): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast(ceil(size(words) / $segWords.0) as int) - 1)," +
          s" i -> struct(cast(i as bigint) AS seg_idx, array_join(slice(words, i * $segWords + 1, $segWords), ' ') AS seg))"
      )).as("s"))
      .select(col("doc_id"), col("s.seg_idx"), col("s.seg"),
        (col("doc_id") * 100000L + col("s.seg_idx")).as("occ_key"))

  def q62CorpusSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", Portable.tokenId(col("text")) % 100L)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")

  /** q63: sequence packing — assign documents to fixed-token-budget
    * bins (budget 256 whitespace tokens), the packing step that turns a
    * shuffled corpus into dense training sequences. Deterministic
    * shard-local form: docs pack in doc_id order WITHIN a 100-doc
    * shard (bin = shard * 100000 + exclusive-cumsum div budget), because
    * a single global running sum would serialize the corpus through
    * one window partition — shard-local packing is embarrassingly
    * parallel and loses at most one partially-filled bin per shard.
    * Bin-id contract: 100000 bin slots per shard — collision-free up to
    * 100-doc shards averaging 256k tokens/doc (the q59 occ_key style of
    * documented headroom; both engines use the same literal). */
  def q63SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("doc_id div 100").as("shard"))
      .withColumn("cum", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(expr("shard * 100000 + cum div 256").as("bin"), col("n_tokens"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("bin")
  }

  /** q90: sequence-packing MANIFEST — q63 tells you how full the bins
    * are; this emits the artifact a training loader actually consumes:
    * one row per (bin, slot) with the doc's token offset inside the
    * bin, in deterministic order. Same exclusive-cumsum bin assignment
    * as q63 (shard-local, so no single-task global cumsum); the slot
    * and offset derive from the same frame with one additional
    * per-bin rank window. A doc whose tokens straddle the 256 boundary
    * stays in its starting bin — q63's documented approximate-packing
    * semantics, inherited verbatim. */
  def q90PackingManifest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cumW = w.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("doc_id div 100").as("shard"))
      .withColumn("cum", coalesce(sum("n_tokens").over(cumW), lit(0L)))
      .withColumn("bin", expr("shard * 100000 + cum div 256"))
      .withColumn("bin_offset", expr("cum % 256"))
      .withColumn("slot",
        row_number().over(w.partitionBy("bin").orderBy("doc_id")).cast("long"))
      .select(col("bin"), col("slot"), col("doc_id"), col("bin_offset"), col("n_tokens"))
      .orderBy("bin", "slot")
  }

  /** q91: EXECUTE the q83 mix plan — close the plan→act loop: the
    * temperature weights become per-source keep rates against a token
    * budget (10% of the corpus), and the sample is drawn with the q66
    * content-hash Bernoulli (reproducible, no global pass, stable
    * under doc-id reassignment). rate_s = min(1, B·w_s / tokens_s):
    * sources the τ=0.5 weights upsample beyond their size saturate at
    * 1.0 — the "epochs > 1" sources q83 flags are exactly the ones
    * that cap here. floor() pins the per-mille threshold on both
    * engines (double→int casts round differently across engines). */
  def q91MixSample(spark: SparkSession, dir: String): DataFrame = {
    // τ = 0.5 temperature ⇒ sqrt(), NOT pow(x, 0.5): IEEE-754 requires
    // sqrt correctly rounded on both engines; pow carries no such
    // guarantee and a last-ulp divergence under floor()/round() is a
    // hash flip waiting for a data point (the q222 lesson)
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("src_tokens"))
    val tot = per.agg(
      sum("src_tokens").as("total_tokens"),
      sum(sqrt(col("src_tokens").cast("double"))).as("z"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"),
        floor(least(lit(1.0),
          (col("total_tokens") * 0.1)
            * (sqrt(col("src_tokens").cast("double")) / col("z"))
            / col("src_tokens")) * 1000000).cast("long").as("rate_ppm"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (Portable.tokenId(col("text")) % 1000000L).as("bucket"))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate_ppm"))
      .orderBy("doc_id")
  }

  /** q64: TF-IDF feature extraction — the classic sparse text feature:
    * tf = in-doc occurrences / doc tokens, idf = ln(N / df), top-3
    * terms per doc by tf·idf. All relational: one (doc, word) count,
    * one word-level df aggregate joined back (broadcast — vocabulary ≪
    * corpus), one scalar N (broadcast single row), a rank window.
    * Shuffles are O(doc·distinct-word) partial-aggregated — no
    * collect, no vocabulary driver loop. */
  def q64TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("n_occ"))
      .withColumn("n_doc_tokens", sum("n_occ").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val df = words.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(countDistinct("doc_id").as("n_docs"))
    // df is corpus-derived (O(vocab)) — size-guarded, not hard-hinted:
    // at web scale a billion-row vocabulary must shuffle-join instead
    // of OOMing the driver. nDocs is one row; always broadcast.
    val scored = tf
      .join(Guard.modelBroadcast(df), "word")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"),
        round((col("n_occ") / col("n_doc_tokens")) * log(col("n_docs") / col("df")), 6)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy("doc_id", "rank")
  }

  /** q65: repetition quality filter — the Gopher/MassiveText-style
    * repetitiveness signals: the share of the document claimed by its
    * single most frequent word bigram, and the fraction of bigram
    * occurrences that are repeats (1 − distinct/total). Boilerplate,
    * keyword-stuffed and template docs spike on both; a training-data
    * pipeline drops them before dedup ever runs.
    *
    * Scale shape: the whole signal is per-document, so NOTHING
    * shuffles — the three statistics come from ONE native pass
    * ([[graft.plans.RepetitionStats]]: hash adjacent word pairs to
    * longs, primitive sort, read run lengths; no bigram string is ever
    * built). Measured at 500k docs (warm, local[32], noop sink):
    * explode + groupBy(doc, bigram) = 50.8 s (30M-row string shuffle);
    * struct-accumulator `aggregate` fold = 97 s; a zip_with/array_sort/
    * filter HOF chain = ~40 s (interpreted lambdas, ~4-5 s per HOF
    * pass); the native expression = see SCALING.md — the CosineSim
    * lesson again: per-row hot loops belong in a codegen'd kernel.
    * Single-word docs have no bigrams and drop out of both engines
    * identically. */
  def q65RepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"),
        graft.plans.RepetitionStats.repetitionStats(col("words")).as("st"))
      .select(
        col("doc_id"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct").as("n_distinct"),
        round(col("st.top_cnt").cast("double") / col("st.n_bigrams"), 6).as("top_bigram_frac"),
        round(lit(1.0) - col("st.n_distinct").cast("double") / col("st.n_bigrams"), 6).as("dup_bigram_frac"))
      .withColumn("keep",
        (col("top_bigram_frac") <= 0.1 && col("dup_bigram_frac") <= 0.1).cast("long"))
      .orderBy("doc_id")

  /** Per-language keep rates (per mille) for q66 — the data-mix
    * rebalancing literal, shared verbatim with the oracle SQL. English
    * dominates the corpus, so it is downsampled; unknown languages are
    * dropped (rate 0). */
  val sampleRatePerMille: Seq[(String, Long)] =
    Seq("en" -> 400L, "de" -> 1000L, "es" -> 1000L, "fr" -> 1000L, "zh" -> 1000L)

  /** q66: deterministic stratified sampling — the data-mix step that
    * turns a raw crawl into a language-balanced training set. The keep
    * decision is a CONTENT-hash Bernoulli trial (portable tokenId mod
    * 1000 vs the per-language rate), so the sample is reproducible,
    * stable under doc-id reassignment / re-sharding (q62's property),
    * and needs no global count or second pass — pure per-row scalar
    * work at scan speed, unlike `df.sample` whose RNG is
    * partitioning-dependent. */
  def q66StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = sampleRatePerMille.foldLeft(lit(0L)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", Portable.tokenId(col("text")) % 1000L)
      .filter(col("bucket") < rate)
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }

  /** q97: weighted sampling without replacement (Efraimidis–Spirakis
    * A-Res, Inf. Proc. Letters 2006) — draw k documents with inclusion
    * probability proportional to their q37 quality score: the "pick
    * 1000 docs for human eval / an ablation run, weighted by quality"
    * primitive. Each doc gets the key u^(1/w) for a uniform u and
    * weight w; the top-k keys ARE the weighted sample. Ranking by
    * ln(u)/w is the same order without the cross-engine pow hazard.
    *
    * Determinism: u derives from the content hash (the q66 convention —
    * the sample is a pure function of corpus content, independent of
    * ingest order and doc-id assignment), mapped to (0, 1] so ln is
    * finite. Zero-quality docs are excluded — weight 0 means inclusion
    * probability 0 in the A-Res scheme.
    *
    * Scale shape: the scorer's one projection (quality and the hash
    * carried through a single scan — no score-then-self-join) + a
    * global TakeOrderedAndProject. No shuffle at all: each partition
    * offers its local top-k, the driver merges k rows. */
  def q97WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    qualityScored(
      Tables.documents(spark, dir)
        .withColumn("u_hash", Portable.tokenId(col("text")) % 1000000L),
      carry = Seq("u_hash"))
      .filter(col("quality") > 0)
      .withColumn("es_key",
        round(log((col("u_hash") + 1.0) / 1000000.0) / col("quality"), 6))
      .select("doc_id", "quality", "es_key")
      .orderBy(desc("es_key"), asc("doc_id"))
      .limit(k)
  }

  /** q67: per-source document caps — the C4/RefinedWeb "domain cap"
    * that stops any single site template from flooding the training
    * set. Priority within a source is the content hash (tie-broken by
    * doc_id), so which docs survive is again independent of ingest
    * order. One rank window partitioned by source (shuffle keyed on
    * source — a salted sub-key applies if one domain dominates), one
    * partial-aggregated rollup. */
  def q67SourceCap(spark: SparkSession, dir: String): DataFrame = {
    val cap = 15
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("prio"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("prio", Portable.tokenId(col("text")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= cap, col("n_chars")).otherwise(0L)).as("chars_kept"))
      .orderBy("source")
  }

  /** PII patterns for q69 — written to mean the same thing in Java
    * regex (Spark) and RE2 (DuckDB): no backreferences, no lookaround.
    * Order matters: emails before phones (an email's digits must not be
    * half-eaten by the phone pattern first). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9()\\- ]{7,}[0-9]"                   -> "<PHONE>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>")

  /** Cheap NECESSARY conditions for each PII class — an exact
    * equivalence, not a heuristic: the email pattern cannot match
    * without an '@' and the phone/IP patterns cannot match without a
    * digit, so a doc failing the guard has zero matches by
    * construction. The guard is a single literal/class scan (no
    * per-position regex restarts); on clean corpora — the common case
    * in production and the whole corpus here — the regex engine never
    * runs. Measured at 500k docs: 54 s unguarded → see SCALING.md. */
  private val piiGuards: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
    t => t.contains("@"),
    t => t.rlike("[0-9]"),
    t => t.rlike("[0-9]"))

  /** Redact PII from a text column: emails, phone-number runs and IPv4
    * literals replaced by typed placeholders, applied in [[piiPatterns]]
    * order, each stage guard-skipped ([[piiGuards]]) when the class
    * cannot occur. Pure per-row work — no shuffle, scan-speed at any
    * corpus size. */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.zip(piiGuards).foldLeft(text) { case (c, ((pat, tag), guard)) =>
      when(guard(c), regexp_replace(c, pat, tag)).otherwise(c)
    }

  /** q69: PII scrubbing report — per-doc counts of each redaction class
    * plus the scrubbed text. The synthetic corpus contains no PII, so
    * at test scale this verifies the no-op property (counts 0, text
    * unchanged) and cross-engine regex parity; the planted-fixture spec
    * proves the actual redaction behavior. */
  def q69PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val Seq((emailPat, _), (phonePat, _), (ipPat, _)) = piiPatterns
    val Seq(emailGuard, digitGuard, _) = piiGuards
    def counted(pat: String, guard: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      when(guard(col("text")), regexp_count(col("text"), lit(pat))).otherwise(0).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        counted(emailPat, emailGuard).as("n_emails"),
        counted(phonePat, digitGuard).as("n_phones"),
        counted(ipPat, digitGuard).as("n_ips"),
        redactPii(col("text")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** q70: eval-set DECONTAMINATION — the GPT-3/Pile-style check that no
    * training document leaks benchmark content: flag every train-split
    * doc sharing an 8-word shingle with any test-split doc (the splits
    * are q62's content-hash buckets, so the whole check is
    * deterministic and self-contained). Exact duplicates can never
    * straddle the split (same text ⇒ same bucket), so what this catches
    * is precisely the dangerous case: NEAR-duplicates of eval docs
    * hiding in train.
    *
    * Scale shape: the eval side collapses to a distinct shingle set —
    * at production scale the benchmark suite is MBs against a corpus of
    * TBs, so it broadcasts and the train side streams past in one pass.
    * But THIS query's stand-in eval split is 5% of the corpus itself,
    * which grows with the corpus — so the broadcast goes through the
    * size guard and degrades to a shuffle join past the bound, like
    * every other corpus-derived model table
    * (shingle → broadcast left-join marker → per-doc count); no
    * shuffle of corpus shingles at all. The join key is the shingle's
    * 64-bit hash, not the string: overlap detection only needs
    * equality (the RepetitionStats argument; a spurious flag needs a
    * cross-doc xxhash64 collision, ~1e-19 per probe), and the hash
    * shrinks the broadcast map and its probes by the full shingle
    * width. Shingles are hashed NATIVELY ([[graft.plans.ShingleHashes]] —
    * no shingle string is ever built; the HOF string form measured
    * 111 s over 400k docs against ~2 s for the kernel). */
  def q70Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (Portable.tokenId(col("text")) % 100L).as("bucket"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), n)).as("shash"))
    // the eval table is corpus-derived and GROWS with the corpus (here
    // it stands in for a fixed benchmark suite): size-guard the
    // broadcast like every other model table, so at web scale the probe
    // degrades to a shuffle join instead of OOMing the driver
    val evalSh = sh.filter(col("bucket") >= 95)
      .select("shash").distinct().withColumn("hit", lit(1L))
    sh.filter(col("bucket") < 95)
      .join(Guard.modelBroadcast(evalSh), Seq("shash"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contaminated", (col("n_contaminated") > 0).cast("long"))
      .orderBy("doc_id")
  }

  /** q248: EVAL-SIDE contamination containment — the complement of
    * q70's train-side flag, and the view a benchmark owner needs
    * (Brown et al. 2020, appendix C: an eval item is "dirty" when a
    * large fraction of its n-grams appear in training). Per eval doc:
    * its distinct-shingle count, the single best-matching training
    * doc (most shared shingles, id tie-break), the shared count, the
    * CONTAINMENT |train ∩ eval| / |eval| — asymmetric on purpose: an
    * eval item pasted inside a longer training doc scores ~1 where
    * symmetric Jaccard dilutes toward 0 — and the ≥ 0.8 dirty flag.
    * q70 says which TRAINING docs to drop; this says which EVAL items
    * no longer measure generalization even after the drop.
    *
    * Scale shape: q70's machinery transposed — the eval shingle set
    * stays the size-guarded broadcast side, the training corpus
    * streams past in ONE pass, and the per-(eval, train) counts are
    * candidate-bounded by actual shingle hits; the final best-match
    * rank partitions by eval_doc (suite-sized, never corpus-sized). */
  def q248EvalContainment(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (Portable.tokenId(col("text")) % 100L).as("bucket"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), n)).as("shash"))
    val evalSh = sh.filter(col("bucket") >= 95)
      .select(col("doc_id").as("eval_doc"), col("shash"))
      .localCheckpoint(true) // sizes + the probe join both read it
    val evalSize = evalSh.groupBy("eval_doc")
      .agg(count(lit(1)).as("n_eval_shingles")) // ShingleHashes emits distinct
    val shared = sh.filter(col("bucket") < 95)
      .select(col("doc_id").as("train_doc"), col("shash"))
      .join(Guard.modelBroadcast(evalSh), Seq("shash"))
      .groupBy("eval_doc", "train_doc")
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy("eval_doc")
      .orderBy(desc("n_shared"), asc("train_doc"))
    val best = shared.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("eval_doc", "train_doc", "n_shared")
    evalSize.join(best, Seq("eval_doc"), "left")
      .select(col("eval_doc"), col("n_eval_shingles"),
        col("train_doc").as("best_train_doc"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double")
          / col("n_eval_shingles"), 6).as("containment"))
      .withColumn("dirty", (col("containment") >= 0.8).cast("long"))
      .orderBy("eval_doc")
  }

  /** q149: multi-suite decontamination — the report a lab actually
    * files: WHICH benchmark leaked into WHICH training doc, per suite
    * (one merged flag, q70's shape, cannot tell a MMLU leak from a
    * GSM8K leak, and suites have different blast radii). The held-out
    * split partitions into three stand-in suites by content bucket;
    * ONE corpus shingle pass probes the union (suite, shingle) set —
    * tagging costs nothing over q70: same one size-guarded broadcast,
    * same single shuffle, output only the leaking (doc, suite) pairs.
    * At web scale the real suites are small and static, making the
    * probe side even cheaper than this corpus-derived stand-in. */
  def q149MultiSuiteDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (Portable.tokenId(col("text")) % 100L).as("bucket"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), SuiteShingleN)).as("shash"))
    sh.filter(col("bucket") < 95)
      .join(Guard.modelBroadcast(suiteShingleSet(spark, dir)),
        Seq("shash")) // inner: only leaks survive
      .groupBy("doc_id", "suite")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id", "suite")
  }

  /** Word-shingle size q149 matches on. */
  private val SuiteShingleN = 8

  /** The suite-tagged eval shingle set behind q149: (suite, shash)
    * rows, the held-out split
    * partitioned into three stand-in suites by content bucket. */
  private def suiteShingleSet(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((Portable.tokenId(col("text")) % 100L).as("bucket"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), SuiteShingleN)).as("shash"))
      .filter(col("bucket") >= 95)
      .select(
        when(col("bucket") <= 96, "suite_a")
          .when(col("bucket") <= 98, "suite_b")
          .otherwise("suite_c").as("suite"),
        col("shash"))
      .distinct()

  /** q118: bloom-prefiltered decontamination — q70's EXACT semantics
    * behind a sketch gate, the shape Catalyst's own runtime-filter
    * injection gives joins and the one that survives when the eval set
    * outgrows the broadcast guard: ONE bloom filter over the eval
    * shingle hashes (order-independent OR'd bits, driver state = the
    * sketch bytes, bounded by numBits — never the set), a per-row
    * `might_contain` prefilter on the corpus scan (no shuffle), and an
    * exact confirm join that only the sketch survivors enter. Blooms
    * have NO false negatives, so every true leak reaches the confirm
    * stage; false positives are killed there — the declared output is
    * therefore IDENTICAL to q70's exact answer (same oracle contract),
    * while the expensive exchange carries ~fpp of the corpus instead
    * of all of it. Bits size at 16×items, clamped to [2^14, 2^26]
    * (fpp well under 1 % across the fixture scales; at a real 100 TB
    * deployment the benchmark-suite shingle set is fixed and the
    * sketch is sized once). */
  def q118BloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(spark, dir, numBitsOverride = None)

  /** The q118 core with the sketch size exposed: the spec drives it
    * with a pathologically small bloom to prove the SATURATED sketch
    * (every probe answers "maybe") still yields the exact answer —
    * the degenerate case is the exact join, never a wrong one. */
  private[graft] def bloomDecontaminate(spark: SparkSession, dir: String,
      numBitsOverride: Option[Long]): DataFrame = {
    val n = 8
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (Portable.tokenId(col("text")) % 100L).as("bucket"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), n)).as("shash"))
    val evalSh = sh.filter(col("bucket") >= 95)
      .select("shash").distinct()
    val items = math.max(evalSh.count(), 1L)
    val numBits = numBitsOverride.getOrElse(
      math.min(math.max(items * 16L, 1L << 14), 1L << 26))
    // one row, O(numBits) bytes — the bounded driver state of the op
    val bloomBytes = evalSh
      .select(graft.plans.Blooms.bloomAgg(col("shash"), items, numBits).as("bf"))
      .collect().headOption.map(_.getAs[Array[Byte]]("bf")).orNull
    val base = sh.filter(col("bucket") < 95)
      .withColumn("maybe",
        if (bloomBytes == null) lit(false)
        else graft.plans.Blooms.mightContain(lit(bloomBytes), col("shash")))
    // exact confirm on sketch survivors only; the clean stream bypasses
    // the join entirely, so the exchange is O(candidates) not O(corpus)
    val confirmed = base.filter(col("maybe"))
      .join(Guard.modelBroadcast(evalSh.withColumn("hit", lit(1L))), Seq("shash"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
    confirmed
      .unionAll(base.filter(!col("maybe")).select(col("doc_id"), lit(0L).as("hit")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum("hit").as("n_contaminated"))
      .withColumn("contaminated", (col("n_contaminated") > 0).cast("long"))
      .orderBy("doc_id")
  }

  /** q120: pairwise Jensen-Shannon divergence between per-source
    * unigram distributions — the "how different are my corpus slices"
    * matrix a mix planner (q83/q91) reads before setting temperature
    * weights, and the principled upgrade of q98's per-cell log-ratios.
    * JS over the union support without a full-outer join: each pair's
    * word rows are assembled as a UNION of (p, 0) and (0, q) halves
    * that COLLAPSE under one groupBy sum — missing-in-one-side words
    * keep their exact 0.5·p·ln2 contribution and no three-way
    * shared/only-left/only-right plan is needed. Pair fanout is
    * vocab × (sources − 1) rows per side — bounded by the source
    * cardinality the q67/q83 operators already assume is small; at a
    * web-scale source count the same plan runs over the q64-style
    * top-k vocabulary per source. ln() is libm-divergent at one ulp;
    * the per-pair SUM rounds at 6 (the q71 contract). */
  def q120SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(Portable.tokenize(col("text"))).as("word"))
    val wp = words.groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .select(col("source"), col("word"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
    val sources = wp.select("source").distinct()
    val left = wp.crossJoin(broadcast(sources.select(col("source").as("s2"))))
      .filter(col("source") < col("s2"))
      .select(col("source").as("s1"), col("s2"), col("word"),
        col("p"), lit(0.0).as("q"))
    val right = wp.crossJoin(broadcast(sources.select(col("source").as("s1"))))
      .filter(col("s1") < col("source"))
      .select(col("s1"), col("source").as("s2"), col("word"),
        lit(0.0).as("p"), col("p").as("q"))
    val term =
      when(col("p") > 0, lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
        .otherwise(lit(0.0)) +
      when(col("q") > 0, lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
        .otherwise(lit(0.0))
    left.unionAll(right)
      .groupBy("s1", "s2", "word")
      .agg(sum("p").as("p"), sum("q").as("q"))
      .select(col("s1"), col("s2"), term.as("term"))
      .groupBy("s1", "s2")
      .agg(round(sum("term"), 6).as("js_divergence"))
      .orderBy("s1", "s2")
  }

  /** q71: unigram language-model scoring — the simplest member of the
    * KenLM-style quality-filter family: score each doc by its mean
    * token log-probability under a unigram LM fitted on the corpus
    * itself. Far-below-average docs are gibberish/rare-token soup;
    * far-above-average docs are boilerplate — both tails get clipped
    * in a production mix.
    *
    * Scale shape: the LM is the word-frequency table — O(vocabulary),
    * broadcast; scoring is one pass over token occurrences with a
    * partial-aggregated per-doc mean. Nothing corpus-sized shuffles
    * except the vocabulary count itself (O(vocab) after partial agg). */
  def q71UnigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
    val freq = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    // freq is O(vocab) — size-guarded (see Guard); total is one row.
    words.join(Guard.modelBroadcast(freq), "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** q74: interpolated BIGRAM language-model scoring — the next member
    * of the q71 KenLM family and the signal that actually separates
    * fluent text from bag-of-frequent-words soup (a unigram LM scores
    * "the the the" highly; a bigram LM does not). Each in-document word
    * transition (w1 → w2) is scored
    * `p = λ·cnt(w1,w2)/cnt(w1) + (1−λ)·cnt(w2)/total` with λ = 0.9,
    * falling back to the unigram term alone when the bigram was pruned;
    * a doc's score is its mean ln p over transitions.
    *
    * Scale shape: the unigram table is O(vocab) as in q71. The bigram
    * table is the dangerous one — O(distinct bigrams) approaches
    * O(corpus tokens) unpruned — so the model is PRUNED at count ≥ 3
    * (exactly KenLM's count-threshold pruning; the interpolation term
    * makes pruned mass land on the unigram backoff instead of zero).
    * After pruning both model tables broadcast; scoring is one corpus
    * pass with a partial-aggregated per-doc mean, no corpus-sized
    * shuffle. The transition stream reuses the token array per row
    * (zip words with their tail) rather than a positions self-join —
    * no O(tokens) join, no window. */
  // Both interpolation weights are literals (not 1 − λ: constant
  // folding would give 0.09999999999999998 while the oracle's literal
  // 0.1 is exact).
  private val lmLambda = 0.9
  private val lmBackoffWeight = 0.1
  private val lmMinBigramCount = 3

  /** Word-transition stream: one row per in-document bigram occurrence,
    * from a per-row zip of the token array with its own tail — no
    * positions self-join, no window. */
  private[operators] def transitions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Portable.tokenize(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** A fitted bigram LM for one corpus: hash-keyed model tables
    * (cached), their row counts (free input to the broadcast size
    * guard), and the corpus token total. */
  final case class LmModel(uniH: DataFrame, biH: DataFrame,
      total: Long, nUni: Long, nBi: Long)

  /** Fitted bigram LMs memoized per (session, corpus dir) — the Embed
    * pattern: a model is fitted ONCE per corpus and serves every
    * scoring run; the fit's big bigram-count shuffle never repeats.
    * Weak-keyed by session so cached DataFrames can't outlive it.
    * LRU of ONE per session: fitting a new corpus unpersists the
    * previous corpus' cached tables first, so a long session touching
    * many corpora holds at most one model's blocks at a time. */
  private val lmFitted =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, LmModel]]())

  /** Test hook: the corpus dirs whose LM blocks are currently cached
    * for this session (asserting the LRU-1 eviction actually ran). */
  private[graft] def lmCachedDirs(spark: SparkSession): Set[String] =
    Option(lmFitted.get(spark)).map(_.keySet.toSet).getOrElse(Set.empty)

  /** Fit the count-pruned interpolated bigram LM on a corpus:
    * `(uniByHash (wk, cnt_w2), biByHash (bk, bigram_term), total)`.
    * The λ·cnt2/cnt1 term is a function of the model alone, so it is
    * folded in here (one O(pruned bigrams) join at fit time) — the
    * scoring stream then needs two probes per transition, not three.
    * Model tables are keyed by xxhash64 of the word / word pair:
    * equality is all a probe needs (the ShingleHashes/q70 argument; a
    * wrong score needs an in-corpus collision, ~1e-19 per probe — and
    * the oracle's string-keyed twin would catch one), and the broadcast
    * maps shrink from string tuples to longs. Both tables are
    * materialized eagerly (cache + count), so re-fits are cache hits. */
  def fitBigramLm(spark: SparkSession, dir: String): LmModel = {
    val perSession = lmFitted.synchronized {
      Option(lmFitted.get(spark)).getOrElse {
        val m = scala.collection.concurrent.TrieMap.empty[String, LmModel]
        lmFitted.put(spark, m)
        m
      }
    }
    perSession.getOrElse(dir, perSession.synchronized {
      perSession.getOrElseUpdate(dir, {
        // LRU of 1: release the previous corpus' blocks before caching
        // a new model, so cached storage stays bounded by one model.
        perSession.filterInPlace { (other, old) =>
          if (other != dir) { old.uniH.unpersist(); old.biH.unpersist() }
          other == dir
        }
        val uni = Tables.documents(spark, dir)
          .select(explode(Portable.tokenize(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt1"))
        // coalesce: sum over zero rows is NULL — an empty corpus (or an
        // empty shard of one) must yield an empty score table, not a
        // ROW_VALUE_IS_NULL crash (caught by the empty-corpus sweep)
        val total = uni.agg(coalesce(sum("cnt1"), lit(0L))).head().getLong(0)
        val biH = transitions(spark, dir)
          .groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
          .filter(col("cnt2") >= lmMinBigramCount)
          .join(uni.select(col("word").as("w1"), col("cnt1").as("cnt_w1")), Seq("w1"))
          .select(xxhash64(col("w1"), col("w2")).as("bk"),
            (col("cnt2") * lmLambda / col("cnt_w1")).as("bigram_term"))
          .cache()
        val uniH = uni.select(xxhash64(col("word")).as("wk"), col("cnt1").as("cnt_w2")).cache()
        val nBi = biH.count(); val nUni = uniH.count() // materialize now; later runs reuse the blocks
        LmModel(uniH, biH, total, nUni, nBi)
      })
    })
  }

  def q74BigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val m = fitBigramLm(spark, dir)
    val (total, uniH, biH) = (m.total, m.uniH, m.biH)
    transitions(spark, dir)
      .select(col("doc_id"), xxhash64(col("w1"), col("w2")).as("bk"),
        xxhash64(col("w2")).as("wk"))
      // model tables are O(vocab)/O(pruned bigrams) — size-guarded; the
      // memoized fit already counted them so the guard costs nothing.
      .join(Guard.modelBroadcast(biH, Some(m.nBi)), Seq("bk"), "left")
      .join(Guard.modelBroadcast(uniH, Some(m.nUni)), Seq("wk"))
      .select(col("doc_id"),
        log(coalesce(col("bigram_term"), lit(0.0))
          + lit(lmBackoffWeight) * col("cnt_w2") / lit(total)).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        round(avg("logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** q75: per-document DUPLICATION fraction — the RefinedWeb-style
    * novelty signal: what share of a doc's distinct 8-word shingles
    * appear in at least one OTHER document (corpus-wide document
    * frequency ≥ 2). q70 asks "does this train doc overlap the eval
    * set"; this asks "how boilerplate is this doc against the whole
    * corpus" — the score a mix pipeline thresholds to drop template
    * pages that exact and near dedup both miss (no single doc is a
    * duplicate, but every shingle is shared).
    *
    * Scale shape: shingles are native 64-bit hashes (ShingleHashes —
    * never strings); the df computation is ONE window over the shingle
    * key — the q59 shape: count + per-doc rollup in the same shuffle
    * of O(corpus distinct shingles) rows. No shingle table joins back
    * to docs; nothing is doc × doc. */
  def q75DupFraction(spark: SparkSession, dir: String): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shash")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), 8)).as("shash"))
      .withColumn("df", count(lit(1)).over(byShingle))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac", round(col("n_shared") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** q79: curriculum quality bins — split the corpus into `nBins`
    * equal-population deciles by quality score (descending) and report
    * each bin's doc count, token budget and cumulative token share: the
    * planning table a curriculum / data-mix scheduler consumes ("train
    * on the top 3 bins first, that's 31% of tokens").
    *
    * Scale shape: a naive `ntile(10) OVER (ORDER BY quality)` is a
    * SINGLE-TASK global window — the one shape that cannot survive a
    * corpus scale-up. Instead the global rank is assembled from parts
    * that all parallelize: (1) a histogram of quality VALUES (cardinality
    * ≤ score resolution, ~1e6 after round-6 — independent of corpus
    * size), (2) a running docs-above count over that small histogram,
    * (3) a per-value tie rank windowed BY quality (parallel across
    * values), (4) `rank = n_above + tie_rank`, bin by integer
    * arithmetic. Shuffles: one O(docs) hash by quality + one tiny
    * broadcast. The bin formula `(rank-1)*nBins div total + 1` is shared
    * literally with the oracle (ntile's remainder-distribution rule
    * differs; the explicit formula pins one cross-engine semantics). */
  def q79CurriculumBins(spark: SparkSession, dir: String): DataFrame =
    curriculumBins(spark, q37QualityScore(spark, dir), nBins = 10)

  /** The q79 core over any (doc_id, n_tokens, quality) table — split out
    * so the two-level tie rank is testable on a planted skewed corpus. */
  def curriculumBins(spark: SparkSession, qualityScored: DataFrame, nBins: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // Three consumers (histogram, totals, the rank join) would otherwise
    // each re-run the quality-scoring scan — measured 67 s -> ~25 s at a
    // 100x corpus with the scan cached. Output is nBins rows by
    // contract, so the q33 materialize-then-unpersist shape applies and
    // the cache is released before returning.
    val scored = qualityScored
      .select(col("doc_id"), col("n_tokens"), col("quality")).persist()
    try {
      val hist = scored.groupBy("quality").agg(count(lit(1)).as("n_q"))
      val above = hist.withColumn("n_above",
        coalesce(sum("n_q").over(
          w.orderBy(desc("quality")).rowsBetween(Long.MinValue, -1)), lit(0L)))
      // Two-level tie rank. A row_number() partitioned by quality alone
      // is parallel across DISTINCT values but degenerate when one value
      // dominates (a corpus of identical boilerplate all scoring exactly
      // 0.0 pushes millions of rows through ONE window task). Sub-salt
      // the tie by MONOTONE doc_id ranges: rank within (quality, grp) in
      // parallel, then add the count of docs in earlier groups of the
      // same value from a small (quality, grp) histogram — identical
      // total order (grp is monotone in doc_id), no single-task window.
      val grpWidth = 4096L
      val grpCol = expr(s"doc_id div $grpWidth")
      val subRank = row_number().over(
        w.partitionBy("quality", "grp").orderBy(asc("doc_id")))
      val tieAbove = scored.groupBy(col("quality"), grpCol.as("grp"))
        .agg(count(lit(1)).as("n_g"))
        .withColumn("tie_above", coalesce(sum("n_g").over(
          w.partitionBy("quality").orderBy(asc("grp"))
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select("quality", "grp", "tie_above")
      val totals = scored.agg(
        count(lit(1)).as("total_docs"), sum("n_tokens").as("total_tokens"))
      val binned = scored
        .withColumn("grp", grpCol)
        .withColumn("sub_rn", subRank)
        // histogram join keys == window keys: the exchange is reused;
        // O(values × groups) rows, AQE broadcasts it when small
        .join(tieAbove, Seq("quality", "grp"))
        .join(broadcast(above.select("quality", "n_above")), Seq("quality"))
        .crossJoin(broadcast(totals))
        .withColumn("rnk", col("n_above") + col("tie_above") + col("sub_rn"))
        .withColumn("bin", expr(s"(rnk - 1) * $nBins div total_docs") + 1L)
      val out = binned
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          round(avg("quality"), 6).as("avg_quality"),
          max("total_tokens").as("total_tokens"))
        .withColumn("cum_token_share",
          round(sum("sum_tokens").over(
            w.orderBy("bin").rowsBetween(Long.MinValue, 0)) / col("total_tokens"), 6))
        .select("bin", "n_docs", "sum_tokens", "avg_quality", "cum_token_share")
        .orderBy("bin")
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally scored.unpersist()
  }

  /** q81: DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every doc by how much more
    * likely its tokens are under a TARGET-domain LM than under the raw
    * corpus LM — `avg_w[ ln p_target(w) − ln p_raw(w) ]`. Docs that
    * look like the target domain get high weights; the training mix
    * then samples proportionally. The target here is the q62 'test'
    * split (content-hash buckets ≥ 95) — deterministic and
    * self-contained, the q70 pattern; production swaps in a curated
    * in-domain seed corpus. Target probabilities are add-one smoothed
    * over the raw vocabulary (a target LM is tiny and sparse; unseen
    * tokens must not yield −∞).
    *
    * Scale shape: the q92 structure over the raw vocabulary — the
    * target pass filters DOCS before its explode (5% survive; the
    * bucket hash never rides through a generator, see the q92/
    * SCALING.md trap), raw and target counts merge into ONE size-
    * guarded O(vocab) model materialized once, totals read off the
    * materialization, one scoring probe. 2.05 token-stream passes
    * (measured: 42 s → 28 s at the 100× corpus). */
  def q81DsirWeight(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def wordStream(d: DataFrame): DataFrame =
      d.select(col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
    val raw = wordStream(docs).groupBy("word").agg(count(lit(1)).as("cr"))
    val tgt = wordStream(docs.filter(Portable.tokenId(col("text")) % 100L >= 95L))
      .groupBy("word").agg(count(lit(1)).as("ct"))
    val model = raw.join(tgt, Seq("word"), "left")
      .select(col("word"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      .localCheckpoint(true)
    val tot = model.agg(
      coalesce(sum("cr"), lit(0L)), coalesce(sum("ct"), lit(0L)), count(lit(1))).head()
    val (nr, nt, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    wordStream(docs).join(Guard.modelBroadcast(model, Some(v)), "word")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(
          log((col("ct") + lit(1.0)) / lit(nt.toDouble + v))
            - log(col("cr") * lit(1.0) / lit(nr.toDouble))), 6).as("dsir_weight"))
      .orderBy("doc_id")
  }

  /** Feature-hash bucket count for q92 — shared literally with the
    * oracle SQL. */
  val dsirHashBuckets = 10000

  /** q92 (and the true-web-scale twin of q81) — DSIR's actual
    * hashed-feature form (Xie et al. 2023 hash n-grams, not raw
    * words): tokens hash into a FIXED number of buckets, so both model
    * tables are at most [[dsirHashBuckets]] rows regardless of vocabulary —
    * always broadcastable with no Guard branch, O(buckets) driver
    * memory at any corpus size — and add-one smoothing uses the bucket
    * count as its base. Same score algebra as q81 over bucketed
    * counts; collisions blur individual words but preserve the
    * domain-likelihood signal (the feature-hashing trick), which
    * QueriesSpec checks by correlating the two forms. The bucket hash
    * is the PORTABLE tokenId (not xxhash64) so the whole query is
    * oracle-reproducible — measured at 100×: 26 s vs the exact q81's
    * 42 s, with the gap structural. */
  def q92DsirHashed(spark: SparkSession, dir: String): DataFrame = {
    // Plan shape, measured at the 100× corpus: the doc-level split
    // hash must NEVER ride through the explode — projecting
    // `tokenId(text) % 100` next to a generator re-evaluates the
    // full-text hash per exploded TOKEN (CollapseProject folds the
    // doc-level projection into the per-row one: 64 s vs 13 s for the
    // same 50M-token stream). So the target pass filters DOCS first
    // (5% survive, explode follows) and no token row ever carries a
    // bucket. The raw and target aggregates merge into one
    // checkpointed O(buckets) model whose totals are read off the
    // checkpoint; the token stream executes 2.05 times in total
    // (raw model, 5%-filtered target model, scoring probe). Also
    // measured and rejected: persisting the token stream (75 s — the
    // q85 lesson: caching a cheap codegen'd explode loses to
    // recomputing it) and an arrays_zip-carried bucket (55 s — the
    // zip allocation taxes the probe pass that needs no bucket).
    val docs = Tables.documents(spark, dir)
    def wbStream(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
      .select(col("doc_id"),
        (Portable.tokenId(col("word")) % lit(dsirHashBuckets.toLong)).as("wb"))
    val raw = wbStream(docs).groupBy("wb").agg(count(lit(1)).as("cr"))
    val tgt = wbStream(docs.filter(Portable.tokenId(col("text")) % 100L >= 95L))
      .groupBy("wb").agg(count(lit(1)).as("ct"))
    val model = raw.join(tgt, Seq("wb"), "left")
      .select(col("wb"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      .localCheckpoint(true)
    val tot = model.agg(
      coalesce(sum("cr"), lit(0L)), coalesce(sum("ct"), lit(0L))).head()
    val (nr, nt) = (tot.getLong(0), tot.getLong(1))
    wbStream(docs).join(broadcast(model), "wb")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(
          log((col("ct") + lit(1.0)) / lit(nt.toDouble + dsirHashBuckets))
            - log(col("cr") * lit(1.0) / lit(nr.toDouble))), 6).as("dsir_weight"))
      .orderBy("doc_id")
  }

  /** q82: n-gram novelty — the share of each doc's distinct 8-word
    * shingles that no EARLIER doc (lower doc_id) contains: the marginal-
    * contribution metric a dedup/curation pass uses to measure how much
    * genuinely new content each source adds (a doc of pure boilerplate
    * scores ~0; the first occurrence of content scores it).
    *
    * Scale shape: the q75/q59 window shape — one shuffle of O(corpus
    * distinct shingles) hashed rows, first-occurrence via min(doc_id)
    * per shingle and the per-doc rollup in the same exchange; shingles
    * are native 64-bit hashes ([[graft.plans.ShingleHashes]]), never
    * strings; nothing is doc × doc. */
  def q82NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy("shash")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), 8)).as("shash"))
      .withColumn("first_doc", min("doc_id").over(byShingle))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") * lit(1.0) / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** q83: domain-mix planner — the table a training run starts from:
    * per-source token counts, raw corpus share, temperature-scaled
    * sampling weight `w_s ∝ tokens_s^τ` (τ = 0.5 literal shared with
    * the oracle — the multilingual/data-mix temperature-sampling rule:
    * τ < 1 upweights small sources so head domains don't drown the
    * tail), and the effective epochs each source sustains under a
    * 1e9-token budget (epochs ≫ 1 flags a source the mix would repeat
    * to exhaustion — the DoReMi/PaLM mixing diagnostic).
    *
    * Scale shape: one partial-aggregated groupBy(source) — the
    * O(sources) result then self-normalizes via a one-row cross join.
    * Nothing here grows with corpus size except the first scan. */
  def q83DomainMix(spark: SparkSession, dir: String): DataFrame = {
    // τ = 0.5 ⇒ sqrt(): correctly rounded per IEEE-754 on BOTH engines,
    // unlike pow(x, 0.5) whose last ulp is engine-specific (q222)
    val budget = 1.0e9
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = per.agg(
      sum("n_tokens").as("total_tokens"),
      sum(sqrt(col("n_tokens").cast("double"))).as("z"))
    per.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") * lit(1.0) / col("total_tokens"), 6).as("share"),
        round(sqrt(col("n_tokens").cast("double")) / col("z"), 6).as("mix_weight"),
        round(lit(budget) * (sqrt(col("n_tokens").cast("double")) / col("z"))
          / col("n_tokens"), 4).as("epochs_at_1b"))
      .orderBy("source")
  }

  /** q85: duplicated-substring spans — the positional form of substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): a repeated token span of length L ≥ k shows up as
    * a run of exactly L−k+1 consecutive duplicated k-token windows, so
    * per-doc `max_dup_run + k − 1` IS the longest duplicated substring
    * length, and `dup_cover` is the share of window positions a
    * span-excision pass would cut. q75 answers "how much of this doc is
    * duplicated?"; this answers "WHERE, and in how long a block?" — the
    * signal that separates boilerplate headers (short runs) from wholesale
    * copied passages (long runs).
    *
    * Scale shape: the suffix-array construction the paper uses is a
    * global sort over the whole corpus; the blocked equivalent here is
    * two O(corpus-token) hash shuffles — windows keyed by hash for the
    * occurrence count, then by doc for the run/rollup — plus a window
    * per doc for gaps-and-islands. Window hashes are xxhash64 (never
    * materialized strings); the oracle joins the window STRINGS, the
    * q75 hash↔string equivalence. */
  def q85DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val w = org.apache.spark.sql.expressions.Window
    val windows = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, greatest(size(ws) - ${k - 1}, 1)), i -> xxhash64(array_join(slice(ws, i, $k), ' ')))"))
          .as(Seq("idx", "wh")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("wh"))
    // dup flag via one `count() OVER (PARTITION BY wh)` pass — the
    // q59/q75 window shape. Persisted: the run detector and the per-doc
    // rollup both consume it, and re-running the explode + window
    // exchange for each costs a second O(corpus-token) shuffle
    // (measured at the 100× corpus: 47 s unpersisted -> 42 s persisted;
    // the gap widens with corpus size as the shuffle dominates the
    // cache). Also measured and REJECTED: replacing the window with a
    // partial-agged dup-hash broadcast join — on a duplication-heavy
    // corpus the cache passes + 2M-entry hash probe cost more than the
    // window sort they save (55 s).
    val flagged = windows
      .withColumn("n_occ", count(lit(1)).over(w.partitionBy("wh")))
      .withColumn("dup", col("n_occ") >= 2)
      .persist()
    try {
      val runs = flagged.filter(col("dup"))
        .withColumn("grp",
          col("idx") - row_number().over(w.partitionBy("doc_id").orderBy("idx")).cast("long"))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
        .groupBy("doc_id").agg(max("run_len").as("max_dup_run"))
      flagged
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_windows"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"), col("n_dup"),
          coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
          round(col("n_dup") * lit(1.0) / col("n_windows"), 6).as("dup_cover"))
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally flagged.unpersist()
  }

  /** q88: per-source corpus report card — the health table a pipeline
    * owner reads before touching the mix: per source, volume (docs,
    * tokens, languages), mean q37 quality, the q65 repetition pass rate,
    * and the exact-duplicate rate (1 − distinct md5 / docs). One scan
    * computes every per-row signal (tokenize HOFs, the native
    * RepetitionStats kernel, md5) and ONE partial-aggregated
    * groupBy(source) rolls them up — the q72 flag-algebra lesson applied
    * to reporting; the two DISTINCT aggregates (lang, md5) expand-rewrite
    * exactly like q23.
    *
    * Signal contracts are shared with their parent queries: quality uses
    * q37's rounded ttr/stop_share intermediates; the repetition keep
    * compares q65's ROUNDED fractions against the 0.1 thresholds (the
    * rounding is part of the cross-engine semantics at the boundary);
    * docs without a bigram are counted as evaluated=0 like q65's ≥2-word
    * filter. */
  def q88SourceReport(spark: SparkSession, dir: String): DataFrame = {
    // quality comes from the ONE shared scorer — a report card scoring
    // docs differently than the gate/curation queries would misreport
    // exactly the number it exists to track
    qualityScored(Tables.documents(spark, dir), carry = Seq("text", "lang", "source"))
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        col("quality"),
        graft.plans.RepetitionStats.repetitionStats(split(col("text"), " ")).as("st"),
        md5(col("text")).as("h"))
      .withColumn("rep_eval", (col("st.n_bigrams") > 0L).cast("long"))
      .withColumn("rep_keep", (col("st.n_bigrams") > 0L &&
        round(col("st.top_cnt").cast("double") / col("st.n_bigrams"), 6) <= 0.1 &&
        round(lit(1.0) - col("st.n_distinct").cast("double") / col("st.n_bigrams"), 6) <= 0.1
        ).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum("n_ws").as("n_tokens"),
        round(avg("quality"), 6).as("avg_quality"),
        sum("rep_eval").as("n_rep_eval"),
        sum("rep_keep").as("n_rep_keep"),
        countDistinct(col("h")).as("n_uniq"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        col("avg_quality"), col("n_rep_eval"), col("n_rep_keep"),
        round(col("n_rep_keep") * lit(1.0) / greatest(col("n_rep_eval"), lit(1L)), 6)
          .as("rep_keep_rate"),
        round(lit(1.0) - col("n_uniq") * lit(1.0) / col("n_docs"), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** q98: snapshot drift report — compare two corpus snapshots' doc and
    * token distributions per (lang, source) cell and flag the cells
    * whose share moved: the crawl-over-crawl monitor that catches "this
    * week's crawl lost half its German" or "one domain flooded the mix"
    * BEFORE a training run consumes the data. Shares are each cell's
    * token fraction of its snapshot; drift is the absolute
    * share delta plus a smoothed log-ratio (add-one on doc counts so a
    * cell that vanished entirely still reports finite drift).
    *
    * Scale shape: one scan + one partial-agged groupBy per snapshot
    * down to O(lang × source) cells, a full outer join of the two cell
    * tables, one broadcast one-row totals cross-join each. Nothing
    * grows with corpus size. */
  def snapshotDrift(oldSnap: DataFrame, newSnap: DataFrame): DataFrame =
    cellDrift(corpusCells(oldSnap), corpusCells(newSnap))

  /** Exact content DELTA between two corpus snapshots — the complement
    * of [[snapshotDrift]]: drift says the DISTRIBUTION moved, delta
    * says exactly WHICH documents did. This is the crawl-refresh
    * primitive: a pipeline reprocesses `added`/`changed` docs, retires
    * `removed` ones, and skips the (overwhelmingly common) unchanged
    * majority — so the delta, not the corpus, sizes the incremental
    * work. Emits only the delta rows (doc_id, status ∈
    * added/removed/changed).
    *
    * Scale shape: each side collapses to (doc_id, md5) — 16 bytes a
    * row, the q30 fingerprint — then ONE full-outer hash join on
    * doc_id (co-partitioned and exchange-free when both snapshots are
    * bucketed by doc_id — ScaleSpec pins that plan). Nothing else
    * touches the text. */
  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def fp(df: DataFrame) = df.select(col("doc_id"), md5(col("text")).as("h"))
    fp(oldSnap).as("a")
      .join(fp(newSnap).as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
        when(col("a.doc_id").isNull, lit("added"))
          .when(col("b.doc_id").isNull, lit("removed"))
          .when(col("a.h") =!= col("b.h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("doc_id", "status")
  }

  /** q106: [[snapshotDelta]] on the declared surface. The "new"
    * snapshot is a deterministic synthetic revision of the corpus —
    * doc_id % 13 = 0 removed, doc_id % 7 = 0 rewritten (" v2"
    * appended), doc_id % 11 = 0 re-crawled under a fresh id (+1e12,
    * above ANY corpus's id range incl. the 100x amplified slots) —
    * so both engines derive the same two snapshots and the full
    * added/removed/changed surface is exercised under the DuckDB hash
    * gate. */
  def q106SnapshotDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    snapshotDelta(docs, syntheticRevision(docs))
  }

  /** MERGE: apply a change feed to a snapshot — the warehouse upsert
    * primitive (SQL MERGE / Delta-style `whenMatched`): rows named by
    * the feed leave the target (one LEFT ANTI join on doc_id), then the
    * feed's upserts append. Deletes are simply ids the anti join
    * removed and nothing re-adds. Two passes, no row-at-a-time logic;
    * exchange-free when snapshot and feed are both bucketed by doc_id
    * (the q106 layout) — the shape that keeps
    * incremental snapshot maintenance proportional to the DELTA, not
    * the corpus.
    *
    * @param changes (doc_id, op ∈ {upsert, delete}, + target columns
    *                for upserts) */
  def mergeSnapshot(target: DataFrame, changes: DataFrame): DataFrame =
    target.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(changes.filter(col("op") === "upsert")
        .select(target.columns.map(col).toSeq: _*))

  /** q131: the full incremental-maintenance loop, self-validating —
    * diff the corpus against its q106 synthetic revision, turn the
    * delta into a change feed (added/changed → upsert with the new
    * payload; removed → delete), MERGE it into the old snapshot, and
    * emit the merged table's fingerprints. By construction
    * merge(old, delta(old → rev)) ≡ rev, so the oracle builds the
    * revision DIRECTLY — two independent computation paths must land
    * on the identical table. */
  def q131MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    mergeSnapshot(docs, revisionChangeFeed(docs))
      .select(col("doc_id"), md5(col("text")).as("h"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** The q131 change feed: diff the snapshot against its q106 synthetic
    * revision and emit (doc_id, op, text) upsert/delete records. */
  private[graft] def revisionChangeFeed(docs: DataFrame): DataFrame = {
    val rev = syntheticRevision(docs)
    val delta = docs.select(col("doc_id"), md5(col("text")).as("h")).as("a")
      .join(rev.select(col("doc_id"), md5(col("text")).as("h")).as("b"),
        col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
        when(col("a.doc_id").isNull, lit("added"))
          .when(col("b.doc_id").isNull, lit("removed"))
          .when(col("a.h") =!= col("b.h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
    delta.filter(col("status").isin("added", "changed"))
      .join(rev, Seq("doc_id"))
      .select(col("doc_id"), lit("upsert").as("op"), col("text"))
      .unionByName(delta.filter(col("status") === "removed")
        .select(col("doc_id"), lit("delete").as("op"),
          lit(null).cast("string").as("text")))
  }

  /** The q106 synthetic "new crawl" (one definition, shared by q106
    * and the q131 change feed): removals % 13, rewrites % 7,
    * re-crawls % 11 under fresh +1e12 ids — the offset must clear
    * EVERY corpus's id range: the original +10M collided with the
    * amplified corpus's copy-slotted ids (copy*1e6 reaches 99M), so
    * recrawl ids landed on copy+10's docs, doc_id stopped being a
    * key, and merge(old, delta) != rev (caught by the round-10 100x
    * hash sweep: 517,783 vs 506,995 rows). */
  private[graft] def syntheticRevision(docs: DataFrame): DataFrame = {
    val revised = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val recrawled = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text"))
    revised.unionByName(recrawled)
  }

  /** One snapshot's per-(lang, source) doc/token cell table — the
    * distribution summary drift compares. */
  private def corpusCells(df: DataFrame): DataFrame = df
    .groupBy("lang", "source")
    .agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))

  /** The q98 comparison over two precomputed cell tables. */
  private def cellDrift(oldCells: DataFrame, newCells: DataFrame): DataFrame = {
    def cells(df: DataFrame, suffix: String) = df
      .select(col("lang"), col("source"),
        col("n_docs").as(s"n_docs_$suffix"),
        col("n_tokens").as(s"n_tokens_$suffix"))
    def withShare(df: DataFrame, suffix: String) = {
      val tot = df.agg(
        coalesce(sum(s"n_tokens_$suffix"), lit(0L)).as(s"tot_$suffix"))
      df.crossJoin(broadcast(tot))
        .withColumn(s"share_$suffix",
          round(col(s"n_tokens_$suffix").cast("double")
            / greatest(col(s"tot_$suffix"), lit(1L)), 6))
        .drop(s"tot_$suffix")
    }
    val old_ = withShare(cells(oldCells, "old"), "old")
    val new_ = withShare(cells(newCells, "new"), "new")
    old_.join(new_, Seq("lang", "source"), "full_outer")
      .na.fill(0L, Seq("n_docs_old", "n_tokens_old", "n_docs_new", "n_tokens_new"))
      .na.fill(0.0, Seq("share_old", "share_new"))
      .select(col("lang"), col("source"),
        col("n_docs_old"), col("n_docs_new"),
        col("share_old"), col("share_new"),
        round(abs(col("share_new") - col("share_old")), 6).as("share_drift"),
        round(log((col("n_docs_new") + 1.0) / (col("n_docs_old") + 1.0)), 6)
          .as("doc_log_ratio"))
      .orderBy("lang", "source")
  }

  /** q98 declared form: the corpus' content-hash halves stand in for
    * last week's and this week's crawl (bucket < 50 vs ≥ 50 of the q62
    * hash — deterministic, self-contained; production passes two real
    * snapshot directories). */
  def q98SnapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", Portable.tokenId(col("text")) % 100L)
    snapshotDrift(docs.filter(col("bucket") < 50), docs.filter(col("bucket") >= 50))
  }

  /** q100: padding-waste report — group documents into power-of-two
    * length buckets (the shape dynamic batchers pad to) and report, per
    * bucket, how many tokens a batch padded to the bucket ceiling
    * wastes: the planning table for inference/training batch-shape
    * decisions ("bucket 128 is 41% padding — split it"). The ceiling
    * for a doc of n tokens is the smallest power of two ≥ n (floor 16,
    * so tiny docs share one bucket); waste = 1 − sum(n)/(docs·ceiling).
    *
    * Scale shape: one scan, integer log2 arithmetic per row, one
    * partial-agged groupBy over ≤ ~20 buckets. Nothing grows. */
  def q100PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val n = greatest(size(split(col("text"), " ")).cast("long"), lit(1L))
    // smallest power of two >= n via an integer compare ladder —
    // ceil(log2) through doubles puts exact powers of two on a
    // rounding knife-edge, and the two engines' log implementations
    // need not fall the same way
    val ladder = (4 to 20).map(1L << _) // 16 … 1048576
    val bucket = ladder.foldRight(lit(ladder.last)) { (b, acc) =>
      when(n <= b, lit(b)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(bucket.as("bucket"), n.as("n_tokens"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        round(lit(1.0) - col("sum_tokens").cast("double")
          / (col("n_docs") * col("bucket")), 6).as("waste"))
      .orderBy("bucket")
  }

  /** q38: document fingerprint + token counts — order-sensitive rolling
    * hash over the token stream (whitespace tokens and the reference's
    * alpha tokens counted separately). */
  def q38Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(Portable.tokenize(col("text"))).cast("long").as("n_alpha_tokens"),
        Portable.fingerprint(Portable.tokenize(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** Winnowing k-gram width (q33's shingle width — the same gram
    * universe, so the full-resolution baseline IS the q33 candidate
    * space) and the window sweep: w is the winnowing GUARANTEE knob —
    * any two docs sharing ≥ w+k−1 consecutive words share a selected
    * fingerprint (Schleimer et al. 2003, thm 1). */
  val WinnowK = 4
  val WinnowWindows: Seq[Int] = Seq(4, 8, 16)

  /** q250: winnowed (minimizer) fingerprints — the MOSS/winnowing
    * selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003; the same
    * minimizer trick genomics calls minimap): instead of storing every
    * k-gram hash per document (q33/q70's full-resolution signature),
    * keep only each w-window's MINIMUM hash — a deterministic ~2/(w+1)
    * sample that still guarantees any match of length ≥ w+k−1 words is
    * caught. THE signature-size lever for corpus-scale near-dup
    * candidate generation: the q33 gram table is the largest artifact
    * an exact-overlap dedup materializes, and winnowing shrinks it by
    * w/2× BEFORE the shuffle, not after.
    *
    * Reported per window size w ∈ [[WinnowWindows]]: the stored-hash
    * bill (distinct grams vs distinct selected), and candidate-pair
    * recall vs the full-gram truth — pairs sharing a selected hash
    * over pairs sharing ANY (frequency-capped, the q33 df ≤ 50 rule)
    * gram. Winnowed pairs are a SUBSET of truth pairs by construction
    * (every selected hash is one of the doc's gram hashes, and the cap
    * comes from the FULL table on both sides), so recall is a plain
    * count ratio — no intersection join.
    *
    * Scale shape: gram hashing and window-min selection are per-row
    * array kernels inside one scan (positional poly-131 rolling hashes
    * — the q38 fingerprint chain, windowed; NOT the set-semantics
    * ShingleHashes, positions must survive for the window min); the
    * only shuffles are the hash-df count and the df-capped pair joins
    * — each bucket ≤ 50 docs, the q33 bound. The sweep shares the one
    * gram pass across all three w. Everything is exact integer
    * counts + terminal rounding → oracle-replayed end to end. */
  /** Positional poly-131 [[WinnowK]]-gram hashes per document —
    * (doc_id, gh: array&lt;long&gt;), position-ordered so a window min can
    * select over it. The q38 fingerprint chain windowed; shared by the
    * q250 sweep and the q264 winnowed dedup mode so both speak the
    * same gram universe. One native per-row kernel
    * ([[graft.plans.GramHashes]]), no shuffle. */
  def winnowGrams(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.plans.GramHashes.gramHashes(split(col("text"), " "), WinnowK).as("gh"))

  /** The winnowing selection over a position-ordered `gh` column: the
    * distinct w-window minima (Schleimer et al. 2003) — a ~2/(w+1)
    * deterministic sample that still catches any match of length ≥
    * w+[[WinnowK]]−1 words. One native per-row kernel
    * ([[graft.plans.WinnowMinima]]), no shuffle. */
  def winnowSig(w: Int): Column = graft.plans.WinnowMinima.winnowMinima(col("gh"), w)

  def q250WinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // Materialization discipline (round 14): through round 13 this body
    // was one lazy tree — the df-cap subtree replicated under every
    // pair-join side (8 copies of the explode+groupBy: a 102-Exchange
    // plan, zero ReusedExchange) and each window's sig kernel ran twice
    // (size bill + pair explode). Now every frame that feeds ≥2
    // consumers materializes ONCE (eager localCheckpoint), the
    // independent ones concurrently, in two [[graft.Exec.overlap]] waves:
    // gram pass → {rare cap, per-w sig tables} → {capped gram table,
    // per-w capped selections} → one action for the pair joins + bills.
    val base = winnowGrams(Tables.documents(spark, dir))
      .localCheckpoint(true) // one gram pass feeds truth + all three w
    val full = base.select(col("doc_id"),
      explode(array_distinct(col("gh"))).as("h"))
    // frequency cap from the FULL gram table (the q33 df <= 50 rarity
    // rule) applied to BOTH sides, keeping winnowed pairs a subset
    val rare +: sigWs = graft.Exec.overlap(
      ("q250 df cap" -> { () =>
        full.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50).select("h")
          .localCheckpoint(true)
      }) +: WinnowWindows.map { w => s"q250 sig w=$w" -> { () =>
        base.select(col("doc_id"),
            size(array_distinct(col("gh"))).cast("long").as("ng"),
            winnowSig(w).as("sig"))
          .localCheckpoint(true)
      } })
    val fullRare +: wps = graft.Exec.overlap(
      ("q250 capped gram table" -> { () =>
        full.join(rare, "h").localCheckpoint(true)
      }) +: sigWs.map { sigW => "q250 capped selection" -> { () =>
        sigW.select(col("doc_id"), explode(col("sig")).as("h"))
          .join(rare, "h").localCheckpoint(true)
      } })
    val truth = fullRare.as("a").join(fullRare.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .agg(count(lit(1)).as("n_truth_pairs"))
    val perW = WinnowWindows.zipWithIndex.map { case (w, wi) =>
      val counts = sigWs(wi)
        .select(col("ng"), size(col("sig")).cast("long").as("ns"))
        .agg(count(lit(1)).as("n_docs"), sum("ng").as("n_gram_hashes"),
          sum("ns").as("n_selected"))
      val wp = wps(wi)
      val wpairs = wp.as("a").join(wp.as("b"), col("a.h") === col("b.h")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .agg(count(lit(1)).as("n_winnow_pairs"))
      counts.crossJoin(wpairs).crossJoin(truth)
        .select(lit(w.toLong).as("w"), col("n_docs"), col("n_gram_hashes"),
          col("n_selected"),
          round(col("n_selected").cast("double") / col("n_gram_hashes"), 6)
            .as("keep_ratio"),
          col("n_truth_pairs"), col("n_winnow_pairs"),
          when(col("n_truth_pairs") > 0,
            round(col("n_winnow_pairs").cast("double") / col("n_truth_pairs"), 6))
            .as("pair_recall"))
    }
    perW.reduce(_.union(_)).orderBy("w")
  }

  /** q142: sliding-window chunker with overlap — the RAG/embedding
    * preprocessing step that turns documents into fixed-budget chunks
    * (window 200 chars, stride 150 ⇒ 50-char overlap so no sentence is
    * orphaned at a boundary). Chunk content is addressed by md5, the
    * retrieval-store key; `chunk_start`/`chunk_len` let a fetcher slice
    * the original instead of storing the text twice.
    *
    * Scale shape: a pure per-row generator (sequence + substring inside
    * whole-stage codegen) — NO shuffle at all until the output sort;
    * emitted volume is corpus bytes × (window/stride) ≈ 1.33×. The
    * fanout is bounded per row, so the operator pipelines at scan speed
    * at any corpus size. */
  def q142ChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables.documents(spark, dir)).orderBy("doc_id", "chunk_idx")

  /** The q142 chunker core on any (doc_id, text, n_chars) frame: a
    * stateless per-row generator. */
  private def chunkOverlap(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, greatest(n_chars, 1), 150)," +
            " i -> struct(i AS s, substring(text, i, 200) AS c))"))
          .as(Seq("idx", "ch")))
      .filter(length(col("ch.c")) > 0)
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("chunk_idx"),
        col("ch.s").cast("long").as("chunk_start"),
        length(col("ch.c")).cast("long").as("chunk_len"),
        md5(col("ch.c").cast("binary")).as("chunk_md5"))

  /** q159: Unicode NFC canonicalization report — per doc, whether NFC
    * normalization changes the text, the code-point lengths before and
    * after, and the POST-normalization md5: the content key every
    * downstream exact-dedup/decontamination stage should use. Composed
    * vs decomposed encodings of the same visible text hash apart, so
    * an un-normalized q30 under-merges; this query is the ingest gate
    * that makes content hashing honest, built on the engine's native
    * [[graft.plans.NfcNormalize]] expression (registered in SQL under
    * the DuckDB-matching name `nfc_normalize`, so the oracle reads
    * identically). A fully-ASCII corpus legitimately reports zero
    * changes — the per-doc flags and re-keyed md5s are still the
    * hash-checked contract, and the expression's actual normalization
    * behavior is pinned by PortableSpec fixtures (the
    * reference-corpus-independent check).
    *
    * Scale: per-row scalar inside whole-stage codegen at scan speed;
    * the already-normalized fast path returns the input string
    * copy-free. No shuffle before the output sort. */
  def q159NfcReport(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.plans.NfcNormalize.nfc(col("text"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        (col("text") =!= nfc).cast("long").as("is_changed"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(nfc).cast("long").as("n_chars_nfc"),
        md5(nfc.cast("binary")).as("nfc_md5"))
      .orderBy("doc_id")
  }

  /** Histogram bin width (tokens) for [[q160SourceEmd]]. */
  val EmdBinWidth = 25L
  /** Support cap: lengths clip into the last bin past this point. */
  val EmdMaxLen = 2000L

  /** q160: pairwise earth-mover's distance (1-D Wasserstein-1) between
    * per-source document-LENGTH distributions — the metric companion
    * q120's JS-divergence is missing: JS saturates at ln 2 once two
    * distributions' supports stop overlapping (a source of 100-token
    * docs vs 200-token docs scores the SAME as vs 5000-token docs),
    * while EMD keeps measuring HOW FAR apart they sit — the right
    * signal for "which source is shifting the length mix", curriculum
    * design, and drift alarms on heavy-tailed stats. On a 1-D binned
    * support W₁ is closed-form: Σ_bins |CDF_a − CDF_b| · binwidth — no
    * transport LP, just two cumulative sums. Each grid point weights
    * by the distance to the NEXT observed bin (lead − bin), not a
    * fixed bin width: the grid skips empty bins, and a CDF difference
    * persisting across a 500-token hole is 500 tokens of transport,
    * not 25.
    *
    * Determinism: each source's pmf divides its O(bins) histogram by
    * its total; the CDF is a window cumsum over the ≤ 80 ordered bins
    * (identical addition order both engines); rounding once at the
    * final sum (6 dp). Scale shape: ONE tokenize scan collapses to
    * O(sources × bins) partial-aggregated cells; pairing is
    * histogram × histogram (the q120 join), bounded by sources² · bins
    * — nothing downstream of the scan grows with the corpus. Lengths
    * clip at [[EmdMaxLen]] so the support (and the shuffle) stays
    * fixed-width no matter how long the longest crawl doc is. */
  def q160SourceEmd(spark: SparkSession, dir: String): DataFrame = {
    val binW = Window.partitionBy("source").orderBy("bin")
    val cdfs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"),
        least(size(Portable.tokenize(col("text"))).cast("long"), lit(EmdMaxLen))
          .as("n"))
      .select(col("source"), (expr(s"n div $EmdBinWidth") * EmdBinWidth).as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(binW))
      .withColumn("tot", sum("c").over(Window.partitionBy("source")))
      .select(col("source"), col("bin"), (col("cum").cast("double") / col("tot")).as("cdf"))
    // the support union: a bin one source lacks still carries that
    // source's cdf forward — join on the full bin grid via a
    // last-value fill (both sides share the SAME grid after this)
    val grid = cdfs.select(col("bin")).distinct()
    val bySource = cdfs.select(col("source")).distinct()
      .crossJoin(grid) // sources × ≤80 bins, bounded
      .join(cdfs, Seq("source", "bin"), "left")
      .withColumn("cdf", last("cdf", ignoreNulls = true)
        .over(binW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .na.fill(0.0, Seq("cdf"))
      // transport span to the next observed bin; the top bin closes at 0
      .withColumn("gap",
        coalesce(lead("bin", 1).over(binW) - col("bin"), lit(0L)))
    val a = bySource.select(col("source").as("source_a"), col("bin"),
      col("cdf").as("cdf_a"), col("gap"))
    val b = bySource.select(col("source").as("source_b"), col("bin"),
      col("cdf").as("cdf_b"))
    a.join(b, Seq("bin"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(round(sum(abs(col("cdf_a") - col("cdf_b")) * col("gap")), 6).as("emd_tokens"))
      .orderBy("source_a", "source_b")
  }

  /** Grid resolution for [[q165HeapsCurve]]. */
  val HeapsGrid = 20

  /** q165: per-source vocabulary-growth (Heaps' law) curve — fit
    * V ≈ K·N^β over [[HeapsGrid]] ingest-order checkpoints and report
    * β plus the tail novelty rate (new words per token across the last
    * grid step). Heaps' β ≈ 0.5 marks a healthily growing vocabulary;
    * a source whose curve has flattened (tail novelty ≈ 0) is
    * SATURATED — more of it adds tokens but no new language, which is
    * exactly the curation signal for down-weighting a crawled source
    * that keeps re-serving its own template (complements q82's per-doc
    * novelty and q88's dup rollup with a per-SOURCE growth law).
    *
    * Scale shape: checkpoints are FIXED integer fractions of each
    * source's doc-id span (broadcast O(sources) frame), so both V and
    * N come from conditional partial aggregates — N_i as
    * [[HeapsGrid]] count-if columns over the token stream in ONE
    * agg; V_i over the (source, word) → min(doc_id) first-occurrence
    * frame (vocabulary-bounded, the q58 class). NO per-prefix distinct
    * scan and no O(docs) intermediate: everything after the two
    * partial aggs is O(sources × grid). The log-log fit is
    * regr_slope/regr_r2 on identical doubles (exact integer counts
    * through ln; the q144 precedent). */
  def q165HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val g = HeapsGrid
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("source").isNotNull && col("doc_id").isNotNull)
      .select(col("source"), col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
    val span = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("source").isNotNull && col("doc_id").isNotNull)
      .groupBy("source").agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
    // Column `/` is DOUBLE division in Spark — the grid thresholds must
    // be integer arithmetic on both engines (DuckDB uses //), so `div`
    def t(i: Int) = expr(s"d0 + ((d1 - d0) * $i) div $g")
    val nCols = (1 to g).map(i =>
      sum(when(col("doc_id") <= t(i), 1L).otherwise(0L)).as(s"n$i"))
    val n = toks.join(broadcast(span), "source")
      .groupBy("source").agg(nCols.head, nCols.tail: _*)
    val vCols = (1 to g).map(i =>
      sum(when(col("fdoc") <= t(i), 1L).otherwise(0L)).as(s"v$i"))
    val v = toks.groupBy("source", "word").agg(min("doc_id").as("fdoc"))
      .join(broadcast(span), "source")
      .groupBy("source").agg(vCols.head, vCols.tail: _*)
    val points = n.join(v, "source")
      .select(col("source"), posexplode(arrays_zip(
        array((1 to g).map(i => col(s"n$i")): _*),
        array((1 to g).map(i => col(s"v$i")): _*)).as("p")))
      .select(col("source"), (col("pos") + 1).as("i"),
        col("col.0").as("n"), col("col.1").as("v"))
      .filter(col("n") > 0L && col("v") > 0L)
    val tail = points.filter(col("i") >= g - 1)
      .groupBy("source")
      .agg((max(when(col("i") === g, col("v"))) -
            max(when(col("i") === g - 1, col("v")))).as("dv"),
        (max(when(col("i") === g, col("n"))) -
          max(when(col("i") === g - 1, col("n")))).as("dn"),
        max(when(col("i") === g, col("n"))).as("n_tokens"),
        max(when(col("i") === g, col("v"))).as("v_words"))
    points
      .groupBy("source")
      .agg(count(lit(1)).as("n_points"),
        round(regr_slope(log(col("v")), log(col("n"))), 4).as("heaps_beta"),
        round(regr_r2(log(col("v")), log(col("n"))), 4).as("fit_r2"))
      .join(tail, "source")
      .select(col("source"), col("n_points"), col("n_tokens"), col("v_words"),
        col("heaps_beta"), col("fit_r2"),
        when(col("dn") > 0L,
          round(col("dv").cast("double") / col("dn"), 6)).as("tail_novelty"))
      .orderBy("source")
  }

  /** q154: top-20 collocations by pointwise mutual information over
    * adjacent word pairs — PMI(w1, w2) = ln(P(w1,w2) / (P(w1)·P(w2)))
    * with the marginals taken over bigram SLOTS (w1 from the left
    * slot, w2 from the right), the standard collocation estimator.
    * The word2vec tie-in is direct: SGNS factorizes the shifted PMI
    * matrix (Levy & Goldberg 2014), so this table is the closed-form
    * view of what the reference's Word2Vec (MapRedWord2Vec.scala:146)
    * learns implicitly — the engine exposes the statistic itself as a
    * query.
    *
    * Scale shape: ONE corpus pass builds the partial-aggregated bigram
    * histogram (the q74 transitions reuse); marginals and the total
    * re-aggregate THAT table (O(distinct bigrams), corpus never
    * rescanned) and join back histogram-to-histogram — bounded by
    * vocabulary, not corpus; the total broadcasts as a 1-row
    * crossJoin. Top-20 is TakeOrderedAndProject, never a global sort.
    * A count-≥5 floor drops the unstable tail (PMI's known
    * low-frequency bias). All factors go through double BEFORE
    * multiplying so no integer product can overflow at corpus scale;
    * 6-dp rounding, ties broken by the pair. */
  def q154PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    // the bigram histogram feeds FOUR consumers (pairs, both marginals,
    // total); localCheckpoint materializes it once so the corpus
    // tokenize+shuffle never re-runs (the Graph.scala lineage-cut
    // precedent) — it is O(observed bigrams), vocabulary-bounded
    val bi = transitions(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val left = bi.groupBy("w1").agg(sum("c12").as("c1"))
    val right = bi.groupBy("w2").agg(sum("c12").as("c2"))
    val tot = bi.agg(sum("c12").as("n_pairs"))
    bi.filter(col("c12") >= 5)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot)) // 1-row total
      .select(col("w1"), col("w2"), col("c12").as("n"),
        round(log(col("c12").cast("double") * col("n_pairs").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(20)
  }

  /** Vocabulary-size cutoffs for [[q168VocabCoverage]] — a dense sweep
    * through the fixture corpus's ~31-word vocabulary plus the
    * real-world sizes (cutoffs past |V| simply don't emit; the
    * saturation row at rk = |V| always does). */
  val VocabCutoffs: Seq[Long] = Seq(5L, 10L, 15L, 20L, 25L, 100L,
    1000L, 10000L, 50000L)

  /** q168: vocabulary-size operating curve — for each candidate vocab
    * size K, what fraction of corpus TOKENS is covered by the top-K
    * words by frequency (ties broken lexicographically), and what OOV
    * rate a K-word vocabulary buys. [[q165HeapsCurve]] answers "how
    * fast does vocabulary GROW with corpus size"; this answers the
    * complementary sizing question — "where does coverage saturate" —
    * the curve read before fixing a tokenizer's vocab budget (the
    * q57/q146 trainers take vocab size as an input; this query prices
    * the choices). Zipf makes it sharply concave: the knee IS the
    * budget.
    *
    * Scale shape: ONE tokenize scan collapses to the word histogram
    * (the q01 partial-aggregated shuffle); ranking + cumulative sums
    * run on the VOCABULARY-bounded frame (the q110/q165 cap argument —
    * |V| grows sublinearly with the corpus, Heaps' law, measured by
    * q165 itself), and the output is O(cutoffs) rows filtered from
    * that frame. Counts stay exact integers end to end — coverage is
    * the only double, derived from identical integers on both
    * engines. */
  def q168VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(Portable.tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // vocabulary-bounded single-partition window: rank + running sum
    // over |V| rows (the q165 grid precedent); never a corpus-sized sort
    val byFreq = Window.orderBy(col("cnt").desc, col("word").asc)
    val ranked = hist
      .withColumn("rk", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum("cnt").over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint() // O(|V|), feeds the total AND the cutoff probe
    val tot = ranked.agg(max("cum").as("total"), max("rk").as("n_types"))
    ranked.crossJoin(broadcast(tot)) // O(|V|) × 1 row
      .filter(col("rk").isin(VocabCutoffs: _*) || col("rk") === col("n_types"))
      .select(col("rk").as("vocab_size"), col("cum").as("covered_tokens"),
        col("total").as("total_tokens"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("coverage"),
        round((col("total") - col("cum")).cast("double") * 10000.0 /
          col("total").cast("double"), 2).as("oov_per_10k"))
      .orderBy("vocab_size")
  }

  /** q180: split-half lexical drift — the trending-vocabulary report:
    * words whose frequency SHARE in the late half of ingest most
    * outgrew their early-half share (add-one-smoothed share ratio, so
    * a word absent early doesn't divide by zero and rare flukes don't
    * dominate). This is the signal that decides a tokenizer refresh or
    * a q168 vocab-size revisit: the q98/q106 snapshot-drift machinery
    * at the WORD grain instead of the document grain. The ingest axis
    * is doc_id order (the q144 convention — documents carry no
    * timestamp); the halves split at the id midpoint, so both engines
    * agree on membership exactly.
    *
    * One tokenize pass collapses the corpus to (word, half) counts —
    * the q01 histogram shape, partial-aggregated; totals and the vocab
    * size V (for smoothing) fold from that O(V) frame. All counts are
    * exact integers; shares/lift are derived identically. Top-20 via
    * TakeOrderedAndProject (per-partition top-k, no full sort). */
  def q180LexicalDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val mid = docs.agg(floor((min("doc_id") + max("doc_id")) / 2).cast("long").as("mid"))
    val counts = docs.crossJoin(broadcast(mid))
      .select((col("doc_id") <= col("mid")).as("early"),
        explode(Portable.tokenize(col("text"))).as("word"))
      .groupBy("word")
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("cnt_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("cnt_late"))
    val tot = counts.agg(sum("cnt_early").as("tot_early"),
      sum("cnt_late").as("tot_late"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt_early") + col("cnt_late") >= 5)
      .select(col("word"), col("cnt_early"), col("cnt_late"),
        round((col("cnt_early") + 1).cast("double") /
          (col("tot_early") + col("v")).cast("double"), 8).as("share_early"),
        round((col("cnt_late") + 1).cast("double") /
          (col("tot_late") + col("v")).cast("double"), 8).as("share_late"),
        round(((col("cnt_late") + 1).cast("double") /
            (col("tot_late") + col("v")).cast("double")) /
          ((col("cnt_early") + 1).cast("double") /
            (col("tot_early") + col("v")).cast("double")), 4).as("lift"))
      .orderBy(desc("lift"), asc("word"))
      .limit(20)
  }

  /** q186: language-metadata consistency audit — per source, how often
    * the DECLARED `lang` column disagrees with what the content-based
    * detector (q36's stopword rule) says: the mislabeled-feed alarm.
    * Declared language is upstream metadata and upstream metadata
    * lies; a source whose 'en' docs don't read as English (or whose
    * 'de' docs do) is either mistagged or mixed — either way its
    * per-language quotas (q83/q91) are built on sand. Disagreement is
    * scored on the detector's own axis (en vs not-en, all q36's rule
    * distinguishes). One tokenize scan collapses to O(sources)
    * partial-aggregated rows; counts exact integers. */
  def q186LangConsistency(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), col("lang"),
        Portable.tokenize(col("text")).as("words"))
      .select(col("source"), col("lang"),
        (round(size(filter(col("words"), w => w.isin(stopwords: _*)))
          .cast("double") / greatest(size(col("words")), lit(1)), 6) >= 0.08)
          .as("pred_en"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("lang") === "en").cast("long")).as("n_declared_en"),
        sum(col("pred_en").cast("long")).as("n_pred_en"),
        sum(((col("lang") === "en") =!= col("pred_en")).cast("long"))
          .as("n_mismatch"))
      .withColumn("mismatch_rate",
        round(col("n_mismatch").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** q187: split-conformal quality gate — a DISTRIBUTION-FREE flagging
    * threshold on the q37 quality score (split conformal prediction,
    * Vovk et al.; Lei et al. 2018): calibrate on the even-doc_id half
    * (threshold = the k-th smallest calibration quality, k =
    * ⌊α(n+1)⌋, α = 0.1), flag production (odd-half) docs scoring
    * strictly below it. Exchangeability gives the finite-sample
    * guarantee P(flag) ≤ ~α with NO model and NO distributional
    * assumption — the honest version of "flag the worst 10 %", whose
    * naive form (a percentile of the same data you flag) silently
    * overfits. The deterministic parity split is engine-portable (the
    * q98/q104 convention). One scoring scan; the threshold is an
    * O(1) broadcast from the calibration half's rank window; per-
    * source flag counts partial-aggregate. */
  def q187ConformalGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityScored(
      Tables.documents(spark, dir).filter(col("text").isNotNull),
      carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"))
      .localCheckpoint() // one scoring pass feeds both halves
    val calib = scored.filter(col("doc_id") % 2 === 0)
    // exact k-th order statistic WITHOUT a global rank: quality lives
    // on the 6-dp grid, so the calibration half collapses to a bounded
    // value histogram (≤ 10⁶+1 cells at ANY corpus size) and the
    // threshold is the first value whose cumulative count reaches
    // k = ⌊0.1(n+1)⌋ — the scale-safe exact quantile (no q51-style
    // single-buffer percentile, no corpus-wide sort)
    val hist = calib.groupBy("quality").agg(count(lit(1)).as("c"))
    val wq = Window.orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val thr = hist
      .withColumn("cum", sum("c").over(wq))
      .withColumn("n_cal", sum("c").over(all))
      .withColumn("k", floor((col("n_cal") + 1) * 0.1).cast("long"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k") &&
        col("k") >= 1)
      .select(col("quality").as("threshold"), col("n_cal"))
    scored.filter(col("doc_id") % 2 === 1)
      .crossJoin(broadcast(thr))
      .groupBy("source")
      .agg(count(lit(1)).as("n_prod"),
        sum((col("quality") < col("threshold")).cast("long")).as("n_flagged"),
        max(col("threshold")).as("threshold"),
        max(col("n_cal")).as("n_cal"))
      .withColumn("flag_rate",
        round(col("n_flagged").cast("double") / col("n_prod"), 6))
      .select(col("source"), col("n_prod"), col("n_flagged"), col("flag_rate"),
        col("threshold"), col("n_cal"))
      .orderBy("source")
  }

  /** q188: Zipf's-law fit per source — OLS slope of ln(freq) on
    * ln(rank) over each source's top-200 words, with r² and the top
    * word's share of ALL tokens. Natural text sits near slope −1
    * (Zipf 1949); a source that departs hard (flat: template/keyword-
    * stuffed with an artificially even vocabulary; steep: a few tokens
    * stuffed everywhere) fails the same smell test q65 runs per-doc,
    * but at the FEED grain — and the fit complements q165's Heaps
    * curve (vocabulary growth) with the frequency-decay half of the
    * same power-law family.
    *
    * Scale shape: one tokenize scan collapses to the (source, word)
    * histogram — vocabulary-bounded, the q110/q168 cap argument — the
    * rank window partitions by source over that bounded frame, and the
    * regression consumes ≤ 200 rows/source. Totals fold from the same
    * histogram (no second corpus scan). regr_slope/regr_r2 on ln
    * values over ≤ 200 small doubles, rounded at 6/4 dp — the q144
    * regression-rounding contract. */
  def q188ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(Portable.tokenize(col("text"))).as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // vocabulary-bounded; feeds totals + ranks
    val totals = hist.groupBy("source")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_vocab"))
    val w = Window.partitionBy("source").orderBy(desc("cnt"), asc("word"))
    hist.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 200)
      .groupBy("source")
      .agg(round(expr("regr_slope(ln(cnt), ln(rk))"), 6).as("zipf_slope"),
        round(expr("regr_r2(ln(cnt), ln(rk))"), 4).as("r2"),
        max(when(col("rk") === 1, col("word"))).as("top_word"),
        max(when(col("rk") === 1, col("cnt"))).as("top_cnt"))
      .join(totals, "source")
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        col("zipf_slope"), col("r2"), col("top_word"),
        round(col("top_cnt").cast("double") / col("n_tokens"), 6)
          .as("top_share"))
      .orderBy("source")
  }

  /** q191: inter-rater agreement audit — Cohen's κ (1960) per source
    * between the two main curation gates: the q37 quality score
    * (pass = quality ≥ 0.5) and the q65 Gopher repetition filter.
    * Raw agreement is inflated when both gates pass almost everything;
    * κ subtracts the agreement expected BY CHANCE from the two gates'
    * marginal pass rates, so κ ≈ 0 means the gates are redundant noise
    * w.r.t. each other and κ → 1 means they genuinely co-decide — the
    * number that says whether running both filters buys signal or just
    * latency.
    *
    * One scan: both gates are per-row projections (the quality kernel
    * + the native RepetitionStats expression), collapsing to an
    * O(sources) 2×2 contingency frame; κ is closed-form arithmetic on
    * exact integer cells (identical expression tree in the oracle —
    * no float accumulation anywhere, so no q155-class hazard). Docs
    * without bigrams (< 2 whitespace tokens) drop from both engines
    * identically (the q65 contract). */
  def q191RaterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val gated = qualityScored(
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && size(split(col("text"), " ")) >= 2),
      carry = Seq("source", "text"))
      .select(col("source"), col("quality"),
        graft.plans.RepetitionStats.repetitionStats(split(col("text"), " "))
          .as("st"))
      .select(col("source"),
        (col("quality") >= 0.5).as("a"),
        (round(col("st.top_cnt").cast("double") / col("st.n_bigrams"), 6) <= 0.1
          && round(lit(1.0) - col("st.n_distinct").cast("double")
            / col("st.n_bigrams"), 6) <= 0.1).as("b"))
    val cells = gated.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("a") && col("b")).cast("long")).as("n11"),
        sum((col("a") && !col("b")).cast("long")).as("n10"),
        sum((!col("a") && col("b")).cast("long")).as("n01"),
        sum((!col("a") && !col("b")).cast("long")).as("n00"))
    val n = col("n_docs").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / n
    val pa = (col("n11") + col("n10")).cast("double") / n
    val pb = (col("n11") + col("n01")).cast("double") / n
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    cells
      .select(col("source"), col("n_docs"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        round(po, 6).as("po"),
        round(pe, 6).as("pe"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
      .orderBy("source")
  }

  /** q196: bottom-k priority sample — an exact fixed-SIZE uniform
    * corpus sample drawn by content-hash priority (the bottom-k sketch,
    * Cohen & Kaplan 2007): rank every doc by md5(doc_id:text), keep the
    * k smallest. Unlike `df.sample` (partitioning-dependent RNG) or
    * q66's Bernoulli (variable size), the draw is deterministic, exact-
    * size, and stable under re-sharding — two runs over differently-
    * partitioned copies of the corpus return the SAME docs, which is
    * what makes eyeball-QA samples and regression fixtures comparable
    * across snapshots. (The kept hash set doubles as a corpus-level
    * bottom-k MinHash: Jaccard between two snapshots' samples estimates
    * snapshot overlap for free.)
    *
    * Scale shape: orderBy(limit k) plans TakeOrderedAndProject — each
    * partition keeps its local k, only k-row heaps move to the driver-
    * side merge; no global sort, no full shuffle, O(k) output at any
    * corpus size. */
  /** q207: effective-data fraction — how much of each source is NEW
    * data after exact dedup: token mass in canonical copies (the q30
    * keep-one) vs total token mass, per source. A feed at 0.4 is 60 %
    * re-crawl — its q83/q91 mix quota is built on inflated volume, and
    * this is the number that deflates it (the corpus-level complement
    * of q75's per-doc dup fraction).
    *
    * One tokenize-free scan: token counts come from the whitespace
    * split length (the q63/q83 token-budget convention), canonicals
    * from the q30 md5 group (min doc_id per hash — computed with ONE
    * window over the hash-keyed frame, no second scan), then one
    * partial-aggregated groupBy(source). */
  def q207EffectiveData(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("is_canonical", (row_number().over(w) === 1).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_canonical").as("n_canonical"),
        sum("n_tokens").as("total_tokens"),
        sum(col("n_tokens") * col("is_canonical")).as("effective_tokens"))
      .withColumn("effective_fraction",
        round(col("effective_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy("source")
  }

  /** q211: truncation-loss report — the share of token mass a
    * max-sequence-length cutoff throws away, per source, at the three
    * canonical context lengths {128, 512, 2048}: the complement of
    * q100's padding waste (padding wastes compute on SHORT docs;
    * truncation destroys data on LONG ones — together they price the
    * sequence-length choice, and q63's packing is the fix this report
    * motivates). One scan: per-row token count → in-row overflow per
    * cutoff → one partial-aggregated rollup; O(sources × 3) output. */
  def q211TruncationLoss(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        explode(array(lit(128L), lit(512L), lit(2048L))).as("max_len"))
      .groupBy("source", "max_len")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_tokens") > col("max_len")).cast("long")).as("n_truncated"),
        sum("n_tokens").as("total_tokens"),
        sum(greatest(col("n_tokens") - col("max_len"), lit(0L)))
          .as("lost_tokens"))
      .withColumn("loss_share",
        round(col("lost_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy("source", "max_len")
  }

  /** q214: dedup-aware mix replanning — the q83 temperature weights
    * recomputed on EFFECTIVE token mass (q207's exact-dedup canonical
    * tokens) beside the raw weights, with the shift each source's
    * quota takes: the composition that closes the loop q207 opens — a
    * re-crawl-heavy feed's quota DROPS when the mix is priced on data
    * it actually contributes, and weight_shift is exactly how much
    * the raw plan was over-allocating it. One scan (the q207 canonical
    * window), one O(sources) frame carrying both masses, the same
    * τ=0.5 temperature algebra as q83 on each. */
  def q214EffectiveMix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    val per = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("is_canonical", (row_number().over(w) === 1).cast("long"))
      .groupBy("source")
      .agg(sum("n_tokens").as("n_tokens"),
        sum(col("n_tokens") * col("is_canonical")).as("effective_tokens"))
    // sqrt, not pow(x, 0.5): IEEE-correctly-rounded on both engines
    val tot = per.agg(
      sum(sqrt(col("n_tokens").cast("double"))).as("z_raw"),
      sum(sqrt(col("effective_tokens").cast("double"))).as("z_eff"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("effective_tokens"),
        round(sqrt(col("n_tokens").cast("double")) / col("z_raw"), 6)
          .as("raw_weight"),
        round(sqrt(col("effective_tokens").cast("double")) / col("z_eff"), 6)
          .as("effective_weight"),
        round(sqrt(col("effective_tokens").cast("double")) / col("z_eff")
          - sqrt(col("n_tokens").cast("double")) / col("z_raw"), 6)
          .as("weight_shift"))
      .orderBy("source")
  }

  /** q213: weighted fixed-size sample — Efraimidis–Spirakis A-ES
    * (2006) with deterministic pseudo-randomness: each doc draws
    * u ∈ (0,1] from its content hash and keeps key = ln(u)/w (w =
    * n_chars); the k LARGEST keys are an exact weighted-without-
    * replacement sample — the fixed-SIZE companion to q97's Bernoulli
    * weighting and the weighted companion to q196's uniform bottom-k
    * (inspection samples where long docs should surface
    * proportionally, but the sample must be exactly k and re-shard
    * stable).
    *
    * Portability: u comes from the first 12 hex chars of md5 folded to
    * an integer with an EXPLICIT 12-term polynomial (identical
    * expression both engines — no engine hex-parse builtin is
    * trusted); ln agrees bit-for-bit across the engines (the q154/q155
    * ln/exp precedent), and the selection compares keys derived from
    * identical doubles. TakeOrderedAndProject: per-partition k-heaps,
    * no global sort. */
  def q213WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val uInt = (1 to 12).map { i =>
      s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (12 - i))}L"
    }.mkString(" + ")
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("h"))
      .withColumn("key",
        expr(s"ln((($uInt) + 1.0) / 281474976710657.0) / n_chars"))
      .orderBy(desc("key"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("key"), asc("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("source"), col("n_chars").as("weight"),
        round(col("key"), 10).as("key"))
      .orderBy("rank")
  }

  def q196PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("pri"))
      .orderBy("pri").limit(k)
      .withColumn("rank", row_number().over(Window.orderBy("pri")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("source"), col("lang"), col("pri"))
      .orderBy("rank")
  }

  /** q228: quality-signal mutual information — the 10×10 grid cross-tab
    * of the q37 quality score against document length (token-count
    * bucket), with per-cell lift and global MI / Cramér's V: the "is
    * my quality gate secretly a LENGTH gate" audit (a curation score
    * that carries high MI with length filters by length while claiming
    * to filter by quality — the mix it produces then skews long). One
    * qualityScored pass collapses the corpus to ≤ 100 exact-integer
    * cells; buckets derive from the EXACT 1e-6 quality grid via integer
    * division (never floor(double·10) — a cell-edge double can land on
    * either side across engines); the MI / χ² folds run (q_bucket,
    * len_bucket)-ORDERED (the q181 sequential-sum convention). */
  def q228SignalMi(spark: SparkSession, dir: String): DataFrame = {
    val cells = qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull))
      .select(
        round(col("quality") * 1000000, 0).cast("long").as("q6"),
        col("n_tokens"))
      // integer DIV on the exact grids — never floor(double·k), whose
      // cell-edge values can land on either side across engines
      .select(least(expr("q6 DIV 100000"), lit(9L)).as("q_bucket"),
        least(expr("n_tokens DIV 64"), lit(9L)).as("len_bucket"))
      .groupBy("q_bucket", "len_bucket")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ 100 rows; the dims agg + the main chain
      // both consume it — without the cut each re-runs the corpus scan
    val wAll = Window.orderBy("q_bucket", "len_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wq = Window.partitionBy("q_bucket")
    val wl = Window.partitionBy("len_bucket")
    val dims = cells.agg(countDistinct("q_bucket").cast("double").as("kq"),
      countDistinct("len_bucket").cast("double").as("kl"))
    cells
      .crossJoin(broadcast(dims))
      .withColumn("bign", sum("n").over(wAll))
      .withColumn("nq", sum("n").over(wq))
      .withColumn("nl", sum("n").over(wl))
      .withColumn("p", col("n").cast("double") / col("bign"))
      .withColumn("pq", col("nq").cast("double") / col("bign"))
      .withColumn("pl", col("nl").cast("double") / col("bign"))
      .withColumn("lift", col("p") / (col("pq") * col("pl")))
      .withColumn("mi", sum(col("p") * log(col("lift"))).over(wAll))
      .withColumn("chi2", sum(
        (col("n").cast("double") - col("pq") * col("pl") * col("bign"))
          * (col("n").cast("double") - col("pq") * col("pl") * col("bign"))
          / (col("pq") * col("pl") * col("bign"))).over(wAll))
      .select(col("q_bucket").cast("long").as("q_bucket"),
        col("len_bucket").cast("long").as("len_bucket"), col("n"),
        round(col("p"), 6).as("p"),
        round(col("lift"), 4).as("lift"),
        round(col("mi"), 6).as("mi_nats"),
        round(when(least(col("kq"), col("kl")) > 1,
          sqrt(col("chi2") / (col("bign") * (least(col("kq"), col("kl")) - 1)))), 4)
          .as("cramers_v"))
      .orderBy("q_bucket", "len_bucket")
  }

  /** q231: template-similarity report — per source, the 4-word-shingle
    * Jaccard between CONSECUTIVE documents: boilerplate feeds (wire
    * copy, product pages, generated spam) show high adjacent
    * similarity long before q49/q68 would call any pair a duplicate —
    * the cheap early-warning that a feed needs the dedup ladder at
    * all. Adjacent pairs are O(docs), never doc×doc (the q47
    * adjacency idea lifted from char prefixes to shingle sets),
    * enumerated by BLOCK-SHARDED windows (id DIV 65536 shards + a
    * per-block boundary frame — the q235 shape; a source-only window
    * would sort corpus/sources rows in a single task at 100 TB), and
    * the intersection joins on the COMPOSITE (shingle, id+1 = id) key
    * (the q77 shape — a stop-shingle produces no fanout). Per-pair
    * Jaccard lands on the 1e-6 grid before the per-source mean (exact
    * integer sums; a float mean over a corpus of pairs is
    * accumulation-order-sensitive). */
  def q231TemplateSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), 4)))
          .as("shash"))
      .localCheckpoint() // one shingle scan, three key-join consumers
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // consecutive WITHIN each source (doc_ids interleave sources, so
    // global id+1 adjacency would compare across feeds). Physical form
    // is BLOCK-SHARDED (the q235/q162b lesson: a window partitioned by
    // the ~20-value source key alone sorts corpus/sources rows in one
    // task — fine at sf0.1, unbounded at 100 TB): within-block
    // adjacency comes from (source, id DIV 65536) windows (≤ 65536
    // rows per task by id-range construction), and the block-BOUNDARY
    // pairs (last doc of a block, first doc of the next non-empty
    // block) come from one O(docs / 65536) per-block min/max frame.
    // Same pair multiset, so the oracle keeps the simple lead() form.
    val ids = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("id_a"), col("source"))
      .withColumn("blk", expr("id_a DIV 65536"))
    val wsb = Window.partitionBy("source", "blk").orderBy("id_a")
    val withinAdj = ids
      .withColumn("id_b", lead("id_a", 1).over(wsb))
      .filter(col("id_b").isNotNull)
      .select("source", "id_a", "id_b")
    val wblk = Window.partitionBy("source").orderBy("blk")
    val boundaryAdj = ids.groupBy("source", "blk")
      .agg(min("id_a").as("first_id"), max("id_a").as("last_id"))
      .withColumn("id_b", lead("first_id", 1).over(wblk))
      .filter(col("id_b").isNotNull)
      .select(col("source"), col("last_id").as("id_a"), col("id_b"))
    val adj = withinAdj.unionAll(boundaryAdj)
    val inter = adj
      .join(sh.select(col("doc_id").as("id_a"), col("shash")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shash")),
        Seq("id_b", "shash"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val pairs = adj
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("sa")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("sb")), "id_b")
      .join(inter, Seq("id_a", "id_b"), "left")
      .select(col("source"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("sa") + col("sb") - coalesce(col("n_inter"), lit(0L))), 6)
          .as("jac"))
    pairs
      .select(col("source"),
        round(col("jac") * 1000000, 0).cast("long").as("j6"),
        col("jac"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("j6").cast("decimal(38,0)")).as("sj6"),
        max("jac").as("max_jaccard"),
        sum((col("jac") >= 0.5).cast("long")).as("n_template_pairs"))
      .select(col("source"), col("n_pairs"),
        round(col("sj6").cast("double") / col("n_pairs") / 1000000.0, 6)
          .as("mean_jaccard"),
        col("max_jaccard"), col("n_template_pairs"))
      .orderBy("source")
  }

  /** q237: per-source quality decile table — the EXACT d/10 order
    * statistics of the q37 score within each source: the calibration
    * table behind source-relative quality gates ("keep each source's
    * top 40 %" needs each source's own quantiles, not the corpus's —
    * a global threshold keeps all of a good feed and none of a bad
    * one, which is just the mix, not curation). No per-source sort:
    * scores collapse to the (source, 1e-6-grid value) HISTOGRAM and
    * each decile is a cumulative-count pick (the q187/q202 k-th-order-
    * statistic pattern); ranks derive from exact integers via
    * ceil = (d·n + 9) DIV 10. */
  def q237QualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val hist = qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"),
        round(col("quality") * 1000000, 0).cast("long").as("q6"))
      .groupBy("source", "q6").agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy("source").orderBy("q6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("source")
    hist
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wn))
      .withColumn("decile", explode(array((1 to 9).map(d => lit(d.toLong)): _*)))
      .withColumn("k", expr("(decile * n + 9) DIV 10"))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("source"), col("decile"),
        (col("q6").cast("double") / 1000000.0).as("quality"),
        col("n").as("n_docs"))
      .orderBy("source", "decile")
  }

  /** q238: length-adjusted source quality — direct standardization of
    * each source's mean q37 score to the CORPUS length mix: the
    * confound-killer for the q88/q144/q219 league tables (quality
    * correlates with length — q228 measures exactly how much — so a
    * long-doc feed wins the raw ranking on composition, not writing).
    * adjusted = Σ_b w_b·m_sb / Σ_b w_b over the source's OBSERVED
    * buckets (w_b = corpus share of bucket b; renormalizing over
    * observed buckets keeps a source comparable when it simply has no
    * docs of some length — documented, mirrored in the oracle). One
    * scan to O(sources × 10) exact-integer cells; the standardization
    * folds run bucket-ORDERED per source (q181). */
  def q238LengthAdjustedQuality(spark: SparkSession, dir: String): DataFrame = {
    val cells = qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"),
        round(col("quality") * 1000000, 0).cast("long").as("q6"),
        least(expr("n_tokens DIV 64"), lit(9L)).as("lb"))
      .groupBy("source", "lb")
      .agg(count(lit(1)).as("n"), sum(col("q6").cast("decimal(38,0)")).as("s6"))
      .localCheckpoint() // O(sources × 10); three window consumers
    val wb = Window.partitionBy("lb")
    val wsrc = Window.partitionBy("source").orderBy("lb")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = Window.orderBy("source", "lb")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("nb", sum("n").over(wb))
      .withColumn("bign", sum("n").over(wAll))
      .withColumn("wgt", col("nb").cast("double") / col("bign").cast("double"))
      .withColumn("m", col("s6").cast("double") / 1000000.0
        / col("n").cast("double"))
      .withColumn("adj_num", sum(col("wgt") * col("m")).over(wsrc))
      .withColumn("adj_den", sum("wgt").over(wsrc))
      .withColumn("ns", sum("n").over(wsrc))
      .withColumn("ss6", sum("s6").over(wsrc))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("lb")))
      .filter(col("rk") === 1)
      .select(col("source"), col("ns").as("n_docs"),
        round(col("ss6").cast("double") / 1000000.0
          / col("ns").cast("double"), 6).as("raw_mean"),
        round(when(col("adj_den") > 0, col("adj_num") / col("adj_den")), 6)
          .as("adjusted_mean"),
        round(when(col("adj_den") > 0, col("adj_num") / col("adj_den"))
          - col("ss6").cast("double") / 1000000.0 / col("ns").cast("double"), 6)
          .as("length_effect"))
      .orderBy("source")
  }

  /** q241: duplication trend by ingest decile — the crawl FRESHNESS
    * curve: per tenth of the corpus (doc_id as the ingest axis, the
    * q144 convention), what share of docs is an exact re-crawl of
    * EARLIER content. q75 prices duplication per doc and q207 per
    * source; this is the TIME derivative — a rising curve says the
    * frontier is exhausted and each marginal crawl-day buys less (the
    * q229 unseen-mass signal, measured on whole documents), which is
    * when a crawl stops paying for itself. One md5 projection, one
    * hash-keyed first-occurrence window, one O(10) rollup; deciles by
    * integer DIV on the id range (no global rank). */
  def q241DupTrend(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val span = d.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    d.crossJoin(broadcast(span))
      .withColumn("width", expr("(hi - lo + 10) DIV 10"))
      .withColumn("decile", least(expr("(doc_id - lo) DIV width"), lit(9L)))
      .withColumn("is_dup", (row_number().over(w) > 1).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy("decile")
  }

  /** q232: token-budget allocator — the 1e9-token training-mix plan
    * that q83's temperature weights IMPLY, made feasible against what
    * each source actually HAS (q207's effective canonical mass): a
    * weight that wants 3× a source's supply is capped at the supply
    * and its surplus redistributes across the uncapped sources in one
    * documented rebalance round (surplus after a SECOND cap is left
    * unallocated and reported — a planner wants to SEE unfillable
    * budget, not have it silently smeared). Everything is O(sources)
    * closed-form arithmetic over exact integer masses; the three
    * cross-source folds run source-ORDERED (q181). */
  def q232BudgetAllocator(spark: SparkSession, dir: String): DataFrame =
    budgetAllocation(spark, dir)
      .select(col("source"), col("supply").as("supply_tokens"),
        round(col("wgt"), 6).as("mix_weight"),
        round(col("target"), 2).as("target_tokens"),
        round(col("alloc2"), 2).as("allocated_tokens"),
        (col("alloc1") >= col("supply").cast("double")).cast("long")
          .as("capped"),
        round(when(col("supply") > 0,
          col("alloc2") / col("supply").cast("double")), 4).as("epochs"))
      .orderBy("source")

  /** The q232 allocation, UNROUNDED — (source, supply, z, wgt, target,
    * alloc1, leftover, uncapped, zu, alloc2) — shared by the q232
    * report and the q243 executor so the plan a pipeline READS and the
    * plan it RUNS are the same frame by construction. `relative` picks
    * the budget: false = the production 1e9-token plan (q232's
    * report); true = 10 % of the corpus's canonical supply (the q91
    * scale-relative convention), which keeps the executor's sampling
    * path non-vacuous at EVERY test SF — against the absolute 1e9 a
    * small corpus caps every source at rate 1.0 and an executor "run"
    * would exercise nothing. */
  private[operators] def budgetAllocation(spark: SparkSession, dir: String,
                                          relative: Boolean = false): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    val wAll = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val per = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("is_canonical", (row_number().over(w) === 1).cast("long"))
      .groupBy("source")
      .agg(sum(col("n_tokens") * col("is_canonical")).as("supply"))
    val budget =
      if (relative) sum(col("supply")).over(wAll).cast("double") * 0.1
      else lit(1e9)
    per
      // sqrt, not pow(x, 0.5): IEEE-correctly-rounded on both engines
      .withColumn("z", sum(sqrt(col("supply").cast("double"))).over(wAll))
      .withColumn("budget", budget)
      .withColumn("wgt", sqrt(col("supply").cast("double")) / col("z"))
      .withColumn("target", col("wgt") * col("budget"))
      .withColumn("alloc1",
        least(col("supply").cast("double"), col("target")))
      .withColumn("leftover",
        col("budget") - sum(col("alloc1")).over(wAll))
      .withColumn("uncapped",
        (col("alloc1") < col("supply").cast("double")).cast("long"))
      .withColumn("zu", sum(when(col("uncapped") === 1, col("wgt"))
        .otherwise(0.0)).over(wAll))
      .withColumn("alloc2", when(col("uncapped") === 1 && col("zu") > 0,
        least(col("supply").cast("double"),
          col("alloc1") + col("wgt") / col("zu") * col("leftover")))
        .otherwise(col("alloc1")))
  }

  /** q243: budget-plan EXECUTOR — the sampling pass that ACTS on
    * q232's feasible allocation, closing the plan→act loop the way
    * q91 executes q83's infeasible temperature plan: per source, keep
    * rate = allocated / supply (≤ 1 by the water-filling cap), drawn
    * by the q66 content-hash Bernoulli over CANONICAL docs only — the
    * exact universe whose token mass q232 budgeted (sampling dups
    * would double-spend the budget on repeated text). floor() pins
    * the per-mille threshold on both engines (the q91 rule), and the
    * hash draw is reproducible across runs, engines, and partitioning.
    * Executed at the scale-RELATIVE budget (10 % of canonical supply,
    * the q91 convention — see [[budgetAllocation]]): the production
    * 1e9 plan caps every source at rate 1.0 on a test corpus and
    * would exercise nothing.
    *
    * Scale shape: ONE canonical-election window (hash-keyed, the
    * q30/q232 rule) over the corpus, one O(sources) broadcast of
    * rates, one filter — no new exchange beyond q232's own
    * allocation frame. Expected sampled tokens per source =
    * supply · rate ≤ allocated, so the executed plan never spends
    * past the budget in expectation (the invariant the spec checks). */
  def q243BudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val rates = budgetAllocation(spark, dir, relative = true)
      .select(col("source"),
        floor(least(lit(1.0),
          when(col("supply") > 0,
            col("alloc2") / col("supply").cast("double")).otherwise(lit(0.0)))
          * 1000000).cast("long").as("rate_ppm"))
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (Portable.tokenId(col("text")) % 1000000L).as("bucket"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1) // canonical only: the mass q232 budgeted
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate_ppm"))
      .orderBy("doc_id")
  }
}
