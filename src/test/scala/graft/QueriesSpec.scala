package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sanity/invariant tests of the declared query surface on sf0.001.
  * Value-exact correctness is the DuckDB oracle's job (driver gate +
  * tools/oracle_check.py); these assert structural invariants so `sbt
  * test` catches breakage without DuckDB. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("every declared query executes and q* oracle keys all exist in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q01 word count finds the corpus vocabulary") {
    val rows = run("q01_wordcount").collect()
    assert(rows.nonEmpty)
    val words = rows.map(_.getString(0)).toSet
    assert(words.contains("the"))
    // counts positive, ordered desc
    val counts = rows.map(_.getLong(1))
    assert(counts.forall(_ > 0) && counts.sameElements(counts.sortBy(-_)))
  }

  test("q51b approx percentiles track the exact q51 answer within sketch tolerance") {
    // q51b is the declared 100 TB path (GK sketch, O(accuracy) state);
    // rows-only by contract since sketch internals are engine-specific.
    // Its value contract: approx_percentile returns an ACTUAL data value
    // whose rank is within n/accuracy of the target, so each column must
    // sit close to q51's exact interpolated answer.
    val exact = run("q51_percentiles").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val approx = run("q51b_percentiles_approx").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (flag, (mq, p90, p25)) =>
      val (amq, ap90, ap25) = approx(flag)
      assert(math.abs(amq - mq) <= 1.0, s"$flag median_qty: $amq vs exact $mq")
      assert(math.abs(ap90 - p90) / p90 <= 0.02, s"$flag p90_price: $ap90 vs exact $p90")
      assert(math.abs(ap25 - p25) <= 0.011, s"$flag p25_discount: $ap25 vs exact $p25")
    }
  }

  test("q81 DSIR weights: target-split docs score above the corpus mean") {
    // the point of importance weighting: docs that ARE the target domain
    // must look target-like. Membership uses the same deterministic
    // bucket the operator uses.
    val scored = run("q81_dsir_weight")
      .join(Tables.documents(spark, sf0001)
        .select(col("doc_id"),
          (graft.functions.Portable.tokenId(col("text")) % 100L >= 95L).as("is_target")),
        "doc_id")
    val Array(tgtMean, restMean) = Seq(true, false).map { t =>
      scored.filter(col("is_target") === t).agg(avg("dsir_weight")).head().getDouble(0)
    }.toArray
    assert(scored.filter(col("is_target")).count() > 0, "fixture must have target docs")
    assert(tgtMean > restMean,
      s"target docs must outscore the rest: target $tgtMean vs rest $restMean")
    assert(scored.filter(col("dsir_weight").isNull || isnan(col("dsir_weight"))).count() == 0)
  }

  test("hashed-feature DSIR stays O(buckets) and tracks the exact-vocab form") {
    // the web-scale variant: model tables bounded by the bucket count
    // (always broadcastable), scores correlated with the string-keyed
    // q81 despite hash collisions — the feature-hashing contract.
    val hashed = run("q92_dsir_hashed")
    val exact = run("q81_dsir_weight")
    val joined = hashed.select(col("doc_id"), col("dsir_weight").as("wh"))
      .join(exact.select(col("doc_id"), col("dsir_weight").as("we")), "doc_id")
    val r = joined.agg(corr(col("wh"), col("we"))).head().getDouble(0)
    assert(r > 0.8, s"hashed and exact DSIR weights must correlate strongly, got r=$r")
    assert(joined.count() == exact.count())
    // target docs still outscore the rest under hashing
    val scored = hashed.join(Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        (graft.functions.Portable.tokenId(col("text")) % 100L >= 95L).as("is_target")),
      "doc_id")
    val Array(t, rest) = Seq(true, false).map(v =>
      scored.filter(col("is_target") === v).agg(avg("dsir_weight")).head().getDouble(0)).toArray
    assert(t > rest, s"target docs must outscore the rest under hashing: $t vs $rest")
  }

  test("q82 novelty: a copied doc scores zero, first occurrences score one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    import spark.implicits._
    val uniqueA = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val uniqueB = (1 to 12).map(i => s"beta$i").mkString(" ")
    Seq((1L, uniqueA), (2L, uniqueA), (3L, uniqueB))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q82NgramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 0.0, 3L -> 1.0),
      s"novelty must credit first occurrences only, got $got")
  }

  test("q83 domain mix: weights normalize and temperature upweights small sources") {
    val rows = run("q83_domain_mix").collect()
    assert(rows.length > 1, "fixture must have multiple sources")
    val weights = rows.map(_.getDouble(4))
    assert(math.abs(weights.sum - 1.0) < 1e-4, s"mix weights must normalize, got ${weights.sum}")
    // τ = 0.5 < 1: the smallest source's weight exceeds its raw share,
    // the largest source's weight sits below its raw share
    val byTokens = rows.sortBy(_.getLong(2))
    assert(byTokens.head.getDouble(4) > byTokens.head.getDouble(3),
      "smallest source must be upweighted")
    assert(byTokens.last.getDouble(4) < byTokens.last.getDouble(3),
      "largest source must be downweighted")
  }

  test("q15 window rank yields exactly one row per customer with orders") {
    val df = run("q15_window_rank")
    val n = df.count()
    assert(n == df.select("custkey").distinct().count())
  }

  test("q18 set ops: intersect plus except partition the customer nation set") {
    val rows = run("q18_setops").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((rows("intersect") & rows("except")).isEmpty)
    assert(rows("intersect").subsetOf(rows("union")))
    assert(rows("except").subsetOf(rows("union")))
  }

  test("q30 exact dedup: copies sum to the document count") {
    val total = run("q30_dedup_exact").agg(org.apache.spark.sql.functions.sum("n_copies"))
      .head().getLong(0)
    assert(total == 500L)
  }

  test("q31 minhash: 8 bands per doc, values in [0, P)") {
    val df = run("q31_minhash_sig")
    assert(df.count() == 500L * 8)
    val bad = df.filter(s"minhash < 0 OR minhash >= ${graft.functions.Portable.P}").count()
    assert(bad == 0)
  }

  test("q34 knn: 5 neighbors per query, similarity non-increasing") {
    val rows = run("q34_knn_cosine").collect()
    assert(rows.length == 50)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sortBy(x => -x)))
    }
  }

  test("q40 word2vec invariants: dim 100, positive norms, vocab joined to counts") {
    val rows = run("q40_word2vec_vocab").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == 100L)          // dim
      assert(r.getDouble(4) > 0.0)          // norm
      assert(r.getLong(2) > 0L)             // count
    }
  }

  test("corpus split is content-stable: reassigning doc ids changes nothing") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
    docs.write.mode("overwrite").parquet(s"$dir/a/documents.parquet")
    // same corpus, shuffled ids — the split must not move a single doc
    docs.withColumn("doc_id", col("doc_id") * 7919L + 13L)
      .write.mode("overwrite").parquet(s"$dir/b/documents.parquet")
    val a = TextAnalysis.q62CorpusSplit(spark, s"$dir/a").collect().map(_.toSeq).toSet
    val b = TextAnalysis.q62CorpusSplit(spark, s"$dir/b").collect().map(_.toSeq).toSet
    assert(a == b)
    // and the ratios are roughly 90/5/5
    val bySplit = TextAnalysis.q62CorpusSplit(spark, TestSpark.sf0001)
      .groupBy("split").agg(sum("n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = bySplit.values.sum.toDouble
    assert(bySplit("train") / total > 0.8 && bySplit("train") / total < 0.97)
  }

  test("sequence packing fills bins to the token budget without splitting docs") {
    import graft.operators.TextAnalysis
    val bins = TextAnalysis.q63SequencePacking(spark, TestSpark.sf0001).collect()
    val docs = Tables.documents(spark, TestSpark.sf0001).count()
    assert(bins.map(_.getLong(1)).sum == docs, "every doc must land in exactly one bin")
    val maxDocTokens = Tables.documents(spark, TestSpark.sf0001)
      .select(max(size(split(col("text"), " ")))).head().getInt(0).toLong
    // a bin exceeds the budget only by the one doc that straddles it
    bins.foreach(r => assert(r.getLong(2) < 256L + maxDocTokens,
      s"bin ${r.getLong(0)} overfilled: ${r.getLong(2)} tokens"))
  }

  test("q64 tf-idf: 3 ranked terms per doc, scores non-increasing, rare word scores high") {
    val rows = run("q64_tfidf").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.sameElements(1L to rs.length))
      val scores = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.sameElements(scores.sortBy(x => -x)))
    }
    // 'dup' is the one rare corpus word -> highest idf; in docs containing
    // it, it should dominate the common words
    val dupRows = rows.filter(_.getString(1) == "dup")
    assert(dupRows.nonEmpty && dupRows.forall(_.getLong(3) == 1L))
  }

  test("flagship join drops NO vocabulary at the reference config (minCount=1)") {
    import graft.operators.{Embed, Parity}
    val counts = Parity.wordCounts(Tables.documents(spark, TestSpark.sf0001).select("text"))
    val vectors = Embed.fitWordVectors(spark, TestSpark.sf0001)
    assert(Embed.droppedVocabulary(counts, vectors).count() == 0L,
      "at minCount=1 every counted word must receive a vector")
  }

  test("q58 dropped-vocab report flags exactly the sub-threshold words via left-anti") {
    val df = run("q58_dropped_vocab")
    assert(df.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "the diagnostic must be a left-anti join, not a filter rewrite")
    val dropped = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 'dup' is the one rare word in the corpus (~2.8% of the modal count)
    assert(dropped.keySet == Set("dup"), s"unexpected drop set: $dropped")
  }

  test("q65 repetition filter flags a planted template doc and keeps prose") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    import spark.implicits._
    Seq(
      (1L, "buy now buy now buy now buy now buy now"), // one bigram dominates
      // corpus-typical length: with n distinct bigrams the top fraction is
      // 1/n, so a short doc can never pass a 10% threshold — use ~30 words
      (2L, "the quick brown fox jumps over the lazy sleeping dog while a " +
        "cold rain settles quietly across the narrow valley and every " +
        "bird waits silently under dark dripping leaves for morning light")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val byId = TextAnalysis.q65RepetitionFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("keep") == 0L, "template doc must be dropped")
    assert(byId(2L).getAs[Long]("keep") == 1L, "prose doc must be kept")
    // n_bigrams == n_words - 1 for every doc
    assert(byId(1L).getAs[Long]("n_bigrams") == 9L)
    assert(byId(1L).getAs[Long]("n_distinct") == 2L) // "buy now", "now buy"
  }

  test("q66 stratified sample is content-stable and actually rebalances the mix") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-strat").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
    docs.write.parquet(s"$dir/a/documents.parquet")
    docs.withColumn("doc_id", col("doc_id") * 7919L + 13L)
      .write.parquet(s"$dir/b/documents.parquet")
    // the KEPT CONTENT is id-invariant (compare by (lang, bucket) multiset
    // plus per-lang counts; ids themselves are reassigned by construction)
    val a = TextAnalysis.q66StratifiedSample(spark, s"$dir/a")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = TextAnalysis.q66StratifiedSample(spark, s"$dir/b")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // en is downsampled to ~40%; other languages pass through whole
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a("en") < before("en"), "en must be downsampled")
    Seq("de", "es", "fr", "zh").foreach(l =>
      assert(a.getOrElse(l, 0L) == before(l), s"$l must be kept whole"))
  }

  test("q97 weighted sample is the exact top-k of independently recomputed A-Res keys") {
    import graft.operators.TextAnalysis
    val got = run("q97_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 20)
    assert(got.forall(_._2 > 0), "zero-weight docs must be unsampleable")
    // recompute every doc's key from the scored corpus and take top-20:
    // the query must agree exactly (same keys, same order)
    val all = TextAnalysis.qualityScored(
      Tables.documents(spark, TestSpark.sf0001)
        .withColumn("u_hash", graft.functions.Portable.tokenId(col("text")) % 1000000L),
      carry = Seq("u_hash"))
      .filter(col("quality") > 0)
      .select("doc_id", "quality", "u_hash").collect()
      .map { r =>
        val key = math.log((r.getLong(2) + 1.0) / 1000000.0) / r.getDouble(1)
        // Spark round() is HALF_UP — mirror it, not rint's half-even
        (r.getLong(0), r.getDouble(1),
          BigDecimal(key).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val want = all.sortBy { case (id, _, k) => (-k, id) }.take(20)
    assert(got.toSeq == want.toSeq,
      s"sample must be the deterministic top-20 by ln(u)/w:\n got=${got.take(3).mkString(",")}\nwant=${want.take(3).mkString(",")}")
    // the A-Res key is monotone in the weight: for a FIXED uniform, a
    // heavier doc can only move toward the sample, never away
    val u = 0.37
    val keys = Seq(0.1, 0.5, 1.0).map(w => math.log(u) / w)
    assert(keys == keys.sorted, "ln(u)/w must increase with w for u<1")
  }

  test("q98 snapshot drift flags vanished, new and shifted cells with finite scores") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    def snap(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "text", "lang", "source")
    val old_ = snap(Seq(
      (1L, "one two three four", "en", "s0"),
      (2L, "five six seven eight", "en", "s0"),
      (3L, "eins zwei drei vier", "de", "s1")))
    val new_ = snap(Seq(
      (11L, "one two three four", "en", "s0"),
      (12L, "un deux trois quatre", "fr", "s2")))
    val got = TextAnalysis.snapshotDrift(old_, new_).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val de = got(("de", "s1"))
    assert(de.getLong(3) == 0 && de.getDouble(5) == 0.0,
      "a vanished cell must appear with zero new-side counts")
    assert(de.getDouble(7) < 0, "vanished cell log-ratio must be negative and finite")
    val fr = got(("fr", "s2"))
    assert(fr.getLong(2) == 0 && fr.getDouble(7) > 0,
      "a brand-new cell must appear with zero old-side counts and positive log-ratio")
    // shares within each snapshot sum to ~1
    val sumOld = got.values.map(_.getDouble(4)).sum
    val sumNew = got.values.map(_.getDouble(5)).sum
    assert(math.abs(sumOld - 1.0) < 1e-4 && math.abs(sumNew - 1.0) < 1e-4)
  }

  test("q100 padding buckets put exact powers of two in their own bucket") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pad").toString
    // 16 tokens -> bucket 16 (the knife-edge a float log2 gets wrong),
    // 17 -> 32, 100 -> 128, 1 -> the 16 floor
    def words(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    Seq((1L, words(16)), (2L, words(17)), (3L, words(100)), (4L, words(1)))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.q100PaddingWaste(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got(16L) == ((2L, 32L)), "the 16- and 1-token docs share bucket 16")
    assert(got(32L) == ((1L, 32L)), "17 tokens must pad to 32")
    assert(got(128L) == ((1L, 128L)), "100 tokens must pad to 128")
    // waste is in [0, 1) and zero only when every doc fills its bucket
    val all = TextAnalysis.q100PaddingWaste(spark, TestSpark.sf0001).collect()
    assert(all.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0))
  }

  test("declared-surface contract: every oracle is totally ordered, every query is checked") {
    // the driver's hash compare needs a deterministic frame: each oracle
    // must end in a total ORDER BY, and every declared query must carry
    // an oracle unless it is a documented rows-only (run-dependent ML /
    // engine-specific sketch) entry. This lint pins the contract so a
    // future query can't silently drop out of the gate.
    val rowsOnly = Set("q40_word2vec_vocab", "q41_synonyms", "q42_lsh_minhash",
      "q43_lsh_buckets", "q44_approx_distinct", "q45_ivf_cells",
      "q51b_percentiles_approx", "q57_bpe_train", "q89_quality_classifier",
      "q103_pca_variance",
      // q103b: tree-aggregated BLAS vs serial SQL summation can land a
      // cell on opposite sides of the 6-dp rounding boundary; LinAlgSpec
      // checks every cell at 1e-9 tolerance instead of a rounded hash
      "q103b_covariance",
      // q105: the whitening projection rides on the eigensolve, which
      // is not SQL-expressible; determinism + planted-dup recovery are
      // spec-tested (LinAlgSpec) instead
      "q105_whitened_neardup",
      // q107: projection coordinates inherit the eigensolve's
      // sign/rotation ambiguity; reproducibility + variance ordering
      // are spec-tested (LinAlgSpec) instead
      "q107_pca_project",
      // q130b: HLL++ estimates are engine-specific sketch contents
      // (the q44/q51b precedent); the rsd-bound-vs-exact-q130 contract
      // is spec-tested above instead
      "q130b_profile_approx",
      // q140b: GK-sketch boundaries are engine-specific (the q51b
      // precedent); the rank-error-bound-vs-exact-q140 contract is
      // spec-tested above instead
      "q140b_equidepth_approx",
      // q145/q146: Viterbi DP / EM training have no faithful SQL
      // rendering (Unigram scaladoc); UnigramSpec owns optimality,
      // likelihood monotonicity, and the frozen-artifact pin
      "q145_unigram_encode", "q146_unigram_train",
      // q150/q151: derived from the q89 LBFGS model (run-dependent, the
      // q89 precedent); ECE bound, bin coherence, and the sweep's
      // monotonicity/conservation invariants are spec-tested instead
      "q150_calibration_curve", "q151_threshold_sweep",
      // q166b: DataSketches HLL estimates are engine-specific (the
      // q44/q130b precedent); the error-bound-vs-exact-q166 contract
      // is spec-tested above instead
      "q166b_audience_overlap_hll",
      // q174b: same HLL contract; spec bounds it against exact q174
      "q174b_active_users_hll",
      // q265: the OPQ alternation's SVD has no DuckDB replay (the
      // q89/q146 iterative-fit precedent); its spec pins the identity
      // baseline to q251's natural chain, monotone descent, the
      // beats-the-permutation bar, and bit-for-bit reproducibility
      "q265_opq_rotation")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries with neither oracle nor rows-only justification: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a declared query: $orphans")
    val unordered = SparkEntry.oracleSql.filterNot(_._2.toUpperCase.contains("ORDER BY")).keySet
    assert(unordered.isEmpty, s"oracle SQL without a total ORDER BY: $unordered")
  }

  test("q69 pii scrub redacts planted emails, phones and IPs but leaves prose alone") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    import spark.implicits._
    Seq(
      (1L, "contact alice.smith+dev@example.co.uk or call +1 (415) 555-0123 now"),
      (2L, "server at 10.0.142.7 responded"),
      (3L, "plain prose with no identifiers at all")
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.q69PiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Long]("n_emails") == 1L)
    assert(rows(1L).getAs[Long]("n_phones") == 1L)
    assert(rows(1L).getAs[String]("clean_text") == "contact <EMAIL> or call <PHONE> now")
    assert(rows(2L).getAs[Long]("n_ips") == 1L)
    assert(rows(2L).getAs[String]("clean_text") == "server at <IP> responded")
    assert(rows(3L).getAs[String]("clean_text") == "plain prose with no identifiers at all")
    assert(rows(3L).getAs[Long]("n_emails") + rows(3L).getAs[Long]("n_phones")
      + rows(3L).getAs[Long]("n_ips") == 0L)
  }

  test("RepetitionStats matches a naive bigram count on random word arrays") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small alphabet forces real collisions (repeated bigrams)
    val gen = Gen.listOfN(120,
      Gen.chooseNum(2, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab", "ba", "x"))))
    val docs = gen(Gen.Parameters.default, Seed(7L)).get.zipWithIndex
      .map { case (ws, i) => (i.toLong, ws) }
    val got = docs.toDF("id", "words")
      .select(col("id"), graft.plans.RepetitionStats.repetitionStats(col("words")).as("st"))
      .select(col("id"), col("st.n_bigrams"), col("st.n_distinct"), col("st.top_cnt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    docs.foreach { case (id, ws) =>
      val bigrams = ws.sliding(2).map(_.mkString(" ")).toSeq
      val counts = bigrams.groupBy(identity).map(_._2.size)
      val want = (bigrams.size.toLong, counts.size.toLong, counts.max.toLong)
      assert(got(id) == want, s"doc $id words=$ws")
    }
  }

  test("q65's plan is shuffle-free up to the final sort (no explode, no aggregate)") {
    val plan = run("q65_repetition").queryExecution.executedPlan.toString
    assert(plan.contains("repetition_stats"), "must use the native expression")
    assert(!plan.contains("Generate"), "no explode — the signal is per-row")
    assert(!plan.contains("HashAggregate"), "no aggregation — nothing shuffles but the sort")
  }

  test("q70 flags a planted near-duplicate of an eval doc, not clean train docs") {
    import graft.operators.TextAnalysis
    import graft.functions.Portable
    import spark.implicits._
    def bucketOf(text: String): Long = Seq(text).toDF("text")
      .select((Portable.tokenId(col("text")) % 100L).as("b")).head().getLong(0)
    // search deterministic suffixes until the doc lands in the wanted split
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def find(pred: Long => Boolean, tag: String): String =
      Iterator.from(0).map(i => s"$base $tag$i").find(t => pred(bucketOf(t))).get
    val evalText = find(_ >= 95, "marker")   // lands in the test split
    val leakText = find(_ < 95, "filler")    // train split, shares the 10-word prefix
    val cleanText = {
      val b = "one two three four five six seven eight nine ten"
      Iterator.from(0).map(i => s"$b clean$i").find(t => bucketOf(t) < 95).get
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    Seq((1L, evalText), (2L, leakText), (3L, cleanText)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.q70Decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(1L), "eval docs are not scored")
    // 11-word docs have 4 8-shingles; the 3 inside the shared 10-word
    // prefix match the eval doc's shingles
    assert(got(2L).getAs[Long]("n_contaminated") == 3L)
    assert(got(2L).getAs[Long]("contaminated") == 1L)
    assert(got(3L).getAs[Long]("n_contaminated") == 0L)
    assert(got(3L).getAs[Long]("contaminated") == 0L)
  }

  test("q149 attributes planted leaks to the RIGHT suite, and only those") {
    import graft.operators.TextAnalysis
    import graft.functions.Portable
    import spark.implicits._
    def bucketOf(text: String): Long = Seq(text).toDF("text")
      .select((Portable.tokenId(col("text")) % 100L).as("b")).head().getLong(0)
    // land one eval doc in each suite's bucket range, sharing a distinct
    // 10-word prefix with its own train-side leaker (the q70 search)
    def find(base: String, pred: Long => Boolean, tag: String): String =
      Iterator.from(0).map(i => s"$base $tag$i").find(t => pred(bucketOf(t))).get
    val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val baseB = "red orange yellow green blue indigo violet cyan magenta umber"
    val evalA = find(baseA, b => b >= 95 && b <= 96, "sa")
    val evalB = find(baseB, b => b >= 97 && b <= 98, "sb")
    val leakA = find(baseA, _ < 95, "la")
    val leakB = find(baseB, _ < 95, "lb")
    val clean = find("one two three four five six seven eight nine ten", _ < 95, "cl")
    val dir = java.nio.file.Files.createTempDirectory("graft-multidecon").toString
    Seq((1L, evalA), (2L, evalB), (3L, leakA), (4L, leakB), (5L, clean))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.q149MultiSuiteDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // each leaker shares exactly the 3 prefix shingles with ITS suite
    assert(got == Map((3L, "suite_a") -> 3L, (4L, "suite_b") -> 3L),
      s"per-suite attribution: $got")
  }

  test("q150 calibration bins are coherent and the classifier's ECE is small") {
    val rows = run("q150_calibration_curve").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (bin, n, mp, or, gap) =>
      assert(bin >= 0 && bin <= 9 && n > 0)
      assert(mp >= 0.0 && mp <= 1.0 && or >= 0.0 && or <= 1.0)
      assert(math.abs(gap - math.abs(mp - or)) < 1e-6)
      // each bin's mean prediction sits inside its own decile bounds
      assert(mp >= bin / 10.0 - 1e-9 && mp <= (bin + 1) / 10.0 + 1e-9,
        s"bin $bin holds mean_pred $mp")
    }
    val total = rows.map(_._2).sum.toDouble
    val ece = rows.map { case (_, n, _, _, gap) => n * gap }.sum / total
    assert(ece < 0.25, s"expected calibration error $ece — p_keep is not usable as a probability")
  }

  test("q151 threshold sweep: conservation, monotone recall, and a usable operating point") {
    val rows = run("q151_threshold_sweep").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rows.length == 9, "thresholds 0.1..0.9")
    // tp + fn is the positive count — constant across thresholds
    val positives = rows.map(r => r._2 + r._4).distinct
    assert(positives.size == 1, s"tp+fn must be invariant: $positives")
    rows.foreach { case (thr, tp, fp, fn, p, rec, f1) =>
      assert(tp >= 0 && fp >= 0 && fn >= 0)
      assert(p >= 0 && p <= 1 && rec >= 0 && rec <= 1 && f1 >= 0 && f1 <= 1, s"thr $thr")
    }
    // raising the bar can only lose true positives
    val recalls = rows.map(_._6)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"recall must be non-increasing in the threshold: ${recalls.toSeq}")
    // the q89 AUC ≥ 0.9 classifier must offer at least one strong cut
    assert(rows.map(_._7).max >= 0.8, s"best F1 ${rows.map(_._7).max}")
  }

  test("q71 unigram scores: rare-word docs score below common-word docs") {
    val rows = run("q71_unigram_logp").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0, "log-probabilities are negative")
      assert(r.getLong(1) > 0L)
    }
    // a doc containing the rare word 'dup' must score below the average
    // (rare tokens pull the mean log-prob down)
    val dupDocs = Tables.documents(spark, TestSpark.sf0001)
      .filter(col("text").contains("dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    if (dupDocs.nonEmpty) {
      val byId = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val avgAll = byId.values.sum / byId.size
      val avgDup = dupDocs.map(byId).sum / dupDocs.size
      assert(avgDup < avgAll, s"rare-word docs ($avgDup) should score below corpus mean ($avgAll)")
    }
  }

  test("q73 incremental dedup classifies corpus-dup, batch-dup and new shard docs") {
    import spark.implicits._
    // batch = doc_id % 10 == 7: 7, 17, 27, 37; corpus = the rest
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    Seq(
      (3L,  "existing corpus text"),
      (4L,  "other corpus text"),
      (17L, "existing corpus text"),  // already indexed -> dup_corpus(3)
      (7L,  "fresh shard text"),      // first in batch   -> new(7)
      (27L, "fresh shard text"),      // repeat in batch  -> dup_batch(7)
      (37L, "unique shard text")      //                  -> new(37)
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.q73IncrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      7L  -> (("new", 7L)),
      17L -> (("dup_corpus", 3L)),
      27L -> (("dup_batch", 7L)),
      37L -> (("new", 37L))))
  }

  test("q74 bigram LM scores fluent word order above a rare permutation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bigram").toString
    // corpus-common transitions: alpha->beta, beta->gamma, gamma->delta
    val fluent = "alpha beta gamma delta"
    val docs = (1L to 4L).map(i => (i, fluent)) ++ Seq(
      (10L, fluent),                      // all transitions survive pruning
      (11L, "delta gamma beta alpha"))    // same words, every bigram pruned -> backoff
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q74BigramLogProb(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.values.forall { case (n, lp) => n == 3L && lp < 0.0 })
    assert(got(10L)._2 > got(11L)._2 + 1.0,
      s"fluent order ${got(10L)._2} should score well above the pruned permutation ${got(11L)._2}")
  }

  test("q79 curriculum bins: balanced populations, monotone quality and token share") {
    val rows = run("q79_curriculum_bins").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq, "bins are dense 1..n")
    val nDocs = rows.map(_.getLong(1))
    assert(nDocs.max - nDocs.min <= 1, s"equal-population bins, got ${nDocs.toSeq}")
    val avgQ = rows.map(_.getDouble(3))
    assert(avgQ.zip(avgQ.tail).forall { case (a, b) => a >= b },
      "bin 1 holds the highest-quality docs")
    val share = rows.map(_.getDouble(4))
    assert(share.zip(share.tail).forall { case (a, b) => a <= b } && share.last == 1.0,
      s"cumulative token share is monotone to 1.0, got ${share.toSeq}")
  }

  test("q80 flags a planted spike after warm-up but never a constant series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zscore").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ev(id: Long, user: Long, value: Double) =
      (id, base.plusSeconds(id * 60).toEpochMilli * 1000000L, user, "tick", value)
    // user 1: alternating 9/11 baseline, then a spike; user 2: constant
    // (zero spread -> the sigma guard must keep it silent)
    val events = (1L to 24L).map(i => ev(i, 1L, if (i % 2 == 0) 11.0 else 9.0)) ++
      Seq(ev(25L, 1L, 50.0)) ++ (30L to 60L).map(i => ev(i, 2L, 5.0))
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.operators.Relational.q80EventZscore(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(25L), s"only the spike is flagged: ${rows.toSeq}")
    assert(rows.head.getDouble(6) > 2.5, "spike z-score is large and positive")
    assert(rows.head.getLong(5) == 20L, "baseline frame was the full 20 events")
  }

  test("q102 funnel enforces event ORDER, not mere presence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ev(id: Long, user: Long, typ: String, minute: Long) =
      (id, base.plusSeconds(minute * 60).toEpochMilli * 1000000L, user, typ, 1.0)
    val events = Seq(
      ev(1, 1, "view", 1), ev(2, 1, "click", 2), ev(3, 1, "purchase", 3), // full convert
      ev(4, 2, "purchase", 1), ev(5, 2, "view", 2), ev(6, 2, "click", 3), // buys BEFORE funnel
      ev(7, 3, "click", 1), ev(8, 3, "view", 2),                          // clicks before viewing
      ev(9, 4, "view", 1))                                                // views only
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.operators.Relational.q102EventFunnel(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1L)._1 == 4, "all four users viewed")
    assert(rows(2L)._1 == 2, "only users 1 and 2 clicked AFTER their first view")
    assert(rows(3L)._1 == 1,
      "only user 1 purchased after the click; user 2's pre-funnel purchase must not count")
    assert(rows(3L)._2 == 0.5, "stage-3 conversion is from stage-2 survivors")
  }

  test("q101 retention counts only cohort members returning in later weeks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cohort").toString
    // week 1 = Mon 2024-01-01; user 1 active weeks 1+2, user 2 week 1
    // only, user 3 first seen week 2
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ev(id: Long, user: Long, day: Long) =
      (id, base.plusSeconds(day * 86400).toEpochMilli * 1000000L, user, "view", 1.0)
    Seq(ev(1, 1, 0), ev(2, 1, 8), ev(3, 2, 1), ev(4, 3, 9))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.operators.Relational.q101RetentionCohorts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows(("2024-01-01", 0L)) == ((2L, 2L, 1.0)), "cohort week 0 is everyone in it")
    assert(rows(("2024-01-01", 1L)) == ((1L, 2L, 0.5)), "only user 1 returned in week 2")
    assert(rows(("2024-01-08", 0L)) == ((1L, 1L, 1.0)), "user 3 forms the week-2 cohort")
    assert(!rows.contains(("2024-01-08", 1L)))
  }

  test("q75 duplication fraction scores a shared template high and unique text zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dupfrac").toString
    val tmpl = (1 to 12).map(i => s"t$i").mkString(" ")   // 12 words -> 5 8-shingles
    Seq(
      (1L, tmpl),                                         // all 5 shingles shared with doc 2
      (2L, s"$tmpl u1 u2 u3"),                            // 15 words -> 8 shingles, 5 shared
      (3L, (1 to 12).map(i => s"x$i").mkString(" "))      // fully unique
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q75DupFraction(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 5L, 1.0)))
    assert(got(2L) == ((8L, 5L, 0.625)))
    assert(got(3L) == ((5L, 0L, 0.0)))
  }

  test("q85 dup spans: a copied 20-token passage is one run of exactly 13 duplicated windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dupspans").toString
    val a = (1 to 30).map(i => s"a$i")              // doc 1: 30 unique tokens
    val span = a.slice(4, 24)                       // a5..a24 — a 20-token passage
    Seq(
      (1L, a.mkString(" ")),
      (2L, ((1 to 10).map(i => s"b$i") ++ span ++ (1 to 5).map(i => s"c$i")).mkString(" ")),
      (3L, (1 to 20).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q85DupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a shared span of L=20 tokens = exactly L-k+1 = 13 consecutive
    // duplicated 8-windows, so max_dup_run + k - 1 recovers L
    assert(got(1L) == ((23L, 13L, 13L)), s"doc 1: $got")
    assert(got(2L) == ((28L, 13L, 13L)), s"doc 2: $got")
    assert(got(3L) == ((13L, 0L, 0L)), "unique doc has no duplicated window")
  }

  test("q87 tokenizer fertility agrees with the library encoder word by word") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fert").toString
    // 'spark' and 'window' saturate the frozen merges (1 token each);
    // 'zzq' has no applicable merge (3 single-char tokens)
    Seq(
      (1L, "spark window spark", "en"),
      (2L, "zzq zzq", "xx")
    ).toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val merges = graft.operators.Bpe.pretrainedMerges.toArray
    def subs(w: String) = graft.operators.Bpe.encode(w, merges).length.toLong
    val got = graft.operators.Bpe.q87TokenizerFertility(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val en = 2 * subs("spark") + subs("window")
    assert(got("en") == ((3L, en,
      BigDecimal(en / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(16.0 / en).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got("xx")._1 == 2L)
    assert(got("xx")._2 == 2 * subs("zzq"))
    // fertility is bounded by [1, word length] for any corpus
    val real = SparkEntry.queries("q87_tokenizer_fertility")(spark, TestSpark.sf0001).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getDouble(3) >= 1.0 && r.getDouble(4) >= 1.0,
        s"fertility and bytes/token are >= 1 by construction: $r")
    }
  }

  test("q85 span recovery theorem: a planted L-token copy yields a run of exactly L-k+1 windows") {
    // property across span lengths: longest duplicated substring length
    // is recoverable as max_dup_run + k - 1 for ANY L >= k
    import spark.implicits._
    val k = 8
    val rnd = new scala.util.Random(7)
    val spans = Seq(8, 9, 12, 17, 23, 30)
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-prop").toString
    val donorLen = 60
    val docs = spans.zipWithIndex.flatMap { case (l, i) =>
      val donor = (1 to donorLen).map(j => s"d${i}w$j")
      val span = {
        val off = rnd.nextInt(donorLen - l + 1)
        donor.slice(off, off + l)
      }
      val pre = (1 to 5 + rnd.nextInt(10)).map(j => s"p${i}x$j")
      val post = (1 to 5 + rnd.nextInt(10)).map(j => s"q${i}y$j")
      Seq(
        (i * 10L, donor.mkString(" ")),
        (i * 10L + 1, (pre ++ span ++ post).mkString(" ")))
    }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q85DupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    spans.zipWithIndex.foreach { case (l, i) =>
      assert(got(i * 10L + 1) == l - k + 1,
        s"span L=$l must surface as a run of ${l - k + 1} windows, got ${got(i * 10L + 1)}")
    }
  }

  test("q91 saturates exactly the sources q83 flags as repeating at the budget") {
    // cross-query invariant: a source whose temperature weight demands
    // more tokens than it has clamps its q91 keep rate at 1.0 — both
    // queries compare B*w_s against tokens_s. Planted so BOTH branches
    // are exercised: a tiny source (τ<1 upweights it past its size)
    // and a dominant one.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mixinv").toString
    val tiny = (1 to 3).map(i => (i.toLong, (1 to 5).map(j => s"t${i}w$j").mkString(" "), "en", "tiny"))
    val big = (1 to 40).map(i => (100L + i, (1 to 50).map(j => s"b${i}w$j").mkString(" "), "en", "big"))
    (tiny ++ big).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val epochs = graft.operators.TextAnalysis.q83DomainMix(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val rates = graft.operators.TextAnalysis.q91MixSample(spark, dir).collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val corpusTokens = 3 * 5 + 40 * 50
    def epochsAtQ91Budget(src: String) = epochs(src) * (0.1 * corpusTokens) / 1e9
    assert(epochsAtQ91Budget("tiny") > 1.0, "fixture: the tiny source must repeat at the budget")
    assert(rates("tiny") == 1000000L, s"repeating source must clamp, got ${rates("tiny")}")
    assert(epochsAtQ91Budget("big") < 1.0, "fixture: the big source must not repeat")
    assert(rates("big") < 1000000L && rates("big") > 0L,
      s"non-repeating source draws a partial rate, got ${rates("big")}")
  }

  test("q94 char-bigram language ID separates planted character distributions perfectly") {
    import spark.implicits._
    // the real corpus shares one vocabulary across its lang labels, so
    // accuracy there is chance BY CONSTRUCTION — assert mechanics on
    // it, and assert discrimination on distributions that differ
    val real = run("q94_ngram_langid").collect()
    assert(real.length == Tables.documents(spark, sf0001).count())
    assert(real.forall(r => Seq("en", "de", "es", "fr", "zh").contains(r.getString(2))))
    val dir = java.nio.file.Files.createTempDirectory("graft-langid").toString
    val rnd = new scala.util.Random(11)
    def textOf(chars: String, n: Int) =
      (1 to n).map(_ => (1 to 4).map(_ => chars(rnd.nextInt(chars.length))).mkString).mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, textOf("abcd", 30), "aa")) ++
      (11 to 20).map(i => (i.toLong, textOf("wxyz", 30), "zz"))
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q94NgramLangId(spark, dir).collect()
    assert(got.length == 20)
    assert(got.forall(_.getLong(4) == 1L),
      s"disjoint character distributions must classify perfectly: ${got.filter(_.getLong(4) == 0L).toSeq}")
  }

  test("q94b seed fit/score: a 30% seed model still separates planted distributions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-langid-seed").toString
    val rnd = new scala.util.Random(13)
    def textOf(chars: String, n: Int) =
      (1 to n).map(_ => (1 to 4).map(_ => chars(rnd.nextInt(chars.length))).mkString).mkString(" ")
    // ids chosen so BOTH langs land docs in the doc_id % 10 < 3 seed
    val docs = (1 to 10).map(i => (i.toLong, textOf("abcd", 30), "aa")) ++
      (11 to 20).map(i => (i.toLong, textOf("wxyz", 30), "zz"))
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q94bLangIdSeed(spark, dir).collect()
    assert(got.length == 20, "seed vocab covers both charsets, so no doc drops")
    assert(got.forall(_.getLong(4) == 1L),
      s"seed-fit model must classify the held-out docs: ${got.filter(_.getLong(4) == 0L).toSeq}")
  }

  test("langIdFit model is reusable: one fit scores a corpus the model never saw") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def textOf(chars: String, n: Int) =
      (1 to n).map(_ => (1 to 4).map(_ => chars(rnd.nextInt(chars.length))).mkString).mkString(" ")
    val seed = ((1 to 5).map(i => (i.toLong, textOf("abcd", 30), "aa")) ++
      (6 to 10).map(i => (i.toLong, textOf("wxyz", 30), "zz"))).toDF("doc_id", "text", "lang")
    // unlabeled target corpus: lang column holds a placeholder tag
    val target = ((21 to 25).map(i => (i.toLong, textOf("abcd", 20), "?")) ++
      (26 to 30).map(i => (i.toLong, textOf("wxyz", 20), "?"))).toDF("doc_id", "text", "lang")
    val model = graft.operators.TextAnalysis.langIdFit(seed)
    val got = graft.operators.TextAnalysis.langIdScore(target, model).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((21L to 25L).forall(got(_) == "aa") && (26L to 30L).forall(got(_) == "zz"),
      s"fitted profiles must transfer to unseen docs: $got")
  }

  test("q106 snapshot delta classifies a planted revision exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-delta").toString
    (1 to 100).map(i => (i.toLong, s"document number $i body", "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q106_snapshot_delta")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val removed = (1 to 100).filter(_ % 13 == 0).map(_.toLong)
    val changed = (1 to 100).filter(i => i % 7 == 0 && i % 13 != 0).map(_.toLong)
    val added = (1 to 100).filter(_ % 11 == 0).map(i => 1000000000000L + i)
    assert(got.size == removed.size + changed.size + added.size,
      s"unchanged docs must not appear: $got")
    assert(removed.forall(got.get(_).contains("removed")), s"removals: $got")
    assert(changed.forall(got.get(_).contains("changed")), s"rewrites: $got")
    assert(added.forall(got.get(_).contains("added")), s"re-crawls: $got")
  }

  test("q90 packing manifest folds back to exactly the q63 bin table") {
    val manifest = run("q90_packing_manifest").collect()
    assert(manifest.nonEmpty)
    // slots are dense 1..n per bin; offsets live inside the 256 budget
    manifest.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
    assert(manifest.forall(r => r.getLong(3) >= 0L && r.getLong(3) < 256L))
    // the manifest is a refinement of q63: per-bin doc counts and token
    // sums must aggregate back to the declared bin table exactly
    val folded = manifest.groupBy(_.getLong(0))
      .map { case (bin, rows) => (bin, rows.length.toLong, rows.map(_.getLong(4)).sum) }
      .toSet
    val bins = run("q63_seq_packing").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(folded == bins)
  }

  test("q91 mix sample: smaller sources draw at strictly higher rates (tau < 1)") {
    val rows = run("q91_mix_sample").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) > 0L && r.getLong(3) <= 1000000L))
    // rate ∝ tokens^(τ−1) with τ=0.5: monotone decreasing in source size
    // (until saturation at 1.0)
    val srcTokens = Tables.documents(spark, sf0001)
      .groupBy("source").agg(sum(size(split(col("text"), " "))).cast("long").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = rows.map(r => r.getString(1) -> r.getLong(3)).toMap
    for ((a, ra) <- rates; (b, rb) <- rates
         if srcTokens(a) < srcTokens(b) && ra < 1000000L && rb < 1000000L)
      assert(ra >= rb, s"smaller source $a must not draw below larger $b ($ra vs $rb)")
  }

  test("q123 fuzzy names: distances replay exactly; blocking is complete within blocks") {
    // independent unit-cost edit distance, no shared code with the query
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = run("q123_fuzzy_names").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (n1, n2, dist) =>
      assert(n1 < n2 && dist <= 3 && dist == lev(n1, n2), s"$n1 / $n2: $dist")
    }
    // completeness within the blocking contract: EVERY same-block pair
    // at distance ≤ 3 is reported (blocking bounds candidates, it must
    // not silently drop in-block matches)
    val names = graft.Tables.part(spark, sf0001).select("p_name").distinct()
      .collect().map(_.getString(0))
    val want = (for {
      a <- names; b <- names
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 3
    } yield (a, b, lev(a, b).toLong)).toSet
    assert(got.toSet == want)
  }

  test("q124 market basket: support/lift replay; lift is symmetric in its inputs") {
    val li = graft.Tables.lineitem(spark, sf0001).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brandOf = graft.Tables.part(spark, sf0001).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val baskets = li.map { case (o, p) => (o, brandOf(p)) }.distinct
    val nOrders = baskets.map(_._1).distinct.length
    val itemCnt = baskets.groupBy(_._2).map { case (b, xs) => b -> xs.length }
    val pairCnt = baskets.groupBy(_._1).values.flatMap { es =>
      val bs = es.map(_._2).distinct.sorted
      for (i <- bs.indices; j <- i + 1 until bs.length) yield (bs(i), bs(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size }
    val got = run("q124_market_basket").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == pairCnt.keySet)
    got.foreach { case ((b1, b2), (n, support, lift)) =>
      assert(n == pairCnt((b1, b2)).toLong)
      assert(math.abs(support - n.toDouble / nOrders) < 2e-6)
      assert(math.abs(lift - n.toDouble * nOrders / (itemCnt(b1).toLong * itemCnt(b2))) < 2e-6)
    }
  }

  test("q130 profile agrees with per-column replays and handles an all-null column") {
    import spark.implicits._
    val got = run("q130_profile").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val li = graft.Tables.lineitem(spark, sf0001)
    assert(got.keySet == li.columns.toSet)
    val n = li.count()
    li.columns.take(4).foreach { c => // spot-replay a prefix, one pass each
      val nn = li.filter(col(c).isNull).count()
      val nd = li.select(c).na.drop().distinct().count()
      assert(got(c) == ((n, nn, nd)), s"$c: ${got(c)} vs ($n, $nn, $nd)")
    }
    // nulls count as null, not as a distinct value
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("x")), (4L, None))
      .toDF("id", "v")
    val p = graft.operators.Profile.profile(df, Seq("id", "v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(p("id") == ((4L, 0L, 4L)) && p("v") == ((4L, 2L, 1L)), s"$p")
  }

  test("mergeSnapshot applies upserts and deletes exactly and is idempotent") {
    import spark.implicits._
    val target = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val changes = Seq(
      (2L, "upsert", "two-v2"),   // update in place
      (4L, "upsert", "four"),     // insert
      (3L, "delete", null)        // delete
    ).toDF("doc_id", "op", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val once = graft.operators.TextAnalysis.mergeSnapshot(target, changes)
    assert(snap(once) == Map(1L -> "one", 2L -> "two-v2", 4L -> "four"))
    // idempotent: re-applying the same feed to the merged result is a
    // fixpoint — the retry/replay property an incremental pipeline needs
    val twice = graft.operators.TextAnalysis.mergeSnapshot(once, changes)
    assert(snap(twice) == snap(once))
    // and the declared q131 carries exactly the revision's cardinality
    // (value-exact equality is the oracle hash gate's job)
    val direct = run("q131_merge_upsert").collect()
    val docs = graft.Tables.documents(spark, sf0001)
    val wantRows = docs.filter(col("doc_id") % 13 =!= 0).count() +
      docs.filter(col("doc_id") % 11 === 0).count()
    assert(direct.length.toLong == wantRows && wantRows > 0)
  }

  test("q130b approx profile tracks the exact profile within the HLL rsd bound") {
    val exact = run("q130_profile").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = run("q130b_profile_approx").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (c, (n, nn, nd)) =>
      val (en, enn, end) = exact(c)
      // rows and nulls are exact on both paths; only distinct sketches
      assert(n == en && nn == enn, s"$c: exact counters must agree")
      // HLL++ rsd 0.02 → allow 5 sigma plus integer slack on tiny counts
      assert(math.abs(nd - end) <= math.max(2.0, 0.10 * end), s"$c: $nd vs exact $end")
    }
  }

  test("no declared query plans a CartesianProduct") {
    // one-row-total cross joins plan as BroadcastNestedLoopJoin (fine:
    // a broadcast of one aggregate row); an actual CartesianProduct —
    // both sides unbounded, no join key — is always a scale bug. Pin
    // the whole declared surface against it.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      } catch { case _: Throwable => None } // execution failures are other tests' business
    }
    assert(offenders.isEmpty, s"cartesian plans found: ${offenders.mkString(", ")}")
  }

  test("no declared query plans an unpartitioned Window over an unbounded frame") {
    // A Window with no partition spec moves ALL input rows to one
    // partition — fine on a frame bounded by construction, a scale
    // bug on anything corpus-sized. Whitelist the audited bounded
    // sites (with their bound arguments); fail on any NEW one so the
    // bound argument has to be written down before the plan ships.
    val bounded: Map[String, String] = Map(
      "q155_ab_fdr" -> "BH running-min + rank over the O(event types) frame (~5 rows)",
      "q167_loo_influence" -> "LOO rank over the O(sources) moment frame (20 rows)",
      "q173_survival_km" -> "KM product over the O(distinct durations) day grid",
      "q175_msprt" -> "running min over the O(days) look sequence (~30 rows)",
      "q187_conformal_gate" -> "conformal rank over the O(calibration quantile grid) frame",
      "q194_column_entropy" -> "per-column share windows over ndv-capped histograms (each <= 64 bins)",
      "q196_priority_sample" -> "final rank over the k-row TakeOrdered shortlist (k=100)",
      "q202_latency_ci" -> "cumulative counts over the 6-dp-second value histogram (O(distinct latencies))",
      "q213_weighted_sample" -> "final rank over the k-row TakeOrdered shortlist (k=100)",
      "q217_mann_whitney" -> "midrank fold over the O(|1e-3 value grid|) histogram (<= ~5e5 cells at any corpus size)",
      "q218_ks_test" -> "CDF cumsum + argmax over the same O(|value grid|) histogram",
      "q219_eb_shrinkage" -> "source-ordered moment folds over the O(sources) frame (q181 convention)",
      "q228_signal_mi" -> "MI/chi2 folds over the <=100-cell bucket grid",
      "q232_budget_allocator" -> "allocation folds over the O(sources) frame (q181 convention)",
      "q243_budget_sample" -> "the q232 allocation folds over the same O(sources) frame; the corpus-side windows are hash-partitioned",
      "q233_stationary_dist" -> "power-iteration renormalizers + rate fold over the O(event types) state frame",
      "q238_length_adjusted_quality" -> "corpus-total fold over the O(sources x 10) bucket cell frame",
      "q251_balanced_pq" -> "snake rank over the O(dim) variance frame (64 rows)")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => bounded.contains(q._1))
      .flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, sf0001).queryExecution.optimizedPlan
          val hits = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
          if (hits.nonEmpty) Some(name) else None
        } catch { case _: Throwable => None } // execution failures are other tests' business
      }
    assert(offenders.isEmpty,
      s"NEW unpartitioned-window plans (write the bound argument and whitelist, " +
        s"or partition the window): ${offenders.mkString(", ")}")
  }

  test("every declared query degrades gracefully on an empty corpus") {
    // at 100 TB a partition, a source, or a whole filtered corpus can
    // legitimately be empty — a query that throws there takes down the
    // pipeline. ML FITS are the documented exception: a model cannot be
    // trained on nothing, and failing fast is the correct behavior.
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf0001/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    val mlFits = Set("q40_word2vec_vocab", "q41_synonyms", "q42_lsh_minhash",
      "q43_lsh_buckets", "q45_ivf_cells", "q57_bpe_train", "q89_quality_classifier",
      "q103_pca_variance",
      "q150_calibration_curve", "q151_threshold_sweep") // ride the q89 LBFGS fit
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => mlFits(q._1))
      .flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
        }
      }
    assert(failures.isEmpty,
      s"queries must return (possibly empty) results on an empty corpus:\n${failures.mkString("\n")}")
  }

  test("document queries survive dirty rows: null, empty and whitespace-only text") {
    import spark.implicits._
    // a 100 TB crawl WILL contain these; a query that NPEs on one row
    // poisons its whole stage. ML fits and embeddings-only queries are
    // out of scope (no dirty-text exposure / documented fit contract).
    // Round-9 enrollment audit (the three dirty sweeps + the all-query
    // empty-corpus sweep): 24 of the 26 round-9 queries are enrolled
    // below / in the event and embedding sweeps; q222 reads NO table
    // (pure closed-form grid, zero dirty exposure) and q230 reads the
    // TPC-H customer dim (no customer dirty sweep exists — the same
    // class as q192/q193, whose dirty exposure is the dims' NOT NULL
    // schema contract, not crawl data).
    val dir = java.nio.file.Files.createTempDirectory("graft-dirty").toString
    val clean = (1 to 40).map { i =>
      (i.toLong,
        s"the quick brown fox number $i jumps over the lazy dog and waits for rain marker$i",
        if (i % 2 == 0) "en" else "de", s"src${i % 3}")
    }
    val dirty = Seq(
      (101L, null.asInstanceOf[String], "en", "src0"),
      (102L, "", "en", "src1"),
      (103L, "   ", "de", "src2"))
    (clean ++ dirty).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
      .write.parquet(s"$dir/documents.parquet")
    // embeddings for the doc-id domain so hybrid/doc+vec queries run
    (1 to 40).map(i => (i.toLong, Array.tabulate(64)(j =>
      (((i * 48271 + j * 16807) % 101) - 50.2).toFloat / 50.2f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val docQueries = Seq(
      "q01_wordcount", "q02_wordcount_topk", "q03_token_encode", "q30_dedup_exact",
      "q31_minhash_sig", "q32_simhash", "q33_ngram_jaccard", "q35_lang_profile",
      "q36_lang_id", "q37_quality_score", "q38_fingerprint", "q39_multimodal_meta",
      "q46_frame_sample", "q47_edit_distance", "q56_bpe_encode", "q58_dropped_vocab",
      "q59_line_dedup", "q60_chunk_dedup", "q62_corpus_split", "q63_seq_packing",
      "q64_tfidf", "q65_repetition", "q66_strat_sample", "q67_source_cap",
      "q69_pii_scrub", "q70_decontaminate", "q71_unigram_logp", "q72_funnel",
      "q73_incr_dedup", "q74_bigram_logp", "q75_dup_fraction", "q77_minhash_calibration",
      "q79_curriculum_bins", "q81_dsir_weight", "q82_novelty", "q83_domain_mix",
      "q85_dup_spans", "q86_hybrid_dedup", "q87_tokenizer_fertility",
      "q88_source_report", "q90_packing_manifest", "q91_mix_sample",
      "q92_dsir_hashed", "q93_media_features", "q94_ngram_langid",
      "q94b_langid_seed", "q95_bm25", "q96_hybrid_rrf", "q97_weighted_sample",
      "q98_snapshot_drift", "q100_padding_waste", "q106_snapshot_delta",
      "q109_heavy_hitters", "q110_textrank", "q117_triangles",
      "q118_bloom_decontaminate", "q120_source_divergence", "q128_label_prop",
      "q131_merge_upsert", "q132_ppr", "q134_chi_square", "q142_chunk_overlap",
      "q144_quality_trend", "q145_unigram_encode", "q146_unigram_train",
      "q147_shortest_paths", "q149_multi_decontaminate",
      "q154_pmi_collocations", "q159_nfc_report", "q160_source_emd",
      "q164_shard_moves", "q165_heaps_curve",
      // round 8
      "q167_loo_influence", "q168_vocab_coverage", "q169_setsim_join",
      "q171_deepwalk", "q178_source_containment", "q180_lexical_drift",
      "q186_lang_consistency", "q187_conformal_gate", "q188_zipf_fit",
      "q191_rater_agreement", "q196_priority_sample", "q198_assortativity",
      "q204_canonical_election",
      "q207_effective_data", "q210_copy_flow", "q211_truncation_loss",
      "q213_weighted_sample", "q214_effective_mix",
      "q215_clustering_coefficient",
      // round 9 (q226/q227 read documents + the clean embeddings above)
      "q219_eb_shrinkage", "q221_bernstein_bounds",
      "q226_encoder_consistency", "q227_signal_agreement",
      "q228_signal_mi", "q229_good_turing", "q231_template_similarity",
      "q232_budget_allocator", "q234_k_core",
      "q237_quality_deciles", "q238_length_adjusted_quality",
      "q241_dup_trend",
      // round 10
      "q243_budget_sample",
      // round 11 (reads documents + the clean embeddings above)
      "q246_election_regret", "q248_eval_containment",
      "q250_winnow_fingerprint", "q253_ols_quality", "q256_cms_freq",
      // round 12
      "q264_winnowed_dedup")
    val failures = docQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty,
      s"document queries must tolerate dirty text rows:\n${failures.mkString("\n")}")
  }

  test("event queries survive dirty rows: null type/value/ts, malformed and null props") {
    import spark.implicits._
    // a 100 TB event log WILL carry nulls and malformed payloads from
    // producer bugs; an event query that NPEs on one row poisons its
    // stage exactly like the dirty-document case
    val dir = java.nio.file.Files.createTempDirectory("graft-dirty-events").toString
    val base = java.time.Instant.parse("2024-03-04T08:00:00Z")
    def us(minute: Long): java.lang.Long = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    val clean = (1 to 60).map { i =>
      org.apache.spark.sql.Row(i.toLong, us(i.toLong * 7), (i % 7).toLong,
        Seq("view", "click", "purchase")(i % 3), i * 1.5, s"""{"k":$i}""")
    }
    val dirty = Seq(
      org.apache.spark.sql.Row(101L, us(500), 1L, null, 2.0, """{"k":1}"""), // null type
      org.apache.spark.sql.Row(102L, us(501), 2L, "view", null, """{"k":2}"""), // null value
      org.apache.spark.sql.Row(103L, us(502), 3L, "view", 1.0, null),       // null props
      org.apache.spark.sql.Row(104L, us(503), 4L, "view", 1.0, "not json at all"), // malformed
      org.apache.spark.sql.Row(105L, null, 5L, "view", 1.0, "{}"),          // null ts
      org.apache.spark.sql.Row(106L, us(506), null, "view", 1.0, "{}"))     // null user
    val rawSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(clean ++ dirty, 2), rawSchema)
      .select(col("event_id"),
        expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    // q48 also reads orders for its as-of side; q138 reads lineitem too
    spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .write.parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .write.parquet(s"$dir/lineitem.parquet")
    val eventQueries = Seq("q20_json_events", "q21_time_window", "q25_sessionize",
      "q28_map_fns", "q29_pivot", "q48_asof_join", "q80_event_zscore",
      "q101_retention_cohorts", "q102_event_funnel",
      "q111_scd2", "q112_markov_transitions", "q113_ewma_anomaly",
      "q121_sequence_match", "q122_attribution", "q125_seasonal_index",
      "q126_changepoint", "q127_conversion_latency", "q129_interval_lookup",
      "q133_top_paths", "q136_mad_outliers", "q137_welch_ttest",
      "q138_skew_report", "q143_block_jackknife",
      "q153_poisson_bootstrap", "q155_ab_fdr", "q156_gap_fill",
      "q157_session_window", "q162_session_concurrency",
      "q162b_concurrency_sharded", "q163_markov_attribution",
      // round 8
      "q166_audience_overlap", "q173_survival_km", "q174_active_users",
      "q175_msprt", "q176_covariate_balance", "q182_theil_sen",
      "q184_debounce", "q185_markov_eval", "q190_forecast_backtest",
      "q195_power_mde", "q200_journey_entropy", "q202_latency_ci",
      "q206_retention_guardrail", "q209_funnel_ci",
      // round 9
      "q216_cuped", "q217_mann_whitney", "q218_ks_test", "q220_autocorr",
      "q233_stationary_dist", "q235_burstiness", "q236_type_cooccurrence",
      "q239_deseasonalized_anomaly", "q240_daily_latency",
      // round 11
      "q254_diff_in_diff", "q258_holt_backtest", "q260_dispersion",
      // round 12
      "q267_cusum_changepoint")
    val failures = eventQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty,
      s"event queries must tolerate dirty rows:\n${failures.mkString("\n")}")
  }

  test("embedding queries survive dirty rows: null/empty/short/NaN vectors, null label") {
    // a 100 TB embedding store WILL carry encoder failures: null rows
    // from upstream crashes, truncated arrays from bad serialization,
    // NaN dims from fp overflow. A vector query that throws on one row
    // poisons its stage exactly like the dirty-document case; the
    // contract is degrade (null/NaN scores sort last or drop), never
    // crash.
    val dir = java.nio.file.Files.createTempDirectory("graft-dirty-vecs").toString
    val clean = (1 to 60).map { i =>
      org.apache.spark.sql.Row(i.toLong, Seq.tabulate(64)(j =>
        java.lang.Float.valueOf((((i * 48271 + j * 16807) % 101) - 50.2f) / 50.2f)),
        Integer.valueOf(i % 5))
    }
    val dirty = Seq(
      org.apache.spark.sql.Row(101L, null, Integer.valueOf(1)),          // null vector
      org.apache.spark.sql.Row(102L, Seq.empty[java.lang.Float], Integer.valueOf(2)), // empty
      org.apache.spark.sql.Row(103L, Seq.tabulate(8)(j =>
        java.lang.Float.valueOf(j * 0.1f)), Integer.valueOf(3)),         // truncated: 8 of 64 dims
      org.apache.spark.sql.Row(104L, Seq.tabulate(64)(j =>
        java.lang.Float.valueOf(if (j == 7) Float.NaN else 0.5f)), Integer.valueOf(4)), // NaN dim
      org.apache.spark.sql.Row(105L, Seq.tabulate(64)(j =>
        java.lang.Float.valueOf(0.25f)), null))                          // null label
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(clean ++ dirty, 2), schema)
      .write.parquet(s"$dir/embeddings.parquet")
    // vec queries that also read documents get the clean doc table
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    val vecQueries = Seq("q34_knn_cosine", "q45b_ivf_seeded_cells",
      "q61_knn_join", "q76_quantize_int8", "q84_binary_quant_knn",
      "q99_knn_label_eval", "q103_pca_variance", "q103b_covariance",
      "q104_embedding_drift", "q114_pq_codes", "q114b_pq_adc_topk",
      "q115_pq_rerank", "q116_kmeans_fit", "q119_ivf_search",
      "q139_ndcg_eval", "q141_hard_negatives", "q148_ivf_recall",
      "q152_mrl_recall", "q158_diversity_sample", "q161_mmr_rerank",
      // round 8
      "q177_centroid_geometry", "q199_embedding_health",
      "q201_cluster_sizes", "q203_banding_recall", "q212_dedup_sensitivity",
      // round 9
      "q223_threshold_stability", "q224_nprobe_sweep", "q225_pq_distortion",
      // round 10
      "q242_k_sweep",
      // round 11
      "q244_ivf_adc", "q245_ivfpq_residual", "q247_residual_distortion",
      "q249_sq8_knn", "q251_balanced_pq", "q255_kcenter",
      "q257_cell_refined_blocking", "q259_group_kfold",
      "q261_index_staleness",
      // round 12
      "q262_ivf_served_store", "q263_incremental_reindex",
      "q265_opq_rotation",
      // round 13
      "q268_retrain_act", "q269_rebuild_audit",
      // round 14
      "q270_steady_serve")
    val failures = vecQueries.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(140)}")
      }
    }
    assert(failures.isEmpty,
      s"embedding queries must tolerate dirty vectors:\n${failures.mkString("\n")}")
  }

  test("q118 bloom decontamination equals exact q70; a saturated sketch stays exact") {
    val exact = run("q70_decontaminate").collect().map(_.toSeq).toSeq
    val bloom = run("q118_bloom_decontaminate").collect().map(_.toSeq).toSeq
    assert(bloom.nonEmpty && bloom == exact,
      "bloom prefilter + exact confirm must reproduce the exact answer")
    // 64-bit sketch over thousands of shingles: every probe says
    // "maybe", the prefilter degrades to the plain exact join — the
    // failure mode of an undersized bloom is slowness, never wrongness
    val saturated = graft.operators.TextAnalysis
      .bloomDecontaminate(spark, sf0001, numBitsOverride = Some(64L))
      .collect().map(_.toSeq).toSeq
    assert(saturated == exact)
  }

  test("q89 learned quality filter separates the held-out gate labels (AUC) and is reproducible") {
    val rows = run("q89_quality_classifier").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // held-out discrimination: rank-AUC of p_keep against the weak label
    // on the content-hash test split (is_train = 0)
    val test = rows.filter(_.getLong(4) == 0L)
      .map(r => (r.getDouble(2), r.getLong(1)))
    val pos = test.filter(_._2 == 1L).map(_._1)
    val neg = test.filter(_._2 == 0L).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, "test split must contain both classes")
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val auc = wins / (pos.length.toLong * neg.length)
    assert(auc >= 0.9, s"distilled filter must separate held-out labels, AUC=$auc")
    // content-hash split + deterministic fit: a second run is identical
    val again = run("q89_quality_classifier").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "scoring must be reproducible run over run")
  }

  test("q88 source report: duplicate, repetition and language signals roll up per source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    val prose = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, prose, "en", "srcA"),              // unique, 30 distinct bigrams
      (2L, prose, "en", "srcA"),              // exact duplicate of 1
      (3L, "solo", "de", "srcA"),             // single word: no bigram to evaluate
      (4L, "spam spam spam spam spam spam", "en", "srcB") // one bigram repeated
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q88SourceReport(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("srcA")
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L, "3 docs, 2 languages")
    assert(a.getLong(3) == 61L, "30 + 30 + 1 whitespace tokens")
    assert(a.getLong(5) == 2L, "the single-word doc is not repetition-evaluated")
    assert(a.getLong(6) == 2L, "both prose docs pass the repetition gate")
    assert(a.getDouble(8) == BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "one of three docs is an exact duplicate")
    val b = got("srcB")
    assert(b.getLong(5) == 1L && b.getLong(6) == 0L,
      "the all-spam doc is evaluated and fails the repetition gate")
    assert(b.getDouble(8) == 0.0)
  }

  test("q72 funnel is monotone and the cap ranks among survivors, not raw docs") {
    import graft.operators.Funnel
    import spark.implicits._
    val rows = run("q72_funnel").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 5L))
    val nDocs = rows.map(_.getLong(2))
    assert(nDocs.zip(nDocs.tail).forall { case (a, b) => a >= b }, "funnel must be monotone")
    assert(nDocs.head == Tables.documents(spark, TestSpark.sf0001).count())
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("raw", "quality", "repetition", "dedup", "sample", "source_cap"))

    // planted: one source with 20 docs, 5 failing quality (too short).
    // The 15 cap slots must all go to the 15 SURVIVORS — a raw-rank
    // implementation would waste slots on the filtered-out docs.
    val passing = (1 to 15).map { i =>
      (i.toLong,
        s"the quick brown fox jumps over a lazy dog while cold rain falls in this narrow valley and all birds wait marker$i",
        "de", "srcX")
    }
    val failing = (16 to 20).map(i => (i.toLong, s"zz yy ww$i", "de", "srcX"))
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    (passing ++ failing).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val planted = Funnel.q72Funnel(spark, dir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(planted("raw") == 20L)
    assert(planted("quality") == 15L, s"short docs must fail quality: $planted")
    assert(planted("source_cap") == 15L,
      s"all 15 survivors must fill the cap slots: $planted")
  }

  test("q67 source cap keeps at most 15 docs per source and all of small sources") {
    val rows = run("q67_source_cap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nKept) = (r.getLong(1), r.getLong(2))
      assert(nKept == math.min(nDocs, 15L),
        s"source ${r.getString(0)}: kept $nKept of $nDocs (cap 15)")
      assert(r.getLong(3) >= 0L)
    }
  }

  test("q137 Welch t matches a first-principles recompute; df sits inside its bounds") {
    val r = run("q137_welch_ttest").collect()
    assert(r.length == 1)
    val row = r.head
    val (n1, n2) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(n1 > 1 && n2 > 1)
    // recompute from the raw table (double precision, no rounding until
    // the final compare) — pins the formula, not just "it ran"
    val g = graft.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy("event_type")
      .agg(count(col("value")).cast("double").as("n"), avg("value").as("m"),
        var_samp("value").as("s2"))
      .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3))))
      .toMap
    val (na, ma, va) = g("purchase"); val (nb, mb, vb) = g("view")
    val se2 = va / na + vb / nb
    val t = (ma - mb) / math.sqrt(se2)
    val df = se2 * se2 / (va * va / (na * na * (na - 1)) + vb * vb / (nb * nb * (nb - 1)))
    assert(math.abs(row.getDouble(4) - t) < 1e-3, s"t: ${row.getDouble(4)} vs $t")
    assert(math.abs(row.getDouble(5) - df) < 1e-3, s"df: ${row.getDouble(5)} vs $df")
    // Welch–Satterthwaite df ∈ [min(n1,n2)−1, n1+n2−2]
    assert(df >= math.min(na, nb) - 1 - 1e-9 && df <= na + nb - 2 + 1e-9)
  }

  test("q138 skew shares and entropy are coherent; uniform keys read as high entropy") {
    val rows = run("q138_skew_report").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, keys) = (r.getLong(2), r.getLong(3))
      val (t1, t10, h) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(n > 0 && keys > 0 && keys <= n)
      assert(t1 > 0 && t1 <= t10 + 1e-9 && t10 <= 1.0 + 1e-9,
        s"${r.getString(0)}.${r.getString(1)}: top1=$t1 top10=$t10")
      assert(h >= 0.0 && h <= 1.0 + 1e-9, s"entropy_norm out of range: $h")
      // ≤10 keys ⇒ the top-10 IS the whole histogram
      if (keys <= 10) assert(math.abs(t10 - 1.0) < 1e-9)
    }
    // synthetic uniform generators ⇒ near-uniform histograms
    assert(rows.forall(_.getDouble(6) > 0.9))
  }

  test("q139 NDCG is bounded by 1, consistent with its own DCG/IDCG columns") {
    val rows = run("q139_ndcg_eval").collect()
    assert(rows.length == 50, s"one row per query vector, got ${rows.length}")
    rows.foreach { r =>
      val (hits, dcg, idcg, ndcg) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(hits >= 0 && hits <= 10)
      assert(idcg > 0 && dcg >= 0 && dcg <= idcg + 1e-6,
        s"vec ${r.getLong(0)}: dcg=$dcg idcg=$idcg")
      assert(math.abs(ndcg - dcg / idcg) < 1e-5)
      // every label has ≥10 other members at sf0.001, so the ideal
      // prefix is the full closed-form Σ_{i=1..10} 1/log2(i+1)
      val full = (1 to 10).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
      assert(math.abs(idcg - full) < 1e-5, s"idcg $idcg vs closed form $full")
    }
  }

  test("q143 jackknife SE agrees with the analytic SE of the mean on iid cohorts") {
    // for iid data the delete-block jackknife estimates the same
    // sampling variance as s/√n — a factor-2 corridor catches formula
    // errors (wrong K scaling is off by ~√K ≈ 5.7)
    val jk = run("q143_block_jackknife").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(jk.nonEmpty)
    val classical = graft.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(avg("value").as("m"),
        (stddev_samp(col("value")) / sqrt(count(col("value")))).as("se"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    jk.foreach { case (tpe, (k, mean, se)) =>
      assert(k >= 2 && k <= 32)
      val (cm, cse) = classical(tpe)
      assert(math.abs(mean - cm) < 1e-3, s"$tpe mean: $mean vs $cm")
      assert(se > 0 && se / cse > 0.5 && se / cse < 2.0,
        s"$tpe: jackknife SE $se vs classical $cse outside the iid corridor")
    }
  }

  test("q144 quality trend emits a bounded fit per source") {
    val rows = run("q144_quality_trend").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2, "fit needs ≥2 days")
      assert(!r.getDouble(2).isNaN && math.abs(r.getDouble(2)) < 100, "slope bounded")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9, "r² ∈ [0,1]")
      assert(r.getDouble(4) > 0.0, "chars-per-token mean is positive")
    }
  }

  test("q152 MRL recall: 3 widths × 10 queries, bounded, improving with width") {
    val rows = run("q152_mrl_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 30, s"3 truncation widths × 10 queries, got ${rows.length}")
    assert(rows.map(_._1).toSet == Set(8L, 16L, 32L))
    rows.foreach { case (w, q, n, rec) =>
      assert(n >= 0 && n <= 10, s"w=$w q=$q: overlap $n out of [0,10]")
      assert(math.abs(rec - n / 10.0) < 1e-9, s"recall is n_overlap/10")
    }
    // per-query recall is NOT monotone in width (a truncated rank can
    // luck into truth rows a wider one loses), but the MEAN over the
    // query block must improve as dims are restored — that's the whole
    // point of the truncation curve
    def mean(w: Long) = { val v = rows.filter(_._1 == w).map(_._4); v.sum / v.length }
    assert(mean(32) > mean(8),
      s"mean recall must rise from width 8 (${mean(8)}) to 32 (${mean(32)})")
  }

  test("q153 Poisson bootstrap SE sits in the iid corridor and the CI brackets the mean") {
    // the q143 corridor argument, applied to the bootstrap: for iid
    // cohorts the Poisson-bootstrap SE estimates the same sampling
    // variance as s/√n — factor-2 catches both broken weights (the
    // first-cut linear hash collapsed SE ~10×) and wrong normalization
    val rows = run("q153_poisson_bootstrap").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows.nonEmpty)
    val classical = graft.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy("event_type")
      .agg((stddev_samp(col("value")) / sqrt(count(col("value")))).as("se"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { case (tpe, (nReps, mean, se, lo, hi)) =>
      assert(nReps == 200L, s"$tpe: every replica must produce a mean")
      assert(lo <= mean && mean <= hi, s"$tpe: CI [$lo, $hi] must bracket $mean")
      assert(lo < hi, s"$tpe: degenerate CI")
      val cse = classical(tpe)
      assert(se > 0 && se / cse > 0.5 && se / cse < 2.0,
        s"$tpe: bootstrap SE $se vs analytic $cse outside the iid corridor")
    }
  }

  test("q154 PMI replays from raw bigram counts and ranks correctly") {
    val rows = run("q154_pmi_collocations").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    assert(rows.map(_._4).sliding(2).forall(p => p.head >= p.last - 1e-9),
      "rows are sorted by pmi descending")
    rows.foreach { case (_, _, n, _) => assert(n >= 5, "count floor") }
    // independent plain-Scala replay: rebuild the bigram histogram from
    // the tokenized corpus and recompute every reported pair's PMI
    val docs = graft.Tables.documents(spark, sf0001)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .collect().map(_.getSeq[String](0))
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach(ws => ws.sliding(2).filter(_.length == 2)
      .foreach(p => bi((p(0), p(1))) = bi.getOrElse((p(0), p(1)), 0L) + 1))
    val left = bi.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val right = bi.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val total = bi.values.sum
    rows.foreach { case (w1, w2, n, pmi) =>
      assert(bi((w1, w2)) == n, s"($w1,$w2): count $n vs replay ${bi((w1, w2))}")
      val want = math.log(n.toDouble * total / (left(w1).toDouble * right(w2)))
      assert(math.abs(pmi - want) < 1e-5, s"($w1,$w2): pmi $pmi vs replay $want")
    }
  }

  test("q155 FDR sweep: p-values replay from t, BH adjustment replays from p") {
    val rows = run("q155_ab_fdr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val m = rows.length
    // A&S 7.1.26 erfc replay — p = erfc(|t|/√2), same literals
    def pOf(t: Double): Double = {
      val x = math.abs(t) / math.sqrt(2.0)
      val k = 1.0 / (1.0 + 0.3275911 * x)
      val poly = (((((1.061405429 * k - 1.453152027) * k) + 1.421413741) * k
        - 0.284496736) * k + 0.254829592) * k
      poly * math.exp(-x * x)
    }
    rows.foreach { case (tpe, n, t, p, pBh, sig) =>
      assert(n > 0)
      assert(p >= 0 && p <= 1 && pBh >= 0 && pBh <= 1)
      assert(pBh >= p - 1e-9, s"$tpe: BH can only INCREASE a p-value")
      assert(math.abs(p - pOf(t)) < 1e-5, s"$tpe: p $p vs replay ${pOf(t)}")
      assert(sig == (if (pBh <= 0.05) 1L else 0L))
    }
    // BH replay: sort p ascending, adj_i = min_{j≥i} p_j·m/j capped at 1
    val sorted = rows.sortBy(r => (r._4, r._1))
    val adj = sorted.zipWithIndex.map { case (r, i) =>
      sorted.zipWithIndex.drop(i)
        .map { case (r2, j) => r2._4 * m / (j + 1) }.min.min(1.0)
    }
    sorted.zip(adj).foreach { case (r, a) =>
      assert(math.abs(r._5 - a) < 1e-5, s"${r._1}: p_bh ${r._5} vs BH replay $a")
    }
  }

  test("q156 gap-fill produces a dense calendar whose filled days are zero") {
    val rows = run("q156_gap_fill").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    rows.groupBy(_._1).foreach { case (tpe, series) =>
      val days = series.map(r => java.time.LocalDate.parse(r._2, fmt)).sorted
      // DENSE: every calendar day between min and max is present exactly once
      assert(days.length.toLong ==
        java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last) + 1,
        s"$tpe: span ${days.head}..${days.last} must have no calendar gaps")
      assert(days.distinct.length == days.length, s"$tpe: duplicate days")
      // filled rows are exactly the zero-value synthetic rows
      series.foreach { case (_, d, x, filled, _) =>
        if (filled == 1L) assert(x == 0.0, s"$tpe $d: filled day must be zero")
      }
      // trail7 replays over the dense axis (the repaired-semantics claim)
      val ord = series.sortBy(_._2)
      ord.zipWithIndex.foreach { case ((_, d, _, _, t7), i) =>
        val wnd = ord.slice(math.max(0, i - 6), i + 1).map(_._3)
        val want = BigDecimal(wnd.sum / wnd.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(t7 - want) < 1e-9, s"$tpe $d: trail7 $t7 vs replay $want")
      }
    }
    // sf0.001's event calendar happens to be dense (every type fires every
    // day), which would make the fill path vacuous — so ALSO run the query
    // over a synthetic sparse series with known holes and check each hole
    // materializes as a zero row that drags the trailing mean
    val dir = java.nio.file.Files.createTempDirectory("graft-gapfill").toString
    val schema = graft.Tables.events(spark, sf0001).schema
    val mk = (id: Long, day: Int, v: Double) => org.apache.spark.sql.Row(
      id, java.time.LocalDateTime.of(2024, 1, day, 12, 0),
      1L, "sparse", java.lang.Double.valueOf(v), "{}")
    // days 1, 2, 5, 9 observed -> holes at 3, 4, 6, 7, 8
    val sparse = Seq(mk(1L, 1, 10.0), mk(2L, 2, 20.0), mk(3L, 5, 30.0), mk(4L, 9, 40.0))
    spark.createDataFrame(
        spark.sparkContext.parallelize(sparse, 1),
        org.apache.spark.sql.types.StructType(schema.map(f =>
          if (f.name == "ts") f.copy(dataType =
            org.apache.spark.sql.types.TimestampNTZType) else f)))
      .write.parquet(s"$dir/events.parquet")
    val filled = SparkEntry.queries("q156_gap_fill")(spark, dir).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(filled.length == 9, s"span 1..9 must densify to 9 rows, got ${filled.length}")
    val holes = filled.filter(_._3 == 1L).map(_._1).toSet
    assert(holes == Set("2024-01-03", "2024-01-04", "2024-01-06", "2024-01-07", "2024-01-08"))
    filled.filter(_._3 == 1L).foreach { case (d, x, _, _) => assert(x == 0.0, s"$d") }
    // day 8's trailing-7 window = days 2..8 = (20 + 30) / 7 — the zeros count
    val day8 = filled.find(_._1 == "2024-01-08").get
    assert(math.abs(day8._4 - BigDecimal(50.0 / 7)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"filled zeros must drag the trailing mean: ${day8._4}")
  }

  test("q157 native session_window matches a plain-Scala strict->30min-gap replay") {
    val rows = run("q157_session_window").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) 0.0 else r.getDouble(4)))
    assert(rows.nonEmpty)
    // independent replay: sort each user's events, split at gap > 1800s
    // (session_window merges at equality — pinned by the q162 fixture)
    val ev = graft.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    val want = ev.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(_._2)
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        if (e._2 - acc.head.head._2 > 1800000000L) List(e) :: acc
        else (e :: acc.head) :: acc.tail
      }
      sessions.map { s =>
        val us = s.map(_._2)
        (u, us.min, us.max + 1800000000L, s.length.toLong,
          BigDecimal(s.map(_._3).sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toSet
    def fmtUs(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val got = rows.map(r => (r._1,
      r._2, r._3, r._4, r._5)).toSet
    val wantFmt = want.map(s => (s._1, fmtUs(s._2), fmtUs(s._3), s._4, s._5))
    assert(got == wantFmt,
      s"session sets differ; got-only=${(got -- wantFmt).take(3)} want-only=${(wantFmt -- got).take(3)}")
  }

  test("q158 diversity sample: per-cluster quota, hash-ordered picks, cluster-balanced") {
    val rows = run("q158_diversity_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._3).distinct.length == rows.length, "a vector is sampled once")
    val m = 1000000007L
    def pick(id: Long) = ((id % m) * 1000003L % m) * 69069L % m
    rows.groupBy(_._1).foreach { case (c, members) =>
      val ranked = members.sortBy(_._2)
      assert(ranked.map(_._2).toSeq == (1L to ranked.length).toSeq,
        s"cluster $c: pick_rank must be consecutive from 1")
      assert(ranked.length <= graft.operators.KMeans.SampleQuota)
      // picks arrive in derived-hash order — the reproducibility claim
      val keys = ranked.map(r => (pick(r._3), r._3))
      assert(keys.toSeq == keys.sortBy(identity).toSeq,
        s"cluster $c: picks must be ordered by the multiply-mod hash")
      members.foreach { case (_, _, _, d) => assert(d >= 0.0) }
    }
    // the balance property that motivates the operator: many cells
    // contribute, none dominates beyond its quota
    assert(rows.groupBy(_._1).size >= 2, "multiple clusters must contribute")
  }

  test("q159 NFC report replays per doc and re-keys a decomposed doc to the composed md5") {
    val rows = run("q159_nfc_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    // replay against java.text.Normalizer + plain md5 on the raw corpus
    val docs = graft.Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def nfc(s: String) = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (id, changed, rawLen, nfcLen, h) =>
      val t = docs(id)
      assert(changed == (if (t != nfc(t)) 1L else 0L), s"doc $id flag")
      assert(rawLen == t.codePointCount(0, t.length), s"doc $id raw len")
      assert(nfcLen == nfc(t).codePointCount(0, nfc(t).length), s"doc $id nfc len")
      assert(h == md5hex(nfc(t)), s"doc $id md5")
    }
    // the corpus is ASCII, so force the interesting path on a fixture:
    // two byte-different encodings of the same visible text must land
    // on ONE md5 after the gate — the under-merge q159 exists to fix
    val dir = java.nio.file.Files.createTempDirectory("graft-nfc").toString
    val schema = graft.Tables.documents(spark, sf0001).schema
    val mk = (id: Long, text: String) => {
      val vals = schema.fields.map {
        case f if f.name == "doc_id" => java.lang.Long.valueOf(id)
        case f if f.name == "text" => text
        case f if f.dataType == org.apache.spark.sql.types.StringType => "x"
        case f if f.dataType == org.apache.spark.sql.types.LongType => java.lang.Long.valueOf(0L)
        case _ => null
      }
      org.apache.spark.sql.Row(vals: _*)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(mk(1L, "caf\u00e9 crawl"), mk(2L, "cafe\u0301 crawl"), mk(3L, "ascii")), 1),
        schema)
      .write.parquet(s"$dir/documents.parquet")
    val fixture = SparkEntry.queries("q159_nfc_report")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(4)))).toMap
    assert(fixture(1L)._1 == 0L && fixture(2L)._1 == 1L && fixture(3L)._1 == 0L)
    assert(fixture(1L)._2 == fixture(2L)._2,
      "composed and decomposed encodings must share one content key")
    assert(fixture(3L)._2 != fixture(1L)._2)
  }

  test("q160 source EMD replays from raw length histograms and behaves like a metric") {
    val rows = run("q160_source_emd").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
    assert(rows.nonEmpty)
    import graft.operators.TextAnalysis.{EmdBinWidth, EmdMaxLen}
    // independent replay: per-source binned length histogram → CDF on
    // the union grid (last-value fill) → W1 = Σ |ΔCDF| · binwidth
    val lens = graft.Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), graft.functions.Portable.tokenize(col("text")).as("ws"))
      .collect()
      .map(r => r.getString(0) ->
        math.min(r.getSeq[String](1).length.toLong, EmdMaxLen) / EmdBinWidth * EmdBinWidth)
    val grid = lens.map(_._2).distinct.sorted
    val cdfOf = lens.groupBy(_._1).map { case (s, ls) =>
      val hist = ls.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val tot = ls.length.toDouble
      var cum = 0L
      s -> grid.map { b => cum += hist.getOrElse(b, 0L); b -> (cum / tot) }.toMap
    }
    // gap weights: each grid point spans to the NEXT observed bin
    val gaps = grid.zip(grid.drop(1).map(_.toDouble) :+ grid.last.toDouble)
      .map { case (g, next) => g -> (next - g) }.toMap
    val sources = cdfOf.keys.toSeq.sorted
    val want = (for {
      a <- sources; b <- sources if a < b
    } yield (a, b) -> BigDecimal(
      grid.map(g => math.abs(cdfOf(a)(g) - cdfOf(b)(g)) * gaps(g)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(rows.map(_._1).toSet == want.keySet)
    rows.foreach { case (pair, emd) =>
      assert(math.abs(emd - want(pair)) < 1e-5, s"$pair: $emd vs replay ${want(pair)}")
      assert(emd >= 0.0 && emd <= EmdMaxLen, s"$pair: W1 bounded by the support width")
    }
    // the property that makes W1 the right companion to q120's JS:
    // separation keeps growing the distance (JS saturates at disjoint
    // support), and a gap in the observed grid is the gap's worth of
    // transport — the exact mean-shift identity W1 = |mean A − mean B|
    // for point masses pins both
    def emdOf(xs: Seq[Long], ys: Seq[Long]): Double = {
      val g = (xs ++ ys).distinct.sorted
      val gp = g.zip(g.drop(1).map(_.toDouble) :+ g.last.toDouble)
        .map { case (b, nx) => b -> (nx - b) }.toMap
      def cdf(ls: Seq[Long]) = {
        var c = 0L; g.map { b => c += ls.count(_ == b); b -> c / ls.length.toDouble }.toMap
      }
      val (ca, cb) = (cdf(xs), cdf(ys))
      g.map(b => math.abs(ca(b) - cb(b)) * gp(b)).sum
    }
    assert(emdOf(Seq(0L, 25L), Seq(250L, 275L)) == 250.0,
      "shifted point masses: W1 equals the shift, holes included")
    assert(emdOf(Seq(0L, 25L), Seq(25L, 50L)) == 25.0)
  }

  test("q161 MMR equals an independent greedy replay and diversifies vs pure top-k") {
    val rows = run("q161_mmr_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    import graft.operators.Similarity.{MmrK, MmrShortlist, MmrLambdaNum, MmrBetaNum}
    assert(rows.groupBy(_._1).values.forall(_.length == MmrK))
    // plain-Scala greedy replay with the same 6-dp/fixed-point contract
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def grid(x: Double) = math.round(r6(x) * 1e6)
    val want = vecs.keys.filter(_ < 10).toSeq.sorted.flatMap { qId =>
      val qv = vecs(qId)
      val shortlist = vecs.toSeq.filter(_._1 != qId)
        .map { case (id, v) => (id, r6(cos(qv, v)), v) }
        .sortBy { case (id, rel, _) => (-rel, id) }.take(MmrShortlist)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      (1 to MmrK).foreach { r =>
        val scored = shortlist.filterNot(c => sel.exists(_._2 == c._1)).map {
          case (id, rel, v) =>
            val maxSim = if (sel.isEmpty) 0L
              else sel.map(s => grid(cos(v, vecs(s._2)))).max
            (id, MmrLambdaNum * grid(rel) - MmrBetaNum * maxSim)
        }
        val best = scored.minBy { case (id, s) => (-s, id) }
        sel += ((r.toLong, best._1, best._2))
      }
      sel.map(s => (qId, s._1, s._2, s._3))
    }
    val got = rows.map(r => (r._1, r._2, r._3, math.round(r._5 * 1e7)))
    assert(got.toSeq == want,
      s"MMR replay mismatch; got=${got.take(5).toSeq} want=${want.take(5)}")
    // the diversification claim: for at least one query the MMR set
    // differs from the pure-relevance top-k (otherwise λ might as well be 1)
    val topk = run("q34_knn_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val diverged = rows.groupBy(_._1).exists { case (q, sel) =>
      sel.map(_._3).toSet != topk(q).map(_._2).toSet
    }
    assert(diverged, "MMR must reorder at least one query vs pure top-5")
  }

  test("q162 concurrency sweep replays independently; adjacent sessions never overlap") {
    val rows = run("q162_session_concurrency").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows.nonEmpty)
    // independent replay: sessions by the strict->30min rule, day-split
    // segments, boundary sweep with ends-before-starts ties
    val ev = graft.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dayUs = 86400000000L
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val starts = ts.head +: ts.zip(ts.tail).collect {
        case (a, b) if b - a > 1800000000L => b
      }
      val bounds = starts.drop(1) :+ Long.MaxValue
      starts.zip(bounds).map { case (s, nxt) =>
        (u, s, ts.takeWhile(_ < nxt).filter(_ >= s).max + 1800000000L)
      }
    }
    val segs = sessions.flatMap { case (u, s, e) =>
      (s / dayUs to (e - 1) / dayUs).map { d =>
        (d, u, math.max(s, d * dayUs), math.min(e, (d + 1) * dayUs))
      }.filter(t => t._3 < t._4)
    }
    val want = segs.groupBy(_._1).map { case (d, ss) =>
      val bounds = ss.flatMap(s => Seq((s._3, 1L, 1L, s._2), (s._4, -1L, 0L, s._2)))
        .sortBy(b => (b._1, b._3, b._4))
      var run = 0L; var mx = 0L; var peak = 0L
      bounds.foreach { case (us, delta, _, _) =>
        run += delta; if (run > mx) { mx = run; peak = us }
      }
      d -> ((ss.length.toLong, mx, peak))
    }
    want.foreach { case (d, (n, mx, peakUs)) =>
      val dayStr = java.time.LocalDateTime.ofEpochSecond(
        d * 86400L, 0, java.time.ZoneOffset.UTC).toLocalDate.toString
      val got = rows(dayStr)
      val peakStr = java.time.LocalDateTime.ofEpochSecond(
        peakUs / 1000000L, 0, java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      assert(got == ((n, mx, peakStr)),
        s"$dayStr: got $got want ($n, $mx, $peakStr)")
    }
    assert(rows.keySet == want.keys.map(d => java.time.LocalDateTime.ofEpochSecond(
      d * 86400L, 0, java.time.ZoneOffset.UTC).toLocalDate.toString).toSet)
    // two boundary fixtures on one synthetic day.
    // (a) SAME user, events exactly 30 min apart: session_window MERGES
    //     an event landing at the session's exclusive end (interval
    //     overlap at equality) -> ONE session — the empirical pin of
    //     the strict-> gap rule the q157/q162 oracles encode.
    // (b) DIFFERENT users, user B's session starting at the exact
    //     instant user A's ends: adjacent intervals never overlap, so
    //     the sweep must process the end before the start -> peak 1.
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    val schema = graft.Tables.events(spark, sf0001).schema
    val mkEv = (id: Long, user: Long, minuteOfDay: Int) => org.apache.spark.sql.Row(
      id, java.time.LocalDateTime.of(2024, 3, 1, minuteOfDay / 60, minuteOfDay % 60),
      user, "view", java.lang.Double.valueOf(1.0), "{}")
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          mkEv(1L, 7L, 600), mkEv(2L, 7L, 630), // merge: one session [10:00, 11:00)
          mkEv(3L, 8L, 660)),                   // B: [11:00, 11:30) — adjacent to A's end
          1),
        org.apache.spark.sql.types.StructType(schema.map(f =>
          if (f.name == "ts") f.copy(dataType =
            org.apache.spark.sql.types.TimestampNTZType) else f)))
      .write.parquet(s"$dir/events.parquet")
    val fx = SparkEntry.queries("q162_session_concurrency")(spark, dir).collect()
    assert(fx.length == 1 && fx(0).getLong(1) == 2L && fx(0).getLong(2) == 1L,
      s"one merged + one adjacent session, peak must be 1: ${fx.mkString(";")}")
  }

  test("q163 Markov attribution: integer iteration replays; near the exact absorption solve") {
    val rows = run("q163_markov_attribution").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // rebuild journeys/edges from the raw events, independently
    val ev = graft.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val edges = scala.collection.mutable.Map.empty[(String, String), Long]
    def bump(s: String, d: String): Unit = edges((s, d)) = edges.getOrElse((s, d), 0L) + 1
    ev.groupBy(_._1).values.foreach { es =>
      val seq = es.sortBy(e => (e._2, e._3)).map(_._4)
      var prev = "START"
      seq.foreach { t =>
        if (t == "purchase") { bump(prev, "CONV"); prev = "START" }
        else { bump(prev, t); prev = t }
      }
      if (prev != "START") bump(prev, "NULL")
    }
    val totals = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val pI = edges.map { case ((s, d), n) =>
      (s, d) -> (n * 2000000L + totals(s)) / (2L * totals(s)) }.toMap
    val channels = edges.keys.flatMap(k => Seq(k._1, k._2))
      .filter(s => !Set("START", "CONV", "NULL", "purchase")(s)).toSeq.distinct.sorted
    // exact absorption via Gaussian elimination on (I - Q) a = c
    def exactAbsorb(removed: Option[String]): Double = {
      val states = ("START" +: channels.filterNot(removed.contains)).toVector
      val n = states.length
      val a = Array.tabulate(n, n + 1) { (i, j) =>
        val s = states(i)
        if (j == n) pI.getOrElse((s, "CONV"), 0L) / 1e6
        else {
          val q = if (j == 0) 0.0 else pI.getOrElse((s, states(j)), 0L) / 1e6
          (if (i == j) 1.0 else 0.0) - q
        }
      }
      for (col0 <- 0 until n) {
        val piv = (col0 until n).maxBy(r => math.abs(a(r)(col0)))
        val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
        for (r <- 0 until n if r != col0 && a(r)(col0) != 0.0) {
          val f = a(r)(col0) / a(col0)(col0)
          for (c <- col0 to n) a(r)(c) -= f * a(col0)(c)
        }
      }
      a(0)(n) / a(0)(0)
    }
    // exact integer-iteration replay (the engines' shared contract)
    def iterAbsorb(removed: Option[String]): Long = {
      val states = ("START" +: channels.filterNot(removed.contains)).toVector
      var v = states.map(_ => 0L)
      (1 to graft.operators.Temporal.MarkovIters).foreach { _ =>
        v = states.map { s =>
          val conv = pI.getOrElse((s, "CONV"), 0L) * 1000000L
          val walk = states.zipWithIndex.collect {
            case (t, j) if t != "START" => pI.getOrElse((s, t), 0L) * v(j) }.sum
          (conv + walk + 500000L) / 1000000L
        }
      }
      v(0)
    }
    val baseI = iterAbsorb(None)
    assert(math.abs(baseI / 1e6 - exactAbsorb(None)) < 1e-3,
      s"$MarkovItersNote iterations must sit near the exact solve")
    rows.foreach { case (c, baseP, remP, eff, share, credited) =>
      assert(math.abs(baseP - baseI / 1e6) < 1e-9, s"$c base")
      val remI = iterAbsorb(Some(c))
      assert(math.abs(remP - remI / 1e6) < 1e-9, s"$c removed")
      assert(remP <= baseP + 1e-9, s"$c: removing a channel cannot raise conversion")
      val effI = ((baseI - remI) * 2000000L + baseI) / (2L * baseI)
      assert(math.abs(eff - effI / 1e6) < 1e-9, s"$c effect")
      assert(eff >= 0.0 && eff <= 1.0 && share >= 0.0 && share <= 1.0)
      assert(credited >= 0.0)
    }
    assert(rows.map(_._1).toSet == channels.toSet)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4,
      "attribution shares must normalize to 1 on a converting corpus")
  }

  private val MarkovItersNote = graft.operators.Temporal.MarkovIters

  test("q164 shard moves: exact replay; rendezvous moves only into the new shard") {
    val rows = run("q164_shard_moves").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == Set("modulo", "rendezvous"))
    import graft.operators.Skew.{ShardsBefore, ShardsAfter}
    val m = 1000000007L
    def w(key: Long, s: Long) =
      (((key % m) * 1000003L % m + s * 7919L) % m) * 69069L % m
    def rdv(key: Long, n: Int): Long =
      (0L until n.toLong).foldLeft((-1L, -1L)) { case (acc, s) =>
        val h = w(key, s); if (h > acc._1) (h, s) else acc
      }._2
    val keys = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id").isNotNull).select("doc_id")
      .collect().map(_.getLong(0))
    def report(old: Long => Long, nw: Long => Long) = {
      val loads = keys.groupBy(nw).view.mapValues(_.length.toLong)
      (keys.length.toLong, keys.count(k => old(k) != nw(k)).toLong,
        loads.values.min, loads.values.max)
    }
    val wantMod = report(_ % ShardsBefore, _ % ShardsAfter)
    val wantRdv = report(rdv(_, ShardsBefore), rdv(_, ShardsAfter))
    Seq("modulo" -> wantMod, "rendezvous" -> wantRdv).foreach { case (s, (n, mv, lo, hi)) =>
      val got = rows(s)
      assert((got._1, got._2, got._4, got._5) == ((n, mv, lo, hi)), s"$s replay")
      assert(math.abs(got._3 - BigDecimal(mv.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // the whole point, measured: modulo re-homes ~(n-1)/n, rendezvous ~1/n
    assert(rows("modulo")._3 > 0.7, s"modulo should churn most keys: ${rows("modulo")._3}")
    assert(rows("rendezvous")._3 < 0.25,
      s"rendezvous should churn ~1/${ShardsAfter}: ${rows("rendezvous")._3}")
    // HRW's structural guarantee: weights of surviving shards are
    // untouched, so every moved key moved INTO the new shard
    keys.filter(k => rdv(k, ShardsBefore) != rdv(k, ShardsAfter)).foreach { k =>
      assert(rdv(k, ShardsAfter) == ShardsAfter - 1L,
        s"key $k moved to shard ${rdv(k, ShardsAfter)}, not the new one")
    }
  }

  test("q162b hour-sharded sweep is bit-identical to q162 and never sorts a whole day") {
    // same logical query, different physical shape: (hr, us, typ, user)
    // orders like (us, typ, user) because hr is a prefix of us, so the
    // reassembled running sums must match q162 row for row
    val a = run("q162_session_concurrency").collect().map(_.toSeq)
    val b = run("q162b_concurrency_sharded").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      s"sharded form diverged: ${a.toSeq.diff(b.toSeq).take(2)} vs ${b.toSeq.diff(a.toSeq).take(2)}")
    // plan contract: every boundary-level Window partitions by
    // (day, hr) — the day-wide sort q162 pays on a hot day is gone;
    // the only day-partitioned window runs on the O(days × 24)
    // hour-totals frame (no `us` among its output columns)
    val plan = SparkEntry.queries("q162b_concurrency_sharded")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.exists(l => l.contains("hr#")),
      s"expected an (day, hr)-partitioned window:\n${windowLines.mkString("\n")}")
    windowLines.filterNot(_.contains("hr#")).foreach { l =>
      assert(!l.contains("us#"),
        s"a day-wide window still touches boundary rows:\n$l")
    }
  }

  test("q165 Heaps curve replays from first occurrences; slope matches a least-squares redo") {
    val rows = run("q165_heaps_curve").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    assert(rows.nonEmpty)
    val g = graft.operators.TextAnalysis.HeapsGrid
    // independent replay of the grid from the raw corpus
    val docs = graft.Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && col("source").isNotNull && col("doc_id").isNotNull)
      .select(col("source"), col("doc_id"),
        graft.functions.Portable.tokenize(col("text")).as("ws"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val d0 = ds.map(_._2).min; val d1 = ds.map(_._2).max
      val firsts = scala.collection.mutable.Map.empty[String, Long]
      ds.sortBy(_._2).foreach { case (_, id, ws) =>
        ws.foreach(w => if (!firsts.contains(w)) firsts(w) = id) }
      def thr(i: Int) = d0 + (d1 - d0) * i / g
      val pts = (1 to g).map { i =>
        (ds.filter(_._2 <= thr(i)).map(_._3.length.toLong).sum,
          firsts.values.count(_ <= thr(i)).toLong)
      }.filter(p => p._1 > 0 && p._2 > 0)
      val (nPts, nTok, vWords, beta, r2, tail) = {
        val r = rows(src); (r._1, r._2, r._3, r._4, r._5, r._6)
      }
      assert(nPts == pts.length.toLong, s"$src grid points")
      assert(nTok == pts.last._1 && vWords == pts.last._2, s"$src totals")
      // least-squares redo of the log-log fit
      val xs = pts.map(p => math.log(p._1.toDouble)); val ys = pts.map(p => math.log(p._2.toDouble))
      val (mx, my) = (xs.sum / xs.length, ys.sum / ys.length)
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      assert(math.abs(beta - slope) < 1e-3, s"$src slope $beta vs redo $slope")
      assert(r2 >= 0.0 && r2 <= 1.0)
      // sub-linear: the fixture corpus recycles a ~31-word vocabulary,
      // so near-ZERO β is the correct saturation diagnosis here (the
      // growing case is pinned on the synthetic fixture below)
      assert(beta >= 0.0 && beta < 1.0, s"$src Heaps exponent out of range: $beta")
      tail.foreach { t =>
        assert(pts.length >= 2, s"$src: a reported tail needs both last grid points")
        val dn = pts.last._1 - pts(pts.length - 2)._1
        val dv = pts.last._2 - pts(pts.length - 2)._2
        assert(dn > 0 && math.abs(t - BigDecimal(dv.toDouble / dn)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"$src tail")
        assert(t >= 0.0 && t <= 1.0, "novelty is new-words-per-token")
      }
    }
    assert(rows.keySet == docs.map(_._1).toSet)
    // the discriminating fixture pair the recycled-vocab corpus can't
    // give us: one source whose every document is entirely NEW words
    // (V = N ⇒ β = 1, tail novelty 1) beside one that repeats a single
    // document verbatim (β = 0, tail novelty 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-heaps").toString
    val schema = graft.Tables.documents(spark, sf0001).schema
    val mkDoc = (id: Long, src: String, text: String) => {
      val vals = schema.fields.map {
        case f if f.name == "doc_id" => java.lang.Long.valueOf(id)
        case f if f.name == "text" => text
        case f if f.name == "source" => src
        case f if f.dataType == org.apache.spark.sql.types.StringType => "x"
        case f if f.dataType == org.apache.spark.sql.types.LongType => java.lang.Long.valueOf(0L)
        case _ => null
      }
      org.apache.spark.sql.Row(vals: _*)
    }
    // alpha-only words (the tokenizer drops digit-bearing tokens)
    def enc(n: Int) = "" + ('a' + n / 26).toChar + ('a' + n % 26).toChar
    val growing = (0 until 40).map(i =>
      mkDoc(i.toLong, "grows", (0 until 5).map(j => s"w${enc(i)}${enc(j)}").mkString(" ")))
    val flat = (100 until 140).map(i =>
      mkDoc(i.toLong, "loops", "same old words every single day"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(growing ++ flat, 1), schema)
      .write.parquet(s"$dir/documents.parquet")
    val fx = SparkEntry.queries("q165_heaps_curve")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(4),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    assert(math.abs(fx("grows")._1 - 1.0) < 0.01 && fx("grows")._2.contains(1.0),
      s"all-novel source must read beta=1, novelty=1: ${fx("grows")}")
    assert(fx("loops")._1 == 0.0 && fx("loops")._2.contains(0.0),
      s"verbatim-repeat source must read beta=0, novelty=0: ${fx("loops")}")
  }

  test("cross-operator consistency: q157 sessions roll up to exactly q25's per-user counts") {
    // two independent renderings of one definition (gap strictly >
    // 30 min): the hand-rolled lag/cumsum (q25, per-user grain) and the
    // native session_window aggregate (q157, per-session grain) must
    // agree when q157 rolls up. One caveat guarded first: q25 compares
    // at SECOND granularity (unix_timestamp) while q157 compares raw
    // micros, so a gap inside (1800 s, 1801 s) with sub-second offset
    // would split them — assert the fixture has none, so a testdata
    // regen fails HERE with the reason rather than as a puzzle below.
    val borderline = graft.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("diff", col("us") - lag("us", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("us")))
      .filter(col("diff") > 1800000000L && col("diff") <= 1801000000L)
      .count()
    assert(borderline == 0L,
      "fixture grew a sub-second-offset 30-min gap; q25 (seconds) and q157 (micros) diverge there")
    val rolled = run("q157_session_window")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val q25 = run("q25_sessionize")
      .filter(col("user_id").isNotNull)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rolled.nonEmpty && rolled == q25,
      s"diff=${(rolled.toSet diff q25.toSet).take(3)} / ${(q25.toSet diff rolled.toSet).take(3)}")
  }

  test("q140b approx histogram tracks the exact bins within the GK rank-error bound") {
    // approx_percentile's contract: each returned boundary is an actual
    // value whose rank is within n/accuracy of the target, so each
    // bin's population can differ from the exact bin by at most the
    // two adjacent boundary rank errors (plus interpolation-vs-value
    // discretization at small n)
    val exact = run("q140_equidepth_hist").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val approx = run("q140b_equidepth_approx").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    assert(approx.values.sum == total, "bins must still partition all rows")
    val rankErr = math.max(total / 10000.0, 1.0)
    (1 to 10).foreach { b =>
      val (e, a) = (exact.getOrElse(b, 0L), approx.getOrElse(b, 0L))
      assert(math.abs(a - e) <= 2 * rankErr + 2,
        s"bin $b: approx $a vs exact $e exceeds the rank-error bound")
    }
  }

  test("q141 hard negatives are cross-label, ranked, and five per anchor") {
    val rows = run("q141_hard_negatives").collect()
    assert(rows.length == 250, s"50 anchors × 5 negatives, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) != r.getLong(3),
        s"anchor ${r.getLong(0)}: negative shares its label — not a negative")
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getLong(5))
      assert(byRank.map(_.getLong(5)).toSeq == (1L to 5L), s"anchor $q ranks")
      val sims = byRank.map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"anchor $q: similarities must be non-increasing: ${sims.toSeq}")
    }
  }

  test("q142 chunks tile every document with stride 150 and cover the last char") {
    val rows = run("q142_chunk_overlap").collect()
    assert(rows.nonEmpty)
    val lens = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == 1 + 150 * (r.getLong(1) - 1), "start arithmetic")
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 200, "window budget")
    }
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val n = lens(doc)
      val expected = 1 + (n - 1) / 150 // sequence(1, n, 150) length
      assert(rs.length == expected.toInt, s"doc $doc: ${rs.length} vs $expected chunks")
      // the final chunk must reach the document's last character
      assert(rs.map(r => r.getLong(2) + r.getLong(3) - 1).max == n,
        s"doc $doc: chunks must cover through char $n")
    }
  }

  test("q140 equi-depth bins partition the table into near-equal deciles") {
    val rows = run("q140_equidepth_hist").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10),
      "exactly bins 1..10, ordered")
    val total = graft.Tables.lineitem(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total, "bins must partition all rows")
    // equi-DEPTH: each decile within 30% of N/10 (ties can nudge edges)
    rows.foreach { r =>
      assert(math.abs(r.getLong(1) - total / 10.0) < 0.3 * total / 10.0,
        s"bin ${r.getInt(0)} holds ${r.getLong(1)} of $total")
    }
    // ranges are disjoint and increasing
    val los = rows.map(_.getDouble(2)); val his = rows.map(_.getDouble(3))
    (0 until 9).foreach { i =>
      assert(his(i) <= los(i + 1) + 1e-9,
        s"bin ${i + 1} hi ${his(i)} overlaps bin ${i + 2} lo ${los(i + 1)}")
    }
  }

  test("q170 cardinality estimates: HH estimator is exact when HHs cover the key space") {
    val rows = run("q170_join_card_est").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("events_self_type", "events_self_user",
      "orders_x_lineitem", "part_x_lineitem"))
    // ≤ 20 distinct keys → the sketch IS the full histogram: est_hh exact
    val enumJoin = rows("events_self_type")
    assert(enumJoin.getLong(5) == enumJoin.getLong(7),
      s"enum self-join: est_hh ${enumJoin.getLong(7)} must equal actual ${enumJoin.getLong(5)}")
    // independent replay of the true size: Σ c² over event types
    val actual = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull)
      .groupBy("event_type").count().collect()
      .map(r => r.getLong(1) * r.getLong(1)).sum
    assert(enumJoin.getLong(5) == actual, s"actual replay: $actual")
    // FK joins: orders key unique → actual == lineitem row count
    val fk = rows("orders_x_lineitem")
    assert(fk.getLong(1) == fk.getLong(2), "o_orderkey must be unique")
    assert(fk.getLong(5) == fk.getLong(3), "FK join size == fact rows")
    // error columns are consistent with their estimates everywhere
    rows.values.foreach { r =>
      val (act, es, eh) = (r.getLong(5), r.getLong(6), r.getLong(7))
      // 0.011 absorbs the 2-dp rounding; the replay pins sign and scale
      assert(math.abs(r.getDouble(8) - (es - act) * 100.0 / act) < 0.011)
      assert(math.abs(r.getDouble(9) - (eh - act) * 100.0 / act) < 0.011)
    }
  }

  test("q172 isotonic fit: minimax closed form equals the sequential PAVA sweep") {
    val rows = run("q172_isotonic_fit").collect()
    assert(rows.nonEmpty)
    val iso = rows.map(_.getDouble(6))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b + 1e-9 },
      "calibrated rates must be nondecreasing")
    // classic pool-adjacent-violators replay over the same (n, np) blocks
    case class Blk(n: Long, np: Long) { def rate: Double = np.toDouble / n }
    var stack = List.empty[Blk]
    rows.foreach { r =>
      var b = Blk(r.getLong(3), r.getLong(4))
      while (stack.nonEmpty && stack.head.rate >= b.rate) {
        b = Blk(stack.head.n + b.n, stack.head.np + b.np); stack = stack.tail
      }
      stack ::= b
    }
    // expand each pooled block back over its member bins by weight
    var bi = 0
    val isoReplay = new Array[Double](rows.length)
    stack.reverse.foreach { b =>
      var w = b.n
      while (w > 0) { isoReplay(bi) = b.rate; w -= rows(bi).getLong(3); bi += 1 }
    }
    assert(bi == rows.length, "pooled blocks must cover every bin exactly")
    rows.indices.foreach { i =>
      assert(math.abs(iso(i) - math.floor(isoReplay(i) * 1e6 + 0.5) / 1e6) < 1e-9,
        s"bin ${i + 1}: minimax ${iso(i)} vs PAVA ${isoReplay(i)}")
    }
    // pooling conserves mass: Σ iso·n == Σ positives (PAV's defining
    // property, checked on the unrounded replay)
    val mass = rows.indices.map(i => isoReplay(i) * rows(i).getLong(3)).sum
    assert(math.abs(mass - rows.map(_.getLong(4)).sum) < 1e-6,
      s"pooled mass $mass vs positives ${rows.map(_.getLong(4)).sum}")
  }

  test("q169 exact set-sim join: complete vs brute force, τ boundary inclusive") {
    // brute-force all-pairs replay over the real corpus — completeness
    // is prefix filtering's entire claim, so check EVERY pair
    val sets = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        val sh = if (ws.length <= 4) Set(ws.mkString(" "))
        else (0 to ws.length - 4).map(i => ws.slice(i, i + 4).mkString(" ")).toSet
        r.getLong(0) -> sh
      }
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= graft.operators.Dedup.SetSimTau
    } yield (a, b) -> j).toMap
    val got = run("q169_setsim_join").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(got.keySet == brute.keySet,
      s"missing=${brute.keySet -- got.keySet} extra=${got.keySet -- brute.keySet}")
    brute.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-6, s"$k") }
    // planted boundary: J(1,2) = 8/10 = τ exactly (kept), J(1,3) below (cut)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ppj").toString
    val ts = (1 to 12).map(i => s"t$i")
    val a = ts.mkString(" ")                                   // 9 shingles
    val b = (ts.take(11) :+ "x").mkString(" ")                 // 8 shared of 9
    val c = (ts.take(10) ++ Seq("y", "z")).mkString(" ")       // 7 shared of 9
    Seq((1L, a), (2L, b), (3L, c))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val planted = graft.operators.Dedup.q169SetSimJoin(spark, dir).collect()
    assert(planted.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      s"exactly the τ-boundary pair survives: ${planted.toSeq}")
    assert(planted.head.getDouble(5) == 0.8, "J(1,2) = 8/10 exactly")
  }

  test("q171 DeepWalk: plain-Scala replay walks the identical paths") {
    val rows = run("q171_deepwalk").collect()
    assert(rows.length == graft.operators.Graph.WalkStarts *
      graft.operators.Graph.WalksPerStart)
    // rebuild the bigram graph independently from raw text
    val docs = Tables.documents(spark, sf0001).filter(col("text").isNotNull)
      .select(col("text")).collect().map(_.getString(0))
    def tokenize(t: String): Seq[String] =
      t.toLowerCase.split("\\W+").filter(_.matches("[a-z]+")).toSeq
    val bigrams = docs.flatMap(d => tokenize(d).sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1)))).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val succ = bigrams.toSeq.map { case ((v, u), c) => (v, u, c) }
      .groupBy(_._1).view.mapValues { es =>
        val sorted = es.sortBy { case (_, u, c) => (-c, u) }
        val tot = sorted.map(_._3).sum
        (sorted, tot)
      }.toMap
    val m = 1000000007L
    def tokenId(w: String): Long =
      w.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % m)
    def mmix(key: Long, salt: Long): Long =
      ((key % m) * 1000003 % m + salt * 7919) % m * 69069 % m
    rows.foreach { r =>
      val (start, walk, path) = (r.getString(0), r.getLong(1), r.getString(2))
      var cur = start
      val replay = new scala.collection.mutable.ArrayBuffer[String]
      replay += start
      (1 to graft.operators.Graph.WalkSteps).foreach { t =>
        succ.get(cur).foreach { case (es, tot) =>
          val rr = mmix(tokenId(cur), walk * 100 + t) % tot
          var cum = 0L
          val next = es.collectFirst {
            case (_, u, c) if { cum += c; rr < cum } => u
          }.get
          replay += next; cur = next
        }
      }
      assert(path == replay.mkString(" "),
        s"walk ($start, $walk): $path vs replay ${replay.mkString(" ")}")
      assert(r.getLong(3) == path.split(" ").length.toLong)
    }
    // every consecutive pair in every path is an observed bigram
    rows.foreach { r =>
      r.getString(2).split(" ").sliding(2).filter(_.length == 2).foreach { p =>
        assert(bigrams.contains((p(0), p(1))), s"unseen transition ${p.toSeq}")
      }
    }
  }

  test("q166 audience overlap: planted partial overlap yields exact set algebra") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-aud").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // users 1-15 did a (11-15 also b), 16-20 did b only: |A|=15, |B|=10,
    // |A∩B|=5 → jaccard 5/20, lift 5·20/(15·10)
    val evs = ((1L to 15L).map(u => (u, "a")) ++ (11L to 20L).map(u => (u, "b")))
      .zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, base.plusSeconds(i * 60).toEpochMilli * 1000000L, u, t, 1.0)
      }
    evs.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.operators.Associations.q166AudienceOverlap(spark, dir).collect()
    assert(rows.length == 1, s"one co-observed pair expected: ${rows.toSeq}")
    val r = rows.head
    assert((r.getString(0), r.getString(1)) == ("a", "b"))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((15L, 10L, 5L)))
    assert(r.getDouble(5) == 0.25, s"jaccard ${r.getDouble(5)}")
    assert(math.abs(r.getDouble(6) - 0.6667) < 1e-9, s"lift ${r.getDouble(6)}")
    // corpus run: set-algebra sanity on every pair
    run("q166_audience_overlap").collect().foreach { p =>
      assert(p.getLong(4) <= math.min(p.getLong(2), p.getLong(3)),
        "intersection cannot exceed either side")
      assert(p.getDouble(5) > 0.0 && p.getDouble(5) <= 1.0)
    }
  }

  test("q166b HLL overlap tracks the exact q166 matrix within sketch error") {
    val exact = run("q166_audience_overlap").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val approx = run("q166b_audience_overlap_hll").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2).toDouble, r.getLong(3).toDouble, r.getLong(4).toDouble))).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (k, (ua, ub, both)) =>
      val (ea, eb, eboth) = approx(k)
      // lgK=12 → ~1.6% rsd on singles; inclusion-exclusion compounds
      // three estimates on the intersection — allow 10% + integer slack
      assert(math.abs(ea - ua) <= math.max(2.0, 0.05 * ua), s"$k est_a $ea vs $ua")
      assert(math.abs(eb - ub) <= math.max(2.0, 0.05 * ub), s"$k est_b $eb vs $ub")
      assert(math.abs(eboth - both) <= math.max(3.0, 0.10 * both),
        s"$k est_both $eboth vs $both")
    }
  }

  test("q167 LOO influence: planted deviant source recovers the clean slopes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-loo").toString
    // s1: y = x exactly (all-distinct words); s2: y = 1 (one repeated
    // word) → LOO(s2) fits s1 alone (slope 1), LOO(s1) fits s2 alone
    // (slope 0)
    def distinctDoc(k: Int) = (1 to k).map(i => s"w${k}x$i").mkString(" ")
    def repeatDoc(k: Int) = Seq.fill(k)("r").mkString(" ")
    val docs = Seq(
      (1L, distinctDoc(3), "s1"), (2L, distinctDoc(5), "s1"), (3L, distinctDoc(9), "s1"),
      (4L, repeatDoc(3), "s2"), (5L, repeatDoc(6), "s2"), (6L, repeatDoc(8), "s2"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.Stats.q167LooInfluence(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("s2").getDouble(3) == 1.0, "removing s2 leaves the y=x source")
    assert(got("s1").getDouble(3) == 0.0, "removing s1 leaves the constant-y source")
    // full corpus: one slope_full, ranks are a permutation of 1..n
    val rows = run("q167_loo_influence").collect()
    assert(rows.map(_.getDouble(2)).distinct.length == 1, "slope_full is global")
    assert(rows.map(_.getLong(5)).sorted.toSeq == (1L to rows.length).toSeq)
    // independent plain-Scala replay of the full-fit slope from raw docs
    val xy = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("text")).collect().map { r =>
        val ws = r.getString(0).split(" ")
        (ws.length.toDouble, ws.distinct.length.toDouble)
      }
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(rows.head.getDouble(2) - slope) < 1e-4,
      s"slope_full replay: ${rows.head.getDouble(2)} vs $slope")
  }

  test("q168 vocab coverage replays from the q01 histogram and saturates at |V|") {
    val hist = run("q01_wordcount").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) } // the operator's tie-break
    val total = hist.map(_._2).sum
    val rows = run("q168_vocab_coverage").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      val covered = hist.take(k).map(_._2).sum
      assert(r.getLong(1) == covered, s"covered@$k: ${r.getLong(1)} vs $covered")
      assert(r.getLong(2) == total)
      assert(math.abs(r.getDouble(3) - covered.toDouble / total) < 1e-6)
    }
    // monotone, and the saturation row covers everything
    val cov = rows.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b }, "coverage monotone")
    assert(cov.last == 1.0 && rows.last.getDouble(4) == 0.0,
      "the rk=|V| row must close the curve")
    assert(rows.last.getLong(0) == hist.length, "saturation row sits at |V|")
  }

  /** The q175/q176 deterministic arm, replayed in plain Scala. */
  private def armOf(u: Long): Boolean = ((u % 1000000007L) * 1000003L) % 1000000007L % 2L == 1L

  test("q173 KM survival equals a plain-Scala Kaplan-Meier replay with censoring") {
    val evs = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val obsEnd = evs.map(_._2).max
    val fv = evs.filter(_._3 == "view").groupBy(_._1).map { case (u, g) => u -> g.map(_._2).min }
    val subjects = fv.toSeq.map { case (u, t0) =>
      val fp = evs.filter(e => e._1 == u && e._3 == "purchase" && e._2 > t0)
        .map(_._2).sorted.headOption
      val durUs = fp.getOrElse(obsEnd) - t0
      (durUs / 3600000000L, fp.isDefined)
    }
    // KM over event bins; censor-only bins only shrink the risk set
    val byBin = subjects.groupBy(_._1).map { case (t, g) =>
      (t, g.count(_._2).toLong, g.count(!_._2).toLong)
    }.toSeq.sortBy(_._1)
    var atRisk = subjects.size.toLong
    var surv = 1.0
    val want = byBin.flatMap { case (t, d, c) =>
      val row = if (d > 0) {
        surv *= (atRisk - d).toDouble / atRisk
        Some((t, atRisk, d, c, math.rint(surv * 1e6) / 1e6))
      } else None
      atRisk -= d + c
      row
    }
    val got = run("q173_survival_km").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length == want.length, s"bins: ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && g._4 == w._4,
        s"counts at t=${g._1}: $g vs $w")
      assert(math.abs(g._5 - w._5) < 2e-6, s"surv at t=${g._1}: ${g._5} vs ${w._5}")
    }
    // survival is a non-increasing curve from below 1
    val s = got.map(_._5)
    assert(s.zip(s.tail).forall { case (a, b) => b <= a }, "survival non-increasing")
    assert(got.head._2 == subjects.size, "first risk set is every subject")
  }

  test("q174 active users equals a brute-force sliding-window distinct replay") {
    val ud = Tables.events(spark, sf0001)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).distinct
    val days = ud.map(_._2)
    val rows = run("q174_active_users").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = java.time.LocalDate.parse(r.getString(0)).toEpochDay
      def win(k: Long) = ud.filter(p => p._2 <= d && p._2 > d - k).map(_._1).distinct.length.toLong
      assert(r.getLong(1) == ud.filter(_._2 == d).length.toLong, s"dau@$d")
      assert(r.getLong(2) == win(7), s"wau@$d: ${r.getLong(2)} vs ${win(7)}")
      assert(r.getLong(3) == win(28), s"mau@$d: ${r.getLong(3)} vs ${win(28)}")
      assert(r.getLong(2) >= r.getLong(1) && r.getLong(3) >= r.getLong(2),
        "DAU <= WAU <= MAU")
    }
    // the dense spine covers exactly the corpus day span
    assert(rows.length == (days.max - days.min + 1).toInt, "one row per spine day")
  }

  test("q174b HLL active users tracks the exact q174 within sketch error") {
    val exact = run("q174_active_users").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val approx = run("q174b_active_users_hll").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(approx.nonEmpty && approx.keySet.subsetOf(exact.keySet))
    approx.foreach { case (day, (da, wa, ma)) =>
      val (de, we, me) = exact(day)
      assert(math.abs(da - de) <= math.max(2.0, 0.05 * de), s"$day dau $da vs $de")
      assert(math.abs(wa - we) <= math.max(2.0, 0.05 * we), s"$day wau $wa vs $we")
      assert(math.abs(ma - me) <= math.max(2.0, 0.05 * me), s"$day mau $ma vs $me")
    }
  }

  test("q175 mSPRT: null split stays insignificant; a planted arm effect is detected") {
    // corpus run: the deterministic 50/50 split carries no real effect,
    // so the always-valid p must never cross — the whole point of AVI
    // is that this holds at EVERY look, not just the last
    val rows = run("q175_msprt").collect()
    assert(rows.nonEmpty)
    val ps = rows.map(_.getDouble(5))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-12 },
      "always-valid p is a running min (non-increasing)")
    assert(ps.forall(p => p > 0.0 && p <= 1.0))
    assert(rows.forall(_.getLong(6) == 0L), "a null split must not reject")
    // planted effect: treated users (by the SAME hash) get +5.0
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-msprt").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val evs = for (day <- 0 until 10; u <- 1L to 40L; k <- 0 until 3) yield {
      val v = 1.0 + 0.137 * ((u * 7 + k) % 5) + (if (armOf(u)) 5.0 else 0.0)
      ((day * 1000 + u * 10 + k).toLong,
        base.plusSeconds(day * 86400L + u * 60 + k).toEpochMilli * 1000000L,
        u, "click", v)
    }
    evs.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val planted = graft.operators.Stats.q175Msprt(spark, dir).collect()
    assert(planted.last.getLong(6) == 1L,
      s"planted +5.0 arm effect must reject by the last look: ${planted.last}")
    assert(planted.last.getDouble(3) > 4.0, "estimated delta near the planted shift")
  }

  test("q176 covariate balance: planted per-arm activity gap shows up as |SMD| >> 0.1") {
    // corpus run: moments replay + structural checks
    val rows = run("q176_covariate_balance").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("n_days", "n_events", "n_types", "value_sum"))
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, "both arms populated")
      val balanced = if (r.isNullAt(5)) r.getDouble(3) == r.getDouble(4)
        else math.abs(r.getDouble(5)) < 0.1
      assert(r.getLong(6) == (if (balanced) 1L else 0L), s"balanced flag: $r")
    }
    // planted: treated users log 3x the events
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-smd").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // 9±1 vs 3±1 events per user: the within-arm spread keeps the
    // pooled SD nonzero so the SMD is defined (not a constant covariate)
    val evs = for (u <- 1L to 60L;
                   k <- 0 until ((if (armOf(u)) 8 else 2) + (u % 3).toInt)) yield
      ((u * 100 + k).toLong, base.plusSeconds(u * 60 + k).toEpochMilli * 1000000L,
        u, "click", 1.0 + (k % 3) * 0.5)
    evs.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.operators.Stats.q176CovariateBalance(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val ne = got("n_events")
    assert(ne.getDouble(3) > 8.0 && ne.getDouble(4) < 4.0,
      s"planted means: ${ne.getDouble(3)} / ${ne.getDouble(4)}")
    assert(!ne.isNullAt(5) && ne.getDouble(5) > 1.0 && ne.getLong(6) == 0L,
      "a 3x activity gap is a gross imbalance")
    assert(got("n_types").isNullAt(5) && got("n_types").getLong(6) == 1L,
      "single-type fixture: zero variance, trivially balanced")
  }

  test("q177 centroid geometry replays from q05 centroids; symmetric and ranked") {
    val cent = run("q05_vector_mean").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val labels = cent.keySet.map(_._1).toSeq.sorted
    val dims = cent.keySet.map(_._2).toSeq.sorted
    def v6(l: Long) = dims.map(p => math.rint(cent((l, p)) * 1e6).toLong)
    val want = (for (a <- labels; b <- labels if a != b) yield {
      val (va, vb) = (v6(a), v6(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot.toDouble / math.sqrt(
        va.map(x => x * x).sum.toDouble * vb.map(x => x * x).sum.toDouble)
      (a, b) -> (math.rint(cos * 1e6) / 1e6)
    }).toMap
    val got = run("q177_centroid_geometry").collect()
    assert(got.length == labels.size * (labels.size - 1))
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(math.abs(r.getDouble(2) - want(k)) < 2e-6, s"cos$k: ${r.getDouble(2)} vs ${want(k)}")
      assert(r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9)
    }
    val byKey = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    byKey.foreach { case ((a, b), c) => assert(byKey((b, a)) == c, "cosine symmetric") }
    // per-label ranks are a permutation of 1..n-1 ordered by cosine desc
    got.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3).toLong).toSeq == (1L until labels.size).toSeq)
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "ranked by cosine desc")
    }
  }

  test("q178 containment: a planted mirror source scores 1.0 and direction matters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    // s_big holds two docs; s_copy mirrors ONE of them verbatim →
    // containment(copy→big) = 1.0 while containment(big→copy) < 1
    val d1 = "alpha beta gamma delta epsilon zeta eta theta"
    val d2 = "one two three four five six seven eight nine ten"
    Seq((1L, d1, "en", "s_big", d1.length.toLong),
      (2L, d2, "en", "s_big", d2.length.toLong),
      (3L, d1, "en", "s_copy", d1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.q178SourceContainment(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1)) == ("s_big", "s_copy"))
    assert(r.getLong(3) == 12L && r.getLong(4) == 5L, s"set sizes: $r") // 5+7 vs 5 shingles
    assert(r.getDouble(6) == 1.0, "copied source fully contained in the original")
    assert(r.getDouble(5) < 0.5, "the original is NOT contained in the partial copy")
    // corpus run: set-algebra invariants on every pair
    run("q178_source_containment").collect().foreach { p =>
      assert(p.getLong(2) <= math.min(p.getLong(3), p.getLong(4)))
      assert(p.getDouble(5) > 0.0 && p.getDouble(5) <= 1.0)
      assert(p.getDouble(6) > 0.0 && p.getDouble(6) <= 1.0)
    }
  }

  test("q179 DQ audit: planted violations are counted rule-for-rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dq").toString
    Seq((1L, "c1", 0, 10.0, "B")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    // order 11 OK, order 12 orphaned custkey + nonpositive price
    Seq((11L, 1L, "O", 100.0, ts0, "1-URGENT"),
      (12L, 99L, "O", -5.0, ts0, "1-URGENT")).toDF(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // one good line, one orphaned order ref + zero qty + 0.9 discount
    Seq((11L, 1L, 1L, 1, 5.0, 100.0, 0.1, 0.02, "N", "O", ts0),
      (77L, 1L, 1L, 1, 0.0, 100.0, 0.9, 0.02, "N", "O", ts0)).toDF(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val us0 = ts0.toInstant.toEpochMilli * 1000000L
    // one null value, one out-of-bounds ts (2035)
    Seq((1L, us0, 1L, "click", Some(1.0)),
      (2L, us0, 1L, "click", None),
      (3L, java.time.Instant.parse("2035-01-01T00:00:00Z").toEpochMilli * 1000000L,
        1L, "view", Some(2.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    // one doc with a lying n_chars
    Seq((1L, "good text", "en", "s", 9L), (2L, "bad", "en", "s", 99L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.Profile.q179DqAudit(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(got("fk_orders_customer") == ((2L, 1L, 0L)))
    assert(got("fk_lineitem_orders") == ((2L, 1L, 0L)))
    assert(got("lineitem_qty_in_range") == ((2L, 1L, 0L)))
    assert(got("lineitem_discount_in_range") == ((2L, 1L, 0L)))
    assert(got("orders_price_positive") == ((2L, 1L, 0L)))
    assert(got("events_value_present") == ((3L, 1L, 0L)))
    assert(got("events_ts_in_bounds") == ((3L, 1L, 0L)))
    assert(got("documents_nchars_consistent") == ((2L, 1L, 0L)))
    // corpus run: every declared rule reports, rates well-formed
    val corpus = run("q179_dq_audit").collect()
    assert(corpus.length == 8)
    corpus.foreach { r =>
      assert(r.getLong(2) > 0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("q180 lexical drift replays from split-half token counts") {
    val docs = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull) // the operator's own membership filter
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val mid = (docs.map(_._1).min + docs.map(_._1).max) / 2
    def toks(t: String) = t.toLowerCase.split("\\W+").filter(_.matches("[a-z]+"))
    val early = docs.filter(_._1 <= mid).flatMap(d => toks(d._2))
    val late = docs.filter(_._1 > mid).flatMap(d => toks(d._2))
    val ce = early.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val cl = late.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val vocab = (ce.keySet ++ cl.keySet)
    val (te, tl, v) = (early.length.toLong, late.length.toLong, vocab.size.toLong)
    val want = vocab.toSeq
      .map { w =>
        val (a, b) = (ce.getOrElse(w, 0L), cl.getOrElse(w, 0L))
        val lift = ((b + 1).toDouble / (tl + v)) / ((a + 1).toDouble / (te + v))
        (w, a, b, math.rint(lift * 1e4) / 1e4)
      }
      .filter(t => t._2 + t._3 >= 5)
      .sortBy(t => (-t._4, t._1)).take(20)
    val got = run("q180_lexical_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) < 2e-4, s"lift ${g._1}: ${g._4} vs ${w._4}")
    }
  }

  test("q181 Benford audit replays digit counts and the chi-square fold") {
    def lead(cents: Long): Long = cents.toString.head.toString.toLong
    val want = Seq(
      ("o_totalprice", Tables.orders(spark, sf0001)
        .select("o_totalprice").collect().map(_.getDouble(0))),
      ("l_extendedprice", Tables.lineitem(spark, sf0001)
        .select("l_extendedprice").collect().map(_.getDouble(0))),
      ("l_quantity", Tables.lineitem(spark, sf0001)
        .select("l_quantity").collect().map(_.getDouble(0))))
      .flatMap { case (m, xs) =>
        val ds = xs.filter(_ > 0).map(x => lead(math.rint(x * 100).toLong))
        val total = ds.length.toLong
        ds.groupBy(identity).toSeq.map { case (d, g) =>
          (m, d) -> ((g.length.toLong, total))
        }
      }.toMap
    val got = run("q181_benford_audit").collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      val (n, total) = want(k)
      assert(r.getLong(2) == n, s"count$k: ${r.getLong(2)} vs $n")
      assert(math.abs(r.getDouble(3) - n.toDouble / total) < 2e-6, s"share$k")
      assert(math.abs(r.getDouble(4) -
        math.log10(1.0 + 1.0 / r.getLong(1))) < 2e-6, s"benford$k")
    }
    // chi2 replay per metric from the emitted cells (constant per metric)
    got.groupBy(_.getString(0)).foreach { case (m, g) =>
      assert(g.map(_.getDouble(5)).distinct.length == 1, s"chi2 constant for $m")
      val total = want.collect { case ((`m`, _), (_, t)) => t }.head.toDouble
      val chi2 = g.map { r =>
        val e = total * r.getDouble(4)
        (r.getLong(2) - e) * (r.getLong(2) - e) / e
      }.sum
      assert(math.abs(g.head.getDouble(5) - chi2) < 1e-2, s"chi2 $m")
      assert(g.head.getDouble(5) > 0.0)
    }
  }

  test("q182 Theil-Sen shrugs at a planted outlier day that drags OLS") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // clean linear series x = 2*day, except day 5 spikes to 1000
    val evs = (0 until 20).map { day =>
      val v = if (day == 5) 1000.0 else 2.0 * day
      (day.toLong, base.plusSeconds(day * 86400L).toEpochMilli * 1000000L,
        1L, "click", v)
    }
    evs.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = graft.operators.Stats.q182TheilSen(spark, dir).collect().head
    assert(math.abs(r.getDouble(3) - 2.0) < 0.05,
      s"TS slope robust to the spike: ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 2.0) > 1.0,
      s"OLS dragged by the spike: ${r.getDouble(4)}")
    // corpus run: full plain-Scala replay of the pairwise-median slope
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
      .agg(round(sum("value"), 6).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = daily.groupBy(_._1).map { case (t, g) =>
      val pts = g.map(p => (p._2, p._3)).sortBy(_._1)
      val slopes = for (i <- pts.indices; j <- pts.indices if i < j)
        yield math.rint((pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1) * 1e6) / 1e6
      val s = slopes.sorted
      val med = if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      t -> (slopes.length.toLong, med)
    }
    run("q182_theil_sen").collect().foreach { row =>
      val (np, med) = want(row.getString(0))
      assert(row.getLong(2) == np, s"pairs ${row.getString(0)}")
      assert(math.abs(row.getDouble(3) - med) < 2e-6,
        s"ts_slope ${row.getString(0)}: ${row.getDouble(3)} vs $med")
    }
  }

  test("q183 reconciliation counts planted header/line mismatches per status") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-recon").toString
    val ts0 = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    // order 1: lines reproduce the header exactly; order 2: header
    // overstates by 10.00; order 3: no lines at all
    Seq((1L, 1L, "O", 220.00, ts0, "x"), (2L, 1L, "O", 110.00, ts0, "x"),
      (3L, 1L, "F", 50.00, ts0, "x")).toDF(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // line charge = extprice * (1-disc) * (1+tax)
    Seq((1L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.1, "N", "O", ts0), // 110.00
      (1L, 1L, 1L, 2, 1.0, 100.0, 0.0, 0.1, "N", "O", ts0), // 110.00
      (2L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", ts0)) // 100.00 vs 110
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.Profile.q183OrderReconciliation(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val o = got("O")
    assert(o.getLong(1) == 2 && o.getLong(2) == 2 && o.getLong(3) == 1, s"O: $o")
    assert(o.getDouble(4) == 10.0 && o.getDouble(5) == 10.0, s"O deltas: $o")
    val f = got("F")
    assert(f.getLong(1) == 1 && f.getLong(2) == 0 && f.getLong(3) == 0,
      s"lineless order is its own finding, not a mismatch: $f")
    // corpus run: counts consistent
    run("q183_order_recon").collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(2))
      assert(r.getDouble(5) <= r.getDouble(4) + 1e-9)
    }
  }

  test("q184 debounce keeps burst heads under the adjacent-gap rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-deb").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // gaps: +1h (chain), +1h (chain), +7h (new burst) → 2 kept of 4;
    // a second user's single event is its own burst
    val evs = Seq(0L, 3600L, 7200L, 32400L).zipWithIndex.map { case (s, i) =>
      (i.toLong, base.plusSeconds(s).toEpochMilli * 1000000L, 1L, "click", 1.0)
    } :+ ((9L, base.toEpochMilli * 1000000L, 2L, "click", 1.0))
    evs.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = graft.operators.Temporal.q184Debounce(spark, dir).collect().head
    assert(r.getLong(1) == 5 && r.getLong(2) == 3 && r.getLong(3) == 2,
      s"burst heads: $r")
    // corpus: conservation + the measured sf0.001 corpus has real bursts
    run("q184_debounce").collect().foreach { row =>
      assert(row.getLong(2) + row.getLong(3) == row.getLong(1))
      assert(row.getDouble(4) >= 0.0 && row.getDouble(4) < 1.0)
    }
  }

  test("q185 Markov holdout eval replays train-argmax scoring on the eval half") {
    val evs = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val mid = (evs.map(_._5).min + evs.map(_._5).max) / 2
    def trans(rows: Seq[(Long, Long, String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val s = g.sortBy(e => (e._4, e._2)).map(_._3)
        s.zip(s.tail)
      }.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val tr = trans(evs.filter(_._5 <= mid).toSeq)
    val te = trans(evs.filter(_._5 > mid).toSeq)
    val predicted = tr.groupBy(_._1._1).map { case (p, m) =>
      p -> m.toSeq.map { case ((_, n), c) => (n, c) }.minBy { case (n, c) => (-c, n) }._1
    }
    val want = te.groupBy(_._1._1).map { case (p, m) =>
      val n = m.values.sum
      val correct = predicted.get(p)
        .map(pn => m.collect { case ((_, nx), c) if nx == pn => c }.sum).getOrElse(0L)
      p -> ((n, predicted.get(p).orNull, correct))
    }
    val got = run("q185_markov_eval").collect()
    assert(got.nonEmpty && got.length == want.size)
    got.foreach { r =>
      val (n, pn, correct) = want(r.getString(0))
      assert(r.getLong(1) == n && r.getString(2) == pn && r.getLong(3) == correct,
        s"${r.getString(0)}: $r vs ($n, $pn, $correct)")
      assert(math.abs(r.getDouble(4) - correct.toDouble / n) < 2e-6)
    }
  }

  test("q186 lang consistency flags planted metadata lies") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lang").toString
    val en = "the cat and the dog are in the house with a bird of the sea"
    val notEn = "zxq vbn mlk pqr stw xyz abcq defq ghiq jklq"
    // s1: truthful en + truthful de; s2: declared en but non-stopword
    // text, declared de but English-reading text — both lies
    Seq((1L, en, "en", "s1", en.length.toLong),
      (2L, notEn, "de", "s1", notEn.length.toLong),
      (3L, notEn, "en", "s2", notEn.length.toLong),
      (4L, en, "de", "s2", en.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q186LangConsistency(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("s1").getLong(4) == 0L && got("s1").getDouble(5) == 0.0,
      s"truthful source clean: ${got("s1")}")
    assert(got("s2").getLong(4) == 2L && got("s2").getDouble(5) == 1.0,
      s"both lies caught: ${got("s2")}")
    // corpus: counts consistent per source
    run("q186_lang_consistency").collect().foreach { r =>
      assert(r.getLong(4) <= r.getLong(1))
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("q187 conformal gate: threshold replays and the flag rate sits near alpha") {
    val scored = graft.operators.TextAnalysis.qualityScored(
      Tables.documents(spark, sf0001).filter(col("text").isNotNull))
      .select(col("doc_id"), col("quality"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val cal = scored.filter(_._1 % 2 == 0).map(_._2).sorted
    val k = ((cal.length + 1) * 0.1).toInt
    val thr = cal(k - 1) // k-th smallest
    val prod = scored.filter(_._1 % 2 == 1)
    val rows = run("q187_conformal_gate").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getDouble(4)).distinct.toSeq == Seq(thr),
      s"threshold: ${rows.head.getDouble(4)} vs $thr")
    assert(rows.map(_.getLong(5)).distinct.toSeq == Seq(cal.length.toLong))
    val flagged = rows.map(_.getLong(2)).sum
    assert(flagged == prod.count(_._2 < thr), "flag replay over production half")
    val rate = flagged.toDouble / prod.length
    // the conformal promise: ~alpha of exchangeable production docs
    assert(rate >= 0.02 && rate <= 0.2, s"global flag rate $rate vs alpha 0.1")
  }

  test("q188 Zipf fit: plain-Scala OLS replay over the top-200 rank curve") {
    val hist = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.functions.Portable.tokenize(col("text"))).as("word"))
      .groupBy("source", "word").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bySource = hist.groupBy(_._1)
    val got = run("q188_zipf_fit").collect().map(r => r.getString(0) -> r).toMap
    assert(got.nonEmpty && got.keySet == bySource.keySet)
    bySource.foreach { case (src, ws) =>
      val ranked = ws.sortBy(w => (-w._3, w._2)).take(200).zipWithIndex
        .map { case ((_, _, cnt), i) => (math.log(i + 1.0), math.log(cnt.toDouble)) }
      val n = ranked.length.toDouble
      val (mx, my) = (ranked.map(_._1).sum / n, ranked.map(_._2).sum / n)
      val sxy = ranked.map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = ranked.map { case (x, _) => (x - mx) * (x - mx) }.sum
      val slope = sxy / sxx
      val r = got(src)
      assert(math.abs(r.getDouble(3) - slope) < 1e-4,
        s"$src slope ${r.getDouble(3)} vs replay $slope")
      assert(r.getDouble(3) < 0, s"$src: frequency must decay with rank")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(1) == ws.map(_._3).sum && r.getLong(2) == ws.length)
      val top = ws.minBy(w => (-w._3, w._2))
      assert(r.getString(5) == top._2)
      assert(math.abs(r.getDouble(6) - top._3.toDouble / ws.map(_._3).sum) < 2e-6)
    }
  }

  test("q189 Gini replays from the sorted per-customer spend list") {
    val spend = Tables.orders(spark, sf0001)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("v"))
      .join(Tables.customer(spark, sf0001)
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf0001)
          .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = run("q189_gini").collect().map(r => r.getString(0) -> r).toMap
    val byNation = spend.groupBy(_._1)
    assert(got.keySet == byNation.keySet && got.nonEmpty)
    byNation.foreach { case (nat, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length.toLong
      val s = sorted.map(BigInt(_)).sum
      val t = sorted.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val gini = (2.0 * t.toDouble - (n + 1).toDouble * s.toDouble) /
        (n.toDouble * s.toDouble)
      val r = got(nat)
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - s.toDouble / 100.0) < 0.011)
      assert(math.abs(r.getDouble(3) - gini) < 2e-6,
        s"$nat gini ${r.getDouble(3)} vs replay $gini")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
    }
  }

  test("q190 forecast backtest replays both baselines from the daily series") {
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(sum("v3").as("y3"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val days = daily.keys.map(_._2)
    val mid = math.floor((days.min + days.max) / 2.0).toLong
    val got = run("q190_forecast_backtest").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getString(0)
      val eval = daily.collect {
        case ((`t`, d), y) if d > mid &&
          daily.contains((t, d - 1)) && daily.contains((t, d - 7)) =>
          (y, daily((t, d - 1)), daily((t, d - 7)))
      }.toSeq
      assert(r.getLong(1) == eval.length, s"$t n_eval")
      val ae1 = eval.map { case (y, f1, _) => math.abs(y - f1) }.sum
      val ae7 = eval.map { case (y, _, f7) => math.abs(y - f7) }.sum
      assert(math.abs(r.getDouble(2) - ae1.toDouble / eval.length / 1000.0) < 1e-4)
      assert(math.abs(r.getDouble(4) - ae7.toDouble / eval.length / 1000.0) < 1e-4)
      val best = if (ae7 < ae1) "seasonal_naive" else if (ae1 < ae7) "naive" else "tie"
      assert(r.getString(6) == best)
      assert(r.getDouble(3) >= r.getDouble(2) - 1e-9, s"$t rmse_naive >= mae_naive")
    }
  }

  test("q191 rater agreement: kappa replays from the contingency cells") {
    val rows = run("q191_rater_agreement").collect()
    assert(rows.nonEmpty)
    val eligible = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && size(split(col("text"), " ")) >= 2)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (n, n11, n10, n01, n00) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n11 + n10 + n01 + n00 == n, s"${r.getString(0)}: cells sum to n")
      assert(n == eligible(r.getString(0)), s"${r.getString(0)}: doc accounting")
      val po = (n11 + n00).toDouble / n
      val pa = (n11 + n10).toDouble / n
      val pb = (n11 + n01).toDouble / n
      val pe = pa * pb + (1 - pa) * (1 - pb)
      assert(math.abs(r.getDouble(6) - po) < 2e-6)
      assert(math.abs(r.getDouble(7) - pe) < 2e-6)
      if (!r.isNullAt(8)) {
        val kappa = (po - pe) / (1 - pe)
        assert(math.abs(r.getDouble(8) - kappa) < 1e-4,
          s"${r.getString(0)} kappa ${r.getDouble(8)} vs $kappa")
        assert(r.getDouble(8) <= 1.0 + 1e-9)
      }
    }
  }

  test("q192 k-anonymity: planted QI classes counted at every k") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kanon").toString
    // class A: 25 members (safe at all k), class B: 7 (at risk for
    // k=10,20), class C: 3 (risk for k=5,10,20), class D: 1 (all k)
    val rows =
      (1 to 25).map(i => (i.toLong, s"c$i", 1, 500.0, "AUTOMOBILE")) ++
      (26 to 32).map(i => (i.toLong, s"c$i", 1, 1500.0, "AUTOMOBILE")) ++
      (33 to 35).map(i => (i.toLong, s"c$i", 2, 500.0, "BUILDING")) ++
      Seq((36L, "c36", 3, 2500.0, "MACHINERY"))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val got = graft.operators.Profile.q192KAnonymity(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(2L, 5L, 10L, 20L))
    def check(k: Long, classesAtRisk: Long, rowsAtRisk: Long) = {
      val r = got(k)
      assert(r.getLong(1) == 4 && r.getLong(2) == 36)
      assert(r.getLong(3) == classesAtRisk && r.getLong(4) == rowsAtRisk,
        s"k=$k: $r")
    }
    check(2, 1, 1); check(5, 2, 4); check(10, 3, 11); check(20, 3, 11)
    // corpus: risk monotone in k
    val corpus = run("q192_k_anonymity").collect().sortBy(_.getLong(0))
    corpus.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(3) && a.getLong(4) <= b.getLong(4))
    }
    corpus.foreach(r => assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
  }

  test("q193 RFM segments: conservation, score ranges, label consistency") {
    val rows = run("q193_rfm_segments").collect()
    assert(rows.nonEmpty)
    val nCust = Tables.orders(spark, sf0001)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(3)).sum == nCust, "every customer lands in a cell")
    val totalRev = Tables.orders(spark, sf0001)
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .agg(sum("c")).head().getLong(0)
    assert(math.abs(rows.map(_.getDouble(4)).sum - totalRev / 100.0) < 0.01 * rows.length)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(rs >= 1 && rs <= 4 && fs >= 1 && fs <= 4 && ms >= 1 && ms <= 4)
      val label =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs <= 2 && fs >= 3) "at_risk_loyal"
        else if (fs >= 3) "loyal"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(r.getString(6) == label, s"($rs,$fs,$ms): ${r.getString(6)} vs $label")
    }
    // the quartile split must actually spread scores: at least 2
    // distinct values on each axis
    assert(rows.map(_.getLong(0)).distinct.length >= 2)
    assert(rows.map(_.getLong(2)).distinct.length >= 2)
  }

  test("q194 column entropy replays for documents.lang and bounds hold") {
    val hist = Tables.documents(spark, sf0001)
      .filter(col("lang").isNotNull)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = hist.map(_._2).sum.toDouble
    val h = hist.sortBy(_._1).map { case (_, n) =>
      val p = n / total; -p * math.log(p) / math.log(2.0)
    }.sum
    val got = run("q194_column_entropy").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("documents.lang", "documents.source",
      "events.event_type", "lineitem.l_returnflag", "orders.o_orderstatus",
      "part.p_brand"))
    val r = got("documents.lang")
    assert(r.getLong(1) == total.toLong && r.getLong(2) == hist.length)
    assert(math.abs(r.getDouble(3) - h) < 1e-6, s"entropy ${r.getDouble(3)} vs $h")
    got.values.foreach { row =>
      assert(row.getDouble(3) >= 0.0)
      assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0 + 1e-9)
      assert(row.getDouble(5) > 0.0 && row.getDouble(5) <= 1.0)
      assert(row.getDouble(5) >= 1.0 / row.getLong(2) - 1e-9,
        "top value at least the uniform share")
    }
  }

  test("q195 power planner replays closed-form from exact moments") {
    val vals = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = run("q195_power_mde").collect().map(r => r.getString(0) -> r).toMap
    assert(got.nonEmpty)
    vals.groupBy(_._1).foreach { case (t, xs) =>
      val n = xs.length.toDouble
      val s = xs.map(x => BigInt(x._2)).sum.toDouble / 1000.0
      val ss = xs.map(x => BigInt(x._2) * BigInt(x._2)).sum.toDouble / 1e6
      val mean = s / n
      val variance = (ss - s * s / n) / (n - 1)
      val nDays = (xs.map(_._3).max - xs.map(_._3).min + 1).toDouble
      val daily = n / nDays
      val z2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
      val r = got(t)
      assert(r.getLong(1) == xs.length && r.getLong(2) == nDays.toLong)
      assert(math.abs(r.getDouble(3) - mean) < 1e-4)
      assert(math.abs(r.getDouble(4) - math.sqrt(variance)) < 1e-4)
      Seq((0.01, 6), (0.02, 7), (0.05, 8)).foreach { case (lift, idx) =>
        val delta = mean * lift
        val want = math.ceil(2.0 * (2.0 * variance * z2 / (delta * delta)) / daily).toLong
        assert(r.getLong(idx) == want, s"$t lift $lift: ${r.getLong(idx)} vs $want")
      }
      // sanity: smaller lifts need more days
      assert(r.getLong(6) >= r.getLong(7) && r.getLong(7) >= r.getLong(8))
    }
  }

  test("q196 priority sample: exact bottom-k by md5 and re-shard stability") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val all = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), md5hex(s"${r.getLong(0)}:${r.getString(1)}")))
    val want = all.sortBy(_._2).take(100)
    val got = run("q196_priority_sample").collect()
    assert(got.length == 100)
    got.zip(want.sortBy(_._2)).zipWithIndex.foreach { case ((r, (id, pri)), i) =>
      assert(r.getLong(0) == i + 1 && r.getLong(1) == id && r.getString(4) == pri,
        s"rank ${i + 1}: $r vs ($id, $pri)")
    }
    // the property that justifies the operator: the draw is a function
    // of CONTENT, so a re-sharded copy of the corpus samples the same docs
    val dir = java.nio.file.Files.createTempDirectory("graft-psample").toString
    Tables.documents(spark, sf0001).repartition(7)
      .write.parquet(s"$dir/documents.parquet")
    val reshard = graft.operators.TextAnalysis.q196PrioritySample(spark, dir)
      .collect().map(_.getLong(1)).toSeq
    assert(reshard == got.map(_.getLong(1)).toSeq, "re-shard stability")
  }

  test("q197 inclusion deps: independent containment replay and FK verdicts") {
    val got = run("q197_inclusion_deps").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 7)
    got.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "contained <= distinct")
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1)) < 2e-6)
      assert(r.getLong(4) == (if (r.getLong(2) == r.getLong(1)) 1L else 0L))
    }
    // declared star-schema FKs must discover as full inclusions
    Seq("lineitem.l_orderkey->orders.o_orderkey",
      "lineitem.l_partkey->part.p_partkey",
      "orders.o_custkey->customer.c_custkey",
      "customer.c_nationkey->nation.n_nationkey").foreach { fk =>
      assert(got(fk).getLong(4) == 1L, s"$fk must be a full inclusion")
    }
    // independent replay of the cross-modal probe
    val docIds = Tables.documents(spark, sf0001)
      .select(col("doc_id")).distinct()
    val vecIds = Tables.embeddings(spark, sf0001)
      .select(col("vec_id")).distinct()
    val contained = docIds.intersect(
      vecIds.withColumnRenamed("vec_id", "doc_id")).count()
    val r = got("documents.doc_id->embeddings.vec_id")
    assert(r.getLong(1) == docIds.count() && r.getLong(2) == contained)
  }

  test("q198 assortativity replays exactly from the collected edge list") {
    val pairs = Tables.documents(spark, sf0001)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")), greatest(col("p.w1"), col("p.w2")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val xs = sym.map { case (s, d) => (deg(s), deg(d)) }
    val m = xs.length.toDouble
    def bsum(f: ((Long, Long)) => BigInt) = xs.map(f).sum.toDouble
    val (sx, sy) = (bsum(x => BigInt(x._1)), bsum(x => BigInt(x._2)))
    val (sxy, sxx, syy) = (bsum(x => BigInt(x._1) * x._2),
      bsum(x => BigInt(x._1) * x._1), bsum(x => BigInt(x._2) * x._2))
    val r0 = (m * sxy - sx * sy) /
      (math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy))
    val r = run("q198_assortativity").head()
    assert(r.getLong(0) == deg.size && r.getLong(1) == pairs.length)
    assert(math.abs(r.getDouble(2) - m / deg.size) < 1e-3)
    assert(r.getLong(3) == deg.values.max)
    assert(math.abs(r.getDouble(4) - r0) < 1e-4,
      s"assortativity ${r.getDouble(4)} vs replay $r0")
    assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0)
    assert(r.getDouble(4) < 0, "word graphs are disassortative (hubs ⋈ leaves)")
  }

  test("q199 embedding health replays from BigInt grid moments") {
    val rows = Tables.embeddings(spark, sf0001)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => math.round(x * 1000000.0)).toArray))
    val got = run("q199_embedding_health").collect()
      .map(r => r.getLong(0) -> r).toMap
    val byLabel = rows.groupBy(_._1)
    assert(got.keySet == byLabel.keySet && got.nonEmpty)
    byLabel.foreach { case (label, vs) =>
      val n = vs.length
      val sn = vs.map(v => v._2.map(x => BigInt(x) * x).sum).sum
      val d = vs.head._2.length
      val ssp = (0 until d).map { p =>
        val sp = vs.map(v => BigInt(v._2(p))).sum; sp * sp
      }.sum
      val r = got(label)
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) -
        math.sqrt(sn.toDouble / n) / 1e6) < 2e-6, s"$label rms")
      assert(math.abs(r.getDouble(3) -
        math.sqrt(ssp.toDouble) / n / 1e6) < 2e-6, s"$label centroid")
      val aniso = ssp.toDouble / (n.toDouble * sn.toDouble)
      assert(math.abs(r.getDouble(4) - aniso) < 2e-6, s"$label anisotropy")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0 + 1e-9,
        "anisotropy is an energy share")
      assert(r.getDouble(3) <= r.getDouble(2) + 1e-9,
        "centroid norm bounded by RMS norm (Jensen)")
    }
  }

  test("q200 journey entropy replays from the q112 transition counts") {
    val counts = run("q112_markov_transitions")
      .select("prev_type", "next_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = run("q200_journey_entropy").collect()
      .map(r => r.getString(0) -> r).toMap
    val byPrev = counts.groupBy(_._1)
    assert(got.keySet == byPrev.keySet && got.nonEmpty)
    byPrev.foreach { case (prev, xs) =>
      val total = xs.map(_._3).sum.toDouble
      val h = xs.sortBy(_._2).map { case (_, _, n) =>
        val p = n / total; -p * math.log(p) / math.log(2.0)
      }.sum
      val top = xs.minBy(x => (-x._3, x._2))
      val r = got(prev)
      assert(r.getLong(1) == total.toLong && r.getLong(2) == xs.length)
      assert(math.abs(r.getDouble(3) - h) < 1e-6, s"$prev H ${r.getDouble(3)} vs $h")
      assert(r.getString(5) == top._2 && math.abs(r.getDouble(6) - top._3 / total) < 2e-6)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
      // top_share is the ceiling of any q185-class argmax predictor
      assert(r.getDouble(6) >= 1.0 / xs.length - 1e-9)
    }
  }

  test("q201 cluster sizes replay from q68 and conserve the corpus") {
    val comp = run("q68_dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = comp.groupBy(_._2).map(_._2.length.toLong)
    val hist = sizes.groupBy(identity).map { case (s, g) => s -> g.size.toLong }
    val nVec = Tables.embeddings(spark, sf0001).count()
    val got = run("q201_cluster_sizes").collect()
      .map(r => r.getLong(0) -> r).toMap
    val singles = nVec - comp.length
    hist.foreach { case (sz, nCl) =>
      val r = got(sz)
      assert(r.getLong(1) == nCl && r.getLong(2) == sz * nCl, s"size $sz: $r")
      assert(r.getLong(3) == (sz - 1) * nCl, s"size $sz removable")
    }
    if (singles > 0) {
      val r = got(1L)
      assert(r.getLong(1) == singles && r.getLong(2) == singles && r.getLong(3) == 0L)
    }
    // conservation: every vector lands in exactly one size bucket
    assert(got.values.map(_.getLong(2)).sum == nVec)
    // sf0.001 may legitimately resolve to all-singletons; when edges
    // exist they must appear as ≥2-size buckets (sf0.01's oracle run
    // covers the clustered shape)
    if (comp.nonEmpty) assert(got.keys.max >= 2)
  }

  test("q202 latency CI replays as order statistics over the sorted deltas") {
    val deltas = {
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val fv = ev.filter(_._3 == "view").groupBy(_._1).map { case (u, xs) =>
        u -> xs.map(_._2).min }
      ev.filter(_._3 == "purchase")
        .flatMap { case (u, us, _) => fv.get(u).filter(us > _).map(f => (u, f, us)) }
        .groupBy(x => (x._1, x._2)).map { case ((_, f), xs) =>
          math.rint((xs.map(_._3).min - f) / 1000000.0 * 1e6) / 1e6 }
        .toSeq.sorted
    }
    val n = deltas.length
    val z = 1.959964
    val kl = math.max(1, math.ceil(n * 0.5 - z * math.sqrt(n * 0.25)).toLong)
    val km = (n + 1) / 2
    val ku = math.min(n.toLong, math.ceil(n * 0.5 + z * math.sqrt(n * 0.25)).toLong)
    val r = run("q202_latency_ci").head()
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - deltas((kl - 1).toInt)) < 2e-6, "ci_lo")
    assert(math.abs(r.getDouble(2) - deltas((km - 1).toInt)) < 2e-6, "median")
    assert(math.abs(r.getDouble(3) - deltas((ku - 1).toInt)) < 2e-6, "ci_hi")
    assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3))
    assert(r.getDouble(4) == 0.95)
  }

  /** Planted near-dup corpus for q203/q204: pairs (1,2) and (3,4) are
    * IDENTICAL vectors (same bands, cosine 1.0 — guaranteed blocked and
    * true); 5/6 are distinct noise. Docs give 2 higher quality than 1;
    * doc 4 is missing (the cross-modal containment caveat). */
  private def plantedDedupDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-planted-dedup").toString
    // disjoint 16-dim supports ⇒ EXACTLY orthogonal groups (cos 0):
    // no accidental cross-group near-dups to tangle the clusters
    def vec(group: Int) = Seq.tabulate(64)(j =>
      if (j / 16 == group) 1.0f + (j % 16) * 0.1f else 0.0f)
    Seq((1L, vec(0), 0), (2L, vec(0), 0), (3L, vec(1), 1), (4L, vec(1), 1),
      (5L, vec(2), 2), (6L, vec(3), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rich = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the and of to in is was he for it" // stopwords lift quality
    val poor = "aaa bbb aaa bbb aaa bbb"
    Seq((1L, poor, "en", "s", poor.length.toLong),
      (2L, rich, "en", "s", rich.length.toLong),
      (3L, rich, "en", "s", rich.length.toLong),
      (5L, rich, "en", "s", rich.length.toLong),
      (6L, poor, "en", "s", poor.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q203 banding recall: planted identical pairs are caught at every tau") {
    val dir = plantedDedupDir()
    val got = graft.operators.Dedup.q203BandingRecall(spark, dir)
      .collect().map(r => r.getDouble(0) -> r).toMap
    assert(got.keySet == Set(0.45, 0.6, 0.75))
    got.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "caught <= true")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      // identical-vector pairs share every band: recall 1.0 unless the
      // noise vectors manufacture uncaught near-threshold pairs
      assert(r.getLong(2) >= 2, s"both planted pairs must be caught: $r")
    }
    // corpus run executes and stays bounded
    run("q203_banding_recall").collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getDouble(3) <= 1.0)
    }
  }

  test("q204 canonical election keeps the BEST copy, not the lowest id") {
    val dir = plantedDedupDir()
    val got = graft.operators.Dedup.q204CanonicalElection(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 3L), s"two planted clusters: ${got.keySet}")
    // cluster {1,2}: doc 2 outscores doc 1 → elected over min-id
    val c1 = got(1L)
    assert(c1.getLong(1) == 2 && c1.getLong(2) == 2L && c1.getLong(5) == 0L,
      s"quality must beat min-id: $c1")
    assert(c1.getDouble(4) > 0.0, "spread is the silent-worse-copy signal")
    // cluster {3,4}: doc 4 missing → scored member 3 wins (null loses)
    val c3 = got(3L)
    assert(c3.getLong(1) == 2 && c3.getLong(2) == 3L && c3.getLong(5) == 1L)
    assert(!c3.isNullAt(3), "elected member carries a real quality")
    // corpus rows: elected member always one of the cluster, spread ≥ 0
    run("q204_canonical_election").collect().foreach { r =>
      assert(r.getLong(1) >= 2, "clusters have at least an edge")
      if (!r.isNullAt(4)) assert(r.getDouble(4) >= 0.0)
    }
  }

  test("q205 deletion impact replays per table, cascade included") {
    val got = run("q205_deletion_impact").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("customer", "orders", "events", "lineitem"))
    def direct(df: org.apache.spark.sql.DataFrame, c: String) =
      (df.count(), df.filter(col(c) % 97 === 0).count())
    Seq(("customer", direct(Tables.customer(spark, sf0001), "c_custkey"), 1L),
      ("orders", direct(Tables.orders(spark, sf0001), "o_custkey"), 1L),
      ("events", direct(Tables.events(spark, sf0001), "user_id"), 1L))
      .foreach { case (t, (n, aff), depth) =>
        val r = got(t)
        assert(r.getLong(1) == n && r.getLong(2) == aff && r.getLong(3) == depth,
          s"$t: $r vs ($n, $aff)")
        assert(math.abs(r.getDouble(4) - aff.toDouble / n) < 2e-6)
      }
    // cascade: lineitems of forgotten customers' orders
    val fo = Tables.orders(spark, sf0001).filter(col("o_custkey") % 97 === 0)
      .select("o_orderkey")
    val li = Tables.lineitem(spark, sf0001)
    val cascade = li.join(fo, col("l_orderkey") === col("o_orderkey")).count()
    val r = got("lineitem")
    assert(r.getLong(1) == li.count() && r.getLong(2) == cascade &&
      r.getLong(3) == 2L)
    assert(r.getLong(2) > 0, "the fixture must exercise the cascade")
  }

  test("q206 retention guardrail replays from the user-week frame") {
    val uw = Tables.events(spark, sf0001)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT) DIV 7")
          .as("week"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val weeks = uw.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).toSet }
    val maxw = uw.map(_._2).max
    def arm(u: Long) = ((u % 1000000007L) * 1000003L) % 1000000007L % 2 == 1
    val got = run("q206_retention_guardrail").collect()
      .map(r => r.getLong(0) -> r).toMap
    (1L to 4L).foreach { off =>
      val cohort = weeks.filter { case (_, ws) => ws.min + off <= maxw }
      val (t, c) = cohort.partition(x => arm(x._1))
      def retained(m: Map[Long, Set[Long]]) =
        m.count { case (_, ws) => ws.contains(ws.min + off) }
      if (cohort.nonEmpty) {
        val r = got(off)
        assert(r.getLong(1) == t.size && r.getLong(2) == c.size, s"off $off sizes")
        assert(math.abs(r.getDouble(3) - retained(t.toMap).toDouble / t.size) < 2e-6)
        assert(math.abs(r.getDouble(4) - retained(c.toMap).toDouble / c.size) < 2e-6)
        assert(math.abs(r.getDouble(5) - (r.getDouble(3) - r.getDouble(4))) < 2e-6)
      } else assert(!got.contains(off))
    }
    assert(got.nonEmpty, "the corpus spans enough weeks to probe")
  }

  test("q216 CUPED replays from exact user moments and reduces variance") {
    val ev = Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").as("day"),
        round(col("value") * 1000, 0).cast("long").as("v3"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = math.floor((ev.map(_._2).min + ev.map(_._2).max) / 2.0).toLong
    val per = ev.groupBy(_._1).map { case (u, xs) =>
      (u, xs.filter(_._2 <= mid).map(x => BigInt(x._3)).sum,
        xs.filter(_._2 > mid).map(x => BigInt(x._3)).sum)
    }.toSeq
    def arm(u: Long) = ((u % 1000000007L) * 1000003L) % 1000000007L % 2 == 1
    // pooled theta from exact global moments
    val n = per.size.toDouble
    val sx = per.map(_._2).sum.toDouble / 1000.0
    val sy = per.map(_._3).sum.toDouble / 1000.0
    val sxx = per.map(p => p._2 * p._2).sum.toDouble / 1e6
    val sxy = per.map(p => p._2 * p._3).sum.toDouble / 1e6
    val theta = ((sxy - sx * sy / n) / (n - 1)) / ((sxx - sx * sx / n) / (n - 1))
    val gmx = sx / n
    val got = run("q216_cuped").collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("treatment", "control"))
    Seq(true, false).foreach { t =>
      val g = per.filter(p => arm(p._1) == t)
      val r = got(if (t) "treatment" else "control")
      val an = g.size.toDouble
      val amx = g.map(_._2).sum.toDouble / 1000.0 / an
      val amy = g.map(_._3).sum.toDouble / 1000.0 / an
      assert(r.getLong(1) == g.size)
      assert(math.abs(r.getDouble(2) - amy) < 2e-6, "mean_y")
      assert(math.abs(r.getDouble(3) - (amy - theta * (amx - gmx))) < 2e-6, "mean_cuped")
      assert(math.abs(r.getDouble(7) - theta) < 2e-6, "theta")
      // the adjustment's whole point on correlated pre/post behavior
      assert(r.getDouble(5) <= r.getDouble(4) * 1.05,
        "CUPED must not inflate variance materially")
    }
  }

  test("q217 Mann-Whitney replays from plain-Scala midranks") {
    val vals = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 1000, 0).cast("long").as("v3"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val all = vals.sortBy(_._1)
    // midrank of each value cell = below + (t+1)/2
    val byV = all.groupBy(_._1).map { case (v, xs) =>
      v -> (xs.count(_._2 == "purchase"), xs.length) }
    val sortedV = byV.keys.toSeq.sorted
    var below = 0L; var r1x2 = BigInt(0); var ties = BigInt(0)
    sortedV.foreach { v =>
      val (n1c, tc) = byV(v)
      r1x2 += BigInt(n1c) * (BigInt(below) * 2 + tc + 1)
      ties += BigInt(tc).pow(3) - tc
      below += tc
    }
    val n1 = vals.count(_._2 == "purchase").toDouble
    val n2 = vals.count(_._2 == "view").toDouble
    val u = r1x2.toDouble / 2.0 - n1 * (n1 + 1) / 2.0
    val nn = n1 + n2
    val varu = n1 * n2 / 12.0 * ((nn + 1) - ties.toDouble / (nn * (nn - 1)))
    val z = (u - n1 * n2 / 2.0) / math.sqrt(varu)
    val r = run("q217_mann_whitney").collect().head
    assert(r.getLong(0) == n1.toLong && r.getLong(1) == n2.toLong)
    assert(math.abs(r.getDouble(2) - u) < 0.51, "u_stat (rounded to 1 dp)")
    assert(math.abs(r.getDouble(3) - z) < 2e-4, "z")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, "p in range")
  }

  test("q218 KS statistic replays from plain-Scala CDFs") {
    val vals = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 1000, 0).cast("long").as("v3"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val p = vals.filter(_._2 == "purchase").map(_._1).sorted
    val v = vals.filter(_._2 == "view").map(_._1).sorted
    val grid = (p ++ v).distinct.sorted
    def cdf(xs: Array[Long], x: Long) = xs.count(_ <= x).toDouble / xs.length
    val dByV = grid.map(x => (math.abs(cdf(p.toArray, x) - cdf(v.toArray, x)), x))
    val dmax = dByV.map(_._1).max
    val atV = dByV.filter(d => math.abs(d._1 - dmax) < 1e-12).map(_._2).min
    val r = run("q218_ks_test").collect().head
    assert(r.getLong(0) == p.length.toLong && r.getLong(1) == v.length.toLong)
    assert(math.abs(r.getDouble(2) - dmax) < 2e-6, "d_stat")
    assert(math.abs(r.getDouble(3) - atV / 1000.0) < 1e-9, "at_value")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getLong(5) == (if (r.getDouble(2) > r.getDouble(4)) 1L else 0L))
  }

  test("q219 EB shrinkage pulls toward the grand mean, more for small sources") {
    val got = run("q219_eb_shrinkage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    // grand mean from the same exact grid the operator uses
    val q6 = graft.operators.TextAnalysis.qualityScored(
        Tables.documents(spark, sf0001).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"), round(col("quality") * 1000000, 0).cast("long").as("q6"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mu = q6.map(x => BigInt(x._2)).sum.toDouble / 1e6 / q6.length
    got.foreach { case (src, n, raw, shrunk, w, tau2) =>
      val xs = q6.filter(_._1 == src)
      assert(n == xs.length, s"$src n")
      assert(math.abs(raw - xs.map(x => BigInt(x._2)).sum.toDouble / 1e6 / n) < 2e-6)
      assert(w >= 0.0 && w <= 1.0, s"$src shrink weight in [0,1]")
      // shrunk sits between the raw mean and the grand mean
      assert(shrunk >= math.min(raw, mu) - 2e-6 && shrunk <= math.max(raw, mu) + 2e-6)
      assert(math.abs(shrunk - (mu + w * (raw - mu))) < 2e-6)
      assert(tau2 >= 0.0)
    }
    // monotone: with tau2 > 0, bigger n -> bigger shrink weight
    if (got.head._6 > 0) {
      val byN = got.sortBy(_._2)
      byN.sliding(2).foreach { case Array(a, b) =>
        if (b._2 > a._2) assert(b._5 >= a._5 - 1e-9,
          s"shrink weight must grow with n: ${a._1} vs ${b._1}")
        case _ => ()
      }
    }
  }

  test("q220 autocorrelation replays from the daily series") {
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 1000, 0).cast("long")).as("y3"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val got = run("q220_autocorr").collect().map(r => r.getString(0) -> r).toMap
    daily.groupBy(_._1).foreach { case (et, xs) =>
      val ys = xs.sortBy(_._2.toEpochDay).map(_._3.toDouble / 1000.0)
      if (ys.length >= 3) {
        val n = ys.length.toDouble
        val ybar = ys.sum / n
        val css = ys.map(y => (y - ybar) * (y - ybar)).sum
        val acf1 = ys.sliding(2).map(w => (w(0) - ybar) * (w(1) - ybar)).sum / css
        val dw = ys.sliding(2).map(w => (w(1) - w(0)) * (w(1) - w(0))).sum / css
        val r = got(et)
        assert(r.getLong(1) == ys.length.toLong)
        assert(math.abs(r.getDouble(3) - acf1) < 2e-4, s"$et acf1")
        assert(math.abs(r.getDouble(4) - dw) < 2e-4, s"$et dw")
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 4.0 + 1e-9, s"$et dw range")
      } else assert(!got.contains(et))
    }
  }

  test("q221 Bernstein bounds bracket the mean and tighten with n") {
    val got = run("q221_bernstein_bounds").collect()
    assert(got.nonEmpty)
    val ln60 = math.log(60.0)
    got.foreach { r =>
      val (n, m, v, lb, ub) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      val margin = math.sqrt(2.0 * v * ln60 / n) + 3.0 * ln60 / n
      assert(math.abs(lb - (m - margin)) < 2e-6, s"${r.getString(0)} lb")
      assert(math.abs(ub - (m + margin)) < 2e-6, s"${r.getString(0)} ub")
      assert(lb <= m + 1e-9 && m <= ub + 1e-9, "bounds bracket the mean")
      assert(r.getLong(6) == (if (ub < 0.5) 1L else 0L))
    }
  }

  test("q222 banding planner replays the closed-form s-curves") {
    val got = run("q222_banding_planner").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getDouble(2)),
        (r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 4 * 19)
    graft.operators.Dedup.BandingConfigs.foreach { case (b, r) =>
      (1 to 19).foreach { i =>
        val s = i.toDouble / 20.0
        val (p, st) = got((b.toLong, r.toLong, s))
        assert(math.abs(p - (1.0 - math.pow(1.0 - math.pow(s, r), b))) < 2e-6,
          s"(b=$b r=$r s=$s)")
        assert(math.abs(st - math.pow(1.0 / b, 1.0 / r)) < 2e-6)
      }
      // monotone in s, and the curve crosses ~0.5+ at its threshold
      val curve = (1 to 19).map(i => got((b.toLong, r.toLong, i / 20.0))._1)
      assert(curve.sliding(2).forall(w => w(1) >= w(0) - 1e-9))
    }
  }

  test("q223 threshold stability replays via plain-Scala union-find") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = graft.operators.Dedup.blockedEmbeddingNearDup(e, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def components(ps: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      ps.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val c45 = components(pairs.map(p => (p._1, p._2)))
    val p60 = pairs.filter(_._3 >= 0.6)
    val c60 = components(p60.map(p => (p._1, p._2)))
    val ids = c45.keySet.toSeq
    val joint = ids.groupBy(id => (c45(id), c60.getOrElse(id, id)))
      .map(_._2.size.toLong)
    val ai = ids.groupBy(c45).map(_._2.size.toLong)
    val bj = ids.groupBy(id => c60.getOrElse(id, id)).map(_._2.size.toLong)
    def c2(xs: Iterable[Long]) = xs.map(x => x * (x - 1) / 2.0).sum
    val (sij, sa, sb) = (c2(joint), c2(ai), c2(bj))
    val rr = ids.size.toLong * (ids.size - 1) / 2.0
    val expected = sa * sb / rr
    val r = run("q223_threshold_stability").collect().head
    assert(r.getLong(0) == ids.size && r.getLong(1) == pairs.length
      && r.getLong(2) == p60.length)
    assert(r.getLong(3) == ai.size && r.getLong(4) == bj.size)
    if (ids.size >= 2) {
      assert(math.abs(r.getDouble(5) - (rr + 2 * sij - sa - sb) / rr) < 2e-6, "rand")
      assert(math.abs(r.getDouble(6)
        - (sij - expected) / ((sa + sb) / 2.0 - expected)) < 2e-6, "ari")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0 + 1e-9)
    } else {
      // a pair-free corpus has no contested universe: indices are null
      assert(r.isNullAt(5) && r.isNullAt(6))
    }
  }

  test("q224 nprobe sweep nests: recall and scan cost grow with probes") {
    val got = run("q224_nprobe_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 4 * 10)
    val byQ = got.groupBy(_._2)
    byQ.values.foreach { rows =>
      val ordered = rows.sortBy(_._1)
      // probe sets nest, so both candidates-scanned and overlap are
      // monotone in nprobe
      assert(ordered.sliding(2).forall(w => w(1)._3 >= w(0)._3), "n_scanned")
      assert(ordered.sliding(2).forall(w => w(1)._4 >= w(0)._4), "n_overlap")
      assert(ordered.forall(r => r._4 >= 0 && r._4 <= 10))
    }
    // the np=4 column IS q148 (same fit, same probe count)
    val q148 = run("q148_ivf_recall").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_._1 == 4L).foreach { case (_, qid, _, overlap) =>
      assert(q148(qid) == overlap, s"q$qid: np=4 must reproduce q148")
    }
  }

  test("q242 K sweep: per-K nesting holds and the K=16 column reproduces q224") {
    val got = run("q242_k_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(5)))
    assert(got.length == 4 * 4)
    got.groupBy(_._1).foreach { case (k, rows) =>
      val ordered = rows.sortBy(_._2)
      // within a K the probe sets nest: scanned and overlap monotone
      assert(ordered.sliding(2).forall(w => w(1)._3 >= w(0)._3), s"k=$k n_scanned")
      assert(ordered.sliding(2).forall(w => w(1)._4 >= w(0)._4), s"k=$k n_overlap")
      assert(ordered.forall(r => r._4 >= 0 && r._4 <= 100))
    }
    // fit cost is exactly linear in K (n·K·rounds)
    val evalsByK = got.map(r => r._1 -> r._5).toMap
    assert(evalsByK(16L) == 2L * evalsByK(8L) && evalsByK(64L) == 4L * evalsByK(16L))
    // the K=16 rows ARE q224's totals (same fit, same probe sets)
    val q224 = run("q224_nprobe_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byNp = q224.groupBy(_._1).map { case (np, rs) =>
      np -> (rs.map(_._2).sum, rs.map(_._3).sum)
    }
    got.filter(_._1 == 16L).foreach { case (_, np, scanned, overlap, _) =>
      assert(byNp(np) == ((scanned, overlap)), s"np=$np must fold q224's rows")
    }
  }

  test("q244 IVF+ADC composition: candidates fold q224's np=4 bill, ADC refine never beats exact") {
    val got = run("q244_ivf_adc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.length == graft.operators.KMeans.EvalBlock)
    val m = graft.operators.Quantize.PqM.toLong
    val rr = graft.operators.Quantize.RefineR.toLong
    val dim = 64L
    got.foreach { case (q, nCand, codes, nShort, floats, nOv, rec) =>
      // the bill arithmetic, per the declared contract
      assert(codes == nCand * m, s"q=$q codes_scanned")
      assert(nShort == math.min(nCand, rr), s"q=$q n_shortlist")
      assert(floats == (nShort + graft.operators.KMeans.K) * dim, s"q=$q floats_scanned")
      assert(nOv >= 0 && nOv <= 10 && math.abs(rec - nOv / 10.0) < 1e-9)
    }
    // same fit, same Nprobe=4 probe sets: q244's candidate set IS
    // q224's np=4 scanned set, query by query
    val q224 = run("q224_nprobe_sweep").collect()
      .filter(_.getLong(0) == graft.operators.KMeans.Nprobe.toLong)
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    got.foreach { case (q, nCand, _, _, _, _, _) =>
      assert(q224(q) == nCand, s"q=$q candidates must equal q224's np=4 bill")
    }
    // the ADC top-R shortlist can only LOSE true neighbors vs q148's
    // exact rescore of ALL probed members (exact candidate top-10
    // contains every truth member present in the candidate set)
    val q148 = run("q148_ivf_recall").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (q, _, _, _, _, nOv, _) =>
      assert(nOv <= q148(q), s"q=$q ADC refine must not beat exact rescore")
    }
  }

  test("q245 residual IVF-PQ pays exactly q244's bill; recall is the only degree of freedom") {
    // the two reports share candidates, RefineR and the bill columns BY
    // CONSTRUCTION — the comparison is a pure read of what residual
    // encoding buys. Pin the construction so a drift in either query's
    // probe/cap constants shows up as a bill mismatch here.
    val raw = run("q244_ivf_adc").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val res = run("q245_ivfpq_residual").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(res.length == graft.operators.KMeans.EvalBlock)
    res.foreach { case (q, nCand, codes, nShort, floats, nOv) =>
      assert(raw(q) == ((nCand, codes, nShort, floats)),
        s"q=$q bill must equal q244's exactly")
      assert(nOv >= 0 && nOv <= 10)
    }
    // on the synthetic fixture the residual codebook should not LOSE
    // to raw-vector PQ in aggregate (it measured 59 -> 72 at sf0.01);
    // assert non-strictly to stay robust across SFs
    val rawTotal = run("q244_ivf_adc").collect().map(_.getLong(5)).sum
    assert(res.map(_._6).sum >= rawTotal,
      "residual encoding must not reduce aggregate recall at equal bill")
  }

  test("q250 winnowing: nested-selection monotonicity and the match-length guarantee") {
    val got = run("q250_winnow_fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == graft.operators.TextAnalysis.WinnowWindows.map(_.toLong))
    got.foreach { case (w, nDocs, ng, ns, keep, tp, wp) =>
      assert(nDocs > 0 && ns <= ng, s"w=$w selected can't exceed grams")
      assert(math.abs(keep - ns.toDouble / ng) < 5.1e-7) // keep is 6-dp rounded
      assert(wp <= tp, s"w=$w winnow pairs must be a subset of truth pairs")
    }
    // truth is w-independent; doubling w nests the selected sets
    // (a 2w-window min is one of the two w-window mins), so bills and
    // pair counts are monotone non-increasing in w
    assert(got.map(_._6).distinct.length == 1, "truth pair count is shared")
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4 && b._7 <= a._7, "selection must shrink with w")
    }
    // the winnowing guarantee (Schleimer et al. thm 1): two docs
    // sharing >= w+k-1 consecutive words always share a selected hash
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    val shared = (1 to 30).map(i => s"shared$i").mkString(" ")
    Seq(
      (1L, s"alpha beta $shared gamma", "s1", "en", 10L, 1L),
      (2L, s"$shared delta epsilon zeta", "s2", "en", 10L, 1L),
      (3L, "totally unrelated words only here", "s1", "en", 5L, 1L))
      .toDF("doc_id", "text", "source", "lang", "n_chars", "rev")
      .write.parquet(s"$dir/documents.parquet")
    val p = graft.operators.TextAnalysis.q250WinnowFingerprint(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(6)).toMap
    graft.operators.TextAnalysis.WinnowWindows.foreach { w =>
      assert(p(w.toLong) >= 1L, s"w=$w must catch the 30-word shared run")
    }
  }

  test("q264 winnowed dedup: pairs share real grams, planted long-run dup always caught exactly") {
    // every emitted pair must share at least one actual gram (winnowed
    // candidates are a subset of the shared-gram truth: a selected hash
    // IS one of the doc's gram hashes) and carry a valid Jaccard
    val got = run("q264_winnowed_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.length <= 20)
    got.foreach { case (a, b, nc, j) =>
      assert(a < b, "pairs are ordered")
      assert(nc >= 1L, s"($a,$b) must share a real gram")
      assert(j > 0.0 && j <= 1.0, s"($a,$b) jaccard $j out of range")
    }
    // the winnowing guarantee carried into the MODE: a planted pair
    // sharing >= WinnowDedupW + WinnowK - 1 consecutive words is always
    // a candidate, and its exact full-gram Jaccard survives the rescore
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-windedup").toString
    val shared = (1 to 12).map(i => s"shared$i").mkString(" ") // 12 >= 8+4-1
    val noise = (1 to 30).map(i =>
      (100L + i, (1 to 20).map(j => s"filler${i}x$j").mkString(" "), "s1", "en", 20L, 1L))
    (noise ++ Seq(
      (1L, s"alpha beta $shared gamma delta", "s1", "en", 17L, 1L),
      (2L, s"$shared epsilon zeta", "s2", "en", 14L, 1L)))
      .toDF("doc_id", "text", "source", "lang", "n_chars", "rev")
      .write.parquet(s"$dir/documents.parquet")
    val planted = graft.operators.Dedup.q264WinnowedDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hit = planted.find(p => p._1 == 1L && p._2 == 2L)
    assert(hit.isDefined, s"planted 12-word run must be caught, got ${planted.toSeq}")
    // exact full-gram Jaccard: doc1 has 16 words -> 13 grams, doc2 has
    // 14 -> 11 grams, shared grams = the 9 inside the common run
    assert(hit.get._3 == 9L, s"expected 9 common grams, got ${hit.get._3}")
    assert(math.abs(hit.get._4 - 9.0 / (13 + 11 - 9)) < 5.1e-7)
  }

  test("q265 OPQ rotation: identity baseline folds q251's natural chain, alternation improves, beats the permutation") {
    val got = run("q265_opq_rotation").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val iters = got.map(_._1).distinct.sorted.toSeq
    assert(iters == (0L to graft.operators.Quantize.OpqIters.toLong))
    // iter 0 (identity rotation) IS the natural q225/q251 chain —
    // per-subspace MSEs must match q251's natural side exactly
    val q251 = run("q251_balanced_pq").collect()
      .map(r => (r.getLong(0), r.getDouble(4), r.getDouble(5)))
    val it0 = got.filter(_._1 == 0L).map(t => t._2 -> t._4).toMap
    q251.foreach { case (sub, natMse, _) =>
      assert(it0(sub) == natMse, s"iter-0 sub $sub must fold the natural chain")
    }
    // the alternation is a descent: each update's total distortion is
    // no worse than the previous (Procrustes minimizes ||XR - Yhat||)
    val totals = iters.map(i => got.filter(_._1 == i).map(_._4).sum)
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"alternation must not regress: $totals")
    }
    // and the LEARNED rotation beats both the natural slicing and
    // q251's deterministic permutation on this corpus — the ceiling
    // the cheap cousin approximates
    val natTotal = q251.map(_._2).sum
    val balTotal = q251.map(_._3).sum
    assert(totals.last < natTotal,
      s"OPQ must improve on natural slicing: ${totals.last} vs $natTotal")
    assert(totals.last <= balTotal,
      s"OPQ must be at least as good as the balanced permutation: " +
        s"${totals.last} vs $balTotal")
    // seeded chain + gridded-long Gram fold + deterministic SVD: a
    // second run reproduces the trace bit-for-bit
    val again = run("q265_opq_rotation").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == got.toSeq, "the fit must be reproducible")
  }

  test("q261 index staleness: conservation, fresh side folds q116, planted drift churns") {
    val got = run("q261_index_staleness").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5),
        r.getDouble(6), r.getDouble(7)))
    assert(got.nonEmpty && got.forall(_._1 < graft.operators.KMeans.K))
    // both fits assign every audited vector exactly once
    assert(got.map(_._2).sum == got.map(_._3).sum, "stale/fresh conservation")
    val nv = got.map(_._2).sum
    got.foreach { case (_, _, _, churned, share, _) =>
      assert(churned >= 0 && churned <= nv)
      assert(math.abs(share - churned.toDouble / nv) < 5.1e-7)
    }
    // the fresh side IS q116's fit: member counts fold cell-for-cell
    val q116 = run("q116_kmeans_fit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_._3 > 0).foreach { case (cell, _, nFresh, _, _, _) =>
      assert(q116(cell) == nFresh, s"cell $cell must fold q116's membership")
    }
    // plant: old snapshot (ids <= 20) lives on axis 0; the grown half
    // lives on axis 1 — the stale centroids mis-serve it, so the
    // re-fit must churn cells and cut mean distance
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stale").toString
    (0 to 40).map { i =>
      val axis = if (i <= 20) 0 else 1
      (i.toLong, Seq.tabulate(64)(j =>
        if (j == axis) 10.0f + (i % 7) * 0.3f else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.KMeans.q261IndexStaleness(spark, dir).collect()
    assert(p.head.getLong(5) > 0L, "planted drift must churn")
    assert(p.head.getDouble(7) > 0.0, "the re-fit must cut mean distance")
  }

  test("q266 maintenance policy: append branch folds q261's stale side, planted drift flips to retrain") {
    // gate corpora sit below the threshold: the policy keeps the STALE
    // index (append), and its per-cell report must fold q261's
    // stale-side columns cell-for-cell
    val got = run("q266_maintenance_policy").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    assert(got.map(_._1).distinct.toSeq == Seq("append"),
      s"gate corpus churn ${got.head._2} sits below the threshold")
    assert(got.head._2 <= graft.operators.KMeans.ReindexChurnThreshold)
    val q261 = run("q261_index_staleness").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got.foreach { case (_, _, cell, n, d) =>
      assert(q261(cell) == ((n, d)),
        s"cell $cell must fold q261's stale membership/distance")
    }
    // planted regime change: the old snapshot is a unit blob at the
    // origin; the grown half is a far shifted blob. The fresh fit
    // migrates centroids to the new mass, reorganizing the majority of
    // assignments -> churn crosses the threshold, policy flips to
    // retrain
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val dir = java.nio.file.Files.createTempDirectory("graft-policy").toString
    (0 to 200).map { i =>
      val shift = if (i <= 100) 0.0 else 15.0
      (i.toLong, Seq.tabulate(64)(_ =>
        (rnd.nextGaussian() + shift).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.KMeans.q266MaintenancePolicy(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(p.nonEmpty && p.forall(_._1 == "retrain"),
      s"planted drift must flip the decision: ${p.toSeq}")
    assert(p.head._2 > graft.operators.KMeans.ReindexChurnThreshold)
    // retrain branch = the fresh fit's report: its mean distances must
    // match a direct fresh assignment fold
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val freshCells = graft.operators.KMeans
      .assign(e, graft.operators.KMeans.fit(e))
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    p.foreach { case (_, _, cell, n, _) =>
      assert(freshCells(cell) == n, s"cell $cell must fold the fresh fit")
    }
  }

  test("q260 dispersion index replays from zero-aware moments; planted burst flagged") {
    // replay: zeros add nothing to the count moments, only to N
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nDays = (ev.map(_._2).max - ev.map(_._2).min + 1).toDouble
    val got = run("q260_dispersion").collect().map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (t, xs) =>
      val counts = xs.groupBy(_._2).map(_._2.length.toLong)
      val s1 = counts.sum.toDouble
      val s2 = counts.map(c => c.toDouble * c).sum
      val mean = s1 / nDays
      val vr = (s2 * nDays - s1 * s1) / (nDays * (nDays - 1))
      val r = got(t)
      assert(r.getLong(1) == nDays.toLong && r.getLong(3) == s1.toLong)
      assert(math.abs(r.getDouble(4) - mean) < 1e-3 && math.abs(r.getDouble(5) - vr) < 1e-3)
      assert(math.abs(r.getDouble(6) - vr / mean) < 1e-5, s"$t dispersion")
    }
    // planted burst: one type with all events on one day of a 10-day
    // span is maximally overdispersed; a one-per-day type is UNDER
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-disp").toString
    val rows =
      (1 to 50).map(i => (i.toLong, i.toLong, "burst", 1.0, "2021-01-05 00:00:00")) ++
      (0 until 10).map(d => (100L + d, 100L + d, "steady", 1.0, f"2021-01-${d + 1}%02d 00:00:00"))
    rows.toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val p = graft.operators.Stats.q260DispersionIndex(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("burst").getLong(7) == 1L, "burst type must flag overdispersed")
    assert(p("steady").getDouble(6) < 1.0 && p("steady").getLong(7) == 0L,
      "constant daily counts are underdispersed")
  }

  test("q259 group k-fold: zero group leakage, naive leakage priced, planted pair travels together") {
    // corpus checks at sf0.01 (smallest corpus with non-empty q68 clusters)
    val corpus = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q259_group_kfold")(spark, corpus).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 5))
    // group splits are impossible by construction
    rows.foreach(r => assert(r.getLong(6) == 0L, "group split must be zero"))
    // audit constants agree with q68's cluster set
    val q68rows = SparkEntry.queries("q68_dedup_clusters")(spark, corpus).collect()
    val nClusters = q68rows.map(_.getLong(1)).distinct.length.toLong
    val nClustered = q68rows.length.toLong
    assert(rows.head.getLong(4) == nClusters, "n_clusters_multi folds q68")
    assert(rows.map(_.getLong(3)).sum == nClustered, "clustered docs fold q68")
    // planted: two identical vectors (ids 1, 2 — different naive folds)
    // must travel in ONE fold; the naive split would separate them
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kfold").toString
    val vecs = (1 to 22).map { i =>
      val v = if (i <= 2) Seq.tabulate(64)(j => if (j == 0) 1.0f else 0.0f)
      else Seq.tabulate(64)(j => if (j == i % 60 + 3) 1.0f + i * 0.01f else 0.0f)
      (i.toLong, v, 0)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    (1 to 22).map(i => (i.toLong, s"doc number $i words", "s1", "en", 10L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Dedup.q259GroupKfold(spark, dir).collect()
    assert(p.map(_.getLong(1)).sum == 22L, "doc conservation")
    assert(p.head.getLong(4) == 1L && p.head.getLong(5) == 1L,
      "the planted pair is one multi cluster the naive split separates")
    assert(p.head.getLong(6) == 0L && p.head.getLong(7) == 2L)
  }

  test("q258 Holt backtest replays from a plain-Scala recurrence") {
    val a = graft.operators.Temporal.HoltAlpha
    val bt = graft.operators.Temporal.HoltBeta
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(sum("v3").cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val mid = math.floor((daily.map(_._2).min + daily.map(_._2).max) / 2.0).toLong
    val got = run("q258_holt_backtest").collect()
      .map(r => r.getString(0) -> r).toMap
    val byType = daily.groupBy(_._1)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, xs) =>
      val s = xs.sortBy(_._2)
      var (l, b, prev) = (s.head._3, 0.0, s.head._3)
      var (aeh, aen, ne) = (0.0, 0.0, 0L)
      s.tail.foreach { case (_, d, y) =>
        if (d > mid) {
          aeh += math.abs(y - (l + b)); aen += math.abs(y - prev); ne += 1
        }
        val l2 = a * y + (1 - a) * (l + b)
        b = bt * (l2 - l) + (1 - bt) * b
        l = l2; prev = y
      }
      val r = got(t)
      assert(r.getLong(1) == ne, s"$t n_eval")
      if (ne > 0) {
        assert(math.abs(r.getDouble(2) - aeh / ne / 1000.0) < 1e-4, s"$t mae_holt")
        assert(math.abs(r.getDouble(3) - aen / ne / 1000.0) < 1e-4, s"$t mae_naive")
        val best = if (aeh < aen) "holt" else if (aen < aeh) "naive" else "tie"
        assert(r.getString(5) == best, s"$t best")
      }
    }
  }

  test("q267 CUSUM replays from a plain-Scala recurrence; planted level shift alarms up, constant series reads flat") {
    val k = graft.operators.Temporal.CusumK
    val h = graft.operators.Temporal.CusumH
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(sum("v3").as("y3"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mid = math.floor((daily.map(_._2).min + daily.map(_._2).max) / 2.0).toLong
    val got = run("q267_cusum_changepoint").collect()
      .map(r => r.getString(0) -> r).toMap
    daily.groupBy(_._1).foreach { case (t, xs) =>
      val s = xs.sortBy(_._2)
      val pre = s.filter(_._2 <= mid).map(_._3)
      val n0 = pre.length.toDouble
      val mu0 = pre.map(BigInt(_)).sum.toDouble / n0 / 1000.0
      val sig0 = math.sqrt(
        (pre.map(y => BigInt(y) * BigInt(y)).sum.toDouble * n0
          - pre.map(BigInt(_)).sum.toDouble * pre.map(BigInt(_)).sum.toDouble)
          / (n0 * n0)) / 1000.0
      var (sp, sn, fd, dir, mxp, mxn) = (0.0, 0.0, -1L, 0L, 0.0, 0.0)
      s.foreach { case (_, d, y3) =>
        val z = (y3 / 1000.0 - mu0) / sig0
        sp = math.max(0.0, sp + z - k); sn = math.max(0.0, sn - z - k)
        if (fd < 0 && (sp > h || sn > h)) { fd = d; dir = if (sp > h) 1 else 2 }
        mxp = math.max(mxp, sp); mxn = math.max(mxn, sn)
      }
      val r = got(t)
      assert(r.getLong(1) == s.length, s"$t n_days")
      assert(math.abs(r.getDouble(2) - mu0) < 1e-5, s"$t mu0")
      assert(math.abs(r.getDouble(3) - sig0) < 1e-5, s"$t sigma0")
      if (fd >= 0) assert(r.getLong(4) == fd, s"$t first_alarm_day")
      else assert(r.isNullAt(4), s"$t must not alarm")
      assert(r.getString(5) == Seq("none", "up", "down")(dir.toInt), s"$t dir")
      assert(math.abs(r.getDouble(6) - mxp) < 1e-5, s"$t max up")
      assert(math.abs(r.getDouble(7) - mxn) < 1e-5, s"$t max down")
    }
    // planted: 'shift' doubles its level right after mid -> alarms up
    // within a few post-mid days; 'steady' is constant pre-period ->
    // sigma0 = 0 -> flat, no fold, no divide-by-zero
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    val base = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 until 30).flatMap { d =>
      val ts = java.sql.Timestamp.valueOf(base.plusDays(d).atTime(12, 0))
      Seq(
        (d * 2 + 1L, 1L, ts, "shift", if (d <= 14) 10.0 + (d % 3) else 25.0, "{}"),
        (d * 2 + 2L, 2L, ts, "steady", 7.0, "{}"))
    }
    rows.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .write.parquet(s"$dir2/events.parquet")
    val p = graft.operators.Temporal.q267CusumChangepoint(spark, dir2).collect()
      .map(r => r.getString(0) -> r).toMap
    val sh = p("shift")
    assert(sh.getString(5) == "up" && !sh.isNullAt(4), "planted shift must alarm up")
    assert(sh.getLong(4) > mid0(base) + 14, "alarm must land after the jump")
    val st = p("steady")
    assert(st.getDouble(3) == 0.0 && st.getString(5) == "flat" && st.isNullAt(4),
      "constant pre-period must read flat, not divide by zero")
  }

  private def mid0(base: java.time.LocalDate): Long =
    base.toEpochDay // day index of the fixture's first day

  test("q257 cell-refined blocking: subset arithmetic, dup count folds q49's row count") {
    // sf0.01: the smallest corpus where the banded candidate set is
    // non-trivial (the q246 convention)
    val corpus = "/root/testdata/sf0.01"
    val r = SparkEntry.queries("q257_cell_refined_blocking")(spark, corpus)
      .collect().head
    val (cb, cr, db, dr, dl) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(cb > 0 && cr <= cb, "refined candidates are a subset")
    assert(dr <= db && dl == db - dr, "dup arithmetic")
    assert(math.abs(r.getDouble(2) - cr.toDouble / cb) < 5.1e-7)
    if (db > 0) assert(math.abs(r.getDouble(6) - dr.toDouble / db) < 5.1e-7)
    // the banded dup count IS q49's output row count (same generator,
    // same threshold) — pins the composition to the verified rung
    val q49n = SparkEntry.queries("q49_embedding_neardup")(spark, corpus).count()
    assert(db == q49n, s"banded dups $db must equal q49's $q49n rows")
  }

  test("q255 k-center: coverage curve contract, one exemplar per planted cluster") {
    val got = run("q255_kcenter").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until graft.operators.KMeans.KCenterK.toLong))
    assert(got.map(_._2).distinct.length == got.length, "exemplars are distinct")
    assert(got.head._3.isNaN, "seed round has no radius")
    val radii = got.tail.map(_._3)
    radii.foreach(r => assert(r >= 0.0))
    // the covering radius is non-increasing: each pick is the argmax of
    // a cover that only shrinks
    radii.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12) }
    // plant: 8 tight clusters on 8 disjoint axes — greedy farthest-point
    // must take exactly one exemplar per cluster before any second
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kcenter").toString
    (1 to 40).map { i =>
      val g = (i - 1) / 5
      (i.toLong, Seq.tabulate(64)(j =>
        if (j == g) 100.0f + (i % 5) * 0.1f else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val picks = graft.operators.KMeans.q255KCenter(spark, dir).collect()
      .map(_.getLong(1))
    assert(picks.map(id => (id - 1) / 5).distinct.length == 8,
      s"one exemplar per planted cluster, got ${picks.mkString(",")}")
  }

  test("q256 CMS estimates replay bit-exact from a plain-Scala sketch; one-sided error") {
    val P = 1000000007L
    val toks = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.Portable.tokenize(col("text"))).as("w"))
      .collect().map(_.getString(0))
    def tid(w: String) = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val width = graft.operators.HeavyHitters.CmsWidth
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    toks.foreach { w =>
      val h = tid(w)
      graft.operators.HeavyHitters.CmsRows.foreach { case (r, a, b) =>
        val k = (r, ((h * a + b) % P) % width)
        cells(k) = cells.getOrElse(k, 0L) + 1
      }
    }
    val exact = toks.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    def est(w: String) = {
      val h = tid(w)
      graft.operators.HeavyHitters.CmsRows.map { case (r, a, b) =>
        cells.getOrElse((r, ((h * a + b) % P) % width), 0L)
      }.min
    }
    val got = run("q256_cms_freq").collect()
    assert(got.length <= 20 && got.nonEmpty)
    got.foreach { r =>
      val (w, ex, ce, ov) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(exact(w) == ex, s"$w exact")
      assert(est(w) == ce, s"$w estimate must replay the Scala sketch")
      assert(ce >= ex && ov == ce - ex && ov >= 0, s"$w one-sided error")
    }
  }

  test("q254 diff-in-diff: cell-mean identity on the corpus, planted effect recovered") {
    val r = run("q254_diff_in_diff").collect().head
    // the paired did IS the cell-mean double difference exactly
    // (same denominators), up to the 6-dp output rounding
    val cellDid = (r.getDouble(3) - r.getDouble(2)) - (r.getDouble(5) - r.getDouble(4))
    assert(math.abs(r.getDouble(6) - cellDid) < 3e-6, s"did vs cells: $r")
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    if (!r.isNullAt(7)) assert(r.getDouble(7) > 0, "se positive when defined")
    // plant: treated users' post-period lifts by ~10 with small noise,
    // control flat — did must recover the lift
    import spark.implicits._
    def arm(u: Long): Boolean = ((u % 1000000007L) * 1000003L) % 1000000007L % 2 == 1
    val users = (1L to 40L)
    val dir = java.nio.file.Files.createTempDirectory("graft-did").toString
    val rows = users.flatMap { u =>
      val noise = (u % 3).toDouble // same pre/post -> cancels in d
      // vary d WITHIN each arm (armOf(u) is u's parity at small ids,
      // so u%2 would be constant per arm -> zero variance -> null t)
      val lift = if (arm(u)) 10.0 + (u / 2 % 2) else 0.0 + (u / 2 % 2) * 0.5
      Seq(
        (u * 10 + 1, u, "view", 5.0 + noise, "2021-01-02 00:00:00"),
        (u * 10 + 2, u, "view", 5.0 + noise + lift, "2021-01-20 00:00:00"))
    }
    rows.toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("props", lit("""{}"""))
      .write.parquet(s"$dir/events.parquet")
    val p = graft.operators.Stats.q254DiffInDiff(spark, dir).collect().head
    // treated d = 10 + (u%2), control d = (u%2)*0.5: did = E[d_T]-E[d_C]
    assert(p.getDouble(6) > 9.0 && p.getDouble(6) < 11.5, s"planted did: $p")
    assert(!p.isNullAt(8) && p.getDouble(8) > 2.0, "planted effect must be significant")
  }

  test("q253 OLS replays from exact grid moments; fit beats the mean baseline") {
    // replay: same 1e-6 grid ints, same exact sums, same Cramer tree
    val feats = run("q37_quality_score").collect().map(r =>
      (math.round(r.getDouble(3) * 1e6), math.round(r.getDouble(5) * 1e6),
        math.round(r.getDouble(6) * 1e6)))
    val srcOf = Tables.documents(spark, sf0001).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = run("q37_quality_score").collect().map(_.getLong(0))
    val bySrc = ids.zip(feats).groupBy(x => srcOf(x._1))
    val got = run("q253_ols_quality").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5))).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, xs) =>
      val g = xs.map(_._2)
      val n = g.length.toDouble
      def s(f: ((Long, Long, Long)) => Double) = g.map(f).sum
      val (st, ss, sy) = (s(_._1.toDouble) / 1e6, s(_._2.toDouble) / 1e6, s(_._3.toDouble) / 1e6)
      val stt = g.map(x => x._1.toDouble * x._1).sum / 1e12
      val sss = g.map(x => x._2.toDouble * x._2).sum / 1e12
      val sts = g.map(x => x._1.toDouble * x._2).sum / 1e12
      val sty = g.map(x => x._1.toDouble * x._3).sum / 1e12
      val ssy = g.map(x => x._2.toDouble * x._3).sum / 1e12
      val syy = g.map(x => x._3.toDouble * x._3).sum / 1e12
      val det = n * (stt * sss - sts * sts) - st * (st * sss - sts * ss) +
        ss * (st * sts - stt * ss)
      val det0 = sy * (stt * sss - sts * sts) - st * (sty * sss - sts * ssy) +
        ss * (sty * sts - stt * ssy)
      val det1 = n * (sty * sss - sts * ssy) - sy * (st * sss - sts * ss) +
        ss * (st * ssy - sty * ss)
      val det2 = n * (stt * ssy - sty * sts) - st * (st * ssy - sty * ss) +
        sy * (st * sts - stt * ss)
      val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
      val sse = syy - b0 * sy - b1 * sty - b2 * ssy
      val sst = syy - sy * sy / n
      val (gn, gb0, gb1, gb2, gr2) = got(src)
      assert(gn == g.length.toLong)
      assert(math.abs(gb0 - b0) < 1e-5 && math.abs(gb1 - b1) < 1e-5
        && math.abs(gb2 - b2) < 1e-5, s"$src coefficients")
      assert(math.abs(gr2 - (1.0 - sse / sst)) < 1e-5, s"$src r2")
      // a 3-param fit can't lose to the mean-only model
      assert(gr2 >= -1e-6 && gr2 <= 1.0 + 1e-6, s"$src r2 range")
    }
  }

  test("q251 balanced PQ: variance conservation, and the snake beats natural slicing on a concentrated plant") {
    val got = run("q251_balanced_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until graft.operators.Quantize.PqM.toLong))
    // both assignments partition the same 64 dims: total variance is
    // conserved across the two groupings (each sub sum is 6-dp rounded)
    val natTot = got.map(_._3).sum
    val balTot = got.map(_._4).sum
    assert(math.abs(natTot - balTot) < 8 * 5.1e-7, s"$natTot vs $balTot")
    got.foreach { case (s, n, vn, vb, mn, mb) =>
      assert(n > 0 && vn >= 0 && vb >= 0 && mn >= 0 && mb >= 0, s"sub $s")
    }
    assert(got.map(_._2).distinct.length == 1, "every sub codes every vector")
    // planted concentration: all the energy in dims 0..7 (the first
    // NATURAL subspace). The snake deals those 8 wild dims one per
    // subspace, so the worst balanced subspace must beat the worst
    // natural one, and the balanced variance spread must be tighter.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-balpq").toString
    (1 to 40).map { i =>
      (i.toLong, Seq.tabulate(64) { j =>
        if (j < 8) (((i * 31 + j * 7) % 17) - 8).toFloat
        else ((i + j) % 3) * 0.01f
      }, 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Quantize.q251BalancedPq(spark, dir).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(p.map(_._4).max < p.map(_._3).max,
      "balanced worst-subspace MSE must beat natural on the concentrated plant")
    def spread(xs: Array[Double]) = xs.max - xs.min
    assert(spread(p.map(_._2)) < spread(p.map(_._1)),
      "snake must tighten the per-subspace variance spread")
  }

  test("q249 SQ8 retrieval: rank contract, near-lossless recall, dominates the 1-bit tier") {
    val got = run("q249_sq8_knn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val byQ = got.groupBy(_._1)
    assert(byQ.size == graft.operators.KMeans.EvalBlock)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to 10L), s"q=$q ranks")
      // l2q non-decreasing in rank (the quantized ordering is real)
      rs.sortBy(_._2).map(_._4).sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) <= w(1), s"q=$q l2q must be sorted")
      }
      rs.foreach { case (_, _, _, l2q, hit) =>
        assert(l2q >= 0.0 && (hit == 0L || hit == 1L))
      }
    }
    // int8 at 8 bits/dim is near-lossless on the fixture: aggregate
    // recall@10 stays high, and must dominate the 1-bit sign tier (q84)
    val sqHits = got.map(_._5).sum
    assert(sqHits >= 80L, s"SQ8 recall collapsed: $sqHits/100")
    val bqHits = run("q84_binary_quant_knn").collect().map(_.getLong(5)).sum
    assert(sqHits >= bqHits, "8-bit SQ must not lose to 1-bit BQ")
  }

  test("q246 election regret replays q204's election and q68's membership") {
    // sf0.01: the smallest corpus where the q68 cluster set is non-empty
    val corpus = "/root/testdata/sf0.01"
    def runAt(name: String) = SparkEntry.queries(name)(spark, corpus)
    val got = runAt("q246_election_regret").collect()
      .map(r => r.getLong(0) -> r).toMap
    // membership equals q68's cluster sizes
    val q68 = runAt("q68_dedup_clusters").collect()
      .groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.length.toLong }
    assert(got.keySet == q68.keySet && got.nonEmpty)
    got.foreach { case (c, r) => assert(r.getLong(1) == q68(c), s"cluster $c size") }
    // the election agrees with q204 row-for-row: disagree = !same_as_minid,
    // best_quality = canonical_quality
    val q204 = runAt("q204_canonical_election").collect()
      .map(r => r.getLong(0) -> r).toMap
    got.foreach { case (c, r) =>
      assert(r.getLong(2) == 1L - q204(c).getLong(5), s"cluster $c disagree")
      assert((r.isNullAt(4) && q204(c).isNullAt(3))
        || r.getDouble(4) == q204(c).getDouble(3), s"cluster $c best_quality")
      // regret is non-negative where defined, and zero implies agreement
      // (ties break toward the min id, which IS the cluster label)
      if (!r.isNullAt(5)) {
        assert(r.getDouble(5) >= 0.0, s"cluster $c regret sign")
        if (r.getDouble(5) == 0.0)
          assert(r.getLong(2) == 0L, s"cluster $c zero regret must agree")
      }
    }
  }

  test("q248 flags a planted eval item pasted inside a training doc; clean items score 0") {
    import spark.implicits._
    // construct a corpus where the bucket split is KNOWN: texts are
    // chosen so tokenId(text) % 100 lands >= 95 (eval) or < 95 (train).
    // One eval item is pasted verbatim inside a longer training doc
    // (containment 1.0, dirty); one eval item shares nothing (0, clean).
    def bucket(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % graft.functions.Portable.P) % 100L
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def sentence(seed: Int, n: Int): String =
      (0 until n).map(i => words((seed * 7 + i * 3) % words.length)).mkString(" ")
    // search deterministic salts that land each text in its bucket
    def find(base: String, eval: Boolean): String =
      Iterator.from(0).map(i => s"$base salt$i")
        .find(t => if (eval) bucket(t) >= 95 else bucket(t) < 95).get
    val evalDirty = find(sentence(1, 12), eval = true)
    val evalClean = find("omicron pi rho sigma tau upsilon phi chi psi omega", eval = true)
    val trainHost = find(s"${sentence(3, 9)} $evalDirty ${sentence(4, 9)}", eval = false)
    val trainOther = find(sentence(5, 15), eval = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    Seq((0L, trainHost), (1L, trainOther), (10L, evalDirty), (11L, evalClean))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q248_eval_containment")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2)), r.getDouble(4), r.getLong(5))).toMap
    assert(got.keySet == Set(10L, 11L))
    // the pasted item: every 8-gram of the eval doc appears in the host
    assert(got(10L) == ((0L, 1.0, 1L)), s"dirty item: ${got(10L)}")
    // the clean item shares no 8-gram with any training doc
    assert(got(11L) == ((-1L, 0.0, 0L)), s"clean item: ${got(11L)}")
  }

  test("q247 residual distortion: raw column replays q225, ratio replays the division") {
    val got = run("q247_residual_distortion").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(got.size == graft.operators.Quantize.PqM)
    // the raw side IS q225's mean_sqdist fold — cross-pin the two
    val q225 = run("q225_pq_distortion").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.foreach { case (sub, (n, raw, res, ratio)) =>
      assert((n, raw) == q225(sub), s"sub $sub raw side must replay q225")
      assert(res > 0 && raw > 0, s"sub $sub degenerate")
      val want = BigDecimal(res / raw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(ratio == want, s"sub $sub ratio")
      // the point of residual encoding: per-cell residuals are tighter
      assert(ratio < 1.0, s"sub $sub residual MSE must beat raw on this fixture")
    }
  }

  test("q225 PQ distortion replays from the q114 code table") {
    val codes = run("q114_pq_codes").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))) // (sub, code, dist)
    val got = run("q225_pq_distortion").collect()
    assert(got.length == graft.operators.Quantize.PqM)
    got.foreach { r =>
      val sub = r.getLong(0)
      val mine = codes.filter(_._1 == sub)
      assert(r.getLong(1) == mine.length)
      val mean = mine.map(c => math.round(c._3 * 1e6)).sum.toDouble / mine.length / 1e6
      assert(math.abs(r.getDouble(2) - mean) < 2e-6, s"sub $sub mean")
      assert(math.abs(r.getDouble(3) - mine.map(_._3).max) < 1e-9, s"sub $sub max")
      assert(r.getLong(4) == mine.map(_._2).distinct.length
        && r.getLong(4) <= graft.operators.Quantize.PqK)
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9, "mean <= max")
    }
  }

  test("q226 encoder consistency fires on planted dup-text vector drift") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-enc").toString
    // two dup groups in one source: group A embeds identically (clean),
    // group B drifted (the bug the audit exists to catch)
    Seq((1L, "alpha beta gamma delta", "en", "srcA"),
      (2L, "alpha beta gamma delta", "en", "srcA"),
      (3L, "epsilon zeta eta theta", "en", "srcA"),
      (4L, "epsilon zeta eta theta", "en", "srcA"),
      (5L, "unique text one", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val same = Seq.tabulate(64)(j => j * 0.01f)
    val drifted = Seq.tabulate(64)(j => -j * 0.01f)
    Seq((1L, same), (2L, same), (3L, same), (4L, drifted), (5L, same))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q226_encoder_consistency")(spark, dir)
      .collect()
    assert(r.length == 1 && r.head.getString(0) == "srcA")
    assert(r.head.getLong(1) == 2, "two dup pairs")
    assert(r.head.getLong(2) == 1, "exactly the drifted pair flagged")
    assert(math.abs(r.head.getDouble(3) - 0.5) < 1e-9)
    assert(r.head.getDouble(4) < 0.0, "the drifted pair's cosine is negative")
    // and on the clean sf0.001 fixture the audit stays quiet (no dups)
    assert(run("q226_encoder_consistency").collect()
      .forall(_.getLong(2) == 0L))
  }

  test("q227 signal agreement: cells conserve and kappa replays from po/pe") {
    val r = run("q227_signal_agreement").collect().head
    val (n, n11, n10, n01, n00) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n > 0 && n11 + n10 + n01 + n00 == n, "2x2 cells conserve")
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10).toDouble / n) * ((n11 + n01).toDouble / n) +
      ((n01 + n00).toDouble / n) * ((n10 + n00).toDouble / n)
    assert(math.abs(r.getDouble(5) - po) < 2e-6)
    assert(math.abs(r.getDouble(6) - pe) < 2e-6)
    assert(math.abs(r.getDouble(7) - (po - pe) / (1.0 - pe)) < 2e-4)
    // the embedding marginal IS q49: same candidates, same threshold
    assert(n11 + n01 == run("q49_embedding_neardup").count(),
      "cos>=0.45 marginal must equal the q49 pair count")
  }

  test("q228 signal MI replays from the bucket grid") {
    val docs = graft.operators.TextAnalysis.qualityScored(
        Tables.documents(spark, sf0001).filter(col("text").isNotNull))
      .select(round(col("quality") * 1000000, 0).cast("long").as("q6"),
        col("n_tokens"))
      .collect().map(r => (math.min(r.getLong(0) / 100000, 9L),
        math.min(r.getLong(1) / 64, 9L)))
    val n = docs.length.toDouble
    val cells = docs.groupBy(identity).map { case (k, xs) => k -> xs.length }
    val pq = docs.groupBy(_._1).map { case (k, xs) => k -> xs.length / n }
    val pl = docs.groupBy(_._2).map { case (k, xs) => k -> xs.length / n }
    val mi = cells.map { case ((a, b), c) =>
      (c / n) * math.log((c / n) / (pq(a) * pl(b))) }.sum
    val got = run("q228_signal_mi").collect()
    assert(got.length == cells.size)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == cells(key).toLong, s"cell $key")
      assert(math.abs(r.getDouble(3) - cells(key) / n) < 2e-6)
      assert(math.abs(r.getDouble(5) - mi) < 2e-4, "mi")
      assert(r.getDouble(5) >= -1e-9, "MI is non-negative")
      if (!r.isNullAt(6))
        assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0 + 1e-9, "V in [0,1]")
    }
  }

  test("q229 Good-Turing replays from token counts; Chao1 bounds vocab") {
    val wc = Tables.documents(spark, sf0001)
      .select(col("source"),
        explode(graft.functions.Portable.tokenize(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val got = run("q229_good_turing").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val src = r.getString(0)
      val cs = wc.filter(_._1 == src).map(_._2)
      assert(r.getLong(1) == cs.sum && r.getLong(2) == cs.length.toLong)
      assert(r.getLong(3) == cs.count(_ == 1L) && r.getLong(4) == cs.count(_ == 2L))
      assert(math.abs(r.getDouble(5) - cs.count(_ == 1L).toDouble / cs.sum) < 2e-6)
      assert(r.getDouble(6) >= r.getLong(2) - 1e-9, "Chao1 >= observed vocab")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("q230 l-diversity replays from the customer QI classes") {
    val classes = Tables.customer(spark, sf0001)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"), countDistinct("c_mktsegment").as("l"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    val got = run("q230_l_diversity").collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(2L, 3L, 5L))
    got.foreach { case (bar, r) =>
      val below = classes.filter(_._2 < bar)
      assert(r.getLong(1) == classes.length.toLong)
      assert(r.getLong(2) == classes.map(_._1).sum)
      assert(r.getLong(3) == below.length.toLong, s"bar $bar classes")
      assert(r.getLong(4) == below.map(_._1).sum, s"bar $bar rows")
      assert(r.getLong(5) == classes.map(_._2).min)
      assert(math.abs(r.getDouble(6)
        - below.map(_._1).sum.toDouble / classes.map(_._1).sum) < 2e-6)
    }
    // risk is monotone in the bar
    val shares = Seq(2L, 3L, 5L).map(b => got(b).getDouble(6))
    assert(shares.sliding(2).forall(w => w(1) >= w(0) - 1e-12))
  }

  test("q252 t-closeness replays from the customer QI cells; skewed plant flagged") {
    // driver-side replay: per (nation, band) class, t = half the
    // variational distance between the class and global segment
    // distributions, folded in segment order like both engines
    val rows = Tables.customer(spark, sf0001)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("band"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nTotal = rows.length.toDouble
    val globalBySeg = rows.groupBy(_._2).map { case (s, xs) => s -> xs.length }
    val segs = globalBySeg.keys.toSeq.sorted
    val classes = rows.groupBy(x => (x._1, x._3)).toSeq.map { case (_, xs) =>
      val sz = xs.length
      val bySeg = xs.groupBy(_._2).map { case (s, ys) => s -> ys.length }
      val t = segs.map(s => math.abs(
        bySeg.getOrElse(s, 0).toDouble / sz
          - globalBySeg(s).toDouble / nTotal)).sum / 2.0
      (sz.toLong, t)
    }
    val got = run("q252_t_closeness").collect().map(r => r.getDouble(0) -> r).toMap
    assert(got.keySet == Set(0.1, 0.2, 0.3))
    got.foreach { case (bar, r) =>
      val above = classes.filter(_._2 > bar + 1e-12)
      assert(r.getLong(1) == classes.length.toLong)
      assert(r.getLong(2) == classes.map(_._1).sum)
      assert(r.getLong(3) == above.length.toLong, s"bar $bar classes")
      assert(r.getLong(4) == above.map(_._1).sum, s"bar $bar rows")
      assert(math.abs(r.getDouble(5) - classes.map(_._2).max) < 2e-6)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // risk is monotone DOWN in the bar (a looser bar flags fewer classes)
    val shares = Seq(0.1, 0.2, 0.3).map(b => got(b).getDouble(6))
    assert(shares.sliding(2).forall(w => w(1) <= w(0) + 1e-12))
    // planted skew: one class entirely segment A in a 50/50 population
    // has t = |1 - 0.52| /2 + |0 - 0.48| /2 exactly
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tclose").toString
    val plant =
      (1 to 26).map(i => (i.toLong, s"c$i", 1, 500.0, "AUTOMOBILE")) ++
      (27 to 50).map(i => (i.toLong, s"c$i", 2, 500.0, "BUILDING"))
    plant.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val p = graft.operators.Profile.q252TCloseness(spark, dir)
      .collect().map(r => r.getDouble(0) -> r).toMap
    // class 1: all AUTOMOBILE vs global 26/50 -> t = 24/50; class 2:
    // all BUILDING vs 24/50 -> t = 26/50; both above every bar
    assert(math.abs(p(0.1).getDouble(5) - 26.0 / 50.0) < 1e-9)
    Seq(0.1, 0.2, 0.3).foreach { b =>
      assert(p(b).getLong(3) == 2L && p(b).getLong(4) == 50L, s"bar $b")
    }
  }

  test("q231 template similarity replays from plain-Scala shingle sets") {
    val docs = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      val k = math.max(ws.length - 3, 1)
      (0 until k).map(i => ws.slice(i, i + 4).mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._2)
    val got = run("q231_template_similarity").collect()
      .map(r => r.getString(0) -> r).toMap
    bySrc.foreach { case (src, xs) =>
      val ordered = xs.sortBy(_._1)
      val pairs = ordered.sliding(2).filter(_.length == 2).map { w =>
        val (a, b) = (shingles(w(0)._3), shingles(w(1)._3))
        val inter = (a intersect b).size
        BigDecimal(inter.toDouble / (a.size + b.size - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toSeq
      if (pairs.nonEmpty) {
        val r = got(src)
        assert(r.getLong(1) == pairs.length.toLong, s"$src n_pairs")
        val mean = pairs.map(j => math.round(j * 1e6)).sum.toDouble / pairs.length / 1e6
        assert(math.abs(r.getDouble(2) - mean) < 2e-6, s"$src mean")
        assert(math.abs(r.getDouble(3) - pairs.max) < 2e-6, s"$src max")
        assert(r.getLong(4) == pairs.count(_ >= 0.5).toLong)
      } else assert(!got.contains(src))
    }
  }

  test("q232 budget allocation is feasible, capped correctly, and q214-consistent") {
    val got = run("q232_budget_allocator").collect()
    assert(got.nonEmpty)
    val budget = 1e9
    var total = 0.0
    got.foreach { r =>
      val (supply, alloc, capped) = (r.getLong(1), r.getDouble(4), r.getLong(5))
      assert(alloc <= supply + 0.01, s"${r.getString(0)}: never exceed supply")
      if (capped == 1L) assert(math.abs(alloc - supply) < 0.01, "capped = full supply")
      if (!r.isNullAt(6)) assert(r.getDouble(6) <= 1.0 + 1e-9, "epochs <= 1")
      total += alloc
    }
    assert(total <= budget + 1.0, "never over-allocate the budget")
    // the temperature weights ARE q214's effective weights
    val q214 = run("q214_effective_mix").collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    got.foreach { r =>
      assert(math.abs(r.getDouble(2) - q214(r.getString(0))) < 2e-6,
        s"${r.getString(0)}: mix weight must equal q214's effective weight")
    }
  }

  test("q243 executes q232's plan: rates replay exactly and spend stays in budget") {
    import org.apache.spark.sql.expressions.Window
    // independent plain-Scala water-filling replay from the raw corpus
    // (source-ordered folds, the same sequence both engines run)
    val w = Window.partitionBy("h").orderBy("doc_id")
    val canon = Tables.documents(spark, sf0001).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    val supplies = canon.groupBy("source").agg(sum("n").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val srcs = supplies.keys.toSeq.sorted
    val budget = srcs.map(supplies).sum.toDouble * 0.1
    var z = 0.0
    srcs.foreach(s => z += math.sqrt(supplies(s).toDouble))
    val wgt = srcs.map(s => s -> math.sqrt(supplies(s).toDouble) / z).toMap
    val alloc1 = srcs.map(s =>
      s -> math.min(supplies(s).toDouble, wgt(s) * budget)).toMap
    var sumA = 0.0
    srcs.foreach(s => sumA += alloc1(s))
    val leftover = budget - sumA
    var zu = 0.0
    srcs.foreach(s => if (alloc1(s) < supplies(s).toDouble) zu += wgt(s))
    val alloc2 = srcs.map { s =>
      val un = alloc1(s) < supplies(s).toDouble
      s -> (if (un && zu > 0)
        math.min(supplies(s).toDouble, alloc1(s) + wgt(s) / zu * leftover)
      else alloc1(s))
    }.toMap
    val rate = srcs.map(s => s -> math.floor(math.min(1.0,
      if (supplies(s) > 0) alloc2(s) / supplies(s).toDouble else 0.0)
      * 1000000).toLong).toMap
    val got = run("q243_budget_sample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // every emitted rate replays from the independent water-filling
    got.foreach { case (_, s, _, ppm) => assert(ppm == rate(s), s"$s rate") }
    // budget bound: the executed plan's expected token spend — every
    // source's full supply at its keep rate — never exceeds the budget
    val expected = srcs.map(s => supplies(s).toDouble * rate(s) / 1e6).sum
    assert(expected <= budget + 1e-6, s"expected spend $expected > $budget")
    // only canonical docs are sampled (a dup would double-spend)
    val canonIds = canon.select("doc_id").collect().map(_.getLong(0)).toSet
    got.foreach { case (id, _, _, _) =>
      assert(canonIds.contains(id), s"doc $id is not canonical")
    }
  }

  test("q233 stationary distribution replays via plain-Scala power iteration") {
    val trans = run("q112_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = trans.map(_._1).distinct.sorted
    val closed = trans.filter(t => states.contains(t._2))
    val totals = closed.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
    val p = closed.map(t => (t._1, t._2, t._3.toDouble / totals(t._1)))
    var pi = states.map(s => s -> 1.0 / states.length).toMap
    (1 to graft.operators.Temporal.StationaryIters).foreach { _ =>
      val s = states.map { j =>
        j -> p.filter(_._2 == j).sortBy(_._1).map(e => pi(e._1) * e._3).sum
      }.toMap
      val z = s.values.sum
      pi = s.map { case (k, v) => k -> (if (z > 0) v / z else 0.0) }
    }
    val h = states.map { i =>
      i -> p.filter(_._1 == i).sortBy(_._2)
        .map(e => -e._3 * math.log(e._3) / math.log(2.0)).sum
    }.toMap
    val rate = states.map(s => pi(s) * h(s)).sum
    val got = run("q233_stationary_dist").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == states.toSet)
    states.foreach { s =>
      assert(math.abs(got(s).getDouble(1) - pi(s)) < 2e-5, s"$s pi")
      assert(math.abs(got(s).getDouble(2) - h(s)) < 2e-5, s"$s h")
      assert(math.abs(got(s).getDouble(3) - rate) < 2e-4, "rate")
    }
    // pi is a distribution
    assert(math.abs(got.values.map(_.getDouble(1)).sum - 1.0) < 1e-4)
  }

  test("q234 k-core replays via plain-Scala peeling and nests") {
    val toks = Tables.documents(spark, sf0001)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")), greatest(col("p.w1"), col("p.w2")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    def peel(k: Int): Set[(String, String)] = {
      var es = toks.toSet
      (1 to graft.operators.Graph.CoreRounds).foreach { _ =>
        val deg = (es.toSeq.map(_._1) ++ es.toSeq.map(_._2))
          .groupBy(identity).map { case (id, xs) => id -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        es = es.filter(e => keep(e._1) && keep(e._2))
      }
      es
    }
    val got = run("q234_k_core").collect().map(r => r.getLong(0) -> r).toMap
    graft.operators.Graph.CoreKs.foreach { k =>
      val core = peel(k)
      val nodes = (core.toSeq.map(_._1) ++ core.toSeq.map(_._2)).distinct
      val r = got(k.toLong)
      assert(r.getLong(1) == nodes.size.toLong, s"k=$k nodes")
      assert(r.getLong(2) == core.size.toLong, s"k=$k edges")
    }
    // cores nest: the 3-core is a subgraph of the 2-core
    assert(got(3L).getLong(1) <= got(2L).getLong(1)
      && got(3L).getLong(2) <= got(2L).getLong(2))
  }

  test("q235 burstiness replays from exact microsecond gaps") {
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = run("q235_burstiness").collect().map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (et, xs) =>
      val gaps = xs.sortBy(x => (x._3, x._2)).sliding(2)
        .filter(_.length == 2).map(w => w(1)._3 - w(0)._3).toSeq
      if (gaps.length >= 2) {
        val n = gaps.length.toDouble
        val mean = gaps.map(g => BigInt(g)).sum.toDouble / 1e6 / n
        val sgg = gaps.map(g => BigInt(g) * BigInt(g)).sum.toDouble / 1e12
        val sgd = gaps.map(g => BigInt(g)).sum.toDouble / 1e6
        val v = (sgg - sgd * sgd / n) / (n - 1)
        val cv = math.sqrt(v) / mean
        val r = got(et)
        assert(r.getLong(1) == gaps.length.toLong)
        assert(math.abs(r.getDouble(2) - mean) < 2e-4, s"$et mean")
        assert(math.abs(r.getDouble(3) - cv) < 2e-4, s"$et cv")
        assert(math.abs(r.getDouble(4) - (cv - 1) / (cv + 1)) < 2e-4, s"$et b")
        assert(r.getDouble(4) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9)
      } else assert(!got.contains(et))
    }
  }

  test("q236 type co-occurrence replays from session presence") {
    val pres = Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull
        && col("event_type").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .distinct().collect()
      .map(r => ((r.getLong(0), r.getDate(1).toString), r.getString(2)))
    val sessions = pres.map(_._1).distinct
    val byType = pres.groupBy(_._2).map { case (t, xs) => t -> xs.length }
    val got = run("q236_type_cooccurrence").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pairs are ordered")
      val bySess = pres.groupBy(_._1)
      val both = bySess.count { case (_, xs) =>
        val ts = xs.map(_._2).toSet; ts(a) && ts(b) }
      assert(r.getLong(2) == both.toLong, s"($a,$b) n_both")
      assert(r.getLong(3) == byType(a).toLong && r.getLong(4) == byType(b).toLong)
      assert(r.getLong(5) == sessions.length.toLong)
      val lift = both.toDouble * sessions.length / (byType(a).toDouble * byType(b))
      assert(math.abs(r.getDouble(6) - lift) < 2e-4, s"($a,$b) lift")
      assert(math.abs(r.getDouble(7) - math.log(lift)) < 2e-4, s"($a,$b) pmi")
    }
  }

  test("q237 quality deciles are exact order statistics per source") {
    val byS = graft.operators.TextAnalysis.qualityScored(
        Tables.documents(spark, sf0001).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"), round(col("quality") * 1000000, 0).cast("long").as("q6"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted }
    val got = run("q237_quality_deciles").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (src, d) = (r.getString(0), r.getLong(1).toInt)
      val xs = byS(src)
      val k = (d.toLong * xs.length + 9) / 10 // ceil(d*n/10)
      assert(r.getLong(3) == xs.length.toLong)
      assert(math.abs(r.getDouble(2) - xs(k.toInt - 1) / 1e6) < 1e-9,
        s"$src decile $d must be the exact ${k}th order statistic")
    }
    // deciles are monotone within a source
    got.groupBy(_.getString(0)).values.foreach { rs =>
      val vals = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(vals.sliding(2).forall(w => w.length < 2 || w(1) >= w(0) - 1e-12))
    }
  }

  test("q238 length-adjusted quality standardizes to the corpus mix") {
    val rows = graft.operators.TextAnalysis.qualityScored(
        Tables.documents(spark, sf0001).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"), round(col("quality") * 1000000, 0).cast("long").as("q6"),
        col("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.min(r.getLong(2) / 64, 9L)))
    val n = rows.length.toDouble
    val wb = rows.groupBy(_._3).map { case (b, xs) => b -> xs.length / n }
    val got = run("q238_length_adjusted_quality").collect()
    got.foreach { r =>
      val src = r.getString(0)
      val mine = rows.filter(_._1 == src)
      assert(r.getLong(1) == mine.length.toLong)
      val raw = mine.map(x => BigInt(x._2)).sum.toDouble / 1e6 / mine.length
      assert(math.abs(r.getDouble(2) - raw) < 2e-6, s"$src raw")
      val byB = mine.groupBy(_._3)
      val num = byB.map { case (b, xs) =>
        wb(b) * (xs.map(x => BigInt(x._2)).sum.toDouble / 1e6 / xs.length) }.sum
      val den = byB.keys.map(wb).sum
      assert(math.abs(r.getDouble(3) - num / den) < 2e-5, s"$src adjusted")
      assert(math.abs(r.getDouble(4) - (num / den - raw)) < 2e-4, s"$src effect")
    }
  }

  test("q239 deseasonalized anomalies replay from dow indexes") {
    val daily = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("event_type").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 1000, 0).cast("long")).as("y3"))
      .select(col("event_type"), col("d"), col("y3"), dayofweek(col("d")).as("dow"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getInt(3)))
    val got = run("q239_deseasonalized_anomaly").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    daily.groupBy(_._1).foreach { case (et, xs) =>
      val st = xs.map(x => BigInt(x._3)).sum.toDouble
      val nt = xs.length.toDouble
      val adj = xs.map { x =>
        val dws = xs.filter(_._4 == x._4)
        val idx = (dws.map(y => BigInt(y._3)).sum.toDouble / dws.length) / (st / nt)
        (x._2, x._3 / 1000.0 / idx, idx)
      }
      val n = adj.length.toDouble
      val mean = adj.map(_._2).sum / n
      val sd = math.sqrt(adj.map(a => (a._2 - mean) * (a._2 - mean)).sum / (n - 1))
      adj.foreach { case (day, a, idx) =>
        val r = got((et, day))
        assert(math.abs(r.getDouble(3) - idx) < 2e-4, s"$et $day idx")
        assert(math.abs(r.getDouble(4) - a) < 2e-3, s"$et $day adj")
        if (sd > 0) assert(math.abs(r.getDouble(5) - (a - mean) / sd) < 2e-3)
      }
    }
  }

  test("q240 daily latency percentiles are exact picks and p50 <= p90") {
    val got = run("q240_daily_latency").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-12, s"${r.getString(0)}")
      assert(r.getLong(1) > 0)
    }
    // cross-check the corpus-wide median day against q127's percentile
    // machinery: every daily p50 is a real observed delta
    val deltas = run("q240_daily_latency").collect().map(_.getDouble(2))
    assert(deltas.forall(_ >= 0.0))
  }

  test("q241 dup trend conserves the corpus and replays on a planted re-crawl") {
    import spark.implicits._
    val got = run("q241_dup_trend").collect()
    val total = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull).count()
    assert(got.map(_.getLong(1)).sum == total, "deciles partition the corpus")
    assert(got.forall(r => r.getLong(2) <= r.getLong(1)))
    // planted staleness: second half re-crawls the first half verbatim
    val dir = java.nio.file.Files.createTempDirectory("graft-dtrend").toString
    (0 until 100).map(i =>
      (i.toLong, s"fresh text number ${i % 50} padded", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q241_dup_trend")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    (0L to 4L).foreach(d => assert(planted(d) == 0.0, s"first half fresh: $d"))
    (5L to 9L).foreach(d => assert(planted(d) == 1.0, s"second half stale: $d"))
  }

  test("q207 effective-data fraction replays from java-MD5 canonicals") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val canonical = docs.groupBy(d => md5hex(d._3)).values
      .map(_.minBy(_._1)._1).toSet
    val got = run("q207_effective_data").collect()
      .map(r => r.getString(0) -> r).toMap
    docs.groupBy(_._2).foreach { case (src, xs) =>
      val total = xs.map(_._3.split(" ", -1).length.toLong).sum
      val eff = xs.filter(d => canonical(d._1))
        .map(_._3.split(" ", -1).length.toLong).sum
      val r = got(src)
      assert(r.getLong(1) == xs.length &&
        r.getLong(2) == xs.count(d => canonical(d._1)), s"$src counts")
      assert(r.getLong(3) == total && r.getLong(4) == eff, s"$src tokens")
      assert(math.abs(r.getDouble(5) - eff.toDouble / total) < 2e-6)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("q208 modality coverage replays via an independent intersect") {
    val vec = Tables.embeddings(spark, sf0001)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    val got = run("q208_modality_coverage").collect()
      .map(r => r.getString(0) -> r).toMap
    Tables.documents(spark, sf0001).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2)
      .foreach { case (src, xs) =>
        val r = got(src)
        assert(r.getLong(1) == xs.length)
        assert(r.getLong(2) == xs.count(d => vec(d._1)), s"$src embedded")
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      }
  }

  test("q209 funnel CI: rates match q102 and the Wilson band replays") {
    val q102 = run("q102_event_funnel").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val rows = run("q209_funnel_ci").collect()
    assert(rows.length == 2)
    val z = 1.959964
    rows.foreach { r =>
      val (nDen, nNum) = (r.getLong(2), r.getLong(3))
      // denominators/numerators ARE the q102 stage populations
      assert(nDen == q102(r.getLong(0))._1 && nNum == q102(r.getLong(0) + 1)._1)
      assert(math.abs(r.getDouble(4) - q102(r.getLong(0) + 1)._2) < 2e-6,
        "rate equals q102's conversion")
      val n = nDen.toDouble; val p = nNum.toDouble / n; val z2 = z * z
      val center = (p + z2 / (2 * n)) / (1 + z2 / n)
      val half = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n)
      assert(math.abs(r.getDouble(5) - (center - half)) < 2e-6, "wilson_lo")
      assert(math.abs(r.getDouble(6) - (center + half)) < 2e-6, "wilson_hi")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(6) <= 1.0 &&
        r.getDouble(5) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(6),
        "the band brackets the rate inside [0,1]")
    }
  }

  test("q210 copy flow counts planted cross-source verbatim shares") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-copyflow").toString
    val (a, b, c) = ("shared text one two three", "another shared passage", "unique")
    Seq((1L, a, "en", "wire"), (2L, b, "en", "wire"),
      (3L, a, "en", "mirror"), (4L, b, "en", "mirror"), // mirrors both
      (5L, a, "en", "blog"),                            // blog copies one
      (6L, c, "en", "blog"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.q210CopyFlow(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("mirror", "wire") -> 2L, ("blog", "mirror") -> 1L,
      ("blog", "wire") -> 1L), s"copy flow: $got")
    // corpus: ordered pairs only (the base corpus may legitimately
    // share nothing across sources)
    run("q210_copy_flow").collect().foreach { r =>
      assert(r.getString(0) < r.getString(1) && r.getLong(2) >= 1)
    }
  }

  test("q211 truncation loss replays per source and shrinks with longer contexts") {
    val docs = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val got = run("q211_truncation_loss").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    docs.groupBy(_._1).foreach { case (src, xs) =>
      Seq(128L, 512L, 2048L).foreach { m =>
        val r = got((src, m))
        assert(r.getLong(2) == xs.length)
        assert(r.getLong(3) == xs.count(_._2 > m), s"$src/$m truncated")
        assert(r.getLong(4) == xs.map(_._2).sum)
        assert(r.getLong(5) == xs.map(x => math.max(x._2 - m, 0L)).sum, s"$src/$m lost")
      }
      // longer context, strictly less loss (weakly)
      assert(got((src, 128L)).getLong(5) >= got((src, 512L)).getLong(5))
      assert(got((src, 512L)).getLong(5) >= got((src, 2048L)).getLong(5))
    }
  }

  test("q212 dedup sensitivity replays from the q49 pair set per tau") {
    val pairs = run("q49_embedding_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = run("q212_dedup_sensitivity").collect()
      .map(r => r.getDouble(0) -> r).toMap
    Seq(0.45, 0.6, 0.75).foreach { tau =>
      val sel = pairs.filter(_._3 >= tau)
      if (sel.nonEmpty) {
        val r = got(tau)
        assert(r.getLong(1) == sel.length, s"tau $tau pairs")
        assert(r.getLong(2) ==
          sel.flatMap(p => Seq(p._1, p._2)).distinct.length, s"tau $tau docs")
        assert(r.getLong(2) <= 2 * r.getLong(1))
      } else assert(!got.contains(tau))
    }
    // the curve is the point: counts weakly decrease in tau
    val present = got.toSeq.sortBy(_._1).map(_._2)
    present.sliding(2).foreach {
      case Seq(x, y) => assert(x.getLong(1) >= y.getLong(1))
      case _ =>
    }
  }

  test("q213 weighted sample replays exactly and oversamples heavy docs") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val hexDigits = "0123456789abcdef"
    val docs = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && col("n_chars") > 0)
      .select("doc_id", "text", "n_chars").collect()
      .map { r =>
        val h = md5hex(s"${r.getLong(0)}:${r.getString(1)}")
        val uInt = (0 until 12).map(i =>
          (hexDigits.indexOf(h(i)).toLong) * (1L << (4 * (11 - i)))).sum
        val key = math.log((uInt + 1.0) / 281474976710657.0) / r.getLong(2)
        (r.getLong(0), r.getLong(2), key)
      }
    val want = docs.sortBy(d => (-d._3, d._1)).take(100)
    val got = run("q213_weighted_sample").collect()
    assert(got.length == 100)
    got.zip(want).zipWithIndex.foreach { case ((r, (id, w, key)), i) =>
      assert(r.getLong(0) == i + 1 && r.getLong(1) == id && r.getLong(3) == w,
        s"rank ${i + 1}: $r vs ($id, w=$w)")
      assert(math.abs(r.getDouble(4) - key) < 1e-9)
    }
    // the weighting works: sampled docs are heavier than average
    val sampleMeanW = got.map(_.getLong(3)).sum.toDouble / got.length
    val corpusMeanW = docs.map(_._2).sum.toDouble / docs.length
    assert(sampleMeanW > corpusMeanW,
      s"A-ES must oversample heavy docs: $sampleMeanW vs $corpusMeanW")
  }

  test("q214 effective mix: weights normalize and dup-heavy sources lose quota") {
    val rows = run("q214_effective_mix").collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4, "raw weights sum 1")
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-4, "eff weights sum 1")
    assert(math.abs(rows.map(_.getDouble(5)).sum) < 1e-4, "shifts are zero-sum")
    // consistency with q207's masses
    val eff = run("q207_effective_data").collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    rows.foreach { r =>
      val (total, effective) = eff(r.getString(0))
      assert(r.getLong(1) == total && r.getLong(2) == effective)
      assert(math.abs(r.getDouble(5) - (r.getDouble(4) - r.getDouble(3))) < 2e-6)
    }
    // planted check: a source that is pure re-crawl must LOSE weight
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-effmix").toString
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    (Seq((1L, text, "en", "dupfeed"), (2L, text, "en", "dupfeed"),
      (3L, text, "en", "dupfeed"), (4L, text + " fresh", "en", "clean"))
      .toDF("doc_id", "text", "lang", "source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val planted = graft.operators.TextAnalysis.q214EffectiveMix(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(planted("dupfeed").getDouble(5) < 0, "re-crawl feed loses quota")
    assert(planted("clean").getDouble(5) > 0, "clean feed gains the difference")
  }

  test("q215 clustering coefficient replays from q117's triangle counts") {
    val triTotal = run("q117_triangles").collect().map(_.getLong(1)).sum / 3
    val pairs = Tables.documents(spark, sf0001)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")), greatest(col("p.w1"), col("p.w2")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val deg = pairs.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (_, v) => v.length.toLong }
    val wedges = deg.map(d => d * (d - 1) / 2).sum
    val r = run("q215_clustering_coefficient").head()
    assert(r.getLong(0) == deg.size && r.getLong(1) == pairs.length)
    assert(r.getLong(2) == triTotal, s"triangles ${r.getLong(2)} vs $triTotal")
    assert(r.getLong(3) == wedges)
    val c = 3.0 * triTotal / wedges
    assert(math.abs(r.getDouble(4) - c) < 2e-6)
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0,
      "a co-occurrence graph closes triangles")
  }
}
