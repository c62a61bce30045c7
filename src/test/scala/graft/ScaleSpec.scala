package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path mechanics: bucketed joins must plan without shuffle
  * exchanges; layouts and guards must prune or degrade without
  * changing answers. */
class ScaleSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val orders = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    Fixtures.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Fixtures.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected exchange-free bucketed join, got:\n$plan")
      // and it computes the right thing
      assert(joined.count() == Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned writes enable partition pruning on read") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").resolve("events").toString
    Tables.events(spark, sf0001)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // AQE wraps the plan and re-instantiates scans; disable it here so
    // the executed tree (and its metrics) is directly inspectable.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = spark.read.parquet(out).filter(col("day") === "2024-01-02")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("day#"),
        s"expected partition filter in scan:\n$plan")
      assert(pruned.collect().length ==
        Tables.events(spark, sf0001).filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-02").count())
      // pruning is real: the scan touched exactly 1 of 30 partition files
      val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.metrics("numFiles").value == 1L,
        s"expected 1 file scanned, got ${scan.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("day-partitioned events layout reads transparently and date bounds prune the scan") {
    // at 100 TB events is the one table that grows without bound; the
    // day-partitioned layout (Fixtures.writeEventsPartitionedByDay) read
    // through eventsBetween must turn a day bound into directory pruning while
    // Tables.events keeps presenting the flat-layout schema
    val dir = java.nio.file.Files.createTempDirectory("graft-evpart").toString
    Fixtures.writeEventsPartitionedByDay(spark, sf0001, s"$dir/events.parquet")
    val flat = Tables.events(spark, sf0001)
    val part = Tables.events(spark, dir)
    assert(part.schema == flat.schema,
      s"partitioned layout must present the flat schema, got ${part.schema}")
    assert(part.exceptAll(flat).isEmpty && flat.exceptAll(part).isEmpty,
      "both layouts must decode to identical rows")
    // and a declared event query is oblivious to the layout switch
    assert(SparkEntry.queries("q101_retention_cohorts")(spark, dir)
        .collect().map(_.toSeq).toSeq ==
      SparkEntry.queries("q101_retention_cohorts")(spark, sf0001)
        .collect().map(_.toSeq).toSeq,
      "q101 must return identical rows over the partitioned layout")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bounded = Tables.eventsBetween(spark, dir, "2024-01-02", "2024-01-04")
      val flatBounded = Tables.eventsBetween(spark, sf0001, "2024-01-02", "2024-01-04")
      assert(bounded.exceptAll(flatBounded).isEmpty && flatBounded.exceptAll(bounded).isEmpty,
        "day bounds must be row-exact across layouts")
      assert(bounded.count() > 0, "fixture must have events in the bounded days")
      val scan = bounded.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.partitionFilters.nonEmpty,
        "date bounds must reach the scan as PartitionFilters")
      // pruning is real: one file per day directory, two days in bounds
      bounded.collect()
      assert(scan.metrics("numFiles").value == 2L,
        s"expected 2 of ~30 day files scanned, got ${scan.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("declared q108 prunes day directories on the partitioned layout") {
    // VERDICT r05 task 3: the pruning proof must cover the DECLARED
    // query, not only the eventsBetween helper — q108 pointed at a
    // partitioned tree must read exactly its 7 bounded day files and
    // return the same rows as over the flat driver layout
    val dir = java.nio.file.Files.createTempDirectory("graft-q108").toString
    Fixtures.writeEventsPartitionedByDay(spark, sf0001, s"$dir/events.parquet")
    val run = SparkEntry.queries("q108_day_bounded_window")
    val flatRows = run(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(flatRows.nonEmpty, "fixture must have events in the q108 week")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val part = run(spark, dir)
      assert(part.collect().map(_.toSeq).toSeq == flatRows,
        "q108 must return identical rows over the partitioned layout")
      val scan = part.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.partitionFilters.nonEmpty,
        "q108's day bounds must reach the scan as PartitionFilters")
      assert(scan.metrics("numFiles").value == 7L,
        s"expected the 7 bounded day files, got ${scan.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("runtime bloom filter from a selective dimension side prunes the fact scan") {
    // at 100 TB the single biggest join lever after broadcast is the
    // runtime (bloom) filter: the selective side's keys are sketched and
    // pushed into the big side's scan. Thresholds are sized for clusters,
    // so force them down to demonstrate the plan shape at test scale.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // creationSideThreshold is a MAX (creation side must be smaller than it);
    // applicationSideScanSizeThreshold is a MIN (big side must be larger).
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // SMJ: filter actually matters
    try {
      val orders = Tables.orders(spark, sf0001)
        .filter(col("o_totalprice") > 400000).select("o_orderkey")
      val joined = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
      // and the filtered join is still exact
      val expected = Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001).filter(col("o_totalprice") > 400000),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("approx_percentile tracks exact rank within the sketch bound (q51's 100 TB path)") {
    // q51's exact percentile buffers EVERY group value in the aggregation
    // state — fine at bench scale, memory-unbounded at 100 TB. The scale
    // path is the GK sketch (approx_percentile), whose contract is a RANK
    // error <= n/accuracy. Assert that contract holds here so the
    // documented swap is a measured claim, not an assumption.
    val df = Tables.lineitem(spark, sf0001).select("l_extendedprice")
    val n = df.count()
    val accuracy = 1000
    val approx = df.agg(
      expr(s"approx_percentile(l_extendedprice, 0.9, $accuracy)")).head().getDouble(0)
    val rank = df.filter(col("l_extendedprice") <= approx).count()
    val rankErr = math.abs(rank - 0.9 * n)
    assert(rankErr <= 2.0 * n / accuracy,
      s"approx p90 rank off by $rankErr of $n rows (bound ${2.0 * n / accuracy})")
  }

  test("model broadcast guard: web-scale vocab degrades to a shuffle join, same result") {
    import graft.operators.{Guard, TextAnalysis}
    // Default: the model table is tiny -> broadcast path (today's plan).
    val viaBroadcast = TextAnalysis.q71UnigramLogProb(spark, sf0001).collect().toSeq
    // Simulate an amplified web-scale vocabulary by dropping the row
    // bound to 1: the guard must NOT hint, and with the broadcast
    // threshold disabled the model join must plan as a shuffle join
    // instead of OOMing the driver on a forced broadcast.
    val prevBound = spark.conf.getOption(Guard.maxModelRowsKey)
    val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(Guard.maxModelRowsKey, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = TextAnalysis.q71UnigramLogProb(spark, sf0001)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the vocab join to degrade to a shuffle join:\n$plan")
      assert(guarded.collect().toSeq == viaBroadcast,
        "shuffle-join path must produce the broadcast path's exact rows")
    } finally {
      prevBound match {
        case Some(v) => spark.conf.set(Guard.maxModelRowsKey, v)
        case None    => spark.conf.unset(Guard.maxModelRowsKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
    }
  }

  test("q70 decontamination probe degrades to a shuffle join past the guard, same result") {
    import graft.operators.{Guard, TextAnalysis}
    // the eval shingle table is corpus-derived (the q64/q71/q74 class):
    // both guard branches must flag exactly the same documents
    val viaBroadcast = TextAnalysis.q70Decontaminate(spark, sf0001).collect().toSeq
    val prevBound = spark.conf.getOption(Guard.maxModelRowsKey)
    val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(Guard.maxModelRowsKey, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = TextAnalysis.q70Decontaminate(spark, sf0001)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the eval-shingle probe to degrade to a shuffle join:\n$plan")
      assert(guarded.collect().toSeq == viaBroadcast,
        "shuffle-join path must flag the broadcast path's exact rows")
    } finally {
      prevBound match {
        case Some(v) => spark.conf.set(Guard.maxModelRowsKey, v)
        case None    => spark.conf.unset(Guard.maxModelRowsKey)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
    }
  }

  test("q79 two-level tie rank matches a global rank on a 90%-one-value corpus") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    // Planted pathological corpus: 90% of docs share ONE quality value
    // (identical boilerplate), doc_ids deliberately NOT contiguous so the
    // range-group sub-salt sees many groups within the tie.
    import spark.implicits._
    val n = 5000
    val planted = (0 until n).map { i =>
      val docId = i.toLong * 37 // sparse ids
      val q = if (i % 10 == 0) math.rint(i.toDouble / n * 1e6) / 1e6 else 0.5
      (docId, (i % 300 + 1).toLong, q)
    }.toDF("doc_id", "n_tokens", "quality")
    val got = TextAnalysis.curriculumBins(spark, planted, nBins = 10).collect().toSeq
    // Naive reference: one global window (fine at test size, the exact
    // shape q79 exists to avoid at scale).
    val ranked = planted.withColumn("rnk",
      row_number().over(Window.orderBy(desc("quality"), asc("doc_id"))))
    val totals = planted.agg(count(lit(1)).as("total_docs"),
      sum("n_tokens").as("total_tokens"))
    val expected = ranked.crossJoin(totals)
      .withColumn("bin", expr("(rnk - 1) * 10 div total_docs") + 1L)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        round(avg("quality"), 6).as("avg_quality"),
        max("total_tokens").as("total_tokens"))
      .withColumn("cum_token_share",
        round(sum("sum_tokens").over(
          Window.orderBy("bin").rowsBetween(Long.MinValue, 0)) / col("total_tokens"), 6))
      .select("bin", "n_docs", "sum_tokens", "avg_quality", "cum_token_share")
      .orderBy("bin").collect().toSeq
    assert(got == expected)
  }

  test("q79 two-level tie rank matches a global rank on random tie profiles") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // three seeded corpora spanning tie regimes: all-unique qualities,
    // heavy ties over few values, and mixed — the two-level assembly
    // must equal the naive global window on each
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val nVals = seed match { case 1 => 10000; case 7 => 3; case _ => 50 }
      val planted = (0 until 3000).map { i =>
        (rnd.nextLong(1L << 40).abs, (rnd.nextInt(500) + 1).toLong,
          math.rint(rnd.nextInt(nVals).toDouble / nVals * 1e6) / 1e6)
      }.distinct.map { case (id, t, q) => (id, t, q) }
        .toDF("doc_id", "n_tokens", "quality")
      val got = TextAnalysis.curriculumBins(spark, planted, nBins = 7).collect().toSeq
      val totals = planted.agg(count(lit(1)).as("total_docs"),
        sum("n_tokens").as("total_tokens"))
      val expected = planted.withColumn("rnk",
          row_number().over(Window.orderBy(desc("quality"), asc("doc_id"))))
        .crossJoin(totals)
        .withColumn("bin", expr("(rnk - 1) * 7 div total_docs") + 1L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          round(avg("quality"), 6).as("avg_quality"),
          max("total_tokens").as("total_tokens"))
        .withColumn("cum_token_share",
          round(sum("sum_tokens").over(
            Window.orderBy("bin").rowsBetween(Long.MinValue, 0)) / col("total_tokens"), 6))
        .select("bin", "n_docs", "sum_tokens", "avg_quality", "cum_token_share")
        .orderBy("bin").collect().toSeq
      assert(got == expected, s"seed $seed (${nVals} quality values)")
    }
  }

  test("bigram LM fit keeps at most one corpus cached (LRU of 1)") {
    import graft.operators.TextAnalysis
    import org.apache.spark.storage.StorageLevel
    val mA = TextAnalysis.fitBigramLm(spark, sf0001)
    assert(mA.uniH.storageLevel != StorageLevel.NONE, "fresh fit must be cached")
    // Fitting a SECOND corpus must evict the first corpus' blocks: a long
    // session touching many corpora holds at most one model in storage.
    val otherDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-lm2")
      Tables.documents(spark, sf0001).limit(50)
        .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
      d.toString
    }
    val mB = TextAnalysis.fitBigramLm(spark, otherDir)
    assert(TextAnalysis.lmCachedDirs(spark) == Set(otherDir))
    assert(mA.uniH.storageLevel == StorageLevel.NONE,
      "previous corpus' unigram table must be unpersisted")
    assert(mA.biH.storageLevel == StorageLevel.NONE,
      "previous corpus' bigram table must be unpersisted")
    assert(mB.uniH.storageLevel != StorageLevel.NONE)
    // refit the original so later suites (q74 oracle) see a warm model
    TextAnalysis.fitBigramLm(spark, sf0001)
    assert(TextAnalysis.lmCachedDirs(spark) == Set(sf0001))
  }

  test("q224 nprobe sweep: corpus side only ever joins broadcast probe frames") {
    // the sweep's big side (assigned members) must stream past
    // BROADCAST probe/centroid/size frames; a SortMergeJoin anywhere
    // means a corpus shuffle onto a key the sweep doesn't need
    val plan = SparkEntry.queries("q224_nprobe_sweep")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe frames must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus must never shuffle into a sweep join:\n$plan")
  }

  test("q242 K sweep: every per-K pipeline joins the corpus by broadcast only") {
    // four fits is the product being costed; what must NOT scale with
    // the corpus is the join shape — each K's members stream past
    // broadcast probe/centroid/size frames exactly like q224's
    val plan = SparkEntry.queries("q242_k_sweep")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe frames must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus must never shuffle into a sweep join:\n${plan.take(2000)}")
  }

  test("q225 PQ distortion rides the scan: native encode, no corpus join at all") {
    // round 14 tightened this contract: the codebook used to broadcast-
    // join the PqK-way exploded corpus; it now rides INSIDE the native
    // pq_encode_l2 projection, so the plan has no join of any kind and
    // the only exchange is the O(PqM)-group distortion aggregate
    val plan = SparkEntry.queries("q225_pq_distortion")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode_l2"), s"codes must come from the native encode:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"the coding pass must not join the corpus to anything:\n$plan")
    assert(!plan.contains("Window"),
      s"the argmin must not rank via a window:\n$plan")
  }

  test("q84 BQ retrieval: corpus joins the query block by broadcast, never by shuffle or cartesian") {
    // the q84/q34 contract: the corpus side streams past a broadcast
    // query block — a SortMergeJoin (corpus shuffle on a join key it
    // doesn't have) or a CartesianProduct (corpus × corpus) would mean
    // the contract broke and the plan cannot survive a 100× corpus
    val plan = SparkEntry.queries("q84_binary_quant_knn")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query block must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must never shuffle into the join or pair with itself:\n$plan")
  }

  test("q97 weighted sample plans as scan + TakeOrdered with zero exchanges") {
    // the A-Res draw must stay a per-partition top-k merge: any
    // Exchange here means the corpus is being shuffled to sort, which
    // cannot survive a 100× scale-up
    val plan = SparkEntry.queries("q97_weighted_sample")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$plan")
    assert(!plan.contains("Exchange"), s"the draw must not shuffle the corpus:\n$plan")
  }

  test("q100 padding report partial-aggregates before its one tiny exchange") {
    // one scan into <= ~20 bucket groups: the only exchange carries
    // partial aggregates, never rows
    val plan = SparkEntry.queries("q100_padding_waste")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial_sum")
      || plan.contains("HashAggregate"), s"map-side combine must run:\n$plan")
    assert(plan.split("Exchange").length - 1 <= 2,
      s"at most the aggregate + sort exchanges:\n$plan")
  }

  test("q104 drift partial-aggregates the exploded stream before one O(d) exchange") {
    // the conditional aggregates must combine map-side: the only
    // exchange carries O(dims) partial buffers per partition, never
    // the exploded (dim, x) stream — the property that keeps the
    // drift monitor one cheap pass at any corpus size
    val plan = SparkEntry.queries("q104_embedding_drift")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_avg") || plan.contains("partial_var")
      || plan.contains("HashAggregate"), s"map-side combine must run:\n$plan")
    assert(plan.split("Exchange").length - 1 <= 2,
      s"at most the aggregate + sort exchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), s"no corpus-sized join:\n$plan")
  }

  test("q33, q264 and q49 pair generators plan no ObjectHashAggregate and no nested-loop join") {
    // candidate pairs come from the sort-run scan (Dedup.bucketPairs);
    // an ObjectHashAggregate would be the collect_list bucket form back,
    // sort-based past 128 keys, and a nested loop an all-pairs join
    for (q <- Seq("q33_ngram_jaccard", "q264_winnowed_dedup", "q49_embedding_neardup")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("NestedLoopJoin")
        && !plan.contains("CartesianProduct"), s"$q:\n$plan")
      if (q.startsWith("q33"))
        assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
          s"q33's two size sides must broadcast under the statistics guard:\n$plan")
    }
  }

  test("q105 whitened near-dup never plans an all-pairs join") {
    // the q49 guarantee must survive the whitening front end: candidate
    // pairs come from band buckets (hash exchanges), never a nested
    // loop over vector pairs
    val plan = SparkEntry.queries("q105_whitened_neardup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), s"no all-pairs join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-200 must be TakeOrdered, not a full sort:\n$plan")
  }

  test("bucketed snapshots make the q106 delta join exchange-free") {
    // the fingerprint full-outer join must inherit the bucket layout:
    // two snapshots written bucketed by doc_id plan a SortMergeJoin
    // with NO hash exchange — the property that makes a daily delta a
    // scan-sized job at 100 TB (the only exchange left is the
    // delta-sized output sort)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val rev = graft.operators.TextAnalysis.syntheticRevision(docs)
    Fixtures.writeBucketed(docs, "b_snap_a", "doc_id", 4)
    Fixtures.writeBucketed(rev, "b_snap_b", "doc_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val delta = graft.operators.TextAnalysis.snapshotDelta(
        spark.table("b_snap_a"), spark.table("b_snap_b"))
      val plan = delta.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed delta must not shuffle either snapshot:\n$plan")
      val want = SparkEntry.queries("q106_snapshot_delta")(spark, sf0001).collect().toSeq
      assert(delta.collect().toSeq == want, "bucketed path must return the same delta")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("PQ / IVF retrieval and q115 re-rank plan broadcast-only corpus joins") {
    // the probe tables (LUT, shortlist, probed cells) are bounded by
    // construction; the corpus side must stream past them — a
    // SortMergeJoin here means the corpus shuffles and the plan dies
    // at a 100× corpus
    Seq("q114b_pq_adc_topk", "q115_pq_rerank", "q119_ivf_search").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: probe side must broadcast:\n${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$q: corpus must not shuffle-join:\n${plan.take(1500)}")
    }
  }

  test("q111 SCD2 reuses one user-keyed exchange across window, groupBy and lead") {
    // the change-marker window partitions by user_id; the run groupBy
    // keys (user_id, version, state) and the lead window (user_id) are
    // both satisfied by that clustering, so EnsureRequirements must
    // not insert further hashpartitioning exchanges — the whole build
    // is ONE shuffle however many events there are
    val plan = SparkEntry.queries("q111_scd2")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1, s"q111: want exactly 1 exchange, got $exchanges:\n${plan.take(1500)}")
  }

  test("bucketed snapshot + feed make mergeSnapshot's anti join exchange-free") {
    // the CDC-apply cost model (mergeApply scaladoc): with snapshot and
    // feed bucketed by doc_id, the MERGE's anti join inherits the
    // layout — SortMergeJoin with NO hash exchange, so each version
    // write is scan-sized at 100 TB
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val feed = graft.operators.TextAnalysis.revisionChangeFeed(docs)
    Fixtures.writeBucketed(docs, "b_merge_t", "doc_id", 4)
    Fixtures.writeBucketed(feed, "b_merge_c", "doc_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val merged = graft.operators.TextAnalysis.mergeSnapshot(
        spark.table("b_merge_t"), spark.table("b_merge_c"))
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
        s"expected a sort-merge anti join:\n${plan.take(1500)}")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed merge must not shuffle snapshot or feed:\n${plan.take(1500)}")
      val got = merged.select(col("doc_id"), md5(col("text")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = SparkEntry.queries("q131_merge_upsert")(spark, sf0001)
        .select("doc_id", "h")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, "bucketed merge must return the exact q131 snapshot")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q122 attribution plans one user-keyed exchange; the credit rollup is map-combined") {
    // the IGNORE-NULLS trailing window partitions by user_id; the final
    // touch-type groupBy has O(|types|) output, so its exchange carries
    // partial-aggregated counters, and no second corpus-sized
    // hashpartitioning may appear
    val qe = SparkEntry.queries("q122_attribution")(spark, sf0001).queryExecution
    val plan = qe.executedPlan.toString
    val userExchanges = plan.split("Exchange hashpartitioning\\(user_id").length - 1
    assert(userExchanges == 1, s"q122: want 1 user exchange:\n${plan.take(1500)}")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"credit rollup must partial-aggregate:\n${plan.take(1500)}")
  }

  test("q124 basket pairs join only broadcasts after the pattern histogram") {
    // everything downstream of the one order-keyed build must be
    // broadcast joins over bounded tables — a shuffle join there would
    // mean the corpus leaked past the histogram collapse
    val plan = SparkEntry.queries("q124_market_basket")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"q124 downstream joins must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q129 interval lookup is a user equi-join, not a cross product") {
    // the range residual (from_us <= p < to_us) must ride on the
    // user_id equi-join as a post-join filter — a missing equi-key
    // would plan a cartesian/BNLJ over purchases × intervals
    val plan = SparkEntry.queries("q129_interval_lookup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q129 must plan an equi-join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q129 must not degrade to a loop join:\n${plan.take(1500)}")
  }

  test("q130 profile: per-column jobs scan one pruned column each, no Expand anywhere") {
    // round-14 contract: the profiler submits one independent
    // single-column aggregation per column (concurrently), so the
    // DECLARED frame is the O(columns) driver-assembled result — no
    // corpus scan, and in particular no Expand (the old N-distinct
    // single Aggregate fanned every row out N+1 ways)
    val plan = SparkEntry.queries("q130_profile")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"q130 declared frame must be the local assembled result:\n${plan.take(1500)}")
    assert(!plan.contains("Expand"),
      s"q130 must not plan via Expand:\n${plan.take(1200)}")
    // the per-column job shape (what profileWith submits): Expand-free
    // two-phase aggregation over ONLY its own parquet column
    val one = Tables.lineitem(spark, sf0001)
      .agg(count(lit(1)), count(col("l_quantity")),
        countDistinct(col("l_quantity")))
      .queryExecution.executedPlan
    val oneS = one.toString
    assert(!oneS.contains("Expand"),
      s"single-column profile job must plan Expand-free:\n${oneS.take(1500)}")
    val read = oneS.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && !read.contains("l_extendedprice"),
      s"profile job must scan only its own column, got: $read")
  }

  test("q138 skew report takes its top-10 shares via TakeOrdered, never a global sort") {
    // the report exists to DIAGNOSE skew, so it must not itself plan a
    // skew-prone shape: the top-10 over each key histogram has to be a
    // TakeOrderedAndProject (O(10) per partition, merged on the
    // driver), and the histograms themselves partial-aggregated
    val plan = SparkEntry.queries("q138_skew_report")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q138 top-10 must be TakeOrdered:\n${plan.take(1500)}")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"q138 histograms must map-side combine:\n${plan.take(1500)}")
    // the only Sort allowed is inside TakeOrdered / the final 3-row
    // output ordering — never a Sort over a key histogram feeding the
    // shares (that would be the global-sort antipattern at 100 TB)
    assert(!plan.contains("WindowExec"),
      s"q138 must not rank via a window:\n${plan.take(1500)}")
  }

  test("q140 equi-depth histogram bins WITHOUT a global-rank window or a single-task percentile") {
    // the ntile(10) formulation moves the corpus to ONE partition
    // (WindowExec with no partition keys), and Spark's exact
    // `percentile` aggregate buffers the whole near-unique column into
    // ONE merge task. Round-14 shape: boundaries come from a
    // range-partitioned distributed sort at build time (an O(1) local
    // array), so the DECLARED plan is one binning scan with the 1-row
    // boundary array broadcast over it — no Window, no percentile.
    val df = SparkEntry.queries("q140_equidepth_hist")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q140 must not plan a rank window:\n${plan.take(1500)}")
    assert(!plan.toLowerCase.contains("percentile"),
      s"q140 must not buffer the column in a percentile aggregate:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("Broadcast"),
      s"q140 boundaries must broadcast back over the scan:\n${plan.take(1500)}")
    val scans = plan.split("Scan parquet").length - 1
    assert(scans == 1,
      s"q140: exactly the binning pass, got $scans scans:\n${plan.take(1500)}")
  }

  test("q142 chunker pipelines at scan speed: no shuffle before the output sort") {
    // the chunker is a pure per-row generator — any hash exchange in
    // its plan means something regressed into a shuffle of corpus bytes
    val plan = SparkEntry.queries("q142_chunk_overlap")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q142 must not hash-shuffle the corpus:\n${plan.take(1500)}")
    assert(plan.contains("Generate"),
      s"q142 should plan a Generate (posexplode):\n${plan.take(1200)}")
  }

  test("q139 NDCG corpus streams past the broadcast query block") {
    // the q34/q99 retrieval contract: the 50-row query block broadcasts;
    // the only exchange shuffles candidate rows by q_id (50 keys) for
    // the per-query top-10 window — the corpus itself never hash-shuffles
    val plan = SparkEntry.queries("q139_ndcg_eval")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q139 must broadcast the query block:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      s"q139 must not plan a cartesian:\n${plan.take(1500)}")
  }

  test("q196 bottom-k sample draws via TakeOrdered, never a global sort") {
    // the sample's scale contract: per-partition k-heaps merge at the
    // driver; a Sort+Exchange before the limit means the corpus is
    // being globally sorted to pick 100 rows
    val plan = SparkEntry.queries("q196_priority_sample")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must be TakeOrdered:\n${plan.take(1500)}")
    // plans print top-down, so the rank window (which consumes the
    // k-row TakeOrdered result) must appear ABOVE it in the string
    assert(plan.indexOf("Window") < plan.indexOf("TakeOrderedAndProject"),
      s"the rank window must consume the k-row result:\n${plan.take(1500)}")
  }

  test("q223 ARI algebra matches a driver-side union-find at the 100x vector corpus") {
    // q223 is the one round-9 query whose 100x check DuckDB cannot run
    // (the double recursive-CTE closure is prohibitive there). Verify
    // ENGINE-SIDE instead, at the exact 20k-vector corpus the SCALING
    // table's 100x rows use (sf0.1 embeddings x 10 copies, dim-0
    // perturbed per copy — the Amplify recipe): the SAME edge list the
    // query consumes, but clustered by an INDEPENDENT driver-side
    // union-find and counted with exact BigInt contingency algebra —
    // nothing shared with the Graph.connectedComponents + DataFrame
    // decimal fold under test except the final double expression order.
    val dir = java.nio.file.Files.createTempDirectory("graft-amp223").toString
    val slot = 1000000L
    Tables.embeddings(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(10).toDF("copy"))
      .select((col("copy") * slot + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0" +
          " THEN cast(x + copy * 0.0001 AS float) ELSE x END)").as("embedding"),
        col("label"))
      .repartition(4)
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q223_threshold_stability")(spark, dir).collect()
    assert(got.length == 1)
    val row = got.head
    // independent path: same edges, driver union-find, BigInt counts
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val edges = graft.operators.Dedup.blockedEmbeddingNearDup(e, 0.45)
      .select("id_a", "id_b", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(edges.length > 1000, "amplified corpus must produce real dup structure")
    val ids = edges.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val minOf = ids.groupBy(find).map { case (r, m) => r -> m.min }
      ids.map(i => i -> minOf(find(i))).toMap
    }
    val c45 = unionFind(edges.map(t => (t._1, t._2)))
    val c60 = unionFind(edges.filter(_._3 >= 0.6).map(t => (t._1, t._2)))
    val cells = ids.groupBy(i => (c45(i), c60(i))).map { case (_, m) => BigInt(m.size) }
    val ai = ids.groupBy(c45).map { case (_, m) => BigInt(m.size) }
    val bj = ids.groupBy(c60).map { case (_, m) => BigInt(m.size) }
    val n = BigInt(ids.length)
    val sij2 = cells.map(c => c * (c - 1)).sum.toDouble
    val sa2 = ai.map(c => c * (c - 1)).sum.toDouble
    val sb2 = bj.map(c => c * (c - 1)).sum.toDouble
    // the q223 double expression order, from exact integers
    val rr = n.toDouble * (n.toDouble - 1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rand = r6((rr + 2.0 * sij2 - sa2 - sb2) / rr)
    val expected = sa2 / 2.0 * (sb2 / 2.0) / (rr / 2.0)
    val denom = (sa2 / 2.0 + sb2 / 2.0) / 2.0 - expected
    val ari = r6((sij2 / 2.0 - expected) / denom)
    assert(row.getLong(0) == ids.length.toLong, "n_vectors")
    assert(row.getLong(1) == edges.length.toLong, "n_pairs_045")
    assert(row.getLong(2) == edges.count(_._3 >= 0.6).toLong, "n_pairs_060")
    assert(row.getLong(3) == ai.size.toLong, "n_clusters_045")
    assert(row.getLong(4) == bj.size.toLong, "n_clusters_060")
    assert(row.getDouble(5) == rand, s"rand_index: got ${row.getDouble(5)}, want $rand")
    assert(row.getDouble(6) == ari, s"ari: got ${row.getDouble(6)}, want $ari")
  }

  test("q86 hybrid-dedup composition matches a driver-side union-find at the 100x corpus") {
    // q86 is the ONE oracle-declared query the round-10 full-surface
    // 100x sweep could not hash-verify: DuckDB's recursive CC closure
    // spilled > 70 GB at the amplified clique structure. Its three
    // component passes (q31/q49/q68) each verify at 100x individually;
    // what was unverified is their COMPOSITION — union + provenance
    // flags + connectedComponents + canonical election. Verify it
    // engine-side (the q223 pattern): same Amplify recipe the SCALING
    // 100x table uses (100x docs with per-copy suffix words, 10x
    // vectors dim-0 perturbed), same two edge generators, but resolved
    // by an INDEPENDENT driver-side union-find with plain Scala maps —
    // nothing shared with Graph.connectedComponents' pregel rounds or
    // the DataFrame provenance rollup under test.
    val dir = java.nio.file.Files.createTempDirectory("graft-amp86").toString
    val slot = 1000000L
    // The 100x copy recipe makes the TEXT signal structurally empty —
    // every base shingle lands in >= 100 docs, above the df <= 50 cap
    // (exactly the bound that keeps C(100,2) clone pairs from
    // materializing; SCALING's q86 row), and the per-copy suffix
    // shingles are unique. So the text half of the union is exercised
    // by PLANTED dup groups whose vocabulary is confined to 3 docs
    // each (df = 3, under the cap), ids minted at +1e12 — above any
    // corpus's copy-slot range, the q106/q131 convention.
    val planted = spark.range(20).toDF("grp")
      .crossJoin(spark.range(3).toDF("member"))
      .select((lit(1000000000000L) + col("grp") * 10 + col("member")).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(1, 13), " +
          "i -> concat('pg', grp, '_w', i)))").as("text"),
        lit("en").as("lang"), lit("planted").as("source"))
    Tables.documents(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(100).toDF("copy"))
      .select((col("copy") * slot + col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" uniq"), col("copy")).as("text"),
        col("lang"), col("source"))
      .unionByName(planted)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8)
      .write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(10).toDF("copy"))
      .select((col("copy") * slot + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0" +
          " THEN cast(x + copy * 0.0001 AS float) ELSE x END)").as("embedding"),
        col("label"))
      .repartition(4)
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q86_hybrid_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSet
    // independent path: the same two edge lists, driver union-find
    val text = graft.operators.Dedup.textNearDupEdges(
      Tables.documents(spark, dir).select("doc_id", "text"),
      k = 4, dfCap = 50, minJaccard = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), 1L, 0L))
    val emb = graft.operators.Dedup.blockedEmbeddingNearDup(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      minCosine = 0.45)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), 0L, 1L))
    assert(emb.length > 1000, "amplified corpus must produce real emb dup structure")
    assert(text.length >= 60, // 20 groups x C(3,2) pairs
      s"planted text dup groups must survive the df cap, got ${text.length}")
    val edges = (text ++ emb).groupBy(e => (e._1, e._2)).map { case ((a, b), es) =>
      (a, b, es.map(_._3).max, es.map(_._4).max)
    }.toSeq
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val clusterOf: Map[Long, Long] =
      ids.groupBy(find).flatMap { case (_, m) => val c = m.min; m.map(_ -> c) }
    val sizes = ids.groupBy(clusterOf).map { case (c, m) => c -> m.size.toLong }
    val flagsOf = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    edges.foreach { case (a, _, st, se) =>
      val c = clusterOf(a)
      val (pt, pe) = flagsOf.getOrElse(c, (0L, 0L))
      flagsOf(c) = (math.max(pt, st), math.max(pe, se))
    }
    val want = ids.map { i =>
      val c = clusterOf(i)
      val (ht, he) = flagsOf(c)
      (i, c, sizes(c), if (i == c) 1L else 0L, ht, he)
    }.toSet
    // the composition the sweep could not check, exact at 100x: same
    // members, same clusters, same sizes, same canonicals, same
    // per-cluster signal provenance
    assert(got.size == want.size, s"row count: got ${got.size}, want ${want.size}")
    assert(got == want, {
      val missing = (want -- got).take(5)
      val extra = (got -- want).take(5)
      s"cluster sets diverge; want-not-got: $missing; got-not-want: $extra"
    })
  }

  test("q244/q245 probe frames broadcast; the corpus never joins a cartesian") {
    // the composed-index scale contract: candidates come from members
    // × a broadcast probe frame, ADC joins a broadcast LUT, refine
    // joins floats × a broadcast shortlist — the corpus side must
    // never plan a CartesianProduct, and every query-block join must
    // arrive as a broadcast
    Seq("q244_ivf_adc", "q245_ivfpq_residual").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not plan a cartesian:\n${plan.take(1500)}")
      assert(plan.contains("BroadcastExchange"),
        s"$name must broadcast its probe/LUT/shortlist frames:\n${plan.take(1500)}")
    }
  }

  test("stored IVF index prunes to the probed cell directories and serves bit-equal results") {
    // the q108 partition-pruning lesson applied to the ANN family: a
    // probe of nprobe-of-K cells against the persisted index must read
    // nprobe DIRECTORIES (PartitionFilters on every store scan), not
    // scan-and-discard the full membership/code/float tables — and the
    // served rows must be bit-equal to the in-memory q244 query path
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val idx = Quantize.buildIvfAdcIndex(e)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfstore").toString
    IvfStore.write(idx, path)
    // every cell directory exists (one per non-empty cell)
    val memberDirs = new java.io.File(s"$path/lists").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(memberDirs > KMeans.Nprobe,
      s"fixture must spread over more cells than one probe reads, got $memberDirs")
    // a single query probes Nprobe cells; AQE off so the executed scans
    // (and their metrics) are directly inspectable
    val q1 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = IvfStore.servedTop10(spark, path, q1).orderBy("q_id", "rank")
      val rows = served.collect().map(_.toSeq).toSeq
      val mem = Fixtures.ivfAdcSearch(idx, q1).collect().map(_.toSeq).toSeq
      assert(rows.nonEmpty && rows == mem,
        "served-from-store top-10 must be bit-equal to the in-memory path")
      val scans = served.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val storeScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("lists")))
      assert(storeScans.size == 3,
        s"expected candidates+codes+floats scans of the list tree, got ${storeScans.size}")
      storeScans.foreach { s =>
        val readCols = s.requiredSchema.fieldNames.toSeq
        assert(s.partitionFilters.nonEmpty,
          s"cell bound must reach the scan as PartitionFilters (cols $readCols)")
        assert(s.metrics("numFiles").value <= KMeans.Nprobe,
          s"scan of $readCols read ${s.metrics("numFiles").value} files, " +
            s"expected <= ${KMeans.Nprobe} probed cell dirs of $memberDirs")
      }
      // column pruning inside the pruned dirs: the candidate scan reads
      // the id column alone — neither codes nor floats leave disk until
      // their stage needs them (the q114b codes-only contract at the
      // storage layer)
      assert(storeScans.exists(_.requiredSchema.fieldNames.toSeq == Seq("n_id")),
        s"candidate scan must read only n_id, got " +
          storeScans.map(_.requiredSchema.fieldNames.toSeq).mkString(" | "))
      assert(!storeScans.exists(s =>
          s.requiredSchema.fieldNames.contains("v") &&
            s.requiredSchema.fieldNames.contains("codes")),
        "no stage needs both codes and floats from one scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q262 served-from-store equals the full in-memory search on the EvalBlock block") {
    // the declared query answers from the persisted layout; the layout
    // must be answer-invariant vs Fixtures.ivfAdcSearch over the same
    // built index (two paths, one answer — the q131 shape)
    import graft.operators.Quantize
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < graft.operators.KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val idx = Quantize.buildIvfAdcIndex(e)
    val want = Fixtures.ivfAdcSearch(idx, q).collect().map(_.toSeq).toSeq
    val got = SparkEntry.queries("q262_ivf_served_store")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("incremental append touches only the arrivals' cells; merged tree equals a rebuild") {
    // the q263 physical contract: maintenance is O(arrivals) — the two
    // appended vectors' postings land in their cells' directories,
    // every other cell keeps EXACTLY its original files, and the
    // merged tree is bit-equal (content and serving) to a from-scratch
    // rebuild under the same frozen centroids/codebook
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val old = e.filter(col("vec_id") <= maxId - 2)
    val arrivals = e.filter(col("vec_id") > maxId - 2)
    assert(arrivals.count() == 2)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    def idxOf(corpus: org.apache.spark.sql.DataFrame) = Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(corpus, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, corpus)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, corpus)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    IvfStore.write(idxOf(old), path)
    def filesByCell = new java.io.File(s"$path/lists").listFiles()
      .filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().map(_.getName).sorted.toSeq
      }.toMap
    val before = filesByCell
    val touched = IvfStore.append(spark, path, arrivals).map(c => s"cell=$c").toSet
    assert(touched.nonEmpty && touched.size <= 2,
      s"two arrivals touch at most two cells, got $touched")
    val after = filesByCell
    before.keys.filterNot(touched).foreach { c =>
      assert(after(c) == before(c), s"untouched $c must keep exactly its files")
    }
    touched.foreach { c =>
      assert(after(c).size > before.getOrElse(c, Seq.empty).size,
        s"touched $c must gain posting files")
    }
    // merged tree == from-scratch rebuild under the same artifacts
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ivf-reb").toString
    IvfStore.write(idxOf(e), rebuilt)
    val m = spark.read.parquet(s"$path/lists")
    val r = spark.read.parquet(s"$rebuilt/lists")
    assert(m.count() == r.count() &&
      m.exceptAll(r).isEmpty && r.exceptAll(m).isEmpty,
      "merged postings must equal the rebuild bit-for-bit")
    // and the maintained index SERVES identically
    val q = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val sm = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val sr = IvfStore.servedTop10(spark, rebuilt, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(sm.nonEmpty && sm == sr)
    // the declared report conserves postings across the cutoff split
    val rep = SparkEntry.queries("q263_incremental_reindex")(spark, sf0001).collect()
    assert(rep.nonEmpty)
    rep.foreach(row => assert(row.getLong(1) + row.getLong(2) == row.getLong(3),
      s"n_before + n_added must equal n_after in ${row.toSeq}"))
    assert(rep.map(_.getLong(3)).sum == e.count(),
      "every vector must be filed in exactly one cell")
  }

  test("store compaction merges small cell files; content, serving and untouched cells invariant") {
    // appends leave hot cells as directories of small files; compaction
    // must rewrite ONLY the over-threshold cells, keep postings
    // row-identical, leave other cells' files untouched, and serve the
    // same answers
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val old = e.filter(col("vec_id") <= maxId - 30)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    IvfStore.write(Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(old, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, old)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, old), path)
    // three appends -> touched cells accumulate up to 4 files
    (0 until 3).foreach { i =>
      IvfStore.append(spark, path,
        e.filter(col("vec_id") > maxId - 30 + i * 10 &&
          col("vec_id") <= maxId - 30 + (i + 1) * 10))
    }
    def filesByCell = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
      }.toMap
    val before = filesByCell
    assert(before.values.exists(_.size > 2), "appends must have fragmented some cell")
    val content = spark.read.parquet(s"$path/lists").collect().map(_.toSeq)
    val q = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val servedBefore = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val report = IvfStore.compact(spark, path, maxFilesPerCell = 2)
    assert(report.nonEmpty, "over-threshold cells must be compacted")
    report.foreach { case (cell, nb, na) =>
      assert(nb > 2 && na == 1, s"cell=$cell: $nb files -> $na")
    }
    val after = filesByCell
    val rewritten = report.map(r => s"cell=${r._1}").toSet
    before.keys.filterNot(rewritten).foreach { c =>
      assert(after(c) == before(c), s"untouched $c must keep exactly its files")
    }
    // content row-identical, serving identical
    val content2 = spark.read.parquet(s"$path/lists").collect().map(_.toSeq)
    assert(content2.length == content.length &&
      content2.groupBy(identity).view.mapValues(_.length).toMap ==
        content.groupBy(identity).view.mapValues(_.length).toMap,
      "compaction must not change a single posting")
    val servedAfter = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(servedAfter == servedBefore)
  }

  test("retrain publishes a new generation atomically and serves the fresh-build answer") {
    // the q266 gate's RETRAIN branch as a physical act: stale-build →
    // append → retrain must leave ONE live generation, named by the
    // _current pointer, whose answers are bit-equal to an index built
    // fresh on today's corpus — and the superseded tree must be gone
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cutoff = maxId / 2
    val old = e.filter(col("vec_id") <= cutoff)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-retrain").toString
    IvfStore.write(Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(old, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, old)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, old), path)
    IvfStore.append(spark, path, e.filter(col("vec_id") > cutoff))
    val gen = IvfStore.retrain(spark, path)
    // physical swap: pointer names the generation, flat tree retired
    def f(n: String) = new java.io.File(s"$path/$n")
    assert(f("_current").exists()
      && java.nio.file.Files.readString(f("_current").toPath).trim == gen)
    assert(f(s"$gen/lists").isDirectory && f(s"$gen/cents").isDirectory)
    assert(!f("lists").exists() && !f("cents").exists() && !f("codebook").exists(),
      "the superseded flat tree must be retired after publish")
    // answers = fresh full-corpus build, bit-for-bit (the q268 contract)
    val q = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val want = Fixtures.ivfAdcSearch(
      Quantize.buildIvfAdcIndex(e), q)
      .collect().map(_.toSeq).toSeq
    val got = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      "retrained store must serve the fresh-build answer")
    // a second retrain bumps the generation and retires the first
    val gen2 = IvfStore.retrain(spark, path)
    assert(gen2 != gen && !f(gen).exists(),
      "retrain must retire the superseded generation")
    assert(IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq == want)
    // the q262 physical contract survives the layout move into a
    // generation directory: a probe of the RETRAINED store must still
    // prune to the probed cell directories of path/<gen>/lists
    val q1 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(f(s"$gen2/lists").listFiles()
        .count(_.getName.startsWith("cell=")) > KMeans.Nprobe,
        "fixture must spread over more cells than one probe reads")
      val served = IvfStore.servedTop10(spark, path, q1).orderBy("q_id", "rank")
      served.collect()
      val storeScans = served.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(s"$gen2/lists")) => s
      }
      assert(storeScans.size == 3,
        s"expected 3 scans of the generation list tree, got ${storeScans.size}")
      storeScans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          "cell bound must reach the generation-tree scan as PartitionFilters")
        assert(s.metrics("numFiles").value <= KMeans.Nprobe,
          s"generation-tree scan read ${s.metrics("numFiles").value} files, " +
            s"expected <= ${KMeans.Nprobe} probed cell dirs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // and the declared q268 lifecycle query equals the same answer
    val q268 = SparkEntry.queries("q268_retrain_act")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(q268 == want)
  }

  test("compaction releases the maintenance lock; a failed retrain leaves it") {
    // a completed compact releases the lock it held; a REAL
    // mid-maintenance failure leaves it, so commits keep loud-failing
    // until a maintenance open completes
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-cl").toString
    val cents = KMeans.fit(e)
    val cb = Quantize.pqCodebook(e)
    IvfStore.write(Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(e, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, e)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, e), path)
    val arrivals = e.limit(2).collect()
      .map(r => (r.getLong(0) + 500000L, r.getSeq[Double](1))).toSeq
    IvfStore.commitBatch(spark, path, arrivals.toDF("vec_id", "v"), "ingest-cl", 0L)
    assert(spark.read.parquet(s"$path/lists")
      .filter(col("n_id") >= 500000L).count() == 2, "the commit must land")
    // compaction hits the bound and releases the lock
    val done = IvfStore.compact(spark, path, maxFilesPerCell = 1)
    assert(done.nonEmpty && !new java.io.File(s"$path/_maint.lock").exists())
    // a REAL maintenance failure (corrupted posting file blows up the
    // retrain's re-fit) must leave the lock: commits loud-fail until a
    // later maintenance open completes and releases
    val cellDir = new java.io.File(s"$path/lists").listFiles()
      .filter(_.getName.startsWith("cell=")).head
    val victim = cellDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val saved = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.writeString(victim.toPath, "not a parquet file")
    intercept[Throwable](IvfStore.retrain(spark, path))
    assert(new java.io.File(s"$path/_maint.lock").exists(),
      "a mid-maintenance failure must leave the lock in place")
    val ex = intercept[IllegalStateException](
      IvfStore.commitBatch(spark, path, arrivals.toDF("vec_id", "v"), "ingest-cl", 1L))
    assert(ex.getMessage.contains("maintenance"),
      "commits must keep refusing while the failed maintenance's lock stands")
    java.nio.file.Files.write(victim.toPath, saved)
    IvfStore.retrain(spark, path) // completes → releases
    assert(!new java.io.File(s"$path/_maint.lock").exists(),
      "the next completed maintenance open must release the lock")
  }

  test("committed batches maintain the stored IVF index; replayed batches are no-ops") {
    // the index was built when the corpus was smaller; the last ten
    // vectors are filed as three commitBatch batches of one lineage
    import spark.implicits._
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val old = e.filter(col("vec_id") <= maxId - 10)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    def idxOf(corpus: org.apache.spark.sql.DataFrame) = Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(corpus, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, corpus)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, corpus)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-commit").toString
    IvfStore.write(idxOf(old), path)
    val arrivals = e.filter(col("vec_id") > maxId - 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    def commit(rows: Seq[(Long, Seq[Double])], batchId: Long, lineage: String): Unit =
      IvfStore.commitBatch(spark, path, rows.toDF("vec_id", "v"), lineage, batchId)
    arrivals.grouped(4).zipWithIndex.foreach { case (chunk, i) =>
      commit(chunk, i.toLong, "ingest-a")
    }
    // committed tree == from-scratch rebuild under the same artifacts
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ivf-commit-reb").toString
    IvfStore.write(idxOf(e), rebuilt)
    val m = spark.read.parquet(s"$path/lists")
    val r = spark.read.parquet(s"$rebuilt/lists")
    assert(m.count() == r.count() &&
      m.exceptAll(r).isEmpty && r.exceptAll(m).isEmpty,
      "committed postings must equal the batch rebuild bit-for-bit")
    // and it SERVES identically
    val qs = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val sm = IvfStore.servedTop10(spark, path, qs)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val sr = IvfStore.servedTop10(spark, rebuilt, qs)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(sm.nonEmpty && sm == sr)
    // at-least-once replay: re-delivering a COMMITTED batch id must
    // change nothing (the _batches marker short-circuits it)
    val before = m.count()
    commit(arrivals.take(4), 0L, "ingest-a")
    assert(spark.read.parquet(s"$path/lists").count() == before,
      "a replayed committed batch must be a no-op")
    // a NEW lineage restarts batch ids at 0 — its batch 0 must FILE,
    // not short-circuit on the old lineage's marker
    val extra = arrivals.take(4).map { case (id, v) => (id + 100000L, v) }
    commit(extra, 0L, "ingest-b")
    assert(spark.read.parquet(s"$path/lists").count() == before + 4,
      "a new lineage's batch 0 must file its arrivals")
    // half-commit replay converges to exactly-once: drop the marker
    // (simulating a crash before it landed) and re-deliver — the staged
    // commit overwrites its own deterministic file names, so the tree
    // neither duplicates nor loses a posting
    val tagB = IvfStore.lineageTag("ingest-b")
    val markerFs = new java.io.File(s"$path/_batches/$tagB/0")
    assert(markerFs.exists(), "commit marker must exist under the lineage tag")
    assert(markerFs.delete())
    commit(extra, 0L, "ingest-b")
    val afterReplay = spark.read.parquet(s"$path/lists")
    assert(afterReplay.count() == before + 4,
      "replaying a half-committed batch must converge, not duplicate")
    assert(afterReplay.filter(col("n_id") >= 100000L).count() == 4)
    // markers live at STORE level so committed batches stay committed
    // ACROSS a retrain (the new generation is rebuilt FROM the filed
    // postings — re-filing them would duplicate): re-delivering both
    // committed batches after the generation swap must no-op, and a
    // genuinely new batch must file into the NEW generation's tree
    val total = before + 4
    val gen = IvfStore.retrain(spark, path)
    def genLists = spark.read.parquet(s"$path/$gen/lists")
    assert(genLists.count() == total,
      "retrain must carry every filed posting into the new generation")
    commit(arrivals.take(4), 0L, "ingest-a")
    commit(extra, 0L, "ingest-b")
    assert(genLists.count() == total,
      "committed batches must stay committed across the generation swap")
    commit(arrivals.take(2).map { case (id, v) => (id + 200000L, v) }, 1L, "ingest-b")
    assert(genLists.filter(col("n_id") >= 200000L).count() == 2,
      "a new batch after retrain must file into the new generation's tree")
    // maintenance-before-replay rollback: a batch that crashed between
    // its live-tree moves and the final marker leaves an .inflight
    // intent without a final twin. If MAINTENANCE runs before the
    // replay, recover must delete that batch's (still prefix-named)
    // files — otherwise compaction would fold them into anonymous
    // files and the replay would duplicate them forever.
    val nowTotal = genLists.count()
    val extra3 = arrivals.take(3).map { case (id, v) => (id + 300000L, v) }
    commit(extra3, 2L, "ingest-b")
    assert(genLists.filter(col("n_id") >= 300000L).count() == 3)
    // simulate the crash window: final marker gone, intent restored
    assert(new java.io.File(s"$path/_batches/$tagB/2").delete())
    new java.io.File(s"$path/_batches/$tagB/2.inflight").createNewFile()
    IvfStore.recover(spark, path)
    assert(genLists.filter(col("n_id") >= 300000L).count() == 0,
      "recover must roll back the half-committed batch's postings")
    assert(genLists.count() == nowTotal)
    // the eventual replay re-files it exactly once
    commit(extra3, 2L, "ingest-b")
    assert(genLists.filter(col("n_id") >= 300000L).count() == 3
      && genLists.count() == nowTotal + 3,
      "the replay after rollback must converge to exactly-once filing")
    // empty-batch fast path: marker lands, tree untouched
    commit(Seq.empty, 3L, "ingest-b")
    assert(new java.io.File(s"$path/_batches/$tagB/3").exists()
      && genLists.count() == nowTotal + 3,
      "an empty batch must land only its marker")
  }

  test("commitBatch then compact keeps ingest cells at the file bound; content, serving and replay invariant") {
    // commits fragment hot cells; a compact after each commit keeps
    // every cell at the bound, the tree's content and serving stay
    // bit-equal to a from-scratch batch rebuild, and committed batches
    // stay committed (markers, not file names, are the dedup key —
    // compaction folds batch files into anonymous names)
    import spark.implicits._
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val old = e.filter(col("vec_id") <= maxId - 24)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    def idxOf(corpus: org.apache.spark.sql.DataFrame) = Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(corpus, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, corpus)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, corpus)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-commitc").toString
    IvfStore.write(idxOf(old), path)
    // the base write leaves one file per cell, so at bound 1 every
    // commit that touches an existing cell leaves work for compact
    val arrivals = e.filter(col("vec_id") > maxId - 24)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val rewrites = arrivals.grouped(2).zipWithIndex.map { case (chunk, i) =>
      IvfStore.commitBatch(spark, path, chunk.toDF("vec_id", "v"), "ingest-ac", i.toLong)
      IvfStore.compact(spark, path, maxFilesPerCell = 1).size
    }.toSeq
    assert(rewrites.count(_ > 0) > 1,
      s"compaction must have work after more than one commit: $rewrites")
    def filesPerCell = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().map(_.getName)
        .count(n => n.endsWith(".parquet") || n.startsWith("part-"))).toMap
    assert(filesPerCell.nonEmpty && filesPerCell.values.forall(_ <= 1),
      s"every cell must end at the bound: $filesPerCell")
    // content and serving equal the from-scratch batch rebuild
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ivf-commitc-reb").toString
    IvfStore.write(idxOf(e), rebuilt)
    val m = spark.read.parquet(s"$path/lists")
    val r = spark.read.parquet(s"$rebuilt/lists")
    assert(m.count() == r.count() &&
      m.exceptAll(r).isEmpty && r.exceptAll(m).isEmpty,
      "committed and compacted postings must equal the batch rebuild bit-for-bit")
    val qs = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    assert(IvfStore.servedTop10(spark, path, qs)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq ==
      IvfStore.servedTop10(spark, rebuilt, qs)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq)
    // replay safety across compaction: the batch's own files are long
    // gone (folded), but its lineage marker survives — re-delivery
    // must no-op
    val before = spark.read.parquet(s"$path/lists").count()
    IvfStore.commitBatch(spark, path, arrivals.take(2).toDF("vec_id", "v"), "ingest-ac", 0L)
    assert(spark.read.parquet(s"$path/lists").count() == before,
      "a committed batch replayed after compaction must be a no-op")
    // compact rewrites nothing when no cell exceeds the bound
    assert(IvfStore.compact(spark, path, maxFilesPerCell = 1).isEmpty,
      "a within-bound tree must not be rewritten")
  }

  test("commitBatch loud-fails while the maintenance lock is held and resumes after release") {
    // a commit that lands during compact/retrain would race recover's
    // sweeps; the maintenance lock makes that an exception, and a
    // replay files the batch once maintenance released the lock
    import spark.implicits._
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val old = e.filter(col("vec_id") <= maxId - 4)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-lock").toString
    IvfStore.writeFitted(old, path)
    val arrivals = e.filter(col("vec_id") > maxId - 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // a crashed (or running) maintenance holds the lock
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(path, "_maint.lock"), "pid=0 t=0")
    val ex = intercept[IllegalStateException](
      IvfStore.commitBatch(spark, path, arrivals.toDF("vec_id", "v"), "ingest-lk", 0L))
    assert(ex.getMessage.contains("maintenance"),
      s"the failure must name the lock: ${ex.getMessage}")
    assert(!new java.io.File(
      s"$path/_batches/${IvfStore.lineageTag("ingest-lk")}/0").exists(),
      "a refused commit must leave no marker")
    // the next maintenance open (here: a compact) releases the lock...
    IvfStore.compact(spark, path, maxFilesPerCell = 64)
    assert(!new java.io.File(s"$path/_maint.lock").exists(),
      "maintenance must release the lock on completion")
    // ...and the replay then files the batch exactly once
    val before = spark.read.parquet(s"$path/lists").count()
    IvfStore.commitBatch(spark, path, arrivals.toDF("vec_id", "v"), "ingest-lk", 0L)
    assert(spark.read.parquet(s"$path/lists").count() == before + arrivals.length,
      "the replayed batch must file after the lock clears")
  }

  test("rebuild audit reads clean on a maintained store and flags a duplicated posting file") {
    // the audit's teeth: a clean build+append store must read
    // (cell, n, 0, 0) everywhere; physically duplicating one posting
    // file (the exact artifact of a replayed non-transactional append)
    // must surface as extra stored rows the rebuild does not have
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cutoff = maxId / 2
    val old = e.filter(col("vec_id") <= cutoff)
    val cents = KMeans.fit(old)
    val cb = Quantize.pqCodebook(old)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-audit").toString
    IvfStore.write(Quantize.IvfAdcIndex(
      cents,
      KMeans.assign(old, cents).select(col("vec_id").as("n_id"), col("cluster")),
      Quantize.pqCodesWith(cb, old)
        .select(col("vec_id").as("n_id"), col("sub"), col("code")),
      cb, old), path)
    IvfStore.append(spark, path, e.filter(col("vec_id") > cutoff))
    val clean = IvfStore.auditRebuild(spark, path).collect()
    assert(clean.nonEmpty)
    clean.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L,
        s"clean store must audit to zero diffs, got ${r.toSeq}")
    }
    assert(clean.map(_.getLong(1)).sum == e.count(),
      "audit must account for every vector exactly once")
    // corrupt: duplicate one cell's posting file under a new name —
    // the replayed-append artifact commitBatch exists to prevent
    val cells = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
    val victim = cells.map(d => (d, d.listFiles().filter(_.getName.startsWith("part-"))))
      .filter(_._2.nonEmpty).head
    val src = victim._2.head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(victim._1, "b-dup-replay-0.parquet").toPath)
    val dirty = IvfStore.auditRebuild(spark, path).collect()
    val flagged = dirty.filter(_.getLong(2) > 0L)
    assert(flagged.nonEmpty,
      "a duplicated posting file must surface as stored-only rows")
    assert(dirty.map(_.getLong(1)).sum > e.count(),
      "the duplicated postings must also inflate the stored count")
  }

  test("recover rolls back crashed maintenance: orphaned compaction swaps and unpublished generations") {
    import graft.operators.{KMeans, Quantize}
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-recover").toString
    IvfStore.write(Quantize.buildIvfAdcIndex(e), path)
    val q = e.filter(col("vec_id") < KMeans.EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val want = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    def f(n: String) = new java.io.File(s"$path/$n")
    // crash state 1: compaction died between its two renames — the cell
    // directory is ABSENT, its .old- twin holds the intact postings
    // (the ADVICE r12 window: a probe would silently miss the cell)
    val cell = f("lists").listFiles().filter(_.getName.startsWith("cell=")).head
    val orphan = new java.io.File(f("lists"), s".old-${cell.getName}")
    assert(cell.renameTo(orphan))
    // the serve-time guard (r13 verdict #5): a probe between the crash
    // and the next maintenance open must FAIL LOUDLY on the .old-
    // remnant, not silently drop the absent cell's postings
    val guardEx = intercept[IllegalStateException] {
      IvfStore.servedTop10(spark, path, q)
    }
    assert(guardEx.getMessage.contains(".old-cell="),
      s"guard must name the crash artifact: ${guardEx.getMessage}")
    // crash state 2: a retrain died before publish — a full unpublished
    // generation tree exists but no _current points at it
    val stray = f("gen-000007/lists"); stray.mkdirs()
    java.nio.file.Files.writeString(f("gen-000007/junk").toPath, "x")
    // crash state 3: a torn pointer write
    java.nio.file.Files.writeString(f("_current.tmp").toPath, "gen-000007")
    IvfStore.recover(spark, path)
    assert(new java.io.File(f("lists"), cell.getName).isDirectory
      && !orphan.exists(), "crashed swap must roll back to the intact cell")
    assert(!f("gen-000007").exists(), "unpublished generation must be deleted")
    assert(!f("_current.tmp").exists())
    val got = IvfStore.servedTop10(spark, path, q)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want, "recovered store must serve the pre-crash answers")
  }

  test("q270 serves the memoized store without rebuilding, prunes its probes, equals q262") {
    import graft.operators.KMeans
    import graft.sources.IvfStore
    // answers: the memoized store is an engine detail — q270 must equal
    // the build-every-run q262 row for row
    val want = SparkEntry.queries("q262_ivf_served_store")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val got = SparkEntry.queries("q270_steady_serve")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      "steady-state serve must answer exactly as the per-run store")
    // steady state: the second call must serve from the SAME tree —
    // every list file keeps its exact name and mtime (no rebuild)
    val storeDir = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-scratch-${ProcessHandle.current().pid()}"),
      "q270-steady-" + IvfStore.lineageTag(sf0001))
    def treeState = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
        else Seq((f.getPath, f.lastModified()))
      walk(new java.io.File(storeDir, "lists"))
    }
    assert(storeDir.isDirectory, s"memoized store must exist at $storeDir")
    val s1 = treeState
    val got2 = SparkEntry.queries("q270_steady_serve")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got2 == want && treeState == s1,
      "the second call must not rebuild or rewrite the store")
    // the q262 physical pruning contract, attached to q270's OWN plan:
    // each of the three list scans prunes to <= Nprobe cell dirs
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q1 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(new java.io.File(storeDir, "lists").listFiles()
        .count(_.getName.startsWith("cell=")) > KMeans.Nprobe,
        "fixture must spread over more cells than one probe reads")
      val served = IvfStore.servedTop10(spark, storeDir.toString, q1)
        .orderBy("q_id", "rank")
      served.collect()
      val storeScans = served.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(p =>
            p.toString.contains("q270-steady") && p.toString.contains("/lists")) => s
      }
      assert(storeScans.size == 3,
        s"expected 3 scans of the steady store's list tree, got ${storeScans.size}")
      storeScans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          "cell bound must reach the steady store's scans as PartitionFilters")
        assert(s.metrics("numFiles").value <= KMeans.Nprobe,
          s"steady-store scan read ${s.metrics("numFiles").value} files, " +
            s"expected <= ${KMeans.Nprobe} probed cell dirs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("recover skips stray non-numeric marker files instead of aborting maintenance") {
    // ADVICE r13: an editor temp or operator note under a lineage tag
    // directory used to throw NumberFormatException out of the inflight
    // sweep, aborting the whole compact/retrain that called recover
    import graft.operators.Quantize
    import graft.sources.IvfStore
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-stray").toString
    IvfStore.write(Quantize.buildIvfAdcIndex(e), path)
    val tagDir = new java.io.File(s"$path/_batches/deadbeefdeadbeef")
    assert(tagDir.mkdirs())
    java.nio.file.Files.writeString(
      tagDir.toPath.resolve("note-from-oncall.inflight"), "checking the store")
    IvfStore.recover(spark, path) // must not throw
    assert(new java.io.File(tagDir, "note-from-oncall.inflight").exists(),
      "a stray file recover cannot parse must be left alone, not deleted")
    IvfStore.retrain(spark, path) // the full maintenance entry survives too
  }

  test("q193 RFM scores by broadcast boundaries, never an ntile window") {
    // the q140 boundary contract applied to segmentation: ONE percentile
    // aggregate broadcasts all nine cutpoints back; a Window here would
    // mean a global rank over the customer frame
    val plan = SparkEntry.queries("q193_rfm_segments")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // no physical Window node at all = no ntile/global-rank scoring
    // ("ntile" can't be substring-matched: percentile contains it)
    assert(!plan.contains("Window ["),
      s"no global-rank scoring:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row boundary frame must broadcast:\n${plan.take(1500)}")
  }
}
