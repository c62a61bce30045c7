package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: run one named query N times against an sf dir, print
  * per-iteration wall time and (optionally) the formatted plan.
  * `sbt "runMain graft.RunOne q33_ngram_jaccard /root/testdata/sf0.1 3 explain"` */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val explain = args.length > 3 && args(3) == "explain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev-only A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overlays
    // extra Spark confs so config experiments don't need a rebuild
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev-only variants not on the declared surface: q77_sampled_<pct>
    // runs the production sampled calibration mode; q81_hashed_<buckets>
    // runs the vocabulary-independent hashed-feature DSIR;
    // stream_retention drives the q101 streaming twin (state op + fold)
    // over the dir's events and times the full drain per iteration
    if (name == "stream_retention") {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      // the file stream source needs a DIRECTORY; sf dirs ship events as
      // a single file, amplified corpora as a directory of parts
      val evPath = java.nio.file.Path.of(s"$sfDir/events.parquet")
      val streamDir =
        if (java.nio.file.Files.isDirectory(evPath)) evPath.toString
        else {
          val d = java.nio.file.Files.createTempDirectory("runone-ret-src")
          java.nio.file.Files.copy(evPath, d.resolve("events.parquet"))
          d.toString
        }
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        val q = streaming.EventStream.retentionWeeks(
            streaming.EventStream.readStream(spark, streamDir)
              .select(col("user_id"), col("event_id"), col("ts"))
              .as[streaming.EventStream.Event])
          .writeStream.outputMode("append")
          .format("memory").queryName(s"runone_ret_$i")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"runone-ret-$i").toString)
          .start()
        try q.processAllAvailable() finally q.stop()
        val n = streaming.EventStream.retentionMatrix(spark.table(s"runone_ret_$i")).count()
        println(f"[runone] iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n matrix rows)")
        spark.catalog.dropTempView(s"runone_ret_$i")
      }
      spark.stop(); return
    }
    // q108_partitioned: rewrite the dir's events into the salted
    // day-partitioned layout once, then time the DECLARED q108 against
    // it — the at-scale proof that the day bound prunes whole
    // directories (the flat run only gets a pushed ts range)
    if (name == "q108_partitioned") {
      val d = java.nio.file.Files.createTempDirectory("runone-q108-part").toString
      val t0 = System.nanoTime()
      Tables.writeEventsPartitionedByDay(spark, sfDir, s"$d/events.parquet",
        filesPerDay = 8)
      println(f"[runone] partitioned rewrite: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (1 to iters).foreach { i =>
        val t1 = System.nanoTime()
        SparkEntry.queries("q108_day_bounded_window")(spark, d)
          .write.format("noop").mode("overwrite").save()
        println(f"[runone] iter $i: ${(System.nanoTime() - t1) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    // ivf_serve: build + persist the composed index ONCE outside the
    // timed loop, then time ONLY the served probe — the steady-state
    // number a serving deployment actually pays per query block once
    // the index exists (the declared q262 deliberately prices the
    // whole lifecycle; this isolates its serve stage)
    if (name == "ivf_serve") {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = operators.KMeans.evalQueries(e)
        .localCheckpoint(true)
      val path = Scratch.dir("runone-ivf-serve")
      val t0 = System.nanoTime()
      sources.IvfStore.write(
        operators.Quantize.buildIvfAdcIndex(e, materialized = true), path)
      println(f"[runone] index build+write: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (1 to iters).foreach { i =>
        val t1 = System.nanoTime()
        sources.IvfStore.servedTop10(spark, path, q)
          .write.format("noop").mode("overwrite").save()
        println(f"[runone] iter $i: ${(System.nanoTime() - t1) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    // ivf_lifecycle: stage-cost breakdown of the WHOLE persisted-store
    // lifecycle on one store — build(old half) → four streaming-style
    // exactly-once commits → compaction → rebuild audit (must read
    // clean) → retrain (generation swap) → timed serves. The declared
    // q262/q263/q268/q269 each deliberately price a full lifecycle per
    // query; this probe prices each STAGE once, at any corpus scale
    if (name == "ivf_lifecycle") {
      import org.apache.spark.sql.functions._
      def timed(label: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); f
        println(f"[runone] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(true)
      val cut = e.agg(max("vec_id")).head().getLong(0) / 2
      val old = e.filter(col("vec_id") <= cut)
      val path = Scratch.dir("runone-ivf-lifecycle")
      timed("build old-half store") { sources.IvfStore.writeFitted(old, path) }
      val arr = e.filter(col("vec_id") > cut)
      (0 until 4).foreach { i =>
        timed(s"commitBatch $i") {
          sources.IvfStore.commitBatch(spark, path,
            arr.filter(pmod(col("vec_id"), lit(4)) === i), "lifecycle", i.toLong)
        }
      }
      timed("compact") {
        val r = sources.IvfStore.compact(spark, path, maxFilesPerCell = 2)
        println(s"[runone]   compacted ${r.size} cells")
      }
      timed("audit") {
        val bad = sources.IvfStore.auditRebuild(spark, path)
          .filter(col("n_only_stored") > 0 || col("n_only_rebuilt") > 0).count()
        println(s"[runone]   audit dirty cells: $bad")
      }
      timed("retrain") { sources.IvfStore.retrain(spark, path); () }
      val q = operators.KMeans.evalQueries(e)
      (1 to iters).foreach { i =>
        timed(s"serve iter $i") {
          sources.IvfStore.servedTop10(spark, path, q)
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop(); return
    }
    // dev probe: time ONLY q124's basket-build stage (the one
    // order-keyed exchange + collect_set), no persist, no consumers —
    // isolates where the 100× wall time lives
    if (name.startsWith("dev_basket_")) {
      import org.apache.spark.sql.functions._
      val fact = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
      def stage(n: String): org.apache.spark.sql.DataFrame = n match {
        case "dev_basket_stage1" => // collect_set build
          fact.join(broadcast(Tables.part(spark, sfDir)
              .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
        case "dev_basket_mask" => // bit_or build only
          fact.join(broadcast(Tables.part(spark, sfDir)
              .select(col("p_partkey"), pmod(col("p_partkey"), lit(25)).as("idx"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg(bit_or(expr("shiftleft(cast(1 as bigint), idx)")).as("mask"))
        case "dev_basket_join" => // broadcast join only, no agg
          fact.join(broadcast(Tables.part(spark, sfDir)
              .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
        case "dev_basket_scan" => // fact scan + bounded agg only
          fact.groupBy(pmod(col("l_partkey"), lit(32))).agg(count(lit(1)))
      }
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        stage(name).write.format("noop").mode("overwrite").save()
        println(f"[runone] iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    // comma-separated names = one JVM measuring a batch (amplification
    // sweeps); per-name iters, min reported per name. A 4th arg of
    // `explain` additionally dumps each name's formatted plan to
    // /tmp/graft-plans/<name>.txt; `jobs` counts the last iteration's
    // Spark jobs per name (dev-only profiling).
    if (name.contains(",")) {
      val batchExplain = args.length > 3 && args(3) == "explain"
      val batchJobs = args.length > 3 && args(3) == "jobs"
      val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val jobWall = new java.util.concurrent.atomic.AtomicLong(0L)
      @volatile var rec = false
      if (batchJobs) {
        import org.apache.spark.scheduler._
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            if (rec) { starts.put(j.jobId, System.nanoTime()); jobCount.incrementAndGet(); () }
          override def onJobEnd(j: SparkListenerJobEnd): Unit =
            if (rec) Option(starts.get(j.jobId)).foreach { t0 =>
              jobWall.addAndGet(System.nanoTime() - t0); ()
            }
        })
      }
      name.split(",").foreach { n =>
        val f = SparkEntry.queries(n)
        if (batchExplain) {
          val dirp = java.nio.file.Paths.get("/tmp/graft-plans")
          java.nio.file.Files.createDirectories(dirp)
          val plan = f(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(dirp.resolve(s"$n.txt"), plan)
        }
        val times = (1 to iters).map { i =>
          rec = batchJobs && i == iters
          if (rec) { jobCount.set(0); jobWall.set(0L) }
          val t0 = System.nanoTime()
          f(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        rec = false
        val jobsNote = if (batchJobs)
          f"  jobs ${jobCount.get()} (wall ${jobWall.get() / 1e9}%.2f s)" else ""
        println(f"[runone] $n: min ${times.min}%.2f s  (${times.map(t => f"$t%.2f").mkString(", ")})$jobsNote")
      }
      spark.stop(); return
    }
    val sampled = "q77_sampled_(\\d+)".r
    val hashed = "q81_hashed_(\\d+)".r
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame = name match {
      case sampled(pct) =>
        (s, d) => operators.Dedup.minhashCalibration(s, d, pct.toInt)
      case hashed(buckets) =>
        (s, d) => operators.TextAnalysis.dsirWeightHashed(s, d, buckets.toInt)
      case _ => SparkEntry.queries(name)
    }
    if (explain) fn(spark, sfDir).explain("formatted")
    // dev-only profiling mode: `... <iters> jobs` attaches a listener
    // that prints one line per Spark job of the LAST iteration (wall
    // span, stage/task counts) — separates scheduler/job-count overhead
    // from genuine compute when tuning a query's orchestration
    val profileJobs = args.length > 3 && args(3) == "jobs"
    @volatile var record = false
    if (profileJobs) {
      import org.apache.spark.scheduler._
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (record) {
            starts.put(j.jobId, (System.nanoTime(), j.stageInfos.size))
            descs.put(j.jobId, Option(
              j.properties.getProperty("spark.job.description"))
              .orElse(Option(j.properties.getProperty("callSite.short")))
              .getOrElse("").take(90))
            ()
          }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          if (record) Option(starts.get(j.jobId)).foreach { case (t0, ns) =>
            println(f"[runone]   job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $ns stages  ${descs.getOrDefault(j.jobId, "")}")
          }
      })
    }
    (1 to iters).foreach { i =>
      record = profileJobs && i == iters
      val t0 = System.nanoTime()
      // noop sink = full plan (projections + final sort survive), unlike
      // count() which lets Catalyst prune both.
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[runone] iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
