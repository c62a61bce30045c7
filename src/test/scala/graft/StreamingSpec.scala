package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Streaming behavior: drive the file source over the real events
  * parquet with a memory sink and check the incremental answer equals
  * the batch answer. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  /** Stage `rows` as ONE flat parquet file `dir/<name>` (the file stream
    * source lists flat files, not nested part dirs), ts given as epoch
    * micros and written NTZ — the current driver encoding. Multiple
    * calls with names in lexicographic order + `maxFilesPerTrigger=1`
    * give deterministic micro-batch delivery order. */
  private def writeFlatEvents(dir: java.nio.file.Path, name: String,
      rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory(s"graft-stage-$name")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = java.nio.file.Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, dir.resolve(name))
  }

  /** The same rows as a batch events table at `dir/events.parquet`, for
    * the SparkEntry batch-twin side of a parity assertion. */
  private def writeBatchEvents(dir: java.nio.file.Path,
      rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(dir.resolve("events.parquet").toString)
  }

  test("streaming daily windows match the batch q21 time-window query") {
    // the file stream source requires a directory; stage the table file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
    assert(stream.isStreaming)
    val q = EventStream.dailyTypeCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("daily_counts")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits watermark-closed windows; advance the
      // watermark by... all data is historical (2024), so after one batch
      // the watermark sits at max(ts)-1h and every earlier window closed.
      // A second empty micro-batch flushes them.
      q.processAllAvailable()
      val got = spark.table("daily_counts")
        .select("day", "event_type", "n", "sum_value")
      val want = SparkEntry.queries("q21_time_window")(spark, sf0001)
      val missing = want.exceptAll(got).count()
      // the final day's window may still be open (watermark holds it back)
      assert(missing <= want.groupBy("day").count().count())
      assert(got.count() > 0)
      // every emitted row must agree with batch exactly
      assert(got.exceptAll(want).count() == 0)
    } finally q.stop()
  }

  test("streaming dedup with watermark drops replayed events") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("b.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("deduped_events")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      val n = spark.table("deduped_events").count()
      val distinct = Tables.events(spark, sf0001).count()
      assert(n == distinct, s"expected $distinct deduped rows, got $n from a 2x replay")
    } finally q.stop()
  }

  test("stream-static join enriches streaming events with a dimension table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ss-join")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
    val dim = Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    import spark.implicits._
    val q = stream.join(dim, Seq("user_id"), "inner")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("seg_counts")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("seg_counts").as[(String, Long)].collect().toMap
      val want = Tables.events(spark, sf0001).join(dim, Seq("user_id"))
        .groupBy("c_mktsegment").count().as[(String, Long)].collect().toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("watermarked stream-stream join matches the batch time-range join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("events.parquet"))
    val q = EventStream.viewToPurchase(EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("view_purchase")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    try {
      q.processAllAvailable()
      q.processAllAvailable() // flush watermark-closed state
      val got = spark.table("view_purchase")
      val batch = EventStream.viewToPurchase(Tables.events(spark, sf0001))
      // every emitted streaming row appears in the batch answer...
      assert(got.exceptAll(batch).count() == 0)
      // ...and the join found real matches
      assert(got.count() > 0)
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replayed batches do not duplicate rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val out = java.nio.file.Files.createTempDirectory("graft-sink-out").resolve("events").toString
    val q = EventStream.idempotentParquetSink(
      EventStream.readStream(spark, dir.toString), out,
      java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val total = Tables.events(spark, sf0001).count()
    assert(spark.read.parquet(out).count() == total)
    // simulate a failure/retry: the SAME batch id is delivered again —
    // dynamic partition overwrite must replace, not append
    val replay = spark.read.parquet(out).filter(col("batch_id") === 0).drop("batch_id")
    EventStream.writeBatchIdempotent(replay, 0L, out)
    assert(spark.read.parquet(out).count() == total,
      "replaying batch 0 must leave the row count unchanged")
  }

  test("streaming session snapshot converges to the batch 30-minute-gap answer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sess")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[EventStream.Event]
    val q = EventStream.sessionCountsSnapshot(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("session_snapshot")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sess-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // update mode re-emits per batch; the LAST emission per user is the total
    val got = spark.table("session_snapshot")
      .groupBy("user_id").agg(max("n_sessions").as("s"), max("n_events").as("e"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the batch answer IS the declared q25 operator — reuse it, per-user grain
    val want = SparkEntry.queries("q25_sessionize")(spark, sf0001)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("streaming z-score monitor emits exactly the batch q80 anomalies") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zstream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.zscoreAnomalies(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("z_anomalies")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-z-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("z_anomalies")
      .select("event_id", "trailing_mean", "n_prev", "z")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    val want = SparkEntry.queries("q80_event_zscore")(spark, sf0001)
      .select("event_id", "trailing_mean", "n_prev", "z")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(want.nonEmpty, "batch twin must flag something at sf0.001 or the parity is vacuous")
    assert(got == want, "streaming anomalies = batch anomalies, bit-for-bit incl. rounding")
  }

  test("streaming funnel stage counts equal the batch q102 table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.funnelStages(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_stages")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-funnel-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("funnel_stages")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = SparkEntry.queries("q102_event_funnel")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).filter(_._2 > 0).toMap
    assert(got == want, s"stream stage counts must equal batch q102: got=$got want=$want")

    // and the Wilson-CI fold over the SAME emissions equals batch q209
    // row-for-row — the live dashboard's uncertainty bands are exact
    val ciGot = EventStream.funnelCiReport(spark.table("funnel_stages"))
      .collect().map(_.toSeq).toSeq
    val ciWant = SparkEntry.queries("q209_funnel_ci")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(ciWant.nonEmpty && ciGot == ciWant,
      s"stream-folded CI must equal batch q209: $ciGot vs $ciWant")

    // narrowing case (sf0.001's 15 users all convert): the planted
    // out-of-order users from the batch fixture must stall mid-funnel
    // in the stream exactly as they do in batch
    val dir2 = java.nio.file.Files.createTempDirectory("graft-funnel-stream2")
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ev(id: Long, user: Long, typ: String, minute: Long) =
      (id, base.plusSeconds(minute * 60).toEpochMilli * 1000000L, user, typ, 1.0)
    Seq(
      ev(1, 1, "view", 1), ev(2, 1, "click", 2), ev(3, 1, "purchase", 3),
      ev(4, 2, "purchase", 1), ev(5, 2, "view", 2), ev(6, 2, "click", 3),
      ev(7, 3, "click", 1), ev(8, 3, "view", 2),
      ev(9, 4, "view", 1))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir2/events.parquet")
    val stream2 = EventStream.readStream(spark, s"$dir2/events.parquet")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q2 = EventStream.funnelStages(stream2)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_stages2")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-funnel-ckpt2").toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("funnel_stages2")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 4L, 2L -> 2L, 3L -> 1L),
      s"planted out-of-order users must stall mid-funnel: $got2")
  }

  test("weekStartDay matches Spark's date_trunc(week) across a year of days") {
    import spark.implicits._
    // the retention parity holds only if the stream's Scala-side week
    // truncation and the batch plan's date_trunc agree on every day —
    // including year boundaries and the Sunday/Monday edge
    val rows = spark.range(0, 366)
      .select(expr("timestamp'2023-12-25 13:45:06' + make_interval(0,0,0,CAST(id AS INT),0,0,0)").as("ts"))
      .select(col("ts"), datediff(date_trunc("week", col("ts")), lit("1970-01-01")).as("want"))
      .collect()
    rows.foreach { r =>
      assert(EventStream.weekStartDay(r.getTimestamp(0)) == r.getInt(1).toLong,
        s"week start mismatch at ${r.getTimestamp(0)}")
    }
  }

  test("streaming audience sightings fold into the batch q166 overlap matrix") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-aud-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.audienceFirstSightings(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("aud_sightings")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-aud-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // the emitted rows are EXACTLY the distinct (user, type) set
    val seen = spark.table("aud_sightings")
    assert(seen.count() == seen.distinct().count(), "sightings emit once per (user, type)")
    val got = EventStream.audienceMatrix(seen).collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q166_audience_overlap")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "batch q166 must produce pairs at sf0.001")
    assert(got == want, "stream-folded audience matrix must equal batch q166 row-for-row")
  }

  test("streaming day sightings fold into the batch q174 active-users report") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dau-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[EventStream.Event]
    val q = EventStream.activeDaySightings(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dau_sightings")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-dau-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // the emitted rows are EXACTLY the distinct (user, epoch-day) set
    val seen = spark.table("dau_sightings")
    assert(seen.count() == seen.distinct().count(), "sightings emit once per (user, day)")
    val got = EventStream.activeUsersReport(seen).collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q174_active_users")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "batch q174 must produce days at sf0.001")
    assert(got == want, "stream-folded active-users report must equal batch q174 row-for-row")
  }

  test("streaming retention weeks fold into the batch q101 cohort matrix") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-retention-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[EventStream.Event]
    val q = EventStream.retentionWeeks(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("retention_weeks")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-retention-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = EventStream.retentionMatrix(spark.table("retention_weeks"))
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q101_retention_cohorts")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "batch q101 must produce cohorts at sf0.001")
    assert(got == want,
      s"stream-folded retention matrix must equal batch q101 row-for-row")
  }

  test("retention parity survives out-of-order multi-batch delivery") {
    import spark.implicits._
    // a user's EARLIEST week arrives in a LATER micro-batch — the
    // regime a first-seen cohort pin would get wrong; the set-of-weeks
    // emission + min(week) fold is order-independent by construction
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z") // a Monday
    def ev(id: Long, user: Long, week: Long) =
      (id, base.plusSeconds(week * 7 * 86400).toEpochMilli * 1000L, user, "view", 1.0,
        """{}""")
    val early = Seq(ev(1, 1, 0), ev(2, 2, 0))           // week 0 events
    val late = Seq(ev(3, 1, 2), ev(4, 2, 1), ev(5, 3, 1)) // weeks 1-2
    val dir = java.nio.file.Files.createTempDirectory("graft-ooo-ret")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // file 'a' sorts FIRST but carries the LATER weeks (file-source
    // ordering is by path), so with one file per trigger the stream
    // sees the out-of-order regime
    writeFlatEvents(dir, "a.parquet", late)
    writeFlatEvents(dir, "b.parquet", early)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.retentionWeeks(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .as[EventStream.Event])
      .writeStream.outputMode("append")
      .format("memory").queryName("ooo_retention")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ooo-ret-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = EventStream.retentionMatrix(spark.table("ooo_retention"))
      .collect().map(_.toSeq).toSeq
    // batch twin over the union of both files
    val batchDir = java.nio.file.Files.createTempDirectory("graft-ooo-batch")
    (early ++ late).toDF(cols: _*).select(col("event_id"),
        expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$batchDir/events.parquet")
    val want = SparkEntry.queries("q101_retention_cohorts")(spark, batchDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"out-of-order delivery must not skew cohorts: got=$got want=$want")
  }

  test("funnel parity survives out-of-order multi-batch delivery") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, user: Long, typ: String, minute: Long) =
      (id, us(minute), user, typ, 1.0, "{}")
    // clicks/purchases land a micro-batch BEFORE the views that admit
    // them — the regime a first-qualifying-event fold gets wrong (a
    // click rejected against a missing/provisional first-view would be
    // lost forever)
    val first = Seq(
      ev(1, 1, "click", 5), ev(2, 1, "purchase", 7), // u1: full funnel once view@2 lands
      ev(3, 2, "purchase", 3),                       // u2: no click ever -> stalls at stage 1
      ev(4, 3, "click", 10),                         // u3: click BEFORE the late view -> stage 1 only
      // u4: provisional view@10 rejects click@5; the later view@2 must admit it
      ev(5, 4, "view", 10), ev(6, 4, "click", 5), ev(7, 4, "purchase", 6))
    val second = Seq(ev(8, 1, "view", 2), ev(9, 2, "view", 1),
      ev(10, 3, "view", 20), ev(11, 4, "view", 2))
    val dir = java.nio.file.Files.createTempDirectory("graft-ooo-funnel")
    writeFlatEvents(dir, "a.parquet", first)
    writeFlatEvents(dir, "b.parquet", second)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.funnelStages(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .format("memory").queryName("ooo_funnel")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ooo-funnel-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // fold: stage time = min(us) per (user, stage) — must equal the
    // batch t1/t2/t3 definition on the union of both files
    val folded = spark.table("ooo_funnel")
      .groupBy("user_id", "stage").agg(min("us").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(folded == Map(
      (1L, 1L) -> us(2), (1L, 2L) -> us(5), (1L, 3L) -> us(7),
      (2L, 1L) -> us(1),
      (3L, 1L) -> us(20),
      (4L, 1L) -> us(2), (4L, 2L) -> us(5), (4L, 3L) -> us(6)),
      s"stage times must equal the batch funnel under out-of-order delivery: $folded")
    // and the per-stage user counts equal batch q102 on the same rows
    val batchDir = java.nio.file.Files.createTempDirectory("graft-ooo-funnel-batch")
    writeBatchEvents(batchDir, first ++ second)
    val want = SparkEntry.queries("q102_event_funnel")(spark, batchDir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).filter(_._2 > 0).toMap
    val got = spark.table("ooo_funnel")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"stage counts: $got vs batch $want")
  }

  /** Order-free fold of [[EventStream.TouchCredit]] emissions: final
    * credit per purchase = the emission with the max winning-touch key
    * (strictly increasing across re-emissions — see the case class
    * scaladoc), rolled up by touch type as batch q122 does. */
  private def foldCredits(table: String): Map[String, (Long, Double)] =
    spark.table(table).collect()
      .map(r => (r.getLong(1), (r.getLong(5), r.getLong(6)), r.getString(4),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .groupBy(_._1).values
      .map(_.maxBy(e => e._2))
      .groupBy(_._3)
      .map { case (t, es) => t -> (es.size.toLong, es.flatMap(_._4).sum) }

  test("streaming attribution credits fold to the batch q122 table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-attrib-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    import spark.implicits._
    val q = EventStream.attributionCredits(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib_credits")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-attrib-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = foldCredits("attrib_credits")
    val want = SparkEntry.queries("q122_attribution")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet, s"${got.keySet} vs ${want.keySet}")
    got.foreach { case (t, (n, v)) =>
      assert(n == want(t)._1, s"$t: $n purchases vs ${want(t)._1}")
      assert(math.abs(v - want(t)._2) < 1e-6, s"$t: $v vs ${want(t)._2}")
    }
  }

  test("attribution fold equals an independent replay on randomized out-of-order deliveries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // purchases routinely arrive BEFORE their touches here; the state
    // must re-emit improved credits and the max-touch-key fold must
    // land on the batch answer under ANY delivery split
    val rnd = new scala.util.Random(20260814L)
    (1 to 3).foreach { round =>
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val events = (1 to 60).map { id =>
        (id.toLong, base.plusSeconds(rnd.nextInt(600) * 60L).toEpochMilli * 1000L,
          (id % 5).toLong + 1,
          Seq("view", "click", "signup", "purchase")(rnd.nextInt(4)), id * 0.5)
      }
      // independent truth: per purchase, last preceding non-purchase in
      // (us, id) order
      val want = events.filter(_._4 == "purchase").map { p =>
        val touch = events
          .filter(e => e._3 == p._3 && e._4 != "purchase" &&
            (e._2 < p._2 || (e._2 == p._2 && e._1 < p._1)))
          .sortBy(e => (e._2, e._1)).lastOption
        p._1 -> touch.map(_._4).getOrElse("direct")
      }.toMap
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Long, Long, String, Double)]
      val q = EventStream.attributionCredits(
          ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
            .select(col("user_id"), col("event_id"),
              expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
            .as[EventStream.TypedEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(s"rand_attrib_$round")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-ra-$round").toString)
        .start()
      try {
        var rest = rnd.shuffle(events)
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(7)
          ms.addData(rest.take(take))
          q.processAllAvailable()
          rest = rest.drop(take)
        }
      } finally q.stop()
      val got = spark.table(s"rand_attrib_$round").collect()
        .map(r => (r.getLong(1), (r.getLong(5), r.getLong(6)), r.getString(4)))
        .groupBy(_._1).values.map(es => es.maxBy(_._2)._1 -> es.maxBy(_._2)._3).toMap
      assert(got == want, s"seed round $round: $got != $want")
    }
  }

  test("watermarked attribution finalizes old purchases and trims dead touches, same answer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventStream.attributionCredits(
        ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
          .select(col("user_id"), col("event_id"),
            expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
          .withWatermark("ts", "10 minutes")
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append").format("memory").queryName("wm_attrib")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-wm-attrib-ckpt").toString)
      .start()
    try {
      // batch A: u1 has touches at 2/5min and a purchase at 7min; the
      // 60-min event pushes the watermark to 50min for batch B — the
      // purchase@7 finalizes (credit = click@5), the 2-min view is
      // dominated by the 5-min click (both below wm) and trims
      ms.addData(Seq(
        (1L, us(2), 1L, "view", 1.0),
        (2L, us(5), 1L, "click", 1.0),
        (3L, us(7), 1L, "purchase", 4.0),
        (4L, us(60), 2L, "view", 1.0)))
      q.processAllAvailable()
      // batch B: a LATE touch below the purchase (inadmissible, must
      // NOT re-attribute the finalized purchase) plus u2's purchase
      // crediting the still-stored view@60
      ms.addData(Seq(
        (5L, us(6), 1L, "signup", 1.0),
        (6L, us(61), 2L, "purchase", 2.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = foldCredits("wm_attrib")
    assert(got == Map("click" -> (1L, 4.0), "view" -> (1L, 2.0)),
      s"watermark finalization/trim must preserve credits: $got")
  }

  test("stateful streaming twins survive dirty rows; parity over keyable rows") {
    import spark.implicits._
    // the batch dirty-events sweep's own rationale: a 100 TB event log
    // WILL carry nulls from producer bugs. One dirty row must not kill
    // a streaming query. Contract (EventStream.droppingNullKeys): rows
    // with null user_id/ts drop at ingest; parity holds against batch
    // computed over the keyable rows. Null value/type rows stay KEYABLE
    // and must flow through both engines identically.
    val base = java.time.Instant.parse("2024-03-04T08:00:00Z")
    def us(minute: Long): java.lang.Long = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    val clean = (1 to 60).map { i =>
      org.apache.spark.sql.Row(i.toLong, us(i.toLong * 7), (i % 7).toLong,
        Seq("view", "click", "purchase")(i % 3), i * 1.5, s"""{"k":$i}""")
    }
    val keyableDirty = Seq(
      org.apache.spark.sql.Row(101L, us(500), 1L, null, 2.0, "{}"),    // null type
      org.apache.spark.sql.Row(102L, us(501), 2L, "view", null, "{}")) // null value
    val unkeyable = Seq(
      org.apache.spark.sql.Row(105L, null, 5L, "view", 1.0, "{}"),     // null ts
      org.apache.spark.sql.Row(106L, us(506), null, "view", 1.0, "{}")) // null user
    val rawSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    def write(dir: java.nio.file.Path, rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), rawSchema)
        .select(col("event_id"),
          expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(dir.resolve("events.parquet").toString)
    val dirtyDir = java.nio.file.Files.createTempDirectory("graft-dirty-stream")
    val keyableDir = java.nio.file.Files.createTempDirectory("graft-dirty-keyable")
    write(dirtyDir, clean ++ keyableDirty ++ unkeyable)
    write(keyableDir, clean ++ keyableDirty)
    def drain(name: String, build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_], mode: String = "append"): Unit = {
      val q = build(EventStream.readStream(
          spark, dirtyDir.resolve("events.parquet").toString))
        .writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-$name-ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain("dirty_retention", df => EventStream.retentionWeeks(
      df.select(col("user_id"), col("event_id"), col("ts")).as[EventStream.Event]))
    drain("dirty_funnel", df => EventStream.funnelStages(
      df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]))
    drain("dirty_z", df => EventStream.zscoreAnomalies(
      df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]))
    drain("dirty_sess", df => EventStream.sessionCountsSnapshot(
      df.select(col("user_id"), col("event_id"), col("ts")).as[EventStream.Event]),
      mode = "update")
    drain("dirty_attrib", df => EventStream.attributionCredits(
      df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]))
    drain("dirty_deseason", df => EventStream.dailyTotalSightings(
      df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]))
    drain("dirty_convlat", df => EventStream.conversionLatencySightings(
      df.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]))
    // retention matrix == batch q101 over the keyable rows
    val gotRet = EventStream.retentionMatrix(spark.table("dirty_retention"))
      .collect().map(_.toSeq).toSeq
    val wantRet = SparkEntry.queries("q101_retention_cohorts")(spark, keyableDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(wantRet.nonEmpty && gotRet == wantRet)
    // funnel counts == batch q102 over the keyable rows
    val gotF = spark.table("dirty_funnel")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantF = SparkEntry.queries("q102_event_funnel")(spark, keyableDir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).filter(_._2 > 0).toMap
    assert(gotF == wantF && gotF.nonEmpty)
    // z-anomalies == batch q80 over the keyable rows (the null-value
    // row occupies its frame slot in both engines)
    val gotZ = spark.table("dirty_z").select("event_id", "z")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantZ = SparkEntry.queries("q80_event_zscore")(spark, keyableDir.toString)
      .select("event_id", "z")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotZ == wantZ)
    // session totals == batch q25 over the keyable rows
    val gotS = spark.table("dirty_sess").groupBy("user_id")
      .agg(max("n_sessions").as("s"), max("n_events").as("e"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val wantS = SparkEntry.queries("q25_sessionize")(spark, keyableDir.toString)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotS == wantS && gotS.nonEmpty)
    // daily latency report == batch q240 over the keyable rows (the
    // null-TYPE row is neither view nor purchase in both engines; the
    // null-VALUE row is a valid view — q240 never reads value)
    val gotL = EventStream.dailyLatencyReport(spark.table("dirty_convlat"))
      .collect().map(_.toSeq).toSeq
    val wantL = SparkEntry.queries("q240_daily_latency")(
        spark, keyableDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(wantL.nonEmpty && gotL == wantL)
    // deseasonalized daily report == batch q239 over the keyable rows
    // (the null-type and null-value rows drop in both engines' own
    // q239 filters; null-user/ts rows drop at ingest by the keyable
    // contract and never reach a daily total)
    val gotD = EventStream.deseasonalizedReport(spark.table("dirty_deseason"))
      .collect().map(_.toSeq).toSeq
    val wantD = SparkEntry.queries("q239_deseasonalized_anomaly")(
        spark, keyableDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(wantD.nonEmpty && gotD == wantD)
    // attribution credits == batch q122 over the keyable rows (the
    // null-TYPE row is neither touch nor purchase in both engines)
    val gotA = foldCredits("dirty_attrib")
    val wantA = SparkEntry.queries("q122_attribution")(spark, keyableDir.toString)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotA.keySet == wantA.keySet && gotA.nonEmpty)
    gotA.foreach { case (t, (n, v)) =>
      assert(n == wantA(t)._1 && math.abs(v - wantA(t)._2) < 1e-6, s"$t: ($n,$v) vs ${wantA(t)}")
    }
  }

  test("attribution twin recovers purchases and touches from a checkpoint restart") {
    import spark.implicits._
    // the rich-state restart scenario, modeled on the funnel/z pair:
    // u1's purchase arrives in run 1 with NO touch (credited direct);
    // the admitting view arrives in run 2 with an EARLIER ts — only
    // restored purchase state can re-emit the improved credit. u2's
    // touch arrives in run 1, its purchase in run 2 — only a restored
    // touch can credit it. Fresh state would emit direct for u2 and
    // nothing more for u1.
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, user: Long, minute: Long, tpe: String, value: Double) =
      (id, us(minute), user, tpe, value, "{}")
    val fileA = Seq(ev(1, 1, 50, "purchase", 5.0), ev(2, 2, 10, "view", 1.0))
    val fileB = Seq(ev(3, 1, 40, "view", 1.0), ev(4, 2, 20, "purchase", 7.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-arestart")
    val ck = java.nio.file.Files.createTempDirectory("graft-arestart-ckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Option[Double])]
    def query() = EventStream.attributionCredits(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value")).as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.TouchCredit], _: Long) =>
        val out = batch.collect()
          .map(c => (c.event_id, c.touch_type, c.touch_us, c.touch_id, c.value))
        rows.synchronized { rows ++= out }
        ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = query(); try q1.processAllAvailable() finally q1.stop()
    assert(rows.synchronized(rows.toSeq).map(r => (r._1, r._2)) == Seq(1L -> "direct"),
      s"run 1 must credit the touchless purchase direct: $rows")
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query(); try q2.processAllAvailable() finally q2.stop()
    // fold all emissions across both runs: final credit per purchase
    val folded = rows.synchronized(rows.toSeq)
      .groupBy(_._1).view.mapValues(_.maxBy(e => (e._3, e._4))).toMap
    assert(folded(1L)._2 == "view" && folded(4L)._2 == "view",
      s"restored state must re-credit u1 and credit u2 from the stored touch: $folded")
    // and the credit rollup equals batch q122 on the union
    val batchDir = java.nio.file.Files.createTempDirectory("graft-arestart-batch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val want = SparkEntry.queries("q122_attribution")(spark, batchDir.toString)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = folded.values.toSeq.groupBy(_._2)
      .map { case (t, es) => t -> (es.size.toLong, es.flatMap(_._5).sum) }
    assert(got.keySet == want.keySet)
    got.foreach { case (t, (n, v)) =>
      assert(n == want(t)._1 && math.abs(v - want(t)._2) < 1e-6, s"$t: ($n,$v) vs ${want(t)}")
    }
  }

  test("Welch monitor recovers its moment state from a checkpoint restart") {
    import graft.operators.Stats
    // complete-mode aggregation state lives in the state store: after a
    // stop/restart on the SAME checkpoint, the file source replays only
    // the NEW file — so the post-restart summary equals the A∪B batch
    // answer ONLY if the restored (n, Σ, M2) partials merged B on top
    // of A. Lost state would leave a B-only summary.
    val base = java.time.Instant.parse("2024-02-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, minute: Long, tpe: String, value: Double) =
      (id, us(minute), id % 7, tpe, value, "{}")
    val fileA = (1 to 30).map(i =>
      ev(i.toLong, i.toLong, if (i % 2 == 0) "purchase" else "view", i * 1.5))
    val fileB = (31 to 45).map(i =>
      ev(i.toLong, i.toLong, if (i % 3 == 0) "purchase" else "view", i * 0.5))
    val dir = java.nio.file.Files.createTempDirectory("graft-welch-restart")
    val ck = java.nio.file.Files.createTempDirectory("graft-welch-rckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    def query(name: String) = EventStream.welchCohortSummaries(
        EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .option("checkpointLocation", ck).start()
    val q1 = query("welch_r1"); try q1.processAllAvailable() finally q1.stop()
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query("welch_r2"); try q2.processAllAvailable() finally q2.stop()
    val got = Stats.welchFromSummaries(spark.table("welch_r2"))
      .collect().map(_.toSeq).toSeq
    val batchDir = java.nio.file.Files.createTempDirectory("graft-welch-rbatch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val want = SparkEntry.queries("q137_welch_ttest")(spark, batchDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      s"restored moments must fold file B onto file A's state: $got vs $want")
    // non-vacuous: a state-less restart would count only file B's rows
    assert(got.head.head == fileA.count(_._4 == "purchase").toLong
      + fileB.count(_._4 == "purchase").toLong)
  }

  test("EWMA monitor recovers its day sum and ring from a checkpoint restart") {
    import spark.implicits._
    // per-type state = (accumulating day sum, ring of closed days).
    // Run 1 closes day1 (ring <- [30]) and leaves day2 OPEN at sum 5;
    // run 2 delivers more day2 rows then a day3 row. The day2 emission
    // is correct ONLY if both state parts survived the restart:
    //   x = 5 (run 1) + 7 (run 2) = 12      — restored day sum
    //   baseline = 30, spike (|12-30| > 7.5) — restored ring
    // Fresh state would emit x = 7 with NO baseline.
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, minute: Long, value: Double) =
      (id, us(minute), id % 3, "view", value, "{}")
    val day = 24 * 60L
    val fileA = Seq(ev(1, 0, 10.0), ev(2, 30, 20.0), ev(3, day + 10, 5.0))
    val fileB = Seq(ev(4, day + 40, 7.0), ev(5, 2 * day + 5, 1.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-ewma-restart")
    val ck = java.nio.file.Files.createTempDirectory("graft-ewma-rckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    val rows = scala.collection.mutable.ArrayBuffer.empty[EventStream.EwmaPoint]
    def query() = EventStream.ewmaDailyAnomalies(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value")).as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.EwmaPoint], _: Long) =>
        val out = batch.collect()
        rows.synchronized { rows ++= out }
        ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = query(); try q1.processAllAvailable() finally q1.stop()
    assert(rows.synchronized(rows.toSeq) ==
      Seq(EventStream.EwmaPoint("view", "2024-03-01", 30.0, None, None, 0L)),
      s"run 1 must close only day 1, with an empty ring: $rows")
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query(); try q2.processAllAvailable() finally q2.stop()
    val day2 = rows.synchronized(rows.toSeq).filter(_.day == "2024-03-02")
    assert(day2 == Seq(EventStream.EwmaPoint(
      "view", "2024-03-02", 12.0, Some(30.0), Some(-18.0), 1L)),
      s"restored sum (5+7) and ring ([30]) must score day 2: $day2")
    // and every closed-day emission equals batch q113 on the union
    val batchDir = java.nio.file.Files.createTempDirectory("graft-ewma-rbatch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val batch = SparkEntry.queries("q113_ewma_anomaly")(spark, batchDir.toString)
      .select("event_type", "day", "x", "baseline", "dev", "is_spike")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getLong(5))).toSet
    val lastDay = batch.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).max }
    val want = batch.filter(r => r._2 != lastDay(r._1))
    val got = rows.synchronized(rows.toSeq)
      .map(p => (p.event_type, p.day, p.x, p.baseline, p.dev, p.is_spike)).toSet
    assert(want.nonEmpty && got == want,
      s"restart emissions must fold to batch q113 closed days: $got vs $want")
  }

  test("native session_window recovers open sessions from a checkpoint restart") {
    // the built-in operator keeps OPEN sessions in the state store; a
    // restart must resume them, not restart them. Run 1 delivers two
    // users' still-open sessions (watermark too early to close
    // anything — zero emissions); run 2, on the SAME checkpoint,
    // delivers one much-later event whose watermark closes them. The
    // emitted rows are correct ONLY if run 1's session state survived:
    // a fresh state would have nothing to close (the file source
    // replays only the new file).
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    val fileA = Seq(
      (1L, us(0), 7L, "view", 10.0, "{}"),
      (2L, us(10), 7L, "view", 2.5, "{}"),
      (3L, us(5), 8L, "click", 4.0, "{}"))
    val fileB = Seq((4L, us(300), 9L, "view", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sw-restart")
    val ck = java.nio.file.Files.createTempDirectory("graft-sw-rckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Double)]
    def query() = EventStream.sessionWindows(EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = batch.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3), r.getDouble(4)))
        rows.synchronized { rows ++= out }
        ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = query(); try q1.processAllAvailable() finally q1.stop()
    assert(rows.synchronized(rows.isEmpty),
      s"run 1's watermark cannot close anything: $rows")
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query(); try q2.processAllAvailable() finally q2.stop()
    val got = rows.synchronized(rows.toSet)
    // batch truth on A ∪ B, minus u9's still-open session
    val batchDir = java.nio.file.Files.createTempDirectory("graft-sw-rbatch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val want = SparkEntry.queries("q157_session_window")(spark, batchDir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
      .filter(_._1 != 9L).toSet
    assert(want.size == 2 && got == want,
      s"restored sessions must close exactly as batch: $got vs $want")
  }

  test("SCD2 twin recovers the open run from a checkpoint restart") {
    import spark.implicits._
    // per-user state = the current OPEN run. Run 1 delivers two 'view'
    // rows (nothing emits — the run is open at version 1, n=2); run 2
    // delivers 'click' then 'view'. Only a restored run can emit
    //   (version 1, view, n_events 2) then (version 2, click, n 1);
    // fresh state would start at version 1 = click and never know the
    // view run existed.
    val base = java.time.Instant.parse("2024-01-05T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, minute: Long, tpe: String) = (id, us(minute), 1L, tpe, 1.0, "{}")
    val fileA = Seq(ev(1, 0, "view"), ev(2, 10, "view"))
    val fileB = Seq(ev(3, 20, "click"), ev(4, 30, "view"))
    val dir = java.nio.file.Files.createTempDirectory("graft-scd-restart")
    val ck = java.nio.file.Files.createTempDirectory("graft-scd-rckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    val rows = scala.collection.mutable.ArrayBuffer.empty[EventStream.ClosedInterval]
    def query() = EventStream.scdIntervals(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value")).as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.ClosedInterval], _: Long) =>
        val out = batch.collect()
        rows.synchronized { rows ++= out }
        ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = query(); try q1.processAllAvailable() finally q1.stop()
    assert(rows.synchronized(rows.isEmpty), s"run 1's view run stays open: $rows")
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query(); try q2.processAllAvailable() finally q2.stop()
    val got = rows.synchronized(rows.toSeq)
    assert(got.map(i => (i.version, i.state, i.n_events)) ==
      Seq((1L, "view", 2L), (2L, "click", 1L)),
      s"restored open run must close as version 1 with both run-1 events: $got")
    // and the closed intervals equal batch q111 minus is_current rows
    val batchDir = java.nio.file.Files.createTempDirectory("graft-scd-rbatch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val want = SparkEntry.queries("q111_scd2")(spark, batchDir.toString)
      .filter(col("is_current") === 0L)
      .select("user_id", "version", "state", "valid_from", "valid_to", "n_events")
      .collect().map(_.toSeq).toSet
    val gotSet = got.map(i => Seq[Any](i.user_id, i.version, i.state,
      i.valid_from, i.valid_to, i.n_events)).toSet
    assert(want.nonEmpty && gotSet == want,
      s"restart emissions must equal batch q111 closed rows: $gotSet vs $want")
  }

  test("funnel fold equals the batch definition on randomized out-of-order deliveries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the hand-picked out-of-order test pins known regimes; this seeded
    // random sweep guards the trim logic's edges (candidate sets must
    // keep exactly the still-relevant clicks/purchases under ANY
    // delivery split)
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { round =>
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val events = (1 to 60).map { id =>
        (id.toLong, base.plusSeconds(rnd.nextInt(600) * 60L).toEpochMilli * 1000L,
          (id % 5).toLong + 1, Seq("view", "click", "purchase")(rnd.nextInt(3)), 1.0)
      }
      // batch truth straight from the q102 definition
      def t1(u: Long) = events.filter(e => e._3 == u && e._4 == "view").map(_._2).minOption
      def t2(u: Long) = t1(u).flatMap(a =>
        events.filter(e => e._3 == u && e._4 == "click" && e._2 > a).map(_._2).minOption)
      def t3(u: Long) = t2(u).flatMap(b =>
        events.filter(e => e._3 == u && e._4 == "purchase" && e._2 > b).map(_._2).minOption)
      val want = (1L to 5L).flatMap(u => Seq(
        t1(u).map((u, 1L, _)), t2(u).map((u, 2L, _)), t3(u).map((u, 3L, _))).flatten).toSet
      val shuffled = rnd.shuffle(events)
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Long, Long, String, Double)]
      val q = EventStream.funnelStages(
          ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
            .select(col("user_id"), col("event_id"),
              expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
            .as[EventStream.TypedEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(s"rand_funnel_$round")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-rf-$round").toString)
        .start()
      try {
        var rest = shuffled
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(7)
          ms.addData(rest.take(take))
          q.processAllAvailable()
          rest = rest.drop(take)
        }
      } finally q.stop()
      val got = spark.table(s"rand_funnel_$round")
        .groupBy("user_id", "stage").agg(min("us").as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed round $round: stream fold $got != batch truth $want")
    }
  }

  test("watermarked funnel trims dead candidates without changing the answer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the production funnel deployment: with a watermark on the input,
    // any future view carries ts >= wm, so a stored candidate at or
    // below min(t1, wm) can never qualify again — state is bounded by
    // the watermark horizon. The trim must be semantically invisible:
    // u2's click@5min is dead by construction (admissible views >= 50min
    // can never precede it), u1's candidates stay above the bar.
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventStream.funnelStages(
        ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
          .select(col("user_id"), col("event_id"),
            expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
          .withWatermark("ts", "10 minutes")
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append").format("memory").queryName("wm_funnel")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-wm-funnel-ckpt").toString)
      .start()
    try {
      // batch A: candidates first; the 60-min event advances the
      // watermark to 50 min for batch B
      ms.addData(Seq(
        (1L, us(60), 3L, "view", 1.0),
        (2L, us(58), 1L, "click", 1.0),
        (3L, us(59), 1L, "purchase", 1.0),
        (4L, us(5), 2L, "click", 1.0)))
      q.processAllAvailable()
      // batch B: admitting views, both >= the 50-min watermark
      ms.addData(Seq(
        (5L, us(52), 1L, "view", 1.0),
        (6L, us(53), 2L, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wm_funnel")
      .groupBy("user_id", "stage").agg(min("us").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 1L) -> us(52), (1L, 2L) -> us(58), (1L, 3L) -> us(59),
      (2L, 1L) -> us(53),
      (3L, 1L) -> us(60)),
      s"watermark trim must not change any reachable stage: $got")
  }

  test("stateful ops recover from a checkpoint restart mid-stream") {
    import spark.implicits._
    // the production failure mode: the query dies (or is redeployed)
    // after committing some batches; a NEW query instance on the SAME
    // checkpoint must restore operator state — re-sighted weeks stay
    // suppressed, sessions continue instead of restarting — and the
    // drained result must still equal batch over everything delivered
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z") // a Monday
    def ev(id: Long, user: Long, minute: Long) =
      (id, base.plusSeconds(minute * 60).toEpochMilli * 1000L, user, "view", 1.0, "{}")
    val fileA = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 5))
    val fileB = Seq(
      ev(4, 1, 20),              // u1: continues the run-1 session, re-sights week 0
      ev(5, 1, 200),             // u1: new session, still week 0
      ev(6, 1, 7 * 24 * 60 + 30), // u1: week 1
      ev(7, 2, 25))              // u2: continues the run-1 session (20 min gap)
    val dir = java.nio.file.Files.createTempDirectory("graft-restart")
    val ckRet = java.nio.file.Files.createTempDirectory("graft-restart-ckpt-r").toString
    val ckSess = java.nio.file.Files.createTempDirectory("graft-restart-ckpt-s").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    // the memory sink refuses checkpoint recovery by design, so the
    // restart test uses foreachBatch sinks — the recoverable sink shape
    // a real deployment would use (the idempotent parquet sink pattern)
    val retRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sessRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def retQuery() = EventStream.retentionWeeks(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts")).as[EventStream.Event])
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.WeekActive], _: Long) =>
        val out = batch.collect().map(w => (w.user_id, w.week_day))
        retRows.synchronized { retRows ++= out }
        ()
      }
      .option("checkpointLocation", ckRet).start()
    def sessQuery() = EventStream.sessionCountsSnapshot(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts")).as[EventStream.Event])
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.UserSessions], _: Long) =>
        val out = batch.collect().map(u => (u.user_id, u.n_sessions, u.n_events))
        sessRows.synchronized { sessRows ++= out }
        ()
      }
      .option("checkpointLocation", ckSess).start()
    // run 1: commit fileA, then stop — the mid-stream kill
    val q1 = retQuery(); try q1.processAllAvailable() finally q1.stop()
    val s1 = sessQuery(); try s1.processAllAvailable() finally s1.stop()
    val run1 = retRows.synchronized(retRows.toSet)
    assert(run1.nonEmpty)
    retRows.clear()
    // fileB arrives while the queries are down
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = retQuery(); try q2.processAllAvailable() finally q2.stop()
    val s2 = sessQuery(); try s2.processAllAvailable() finally s2.stop()
    val run2 = retRows.synchronized(retRows.toSet)
    // restored state suppresses re-sightings (lost state would re-emit
    // u1/u2 week 0 and inflate the matrix)
    assert(run2.intersect(run1).isEmpty,
      s"checkpoint state lost: run 2 re-emitted ${run2.intersect(run1)}")
    val batchDir = java.nio.file.Files.createTempDirectory("graft-restart-batch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val got = EventStream.retentionMatrix(
        (run1 ++ run2).toSeq.toDF("user_id", "week_day"))
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q101_retention_cohorts")(spark, batchDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"emissions across the restart must fold to batch q101: $got vs $want")
    // final session totals across both runs continue run 1's state
    // (lost state would undercount n_events: u1 5->3, u2 2->1)
    val sess = sessRows.synchronized(sessRows.toVector)
      .groupBy(_._1)
      .map { case (u, rows) => u -> ((rows.map(_._2).max, rows.map(_._3).max)) }
    val wantSess = SparkEntry.queries("q25_sessionize")(spark, batchDir.toString)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sess == wantSess,
      s"restarted session totals must equal batch: $sess vs $wantSess")
  }

  test("funnel and z-score recover their rich state from a checkpoint restart") {
    import spark.implicits._
    // round-5 proved restart recovery for retention/session state (a
    // set and two counters); the funnel's candidate sets and the
    // z-score's ring buffer are the twins where a serde or re-emission
    // bug would hide. The scenario makes lost state VISIBLE: the funnel
    // candidates are delivered before the views that make them the
    // answer, and the z buffer is warmed past the n >= 10 guard before
    // the kill — a fresh-state run 2 would emit nothing for either.
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, user: Long, minute: Long, tpe: String, value: Double) =
      (id, us(minute), user, tpe, value, "{}")
    // u1: click+purchase candidates only — run 1 emits nothing for u1
    // u2: view in run 1, click in run 2 — stage 2 needs the stored t1
    // u3: 12-value warm-up for the z buffer; the run-2 outlier is an
    //     anomaly only if the buffer survives (fresh state: n = 1 < 10)
    val fileA = Seq(ev(1, 1, 58, "click", 1.0), ev(2, 1, 59, "purchase", 1.0),
      ev(3, 2, 10, "view", 1.0)) ++
      (0 until 12).map(i => ev(10L + i, 3, i.toLong, "view", 10.0 + (i % 2) * 0.2))
    val fileB = Seq(ev(4, 1, 52, "view", 1.0), ev(5, 2, 20, "click", 1.0),
      ev(30, 3, 12, "view", 50.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-frestart")
    val ckF = java.nio.file.Files.createTempDirectory("graft-frestart-ckpt-f").toString
    val ckZ = java.nio.file.Files.createTempDirectory("graft-frestart-ckpt-z").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    val fRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val zRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def typed() = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[EventStream.TypedEvent]
    def funnelQuery() = EventStream.funnelStages(typed())
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.StageAdvance], _: Long) =>
        val out = batch.collect().map(s => (s.user_id, s.stage, s.us))
        fRows.synchronized { fRows ++= out }
        ()
      }
      .option("checkpointLocation", ckF).start()
    def zQuery() = EventStream.zscoreAnomalies(typed())
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.Anomaly], _: Long) =>
        val out = batch.collect().map(a => (a.event_id, a.z))
        zRows.synchronized { zRows ++= out }
        ()
      }
      .option("checkpointLocation", ckZ).start()
    // run 1: commit fileA, then stop — the mid-stream kill
    val f1 = funnelQuery(); try f1.processAllAvailable() finally f1.stop()
    val z1 = zQuery(); try z1.processAllAvailable() finally z1.stop()
    val run1F = fRows.synchronized(fRows.toSet)
    assert(run1F == Set((2L, 1L, us(10)), (3L, 1L, us(0))),
      s"run 1 must emit only the two first views, got $run1F")
    assert(zRows.synchronized(zRows.isEmpty),
      "warm-up values must produce no anomalies in run 1")
    fRows.clear()
    // fileB arrives while the queries are down
    writeFlatEvents(dir, "b.parquet", fileB)
    val f2 = funnelQuery(); try f2.processAllAvailable() finally f2.stop()
    val z2 = zQuery(); try z2.processAllAvailable() finally z2.stop()
    val run2F = fRows.synchronized(fRows.toSet)
    // restored candidates complete u1's whole funnel and u2's stage 2;
    // restored t1s suppress re-emission of the run-1 views
    assert(run2F == Set(
      (1L, 1L, us(52)), (1L, 2L, us(58)), (1L, 3L, us(59)),
      (2L, 2L, us(20))),
      s"run 2 must complete funnels from restored candidates, got $run2F")
    // and the drained z anomalies equal batch q80 over everything
    val batchDir = java.nio.file.Files.createTempDirectory("graft-frestart-batch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val wantZ = SparkEntry.queries("q80_event_zscore")(spark, batchDir.toString)
      .select("event_id", "z")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gotZ = zRows.synchronized(zRows.toMap)
    assert(gotZ == wantZ && gotZ.contains(30L),
      s"restored ring buffer must score the outlier exactly as batch: $gotZ vs $wantZ")
  }

  test("watermark trim physically shrinks checkpointed funnel state; late rows drop") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // two claims the answer-parity tests can't see:
    // 1. the trim is REAL — the dead candidate is gone from the state
    //    STORE, not just invisible in the output (read back via the
    //    Spark 4 state data source);
    // 2. a late row (ts < watermark) is dropped at the operator
    //    boundary — it must not improve an already-emitted stage even
    //    when it would qualify semantically.
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    val ck = java.nio.file.Files.createTempDirectory("graft-wmstate-ckpt").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventStream.funnelStages(
        ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
          .select(col("user_id"), col("event_id"),
            expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
          .withWatermark("ts", "10 minutes")
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append").format("memory").queryName("wm_state")
      .option("checkpointLocation", ck)
      .start()
    try {
      // A: candidates + the u3 view that advances the watermark to 50
      ms.addData(Seq((1L, us(58), 1L, "click", 1.0), (2L, us(59), 1L, "purchase", 1.0),
        (3L, us(5), 2L, "click", 1.0), (4L, us(60), 3L, "view", 1.0)))
      q.processAllAvailable()
      // B: admitting views; u2's click@5 is below min(t1=53, wm=50) →
      // trimmed from state during this fold
      ms.addData(Seq((5L, us(52), 1L, "view", 1.0), (6L, us(53), 2L, "view", 1.0)))
      q.processAllAvailable()
      // C: push the watermark to 110; D: a LATE click@55 for u1 that
      // would improve t2 = 58 if it were processed
      ms.addData(Seq((7L, us(120), 3L, "view", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq((8L, us(55), 1L, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wm_state")
      .groupBy("user_id", "stage").agg(min("us").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 1L) -> us(52), (1L, 2L) -> us(58), (1L, 3L) -> us(59),
      (2L, 1L) -> us(53),
      (3L, 1L) -> us(60)),
      s"late click@55 must be dropped, not improve u1's t2: $got")
    // the state STORE agrees: u2 carries no candidates at all, u1
    // carries exactly its answer times, nothing below the bar
    val state = spark.read.format("statestore").load(ck)
      .selectExpr("key.value AS user_id", "value.groupState.*")
    val byUser = state.collect().map { r =>
      r.getAs[Long]("user_id") ->
        ((r.getAs[scala.collection.Seq[Long]]("clicks").toSeq,
          r.getAs[scala.collection.Seq[Long]]("purchases").toSeq))
    }.toMap
    assert(byUser(2L) == ((Seq.empty, Seq.empty)),
      s"u2's dead click@5 must be PHYSICALLY trimmed from state: ${byUser(2L)}")
    assert(byUser(1L) == ((Seq(us(58)), Seq(us(59)))),
      s"u1 must keep exactly its stage-time candidates: ${byUser(1L)}")
    assert(byUser(3L) == ((Seq.empty, Seq.empty)))
  }

  test("funnel late-data enforcement matches the simulated admission under unbounded disorder") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the bounded-disorder sweep proves parity when nothing is late;
    // this one delivers FULLY shuffled events so rows genuinely arrive
    // below the watermark, and checks the operator's late-row contract
    // is exactly deterministic: a row is admitted iff its event time is
    // >= the watermark at its batch's start (wm = running max event
    // time - 10 min, updated per completed batch from ALL delivered
    // rows — Spark's EventTimeWatermark stats see rows the fold
    // ignores). The expected answer is the order-independent funnel
    // over the admitted multiset.
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(7000L + seed)
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val events = (1 to 40).map { id =>
        (id.toLong, base.plusSeconds(rnd.nextInt(600) * 60L).toEpochMilli * 1000L,
          (id % 4).toLong + 1, Seq("view", "click", "purchase")(rnd.nextInt(3)), 1.0)
      }
      val delivery = rnd.shuffle(events)
      // chunk first, then simulate admission batch by batch
      val batches = {
        val out = Vector.newBuilder[Seq[(Long, Long, Long, String, Double)]]
        var rest = delivery
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(7)
          out += rest.take(take); rest = rest.drop(take)
        }
        out.result()
      }
      var wmMs = 0L
      val admitted = Vector.newBuilder[(Long, Long, Long, String, Double)]
      batches.foreach { b =>
        admitted ++= b.filter(e => wmMs <= 0L || e._2 >= wmMs * 1000L)
        wmMs = math.max(wmMs, b.map(_._2).max / 1000L - 10L * 60L * 1000L)
      }
      val adm = admitted.result()
      def t1(u: Long) = adm.filter(e => e._3 == u && e._4 == "view").map(_._2).minOption
      def t2(u: Long) = t1(u).flatMap(a =>
        adm.filter(e => e._3 == u && e._4 == "click" && e._2 > a).map(_._2).minOption)
      def t3(u: Long) = t2(u).flatMap(b =>
        adm.filter(e => e._3 == u && e._4 == "purchase" && e._2 > b).map(_._2).minOption)
      val want = (1L to 4L).flatMap(u => Seq(
        t1(u).map((u, 1L, _)), t2(u).map((u, 2L, _)), t3(u).map((u, 3L, _))).flatten).toSet
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Long, Long, String, Double)]
      val q = EventStream.funnelStages(
          ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
            .select(col("user_id"), col("event_id"),
              expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
            .withWatermark("ts", "10 minutes")
            .as[EventStream.TypedEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(s"late_sweep_$seed")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-ls-$seed").toString)
        .start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      val got = spark.table(s"late_sweep_$seed")
        .groupBy("user_id", "stage").agg(min("us").as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"seed $seed: stream $got != simulated-admission truth $want " +
          s"(${events.size - adm.size} rows late-dropped)")
      spark.catalog.dropTempView(s"late_sweep_$seed")
    }
  }

  test("watermarked funnel matches batch truth on seeded random deliveries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the watermark trim's argument (non-increasing stage times, the
    // wmMs > 0 inactivity guard) is pinned by one planted dead
    // candidate in the targeted test; this sweep drives it across 20
    // seeded deliveries WITH an advancing watermark. Disorder is
    // bounded STRICTLY below the 10-minute delay (delivery key =
    // ts + [0,9) min of jitter), so no row is ever late-dropped and
    // exact batch parity is the required answer — while the watermark
    // climbs all sweep long and trims every candidate below
    // min(t1, wm).
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(42L + seed)
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val events = (1 to 40).map { id =>
        (id.toLong, base.plusSeconds(rnd.nextInt(600) * 60L).toEpochMilli * 1000L,
          (id % 4).toLong + 1, Seq("view", "click", "purchase")(rnd.nextInt(3)), 1.0)
      }
      def t1(u: Long) = events.filter(e => e._3 == u && e._4 == "view").map(_._2).minOption
      def t2(u: Long) = t1(u).flatMap(a =>
        events.filter(e => e._3 == u && e._4 == "click" && e._2 > a).map(_._2).minOption)
      def t3(u: Long) = t2(u).flatMap(b =>
        events.filter(e => e._3 == u && e._4 == "purchase" && e._2 > b).map(_._2).minOption)
      val want = (1L to 4L).flatMap(u => Seq(
        t1(u).map((u, 1L, _)), t2(u).map((u, 2L, _)), t3(u).map((u, 3L, _))).flatten).toSet
      val delivery = events.sortBy(e => e._2 + rnd.nextInt(540) * 1000000L)
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Long, Long, String, Double)]
      val q = EventStream.funnelStages(
          ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
            .select(col("user_id"), col("event_id"),
              expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
            .withWatermark("ts", "10 minutes")
            .as[EventStream.TypedEvent])
        .writeStream.outputMode("append").format("memory")
        .queryName(s"wmsweep_$seed")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-wms-$seed").toString)
        .start()
      try {
        var rest = delivery
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(7)
          ms.addData(rest.take(take))
          q.processAllAvailable()
          rest = rest.drop(take)
        }
        // the sweep is vacuous unless the watermark actually advanced
        val wmSeen = q.recentProgress
          .flatMap(p => Option(p.eventTime.get("watermark"))).toSeq
        assert(wmSeen.exists(_ > "2023-12-31"),
          s"seed $seed: watermark never advanced: $wmSeen")
      } finally q.stop()
      val got = spark.table(s"wmsweep_$seed")
        .groupBy("user_id", "stage").agg(min("us").as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed: stream fold $got != batch truth $want")
      spark.catalog.dropTempView(s"wmsweep_$seed")
    }
  }

  test("stateful session counting works on the batch execution path too") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val events = Seq(
      EventStream.Event(1L, 10L, at(0)),
      EventStream.Event(1L, 11L, at(10)),   // same session (10 min gap)
      EventStream.Event(1L, 12L, at(60)),   // new session (50 min gap)
      EventStream.Event(2L, 13L, at(5)),
    ).toDS()
    // flatMapGroupsWithState on a batch Dataset: state starts empty and
    // times out never; output comes from the per-group iterator pass
    val got = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[EventStream.Event],
         state: org.apache.spark.sql.streaming.GroupState[EventStream.SessionState]) => {
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var sessions = 0L; var last = Long.MinValue
          sorted.foreach { e =>
            if (last == Long.MinValue || e.ts.getTime - last > 30 * 60000) sessions += 1
            last = e.ts.getTime
          }
          Iterator(EventStream.UserSessions(userId, sessions, sorted.size))
        })
      .collect().map(u => u.user_id -> ((u.n_sessions, u.n_events))).toMap
    assert(got(1L) == ((2L, 3L)))
    assert(got(2L) == ((1L, 1L)))
  }

  test("streaming EWMA monitor equals batch q113 on every closed day") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ewma-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.ewmaDailyAnomalies(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ewma-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    def vals(r: org.apache.spark.sql.Row) =
      (r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5))
    val got = spark.table("ewma_stream")
      .select("event_type", "day", "x", "baseline", "dev", "is_spike")
      .collect().map(r => key(r) -> vals(r)).toMap
    val batch = SparkEntry.queries("q113_ewma_anomaly")(spark, sf0001)
      .select("event_type", "day", "x", "baseline", "dev", "is_spike")
      .collect().map(r => key(r) -> vals(r)).toMap
    // the stream never closes each type's final day — parity on the rest
    val lastDay = batch.keys.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).max }
    val want = batch.filter { case ((t, d), _) => d != lastDay(t) }
    assert(want.nonEmpty && got == want,
      "streaming EWMA = batch q113 on closed days, incl. spike flags")
  }

  test("streaming SCD2 intervals equal the batch q111 closed rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.scdIntervals(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-scd-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("scd_stream")
      .select("user_id", "version", "state", "valid_from", "valid_to", "n_events")
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.queries("q111_scd2")(spark, sf0001)
      .filter(col("is_current") === 0L)
      .select("user_id", "version", "state", "valid_from", "valid_to", "n_events")
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      "streaming closed intervals = batch q111 minus is_current rows")
  }

  test("native session_window stream emits exactly the batch q157 closed sessions") {
    // q157's scaladoc claims "batch and stream share the plan" — this
    // is that claim executed: the same groupBy(user, session_window)
    // aggregate over a stream must emit, for every session the
    // watermark closed, the IDENTICAL row the batch query computes.
    val dir = java.nio.file.Files.createTempDirectory("graft-sw-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStream.sessionWindows(EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sw-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sw_stream").collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q157_session_window")(spark, sf0001)
    // the watermark after the single file batch is max(ts) − 1 h; a
    // session emits once the watermark passes its end
    val maxTs = Tables.events(spark, sf0001).agg(max("ts")).collect()(0).getTimestamp(0)
    val wmStr = new java.sql.Timestamp(maxTs.getTime - 3600 * 1000L)
      .toLocalDateTime.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val want = batch.collect()
      .filter(_.getString(2) < wmStr) // session_end before the final watermark
      .map(_.toSeq).toSet
    assert(want.nonEmpty, "fixture must close at least one session under the watermark")
    assert(got == want,
      s"stream sessions != batch closed sessions; got-only=${(got -- want).take(3)} " +
        s"want-only=${(want -- got).take(3)}")
  }

  test("dropDuplicatesWithinWatermark: same-ts replays drop; re-stamped replays re-admit only past eviction") {
    // the documented contract of EventStream.dedupWithinWatermark, both
    // halves. (a) A replay carrying its ORIGINAL ts can never re-admit:
    // while the key is in state it dedups, and once the key is evicted
    // the replay is by construction LATE (evicted ⇔ ts < wm − delay)
    // and the watermark filter drops it — exactly-once holds for
    // verbatim replays regardless of state eviction. (b) The honest
    // re-admission case is an at-least-once producer RE-STAMPING the
    // event with a fresh ingest ts: fresh-ts duplicates of keys still
    // in state drop, but keys already evicted come back — the bounded
    // guarantee the scaladoc trades for bounded state (downstream
    // batch dedup, q30, owns the tail).
    val dir = java.nio.file.Files.createTempDirectory("graft-ddww")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("a.parquet"))
    val q = EventStream.dedupWithinWatermark(EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("ddww_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ddww-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val distinct = Tables.events(spark, sf0001)
        .filter(col("event_id").isNotNull && col("ts").isNotNull).count()
      assert(spark.table("ddww_stream").count() == distinct,
        "phase 1 admits each event once")
      // (a) verbatim replay: every row drops (in-state dedup or late filter)
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("b.parquet"))
      q.processAllAvailable()
      assert(spark.table("ddww_stream").count() == distinct,
        "a same-ts replay must add nothing: state dedup + late filter cover all keys")
      // (b) re-stamped replay: same ids, ts = max(ts) (fresh, not late).
      // raw read keeps the NTZ physical encoding the stream declared.
      val raw = spark.read.parquet(s"$sf0001/events.parquet")
      val maxNtz = raw.agg(max("ts")).collect()(0)
        .getAs[java.time.LocalDateTime](0)
      raw.withColumn("ts", lit(maxNtz))
        .write.parquet(dir.resolve("c").toString)
      q.processAllAvailable()
      // still guarded = expiry (orig ts + 1 h) ahead of the phase-1/2
      // watermark (max(ts) − 1 h); evicted keys re-admit
      val maxUs = maxNtz.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        maxNtz.getNano / 1000L
      val readmitted = Tables.events(spark, sf0001)
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .filter(unix_micros(col("ts")) + 3600000000L <= lit(maxUs - 3600000000L))
        .count()
      val got = spark.table("ddww_stream").count()
      assert(got == distinct + readmitted,
        s"phase 3: $got rows vs $distinct first-arrivals + $readmitted post-eviction re-stamps")
      assert(readmitted > 0 && readmitted < distinct,
        "fixture must exercise BOTH the guarded and the evicted path")
    } finally q.stop()
  }

  test("streaming Welch summaries merge micro-batches into the exact batch t-test") {
    import graft.operators.Stats
    val dir = java.nio.file.Files.createTempDirectory("graft-welch-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("a-events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
    val q = EventStream.welchCohortSummaries(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("welch_sum")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-welch-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // phase 1: the stream state over file A alone = batch q137
      val got1 = Stats.welchFromSummaries(spark.table("welch_sum"))
        .collect().map(_.toSeq).toSeq
      val want1 = SparkEntry.queries("q137_welch_ttest")(spark, sf0001)
        .collect().map(_.toSeq).toSeq
      assert(got1 == want1, s"phase-1 parity: $got1 vs $want1")
      // phase 2: a LATER file lands — dirty rows included (null value,
      // off-cohort type); the complete-mode state must fold the new
      // partial moments into exactly the union's batch answer
      val base = java.time.Instant.parse("2024-06-01T00:00:00Z")
      def us(m: Long): java.lang.Long = base.plusSeconds(m * 60).toEpochMilli * 1000L
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
      val extra = Seq(
        org.apache.spark.sql.Row(900001L, us(1), 1L, "purchase", 250.0, "{}"),
        org.apache.spark.sql.Row(900002L, us(2), 2L, "view", 3.0, "{}"),
        org.apache.spark.sql.Row(900003L, us(3), 3L, "purchase", null, "{}"), // null value: no moment, no n
        org.apache.spark.sql.Row(900004L, us(4), 4L, "click", 99.0, "{}"))   // off-cohort: ignored
      val extraDf = spark.createDataFrame(
          spark.sparkContext.parallelize(extra, 1), schema)
        .select(col("event_id"),
          expr("cast(timestamp_micros(ts) as timestamp_ntz)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      val stage = java.nio.file.Files.createTempDirectory("graft-welch-extra")
      extraDf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, dir.resolve("b-extra.parquet"))
      q.processAllAvailable()
      val got2 = Stats.welchFromSummaries(spark.table("welch_sum"))
        .collect().map(_.toSeq).toSeq
      // batch twin over the SAME staged dir through the batch reader
      val batchAll = graft.Tables.normalizeTs(
        spark.read.schema(EventStream.rawSchema(
            org.apache.spark.sql.types.TimestampNTZType))
          .option("recursiveFileLookup", "true").parquet(dir.toString))
      val want2 = Stats.welchFromSummaries(Stats.welchSummaries(batchAll))
        .collect().map(_.toSeq).toSeq
      assert(got2 == want2, s"phase-2 parity: $got2 vs $want2")
      assert(got2 != got1, "the new purchases/views must move the statistic")
    } finally q.stop()
  }

  test("eventMicros keeps sub-millisecond precision that getTime truncates") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    ts.setNanos(123456789) // 123.456789 ms into the second
    assert(ts.getTime % 1000 == 123L, "getTime floors to milliseconds")
    assert(EventStream.eventMicros(ts) % 1000000L == 123456L,
      "micros must carry the sub-ms digits the batch q25 sort key sees")
    // ordering: two events 1µs apart must not compare equal
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    t2.setNanos(123457789)
    assert(EventStream.eventMicros(t2) == EventStream.eventMicros(ts) + 1)
  }

  test("streaming debounce decisions fold into the batch q184 report") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-deb-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.TypedEvent]
    val q = EventStream.debounceDecisions(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("deb_decisions")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-deb-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val decisions = spark.table("deb_decisions")
    assert(decisions.count() ==
      decisions.select("event_id", "event_type").distinct().count(),
      "one decision per (event, type)")
    val got = EventStream.debounceReport(decisions).collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q184_debounce")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "batch q184 must produce rows at sf0.001")
    assert(got == want, "stream-folded debounce report must equal batch q184")
  }

  test("debounce gate carries the last-seen gap across micro-batches and trims under watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-deb2-src")
    val t0 = 1700000000000000L // epoch micros
    val h = 3600000000L
    // burst spanning the batch boundary: t0 kept, t0+1h dropped (file 1);
    // t0+2h dropped ONLY IF the 1h-ago state survived the boundary,
    // t0+9h kept (file 2). A fresh-state bug would keep t0+2h.
    writeFlatEvents(dir, "a.parquet", Seq(
      (1L, t0, 7L, "click", 1.0, "{}"),
      (2L, t0 + h, 7L, "click", 1.0, "{}")))
    val stream = EventStream.readStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "0 seconds")
      .as[EventStream.TypedEvent]
    val dirCk = java.nio.file.Files.createTempDirectory("graft-deb2-ckpt").toString
    val q = EventStream.debounceDecisions(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("deb2_decisions")
      .option("maxFilesPerTrigger", "1")
      .option("checkpointLocation", dirCk)
      .start()
    try {
      q.processAllAvailable()
      writeFlatEvents(dir, "b.parquet", Seq(
        (3L, t0 + 2 * h, 7L, "click", 1.0, "{}"),
        (4L, t0 + 9 * h, 7L, "click", 1.0, "{}")))
      q.processAllAvailable()
      // file 3: a DIFFERENT user far in the future advances the
      // watermark > gap past user 7's last event → user 7's state is
      // trim-eligible on its next fold; user 8's own first event is kept
      writeFlatEvents(dir, "c.parquet", Seq(
        (5L, t0 + 24 * h, 8L, "click", 1.0, "{}")))
      q.processAllAvailable()
      // file 4: a LATE row for user 7 (ts = t0+10h < wm = t0+24h). The
      // fold must (a) DROP it — no decision row — and (b) fire the
      // physical trim: user 7's last event (t0+9h) sits 15h below the
      // watermark, no admitted row re-armed it, so the key is removed
      writeFlatEvents(dir, "d.parquet", Seq(
        (6L, t0 + 10 * h, 7L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("deb2_decisions")
        .collect().map(r => r.getLong(2) -> r.getBoolean(3)).toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true,
        5L -> true),
        s"late event 6 must emit NO decision; cross-batch gaps: $got")
    } finally q.stop()
    // the state STORE proves the trim is physical: user 7's key is
    // GONE from the checkpoint (removed during the late-row fold);
    // only user 8's last-seen survives
    val state = spark.read.format("statestore")
      .load(dirCk)
      .selectExpr("key._1 AS user_id", "value.groupState.us AS us")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(8L -> (t0 + 24 * h)),
      s"user 7's state must be physically trimmed: $state")
  }

  test("debounce gate recovers its last-seen state from a checkpoint restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-debr-src")
    val ck = java.nio.file.Files.createTempDirectory("graft-debr-ckpt").toString
    val t0 = 1700000000000000L
    val h = 3600000000L
    val rows = scala.collection.mutable.ArrayBuffer.empty[EventStream.DebounceDecision]
    // the memory sink refuses checkpoint recovery by design — the
    // established restart pattern is a foreachBatch collector
    def query() = EventStream.debounceDecisions(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[EventStream.DebounceDecision], _: Long) =>
          val out = batch.collect()
          rows.synchronized { rows ++= out }
          ()
      }
      .option("checkpointLocation", ck)
      .start()
    writeFlatEvents(dir, "a.parquet", Seq(
      (1L, t0, 7L, "click", 1.0, "{}"),
      (2L, t0 + h, 7L, "click", 1.0, "{}")))
    val q1 = query()
    try q1.processAllAvailable() finally q1.stop() // kill after commit
    writeFlatEvents(dir, "b.parquet", Seq(
      (3L, t0 + 2 * h, 7L, "click", 1.0, "{}"),   // 1h after event 2:
      (4L, t0 + 9 * h, 7L, "click", 1.0, "{}")))  // MUST drop post-restart
    val q2 = query()
    try q2.processAllAvailable() finally q2.stop()
    val got = rows.synchronized(rows.toSeq)
      .map(d => d.event_id -> d.kept).toMap
    // a fresh-state restart would KEEP event 3 (no last-seen) — the
    // recovered state must drop it
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true),
      s"state must survive the restart: $got")
  }

  test("streaming gap sightings fold to batch q235 under ordered delivery") {
    import spark.implicits._
    // the live burstiness monitor's contract: under event-time-ordered
    // delivery the emitted gap stream IS the batch gap multiset
    val rows = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) 1.0 else r.getDouble(4), "{}"))
      .sortBy(r => (r._2, r._1))
    val dir = java.nio.file.Files.createTempDirectory("graft-gaps")
    val (h1, h2) = rows.splitAt(rows.length / 2)
    writeFlatEvents(dir, "a.parquet", h1.toSeq)
    writeFlatEvents(dir, "b.parquet", h2.toSeq)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.gapSightings(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .format("memory").queryName("gap_sightings")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-gaps-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = EventStream.burstinessReport(spark.table("gap_sightings"))
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q235_burstiness")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want,
      "stream-folded burstiness must equal batch q235 row-for-row")
  }

  test("streaming conversion latencies fold to batch q240 under ordered delivery") {
    import spark.implicits._
    // the live SLA monitor's contract: per user, the first view then
    // the first strictly-later purchase emit ONE latency delta at
    // conversion time; under event-time-ordered delivery the emitted
    // delta multiset IS the batch q240 deltas, and the shared
    // Temporal.dailyLatencyFold reproduces the report row-for-row
    val rows = Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) 1.0 else r.getDouble(4), "{}"))
      .sortBy(r => (r._2, r._1))
    val dir = java.nio.file.Files.createTempDirectory("graft-convlat")
    val (h1, h2) = rows.splitAt(rows.length / 2)
    writeFlatEvents(dir, "a.parquet", h1.toSeq)
    writeFlatEvents(dir, "b.parquet", h2.toSeq)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.conversionLatencySightings(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_lat")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-convlat-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val sightings = spark.table("conv_lat")
    // one emission per converting user, ever
    assert(sightings.groupBy("user_id").count().filter(col("count") > 1)
      .count() == 0)
    val got = EventStream.dailyLatencyReport(sightings)
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q240_daily_latency")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want,
      "stream-folded daily latency must equal batch q240 row-for-row")
  }

  test("latency twin recovers first-view state and the done flag from a restart") {
    import spark.implicits._
    // both halves of the claimed restart contract, each observable only
    // through restored state: u1's view arrives in run 1 and its
    // purchase in run 2 (fresh state would emit NOTHING for u1); u2
    // converts fully in run 1, then gets ANOTHER view+purchase pair in
    // run 2 (fresh state would emit a second, WRONG delta — only the
    // restored done flag keeps the one-emission-per-user contract).
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(minute: Long) = base.plusSeconds(minute * 60).toEpochMilli * 1000L
    def ev(id: Long, user: Long, minute: Long, tpe: String) =
      (id, us(minute), user, tpe, 1.0, "{}")
    val fileA = Seq(ev(1, 1, 10, "view"), ev(2, 2, 20, "view"),
      ev(3, 2, 30, "purchase"))
    val fileB = Seq(ev(4, 1, 50, "purchase"), ev(5, 2, 40, "view"),
      ev(6, 2, 60, "purchase"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lrestart")
    val ck = java.nio.file.Files.createTempDirectory("graft-lrestart-ckpt").toString
    writeFlatEvents(dir, "a.parquet", fileA)
    // the memory sink cannot recover a checkpoint; collect emissions
    // across runs via foreachBatch (the attribution-restart pattern)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[EventStream.LatencySighting]
    def query() = EventStream.conversionLatencySightings(
        EventStream.readStream(spark, dir.toString)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value")).as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[EventStream.LatencySighting],
         _: Long) =>
          val out = batch.collect()
          rows.synchronized { rows ++= out }
          ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = query(); try q1.processAllAvailable() finally q1.stop()
    val run1 = rows.synchronized(rows.toSeq).map(s => s.user_id -> s.delta_s)
    assert(run1 == Seq(2L -> 600.0), s"run 1: only u2 converted: ${run1.toList}")
    writeFlatEvents(dir, "b.parquet", fileB)
    val q2 = query(); try q2.processAllAvailable() finally q2.stop()
    val all = rows.synchronized(rows.toSeq).map(s => s.user_id -> s.delta_s)
      .sortBy(_._1)
    assert(all == Seq(1L -> 2400.0, 2L -> 600.0),
      s"restored fv must emit u1; the restored done flag must silence u2: $all")
    // and the fold equals batch q240 over the union
    val batchDir = java.nio.file.Files.createTempDirectory("graft-lrestart-batch")
    writeBatchEvents(batchDir, fileA ++ fileB)
    val got = EventStream.dailyLatencyReport(
        rows.synchronized(rows.toSeq).toDF())
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q240_daily_latency")(spark, batchDir.toString)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want)
  }

  test("bounded latency twin: horizon enforced in the fold, expired state physically reaped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the production variant's two claims, each invisible to the
    // parity tests: a beyond-horizon conversion never emits (the
    // horizon lives in the FOLD, so no watermark race can change the
    // answer), and once the watermark passes a user's horizon its
    // state is GONE from the state store, not just inert
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def us(day: Long) = base.plusSeconds(day * 86400).toEpochMilli * 1000L
    val ck = java.nio.file.Files.createTempDirectory("graft-convb-ckpt").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val q = EventStream.conversionLatencySightingsBounded(
        ms.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
          .select(col("user_id"), col("event_id"),
            expr("timestamp_micros(us)").as("ts"), col("event_type"), col("value"))
          .withWatermark("ts", "1 minute")
          .as[EventStream.TypedEvent],
        horizonDays = 7)
      .writeStream.outputMode("append").format("memory").queryName("conv_bounded")
      .option("checkpointLocation", ck)
      .start()
    try {
      // A: u1 converts inside the horizon; u2 views and never buys;
      // u3 views now, buys beyond the horizon later
      ms.addData(Seq((1L, us(0), 1L, "view", 1.0), (2L, us(2), 1L, "purchase", 1.0),
        (3L, us(0), 2L, "view", 1.0), (4L, us(0), 3L, "view", 1.0)))
      q.processAllAvailable()
      // B: watermark pusher well past everyone's day-7 horizon
      ms.addData(Seq((5L, us(20), 9L, "view", 1.0)))
      q.processAllAvailable()
      // C: u3's purchase at day 10 — 3 days beyond its horizon: the
      // FOLD rejects it (state may still exist; the answer must not
      // depend on GC timing); u1/u2 have no data, so their timeouts
      // fire this batch and reap their state
      ms.addData(Seq((6L, us(10), 3L, "purchase", 1.0)))
      q.processAllAvailable()
      // D: one more push so any straggler timeout fires
      ms.addData(Seq((7L, us(21), 9L, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("conv_bounded")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq(1L -> 172800.0),
      s"only u1's in-horizon conversion may emit: ${got.toSeq}")
    // expired users are PHYSICALLY absent: only the wm-pusher remains
    val live = spark.read.format("statestore").load(ck)
      .selectExpr("key.value AS user_id")
      .collect().map(_.getLong(0)).toSet
    assert(live == Set(9L),
      s"u1 (done), u2 (never converted) and u3 (out of horizon) must be reaped: $live")
  }

  test("bounded latency twin at a wide horizon folds to batch q240 verbatim") {
    import spark.implicits._
    // within the horizon the bounded variant IS the unbounded twin:
    // a horizon wider than the corpus span reproduces the q240 fold
    // row-for-row over the same ordered two-file delivery
    val rows = Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) 1.0 else r.getDouble(4), "{}"))
      .sortBy(r => (r._2, r._1))
    val dir = java.nio.file.Files.createTempDirectory("graft-convb-wide")
    val (h1, h2) = rows.splitAt(rows.length / 2)
    writeFlatEvents(dir, "a.parquet", h1.toSeq)
    writeFlatEvents(dir, "b.parquet", h2.toSeq)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.conversionLatencySightingsBounded(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .withWatermark("ts", "10 minutes")
          .as[EventStream.TypedEvent],
        horizonDays = 3650)
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_bounded_wide")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-convb-wide-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = EventStream.dailyLatencyReport(spark.table("conv_bounded_wide"))
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q240_daily_latency")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want,
      "wide-horizon bounded fold must equal batch q240 row-for-row")
  }

  test("streaming daily totals fold to batch q239 under arbitrary delivery") {
    import spark.implicits._
    // the live deseasonalized-anomaly monitor's contract: running
    // per-(type, day) totals re-emit with a bumped seq each micro-batch,
    // the LAST emission per key is the closed total, and the shared
    // Temporal.deseasonalizedFold reproduces batch q239 row-for-row.
    // Unlike the gap twin this needs NO ordered delivery — sums are
    // order-independent — so the file split deliberately slices days
    // across micro-batches.
    val rows = Tables.events(spark, sf0001)
      .filter(col("event_type").isNotNull && col("ts").isNotNull
        && col("value").isNotNull)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), "{}"))
    // split by event_id parity, NOT time: every day spans both files
    val (h1, h2) = rows.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-deseason")
    writeFlatEvents(dir, "a.parquet", h1.toSeq)
    writeFlatEvents(dir, "b.parquet", h2.toSeq)
    val stream = spark.readStream
      .schema(EventStream.rawSchema(org.apache.spark.sql.types.TimestampNTZType))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.dailyTotalSightings(
        Tables.normalizeTs(stream)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStream.TypedEvent])
      .writeStream.outputMode("append")
      .format("memory").queryName("day_totals")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-deseason-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val sightings = spark.table("day_totals")
    // days sliced across micro-batches really did re-emit (seq > 1)
    assert(sightings.filter(col("seq") > 1).count() > 0,
      "the split must exercise the last-emission-wins fold")
    val got = EventStream.deseasonalizedReport(sightings)
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.queries("q239_deseasonalized_anomaly")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want,
      "stream-folded deseasonalized report must equal batch q239 row-for-row")
  }
}
