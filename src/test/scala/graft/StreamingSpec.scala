package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming behavior of [[Tables.eventsStream]]: drive the file source
  * over the real events parquet with a memory sink and check the
  * incremental answer equals the batch answer. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  test("streaming dedup with watermark drops replayed events") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("b.parquet"))
    val stream = Tables.eventsStream(spark, dir.toString)
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
    val stream = Tables.eventsStream(spark, dir.toString)
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
}
