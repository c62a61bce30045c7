package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events ingest must survive the driver regenerating the testdata
  * with a different physical ts encoding — it already happened once
  * (TIMESTAMP(NANOS) in rounds 1-3, TIMESTAMP(MICROS) from round 4) and
  * took out the entire event-query family at analysis time. This spec
  * writes the SAME logical rows under every encoding Tables.TsEncoding
  * names and asserts `Tables.events` decodes them identically, so the
  * class of bug cannot silently recur. */
class EventsIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // Three logical events, sub-second detail included so micros-flooring
  // differences would show: micros precision is the common denominator
  // every encoding must land on.
  private val micros = Seq(
    (1L, 1709289000123456L, 10L, "view", 1.5, """{"k":1}"""),
    (2L, 1709289001999999L, 10L, "click", 2.0, """{"k":2}"""),
    (3L, 1709375400000001L, 11L, "purchase", 9.99, """{"k":3}"""))

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-events-$tag").resolve("events.parquet").toString

  /** INT64 ts — annotated TIMESTAMP(NANOS) or bare epoch-nanos long —
    * written with parquet-mr directly, since Spark cannot produce either
    * encoding itself (exactly why the regression needs a fixture). */
  private def writeLongTs(tag: String, annotateNanos: Boolean): String = {
    val tsField =
      if (annotateNanos)
        Types.required(INT64)
          .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
          .named("ts")
      else Types.required(INT64).named("ts")
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(tsField)
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.required(DOUBLE).named("value"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("events")
    val dir = tmp(tag)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(spark.sessionState.newHadoopConf())
      .withType(schema)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try micros.foreach { case (id, us, user, typ, v, props) =>
      writer.write(factory.newGroup()
        .append("event_id", id).append("ts", us * 1000L).append("user_id", user)
        .append("event_type", typ).append("value", v).append("props", props))
    } finally writer.close()
    dir
  }

  /** Timestamp-typed ts written by Spark itself: TIMESTAMP_NTZ (the
    * current driver encoding, isAdjustedToUTC=false), annotated instant
    * micros (isAdjustedToUTC=true), or legacy un-annotated INT96 —
    * Spark's own historical default output type. */
  private def writeTimestampTs(tag: String, cast: String, outType: String): String = {
    val dir = tmp(tag)
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, outType)
    try micros.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr(s"cast(timestamp_micros(us) as $cast)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    finally spark.conf.set(conf, prev)
    dir
  }
  private def writeNtz(tag: String) = writeTimestampTs(tag, "timestamp_ntz", "TIMESTAMP_MICROS")
  private def writeUtc(tag: String) = writeTimestampTs(tag, "timestamp", "TIMESTAMP_MICROS")
  private def writeInt96(tag: String) = writeTimestampTs(tag, "timestamp", "INT96")

  private def decoded(dir: String): Seq[Row] = {
    val df = Tables.events(spark, dir.stripSuffix("/events.parquet"))
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"ingest must normalize ts to session-TZ TimestampType, got ${df.schema("ts").dataType}")
    df.select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect().toSeq
  }

  test("Tables.events decodes every ts encoding to identical rows") {
    val dirs = Map(
      "nanos-annotated" -> writeLongTs("nanos", annotateNanos = true),
      "plain-long"      -> writeLongTs("plainlong", annotateNanos = false),
      "micros-ntz"      -> writeNtz("ntz"),
      "micros-utc"      -> writeUtc("utc"),
      "int96-legacy"    -> writeInt96("int96"))
    val expected = micros.map { case (id, us, user, typ, v, props) =>
      Row(id, us, user, typ, v, props)
    }
    dirs.foreach { case (tag, dir) =>
      assert(decoded(dir) == expected, s"encoding $tag decoded differently")
    }
  }

  test("probe classifies each fixture's footer correctly") {
    import Tables.TsEncoding._
    assert(Tables.tsEncodingAt(spark, writeLongTs("probe-n", true)) == NanosAnnotated)
    assert(Tables.tsEncodingAt(spark, writeLongTs("probe-l", false)) == PlainLong)
    assert(Tables.tsEncodingAt(spark, writeNtz("probe-ntz")) == LocalTimestamp)
    assert(Tables.tsEncodingAt(spark, writeUtc("probe-utc")) == InstantTimestamp)
    assert(Tables.tsEncodingAt(spark, writeInt96("probe-96")) == InstantTimestamp)
    // and the live testdata itself classifies (whatever encoding the
    // driver shipped this round, the probe must name it, not throw)
    assert(Tables.tsEncodingAt(spark, s"${TestSpark.sf0001}/events.parquet") != null)
  }

  private def writeBareMicros(tag: String): String = {
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64).named("ts"))
      .addField(Types.required(INT64).named("user_id"))
      .named("events")
    val dir = tmp(tag)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(spark.sessionState.newHadoopConf())
      .withType(schema)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try micros.foreach { case (id, us, user, _, _, _) =>
      writer.write(factory.newGroup()
        .append("event_id", id).append("ts", us).append("user_id", user))
    } finally writer.close()
    dir
  }

  test("un-annotated INT64 ts with micros magnitude fails loud, not as ~1970 rows") {
    // bare INT64 is epoch NANOS by convention; if a regen ships bare
    // micros instead, silent decode would put every event near 1970 and
    // fail the oracle with no pointer to the cause. The footer stats
    // make the misfit detectable at probe time.
    val e = intercept[IllegalStateException](
      Tables.tsEncodingAt(spark, writeBareMicros("baremicros")))
    assert(e.getMessage.contains("too small"))
  }
}
