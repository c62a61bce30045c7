package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated tables (TESTDATA.md / FIXTURES.md §B):
  * TPC-H-ish star schema (`region nation customer supplier part orders
  * lineitem`) plus `documents` (text corpus), `embeddings` (64-dim float
  * vectors) and `events` (timestamped JSON-props stream table).
  *
  * One parquet file per table under the scale-factor dir. Reading goes
  * through `spark.read.parquet` so Catalyst gets a real `FileSourceScanExec`
  * with predicate pushdown + column pruning — at 100 TB these scans are the
  * dominant cost and pruning must reach the footer, so operators should
  * `.select` only what they need and filter as early as possible.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** The declared `documents` schema (TestdataContractSpec pins it to
    * the inferred one): a read with it skips Spark's footer-inference
    * job. The other tables keep inference. */
  private val documentsSchema: StructType =
    StructType.fromDDL("doc_id bigint, text string, lang string, source string, n_chars bigint")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(documentsSchema).parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Physical encodings the events `ts` column has shipped as across
    * testdata generations. The driver regenerates the corpus between
    * rounds and has already switched encodings once (TIMESTAMP(NANOS) →
    * TIMESTAMP(MICROS)); the ingest probes the parquet footer and adapts
    * instead of hard-coding whichever encoding was current. */
  sealed trait TsEncoding
  object TsEncoding {
    /** INT64 annotated TIMESTAMP(NANOS) — Spark's vectorized reader
      * rejects it unless the session decodes it as a raw long. */
    case object NanosAnnotated extends TsEncoding
    /** INT64 with no logical annotation — epoch nanos by the testdata
      * convention (and what NanosAnnotated decodes to under the legacy
      * conf). */
    case object PlainLong extends TsEncoding
    /** TIMESTAMP(MICROS/MILLIS, adjusted to UTC) — reads as session-TZ
      * TimestampType directly. */
    case object InstantTimestamp extends TsEncoding
    /** TIMESTAMP(MICROS/MILLIS, not adjusted) — reads as TIMESTAMP_NTZ
      * (the current driver encoding). */
    case object LocalTimestamp extends TsEncoding
  }

  /** First parquet data file at or under `p`, descending into partition
    * subdirectories (the `event_date=...` layout) in name order. */
  private def firstParquetFile(fs: org.apache.hadoop.fs.FileSystem,
                               p: Path): Option[Path] = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Some(p)
    else fs.listStatus(p).sortBy(_.getPath.getName).iterator.flatMap { c =>
      val n = c.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
      else if (c.isDirectory) firstParquetFile(fs, c.getPath).iterator
      else if (n.endsWith(".parquet")) Iterator.single(c.getPath)
      else Iterator.empty
    }.nextOption()
  }

  /** Probe the parquet footer at `path` (a file, or a directory of part
    * files) for the physical encoding of its `ts` column. Footer-only:
    * reads one file's metadata, no row groups. */
  def tsEncodingAt(spark: SparkSession, path: String): TsEncoding = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = firstParquetFile(fs, root)
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFileMetaData.getSchema
      val ts = schema.getFields.get(schema.getFieldIndex("ts")).asPrimitiveType()
      ts.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
          TsEncoding.NanosAnnotated
        case t: TimestampLogicalTypeAnnotation =>
          if (t.isAdjustedToUTC) TsEncoding.InstantTimestamp else TsEncoding.LocalTimestamp
        // legacy Impala/Hive instant timestamps carry no annotation
        case _ if ts.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT96 =>
          TsEncoding.InstantTimestamp
        case _ =>
          // un-annotated INT64 is epoch NANOS by the testdata convention —
          // but a convention change (bare micros/millis/seconds) would
          // silently decode to ~1970 timestamps and fail the oracle with
          // no pointer to the cause. The footer's column statistics make
          // the check free: nanos for any post-1970 data is >= 1e16,
          // micros/millis/seconds are orders of magnitude below.
          tsStatsMax(reader, file.toString).foreach { max =>
            if (max > 0L && max < 1e16.toLong)
              throw new IllegalStateException(
                s"events.ts at $file is un-annotated INT64 with max=$max — too small " +
                  "for epoch nanos (>= 1e16 for any post-1970 instant). The data is " +
                  "probably epoch micros/millis/seconds; annotate the column or extend " +
                  "Tables.TsEncoding rather than let it decode to ~1970 timestamps.")
          }
          TsEncoding.PlainLong
      }
    } finally reader.close()
  }

  /** Max ts value across the probed file's row-group statistics, if the
    * writer recorded them (footer-only, no data pages). */
  private def tsStatsMax(reader: ParquetFileReader, file: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val maxes = for {
      block <- reader.getFooter.getBlocks.asScala
      col <- block.getColumns.asScala
      if col.getPath.toDotString == "ts"
      stats = col.getStatistics
      if stats != null && stats.hasNonNullValue
    } yield stats.genericGetMax.asInstanceOf[java.lang.Long].longValue()
    if (maxes.isEmpty) None else Some(maxes.max)
  }

  /** Normalize whatever `ts` decoded to into the ONE type every event
    * query is written against: session-TZ TimestampType at microsecond
    * precision. Long epoch nanos are floored to micros (invisible at the
    * day/second granularity the queries use; the DuckDB oracle floors to
    * the same boundaries); TIMESTAMP_NTZ is re-interpreted in the session
    * time zone (entry points pin it to UTC, matching the naive-UTC
    * convention the testdata and the DuckDB oracle share). */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // integer `div`, not `/`: Column./ is double division, and epoch
    // nanos (~1.7e18) exceed double's 2^53 exact range — a boundary
    // timestamp could round down one microsecond
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other =>
      throw new IllegalStateException(s"events.ts decoded to unsupported type $other")
  }

  /** Schema-adaptive events reader: probe the footer, set the
    * nanos-as-long legacy conf ONLY when annotated-nanos data is actually
    * present (the conf is session-global — Spark exposes no per-read
    * option — but for every other encoding it is a no-op, so flipping it
    * lazily here is safe), then normalize `ts`. Reads BOTH layouts —
    * flat part files and the day-partitioned `event_date=...` tree —
    * to the same logical schema
    * (the partition column is dropped after the read). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, s"$dir/events.parquet")
    if (raw.columns.contains("event_date")) raw.drop("event_date") else raw
  }

  /** The adaptive read with the `event_date` partition column still
    * attached when the layout carries one — the scan [[eventsBetween]]
    * bounds for partition pruning. */
  private def eventsRaw(spark: SparkSession, path: String): DataFrame = {
    if (tsEncodingAt(spark, path) == TsEncoding.NanosAnnotated)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(path))
  }

  /** Day-bounded events scan, `fromDay` inclusive to `untilDay`
    * exclusive (ISO dates). The bound is applied BOTH as a partition
    * filter on `event_date` (directory pruning on the partitioned
    * layout; absent on flat) and as a `ts` range (row-exact on either
    * layout, micros precision) — the two are equivalent because
    * `event_date = to_date(ts)` under the pinned session zone, so both
    * layouts return identical rows and the partitioned one prunes. */
  def eventsBetween(spark: SparkSession, dir: String,
                    fromDay: String, untilDay: String): DataFrame = {
    val raw = eventsRaw(spark, s"$dir/events.parquet")
    val tsBounded = raw.filter(
      col("ts") >= to_timestamp(lit(fromDay)) &&
        col("ts") < to_timestamp(lit(untilDay)))
    val bounded =
      if (raw.columns.contains("event_date"))
        tsBounded.filter(
          col("event_date") >= to_date(lit(fromDay)) &&
            col("event_date") < to_date(lit(untilDay)))
      else tsBounded
    bounded.drop("event_date")
  }
}
