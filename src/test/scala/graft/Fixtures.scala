package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quantize

/** Layouts and reference answers the specs build on; no query, main or
  * benchmark uses them. */
object Fixtures {

  /** Write `df` as a bucketed, per-bucket-sorted managed table. Two
    * tables written with the same bucket count on their join keys join
    * with NO shuffle exchange on either side — the plan pins of the
    * bucketed joins (ScaleSpec) read tables written here. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Rewrite the events table at `srcDir` (either layout) into a
    * day-partitioned tree at `path`: `event_date=YYYY-MM-DD/` from the
    * normalized ts, the layout whose day bounds [[Tables.eventsBetween]]
    * turns into directory pruning. The pre-write shuffle hash-partitions
    * on the date so each day is written by few tasks → few files per day
    * directory. */
  def writeEventsPartitionedByDay(spark: SparkSession, srcDir: String,
                                  path: String): Unit =
    Tables.events(spark, srcDir)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** The in-memory q244 serving path over a prepared index —
    * candidates → ADC → refine, top-10 per query — the reference the
    * stored index's [[graft.sources.IvfStore.servedTop10]] must equal. */
  def ivfAdcSearch(idx: Quantize.IvfAdcIndex, queries: DataFrame): DataFrame = {
    val qRows = Quantize.collectQueryRows(queries)
    Quantize.ivfAdcTop10From(idx, qRows, Quantize.ivfAdcCandidatesFrom(idx, qRows))
      .orderBy("q_id", "rank")
  }
}
