package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table support: the co-located-join path for repeated big
  * joins. Writing both fact tables bucketed+sorted by the join key means
  * every subsequent `lineitem ⋈ orders` is a zero-exchange sort-merge
  * join — at 100 TB the one-time bucketed write amortizes across every
  * downstream query that joins or aggregates on that key. Local mode
  * exercises the identical metadata + planner path a warehouse deployment
  * uses (bucket pruning, exchange elision). */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted managed table. Two
    * tables written with the same bucket count on their join keys join
    * with NO shuffle exchange on either side. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
