package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MisraGries, Portable}

/** Frequent-items (heavy-hitter) detection over the token stream — the
  * sketch-shortlist + exact-rescore pattern a 100 TB corpus profile
  * needs. The reference's word count (MapRedWord2Vec.scala:96-117)
  * materializes EVERY distinct token through the shuffle; finding only
  * the dominant tokens that way pays the full distinct-key exchange.
  * Here a fixed-size mergeable Misra-Gries summary finds candidates in
  * one scan-speed pass with O(K) shuffle bytes per partition, and only
  * the ≤K shortlisted tokens are exactly counted. */
object HeavyHitters {

  /** q109: tokens whose exact count exceeds n/32 of all token
    * occurrences, found via MG-shortlist + exact rescore. Output is
    * EXACT (identical to a full groupBy + HAVING) because the summary
    * provably contains every item above n/65 — see MisraGries scaladoc
    * for the determinism argument. (Threshold n/32: comfortably above
    * the n/(K+1)=n/65 presence bound, and low enough to be non-empty on
    * the near-uniform 31-word fixture vocabulary.) */
  def q109HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(Portable.tokenize(col("text"))).as("word"))
    // pass 1 — sketch: one ≤K-entry summary reaches the driver (bounded
    // collect: O(K)=64 entries however large the corpus); headOption
    // covers the empty-corpus contract (QueriesSpec sweep)
    val sk = toks.as[String].select(MisraGries.toColumn.name("sk"))
      .collect().headOption.getOrElse(MisraGries.zero)
    val cands = sk.items.keys.toSeq.sorted
    // pass 2 — exact rescore of the shortlist only: the IN filter prunes
    // right after tokenize, so the groupBy shuffles ≤K distinct keys
    toks.filter(col("word").isin(cands: _*))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 32 > sk.n)
      .orderBy(desc("cnt"), asc("word"))
  }

  /** Count-Min geometry: depth rows × width buckets plus the per-row
    * pairwise-independent hash constants — operator-owned literals the
    * oracle interpolates (the q31 minhash-constant rule, so the two
    * sides can never drift). */
  val CmsRows: Seq[(Int, Long, Long)] = Seq(
    (0, 920526339L, 678146635L),
    (1, 560807425L, 41187505L),
    (2, 886955217L, 789535159L),
    (3, 611099529L, 335801489L))
  val CmsWidth = 1024

  /** q256: Count-Min sketch point queries vs exact counts — the fourth
    * sketch family beside HLL (distinct, q130b), Misra-Gries (heavy
    * hitters, q109) and GK (quantiles, q140b): a depth×width counter
    * grid where est(x) = min over rows of counter[r][h_r(x)] (Cormode &
    * Muthukrishnan 2005). CMS is the MERGEABLE fixed-size counting
    * backbone — 4×1024 longs however large the corpus, overestimate-
    * only (collisions ADD), expected error ≤ n/width per row and the
    * min over depth rows makes a large error exponentially unlikely.
    * Reported for the exact top-20 tokens: exact count, CMS estimate,
    * the overestimate (≥ 0 ALWAYS — the one-sided guarantee a consumer
    * leans on) and the relative error. The exact side is the
    * CALIBRATION pass (the q77/q84 pattern): a production consumer
    * keeps only the 4096-cell sketch.
    *
    * Scale shape: the sketch pass is ONE token scan partial-aggregated
    * to depth×width cells (map-side combine does the heavy lifting —
    * shuffle bytes are O(4096) per partition regardless of corpus);
    * the estimate join is 20 candidates × depth against the broadcast
    * cell frame. All integer arithmetic mod 1e9+7 → exact everywhere. */
  /** The depth (r, bkt) probe rows for a token-hash column — the one
    * definition of the hash grid, shared by cells and probes. */
  private def cmsProbes(h: org.apache.spark.sql.Column) = {
    val P = Portable.P
    explode(array(CmsRows.map { case (r, a, b) =>
      struct(lit(r.toLong).as("r"), (((h * a + b) % P) % CmsWidth).as("bkt"))
    }: _*))
  }

  /** The q256 CMS cell frame over a one-column (word) frame: ONE
    * partial-aggregated pass to depth×width counters (the mergeable
    * fixed-size state CMS exists for). */
  private def cmsCells(words: DataFrame): DataFrame =
    words.withColumn("h", Portable.tokenId(col("word")))
      .select(cmsProbes(col("h")).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bkt").as("bkt"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-query fold over a prepared cell frame: for each candidate
    * (word, exact_count), est = min over depth rows, plus the
    * one-sided error columns (q256's readout). */
  private def cmsEstimates(cells: DataFrame, top: DataFrame): DataFrame =
    top.withColumn("h", Portable.tokenId(col("word")))
      .select(col("word"), col("exact_count"), cmsProbes(col("h")).as("c"))
      .select(col("word"), col("exact_count"),
        col("c.r").as("r"), col("c.bkt").as("bkt"))
      .join(broadcast(cells), Seq("r", "bkt"))
      .groupBy("word")
      .agg(max("exact_count").as("exact_count"), min("cnt").as("cms_est"))
      .select(col("word"), col("exact_count"), col("cms_est"),
        (col("cms_est") - col("exact_count")).as("overestimate"),
        round((col("cms_est") - col("exact_count")).cast("double")
          / col("exact_count"), 6).as("rel_err"))
      .orderBy(desc("exact_count"), asc("word"))

  def q256CmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(Portable.tokenize(col("text"))).as("word"))
    val top = toks.groupBy("word")
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(desc("exact_count"), asc("word")).limit(20)
    cmsEstimates(cmsCells(toks), top)
  }
}
