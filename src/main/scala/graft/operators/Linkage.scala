package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Record linkage / fuzzy entity resolution: find name pairs that refer
  * to the same real-world entity despite spelling drift. The classic
  * shape is blocking (a cheap equality key bounds the candidate set) +
  * an expensive pairwise similarity inside each block — the same
  * two-stage sketch-then-confirm contract as the dedup family
  * (Dedup.scala): never score all N² pairs.
  */
object Linkage {

  /** q123: blocked fuzzy matching over the part-name dictionary.
    *
    * Stage 1 collapses the part table to its DISTINCT names — the
    * dictionary is the bounded vocabulary of catalog strings, orders of
    * magnitude smaller than the rows that carry them (64 names over
    * 20k parts at sf0.1; the same ratio holds for real catalogs).
    * Stage 2 blocks on the name's last token (the head noun: "red
    * bolt" / "old bolt" share block "bolt") — an equality key, so the
    * candidate join is a plain hash join, NOT a cross join. Stage 3
    * scores `levenshtein` inside the block and keeps distance ≤ 3 with
    * `name1 < name2` (each unordered pair once). Levenshtein is
    * integer-valued unit-cost edit distance in both engines — no
    * rounding contract needed.
    *
    * Scale shape: the expensive O(len²) edit-distance kernel runs only
    * on within-block pairs of the DISTINCT dictionary — O(Σ blockᵢ²)
    * with blocks bounded by the adjective vocabulary, independent of
    * row count; the dictionary build is one partial-aggregated
    * distinct. A pathological mega-block would sub-block on a second
    * cheap key (e.g. name length band). */
  def q123FuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(col("p_name").as("name"))
      .distinct()
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("name").as("name1"), col("block"))
    val b = names.select(col("name").as("name2"), col("block"))
    a.join(b, "block")
      .filter(col("name1") < col("name2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= 3)
      .select("name1", "name2", "dist")
      .orderBy("name1", "name2")
  }
}
