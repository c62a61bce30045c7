package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R1/R2: the reference's text IO re-expressed Spark-first.
  *
  * Input (R1): the reference scans a directory of text files via
  * `TextInputFormat` into (byteOffset, line) records (reference
  * `MapRedWord2Vec.scala:67,271,275`). `spark.read.text` produces the
  * same splits-per-block parallelism; the byte offset was never used by
  * the job (only the line), so the honest schema is one `value` column —
  * we add the originating file for provenance, which the reference loses.
  *
  * Output (R2): the reference writes "key,value" text via
  * `TextOutputFormat` with separator "," plus a `_SUCCESS` marker
  * (`MapRedWord2Vec.scala:249-251,272`). The CLI's sink is
  * [[graft.Word2VecDriver.sinkLines]] written with `write.text`, which
  * goes through the same Hadoop committer and emits `_SUCCESS`
  * identically; formatting stays a sink concern (SURVEY.md §1).
  */
object TextCorpus {

  /** Scan a directory of UTF-8 text files: one row per line. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.textFile(dir).toDF("value")
      .withColumn("file", input_file_name())
}
