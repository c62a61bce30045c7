package graft

import org.apache.spark.sql.SparkSession

/** R3: the reference's 5 Word2Vec hyperparameters, sourced from Typesafe
  * config in the reference (`application.conf:3-7`, read at
  * `MapRedWord2Vec.scala:72,184`). Here they are a case class with the
  * reference's defaults, overridable through `spark.conf`
  * (`graft.w2v.*` keys) so a cluster submit can tune them with
  * `--conf` exactly like any other Spark setting. */
case class GraftConfig(
    layerSize: Int = 100,
    windowSize: Int = 5,
    iterations: Int = 1,
    minWordFrequency: Int = 1,
    seed: Long = 42L,
    /** The trainer's distributed knob ([[graft.operators.SkipGram]],
      * as MLlib's): the corpus is split into this many partitions, each
      * trains its own copy of the model for one iteration, and every row
      * a partition modified becomes the mean of that row over the
      * partitions that modified it (rows no partition touched keep their
      * value). Default 1 = exactly sequential skip-gram, the reference's
      * semantics and bit-identical to MLlib. Larger values trade
      * accuracy for parallel training; this is model averaging WITHIN
      * one training run, not the reference's geometrically meaningless
      * averaging of independently trained embedding spaces
      * (SURVEY.md §4.1). */
    numPartitions: Int = 1)

object GraftConfig {
  def from(spark: SparkSession): GraftConfig = {
    def i(key: String, dflt: Int) = spark.conf.getOption(key).map(_.toInt).getOrElse(dflt)
    GraftConfig(
      layerSize = i("graft.w2v.layerSize", 100),
      windowSize = i("graft.w2v.windowSize", 5),
      iterations = i("graft.w2v.iterations", 1),
      minWordFrequency = i("graft.w2v.minWordFrequency", 1),
      seed = spark.conf.getOption("graft.w2v.seed").map(_.toLong).getOrElse(42L),
      numPartitions = i("graft.w2v.numPartitions", 1))
  }
}
