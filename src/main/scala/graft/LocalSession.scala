package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on: `local[cpus]`, one shuffle partition
  * per core, UTC, no UI, WARN logging. `cpus` is `SPARK_GRAFT_CPUS`,
  * else the main's own default. `tune` layers a main's own settings on
  * top of these (an app name, a master override, extra confs). */
object LocalSession {
  def apply(defaultCpus: Int,
            tune: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = tune(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
