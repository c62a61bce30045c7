package graft

/** Quick local smoke of the flagship pipeline (the driver's t1 check):
  * prints the row count and a sample of SparkEntry.entry on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    val df = SparkEntry.entry(spark)
    df.cache()
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, 80)
    df.printSchema()
    spark.stop()
  }
}
