package org.apache.spark

/** The one private Spark hook the benchmark needs: listener events are
  * delivered asynchronously, so per-layer Spark figures are read only
  * after the bus has delivered every event of the work just measured. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
