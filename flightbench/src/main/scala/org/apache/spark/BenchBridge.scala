package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so counters read
  * at a phase boundary are complete. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
