package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every event
  * posted so far has reached the listeners, so that sums over a time window
  * are complete before they are read. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
