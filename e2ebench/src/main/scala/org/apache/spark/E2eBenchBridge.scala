package org.apache.spark

/** The one private Spark hook the benchmark uses: wait until the
  * listener bus has delivered every posted event, so counters read
  * after an action include all of that action's tasks and query
  * callbacks. */
object E2eBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
