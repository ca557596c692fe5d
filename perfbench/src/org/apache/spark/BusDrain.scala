package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `listenerBus` is package-private to Spark, so the call lives here;
  * counters read from a SparkListener right after an action returns
  * can otherwise miss that action's last task and stage events.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
