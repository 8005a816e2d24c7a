package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the traced run calls this between
  * ops, outside every timed span, so a job's events are attributed before
  * the next op starts. Lives in this package because the bus is
  * spark-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
