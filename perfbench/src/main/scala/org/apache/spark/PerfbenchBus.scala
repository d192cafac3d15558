package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters read right after an action must include that action's
  * task-end events, which are delivered asynchronously.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
