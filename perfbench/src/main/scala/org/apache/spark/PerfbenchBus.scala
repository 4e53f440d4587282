package org.apache.spark

/** The listener bus has no public drain; the traced run needs one so that
  * counters land under the label of the work that produced them. This
  * object lives in Spark's package only to reach that test hook.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
