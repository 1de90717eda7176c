package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the census must see every event of a run before it is summarized.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
