package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a test
  * reads a listener's counters only after every event queued so far has
  * been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
