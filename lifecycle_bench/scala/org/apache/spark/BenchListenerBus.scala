package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every queued job and task event to reach its
  * listener before it attributes jobs to spans.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
