package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced op is closed only after every event it caused has been
  * delivered, so its jobs, tasks and Catalyst phases attribute to it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
