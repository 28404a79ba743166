package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener's counts only after every event of
  * a run has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
