package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced run waits for every posted task event before reading its
  * counters.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
