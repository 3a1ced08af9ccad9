package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads an operation's listener counters only after every
  * event of that operation has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
