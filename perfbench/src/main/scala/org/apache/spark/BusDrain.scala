package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so the benchmark's listeners have seen all jobs of the call just made.
  * The bus is package-private to Spark, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
