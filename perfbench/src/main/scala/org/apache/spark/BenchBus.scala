package org.apache.spark

/** Drains Spark's listener bus, so every job, stage and task event of the
  * work that has finished has reached the listeners. The bus is
  * `private[spark]`, hence this helper's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
