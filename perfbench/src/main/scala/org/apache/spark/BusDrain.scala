package org.apache.spark

/** Waits until the listener bus has delivered every posted event. Spark
  * delivers listener events asynchronously; the benchmark drains the bus
  * before it reads what its listeners recorded. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
