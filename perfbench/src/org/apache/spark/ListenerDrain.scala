package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's stage and task records are complete before they are read.
  * The bus is private to Spark, hence this bridge in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
