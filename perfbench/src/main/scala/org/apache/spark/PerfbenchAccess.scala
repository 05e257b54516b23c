package org.apache.spark

/** Access to two `private[spark]` members the benchmark's tracer needs. */
object PerfbenchAccess {
  /** The running context, if any, without creating one. */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
