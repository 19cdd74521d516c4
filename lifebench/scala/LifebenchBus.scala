package org.apache.spark

/** The listener bus drain is `private[spark]`; this one-line bridge lets
  * the tracer wait for every posted event before it reads its spans. */
object LifebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
