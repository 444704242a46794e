package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far
  * (`listenerBus` is `private[spark]`), so a listener's view of a job that
  * has returned is complete before it is read.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
