package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The `private[spark]` listener-bus drain a job-counting spec needs:
  * listener events arrive asynchronously, so a count read right after an
  * action may miss its last jobs. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
