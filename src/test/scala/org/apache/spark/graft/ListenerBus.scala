package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a spec that counts them
  * drains the bus first. `listenerBus` is `private[spark]`, hence this
  * package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
