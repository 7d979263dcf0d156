package org.apache.spark

/** Test hook: the number of listeners on the SparkContext's shared listener
  * bus (`listenerBus` is private[spark]). */
object SharedBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
