package org.apache.spark

/** Test hook: runs `f` while `sc` reports `isStopped`, without tearing down
  * the context. A JVM hosts one SparkContext, and every suite shares it, so
  * a spec cannot stop a real second session. */
object StoppedContext {
  def during[T](sc: SparkContext)(f: => T): T = {
    sc.stopped.set(true)
    try f finally sc.stopped.set(false)
  }
}
