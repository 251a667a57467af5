package org.apache.spark

/** Bridge into `private[spark]` scheduler state the harness needs: the
  * listener bus delivers events asynchronously, so a window's counters are
  * read only after every event posted inside it has been handled.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
