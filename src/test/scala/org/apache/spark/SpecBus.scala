package org.apache.spark

/** The listener bus posts events asynchronously, and the call that
  * waits for it is `private[spark]`: specs that count a block's jobs
  * or stages drain the bus before reading their tally.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
