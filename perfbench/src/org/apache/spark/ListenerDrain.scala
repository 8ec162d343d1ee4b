package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs to wait until
  * every event posted so far has reached its listeners before it reads
  * them, or the tail of a run would be missing from the ledger. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
