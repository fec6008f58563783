package org.apache.spark

/** The listener bus delivers events asynchronously. Reading the ledger
  * before the bus is empty would miss the last stages of a span, so the
  * benchmark drains it at every window boundary. `listenerBus` is
  * `private[spark]`, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
