package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private, so the benchmark reaches it from inside the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
