package org.apache.spark

/** The listener bus delivers events asynchronously; reading a recorder's
  * totals before the bus drains would undercount the last jobs. The drain
  * call is package-private, hence this bridge.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
