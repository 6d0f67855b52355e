package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered before it reads its listeners; `listenerBus` is
  * `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
