package org.apache.spark

/** Lets graft's Bench wait until every posted listener event has been
  * delivered before it reads its listeners; `listenerBus` is
  * `private[spark]`, hence this package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
