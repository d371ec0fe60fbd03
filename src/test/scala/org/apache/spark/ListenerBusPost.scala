package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** Test access to a context's (package-private) listener bus: post an
  * event and wait until every listener has handled it. */
object ListenerBusPost {
  def apply(sc: SparkContext, e: SparkListenerEvent): Unit = {
    sc.listenerBus.post(e)
    sc.listenerBus.waitUntilEmpty()
  }
}
