package org.apache.spark

/** The one `private[spark]` call the harness needs: block until every
  * queued listener event has been delivered, so job and query records are
  * complete before they are written out. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
