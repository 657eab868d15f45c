package org.apache.spark

/** Reaches the one package-private call the harness needs: waiting until
  * every queued listener event has been delivered, so a traced unit's
  * counters are complete before they are read.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
