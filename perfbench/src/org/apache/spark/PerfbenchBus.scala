package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced operation's job, stage, task and plan events are all in before
  * its numbers are read. The bus is package-private to Spark, hence this
  * one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
