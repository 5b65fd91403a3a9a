package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after a pipeline run include all of its tasks. The bus is
  * package-private to Spark, hence this package.
  */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
