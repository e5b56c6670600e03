package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after a traced section include all of its jobs, tasks and query
  * executions. The bus is package-private to Spark, hence this file's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
