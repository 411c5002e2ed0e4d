package org.apache.spark

/** Lets the benchmark wait until every posted listener event (jobs,
  * stages, tasks, SQL executions, streaming progress) has been
  * delivered, so its readings are complete before it reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
