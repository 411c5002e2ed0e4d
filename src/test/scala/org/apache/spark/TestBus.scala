package org.apache.spark

import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code launches. The listener bus is
  * drained before the count is read, so every job posted while the
  * block ran has been delivered. Lives in Spark's package because the
  * bus is `private[spark]`.
  */
object TestBus {
  /** `(result, jobs)`: the jobs `body` launched that `counts` accepts by
    * their local properties (job group, streaming query id, …). */
  def jobsDuring[T](sc: SparkContext,
                    counts: Properties => Boolean = _ => true)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counts(Option(e.properties).getOrElse(new Properties()))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
