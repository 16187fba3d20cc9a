package org.apache.spark

/** The listener bus is private to Spark; the tracer must drain it before
  * it reads the job and task totals of a finished run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
