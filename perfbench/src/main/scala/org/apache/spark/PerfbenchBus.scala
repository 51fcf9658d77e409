package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so a pass's job records are complete before they
  * are read. (The bus is private to the `spark` package.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
