package org.apache.spark

/** Drains Spark's asynchronous listener bus, which is package-private:
  * a traced op's job, task and plan events must all have arrived before
  * the next op starts, so each event is attributed to the op that
  * caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
