package org.apache.spark

/** Drains the asynchronous listener bus, so every event of the jobs that
 *  have already returned has reached the benchmark's listener before the
 *  ledger is read (the bus is private to the spark package). */
object WhistlerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
