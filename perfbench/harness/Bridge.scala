package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The two Spark internals the harness needs, reached from a package that
  * may see them: draining the listener bus before a query's counters are
  * read, and unloading the state stores a finished stream leaves loaded.
  */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
