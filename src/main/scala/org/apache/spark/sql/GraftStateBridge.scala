package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge to Spark's internal state-store registry, in one place like
  * [[GraftPlanBridge]]. A stopped micro-batch query leaves its loaded
  * state maps in the local-mode JVM, where they shadow the execution
  * memory of the queries after it and the maintenance thread keeps
  * touching its checkpoint.
  */
object GraftStateBridge {
  /** Unloads only the stopped `query`'s providers: each store of each
    * stateful operator of its last planned batch. */
  def unloadStateStores(query: StreamingQuery): Unit = Option(query
      .asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
    .foreach(_.executedPlan.foreach {
      case op: StateStoreWriter =>
        for (p <- 0 until op.getStateInfo.numPartitions;
             name <- op.stateStoreNames)
          StateStore.removeFromLoadedProvidersAndClose(
            StateStoreProviderId(op.getStateInfo, p, name))
      case _ =>
    })
}
