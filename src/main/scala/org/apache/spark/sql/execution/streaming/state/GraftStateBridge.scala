package org.apache.spark.sql.execution.streaming.state

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge into the state-store registry of this JVM. Lives in Spark's
  * state package solely for access; no Spark internals are modified.
  */
object GraftStateBridge {

  /** Unloads and closes every state store a stopped query `q` loaded in
    * this JVM: one provider per (stateful operator, state partition,
    * store name) of its last executed plan. Closing a provider shuts its
    * checkpoint manager's thread pool and, for RocksDB, the database.
    * Spark itself unloads a stopped query's providers only in its
    * maintenance task (every `stateStore.maintenanceInterval`, 60 s by
    * default). Stores loaded in another JVM (executors of a cluster) are
    * left to that task. */
  def unload(q: StreamingQuery): Unit = {
    GraftBridge.execution(q).flatMap(e => Option(e.lastExecution)).foreach { last =>
      last.executedPlan.foreach {
        case w: StateStoreWriter =>
          val info = w.getStateInfo
          for (part <- 0 until info.numPartitions; name <- w.stateStoreNames) {
            val id = StateStoreProviderId(info, part, name)
            if (StateStore.isLoaded(id)) StateStore.removeFromLoadedProvidersAndClose(id)
          }
        case _ =>
      }
    }
  }
}
