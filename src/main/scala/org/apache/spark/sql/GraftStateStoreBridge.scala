package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId,
  StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge into the private[sql] state-store registry: unload the stores
  * one finished query loaded, and no other query's.
  *
  * A stateful operator loads one provider per (operator, partition,
  * store name) in the executor's process-wide registry, keyed by the
  * query's run id. Spark unloads them only from its maintenance task,
  * once the coordinator reports the run inactive (every
  * `spark.sql.streaming.stateStore.maintenanceInterval`, 60 s by
  * default). Until then each provider keeps its files manager, and
  * since Spark 4.1 the checksum manager's thread pool with it. A
  * drain-once query is finished when it returns, so its runner unloads
  * them at once: the ids come from the stateful operators of the query's
  * last execution, which name the checkpoint, operator id, partition
  * count and store names Spark built them from.
  *
  * Local mode only reaches stores loaded in this JVM, which in local mode
  * is every executor; on a cluster the executors' copies are left to
  * Spark's maintenance as before. */
object GraftStateStoreBridge {

  /** Unload the state stores `q` loaded in this JVM; returns how many
    * were loaded. Call once `q` has terminated. */
  def unloadStores(q: StreamingQuery): Int =
    storeIds(q).count { id =>
      StateStore.isLoaded(id) && {
        StateStore.removeFromLoadedProvidersAndClose(id)
        true
      }
    }

  /** Every store id `q`'s stateful operators can have loaded. */
  private[sql] def storeIds(q: StreamingQuery): Seq[StateStoreProviderId] = q match {
    case w: StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).toSeq.flatMap { last =>
        last.executedPlan.collect { case op: StateStoreWriter => op }
          .flatMap { op =>
            op.stateInfo.toSeq.flatMap { info =>
              for (p <- 0 until info.numPartitions; name <- op.stateStoreNames)
                yield StateStoreProviderId(
                  StateStoreId(info.checkpointLocation, info.operatorId, p, name),
                  info.queryRunId)
            }
          }
      }
    case _ => Nil
  }
}
