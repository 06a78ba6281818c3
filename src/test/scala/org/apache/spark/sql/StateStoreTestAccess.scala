package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.StreamingQuery

/** Package-private state-store hooks for specs. */
object StateStoreTestAccess {
  /** How many of `q`'s state stores are loaded in this JVM. */
  def loadedStores(q: StreamingQuery): Int =
    GraftStateStoreBridge.storeIds(q).count(StateStore.isLoaded)

  /** How many state stores `q`'s stateful operators can have loaded. */
  def knownStores(q: StreamingQuery): Int =
    GraftStateStoreBridge.storeIds(q).size
}
