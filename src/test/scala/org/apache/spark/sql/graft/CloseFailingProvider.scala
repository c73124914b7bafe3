package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider

/** The default state-store provider, except that its next
  * `CloseFailingProvider.failures` closes throw (after closing). It
  * lives under `org.apache.spark.sql` because the provider it extends
  * is `private[sql]`. */
class CloseFailingProvider extends HDFSBackedStateStoreProvider {
  override def close(): Unit = {
    super.close()
    if (CloseFailingProvider.failures.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new IllegalStateException("state-store provider close failed")
  }
}

object CloseFailingProvider {
  val failures = new AtomicInteger(0)
}
