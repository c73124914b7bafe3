package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreProvider, StateStoreProviderId}

/** Package bridge for the one `private[sql]` surface the replay
  * harness needs: eagerly unloading state-store providers after a
  * replay query stops. A stopped replay's providers are keyed by its
  * run-scoped (deleted) checkpoint dir and can never be reused, but
  * Spark only unloads providers lazily from the maintenance thread —
  * which, over a multi-run bench, walks an ever-growing provider map
  * doing local-FS shell forks while holding the provider-map lock
  * (measured: task threads blocked in getStateStoreProvider). */
object StateStoreBridge extends Logging {

  /** The loaded providers whose checkpoint root contains `ckRoot`. The
    * loaded-provider map is object-private, so it is read via
    * reflection (same JVM, own classpath). */
  def loadedUnder(ckRoot: String): List[StateStoreProviderId] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    val map = f.get(StateStore).asInstanceOf[
      scala.collection.mutable.HashMap[StateStoreProviderId,
        StateStoreProvider]]
    // contains, not startsWith: the provider's root is the resolved
    // "<scheme>:<ckRoot>/state" path, and ckRoot (pid + per-run qn)
    // is globally unique, so a substring match is exact
    map.synchronized {
      map.keys.filter(
        _.storeId.checkpointRootLocation.contains(ckRoot)).toList
    }
  }

  /** Unload only the providers rooted at `ckRoot`: unloadAll() would
    * also close a concurrently running stateful query's providers
    * mid-batch and force it into checkpoint reloads. Each provider goes
    * through Spark's `private[sql]` removeFromLoadedProvidersAndClose,
    * which drops it from the map before closing it, in its own try: a
    * provider whose `close` throws is logged and the rest are still
    * closed. Falls back to unloadAll() only if the private map's shape
    * ever changes, so the caller's cleanup after the unload still
    * runs. */
  def unloadForCheckpoint(ckRoot: String): Unit = {
    val ids = try loadedUnder(ckRoot) catch {
      case NonFatal(e) =>
        logWarning(s"scoped state-store unload failed, unloading all: $e")
        StateStore.unloadAll()
        Nil
    }
    ids.foreach { id =>
      try StateStore.removeFromLoadedProvidersAndClose(id)
      catch {
        case NonFatal(e) =>
          logWarning(s"closing state-store provider $id failed: $e")
      }
    }
  }
}
