package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** The library's one registry of cached intermediates. Operators that
  * feed a frame into several plan branches persist it here (or, for a
  * frame they already `localCheckpoint`ed, track it here) under their
  * owning object; the blocks stay until that owner is released.
  *
  * Release contract:
  *  - a released PERSISTED frame recomputes on next use, never wrong,
  *    so releasing it early costs only time;
  *  - a released CHECKPOINT cannot recompute — release a checkpoint
  *    owner only after the consuming action, once the frames it
  *    returned are discarded.
  *
  * Long-lived drivers call the owner's `releaseCaches()` (or
  * [[releaseAll]] between queries); without a release the blocks live
  * until driver GC and Spark's ContextCleaner reach them. Releasing by
  * owner keeps one caller's release (a streaming ingest thread
  * releasing `Dedup`) from dropping another owner's checkpoints. Every
  * release goes through [[Bridge.releaseFrame]], so persisted frames
  * and checkpoint blocks are freed the same way. */
object Caches {

  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[(AnyRef, Dataset[_])]

  /** Persist `df` (MEMORY_AND_DISK) and register it under `owner`. */
  def persist(owner: AnyRef, df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    entries.add(owner -> p)
    p
  }

  /** Register an already-materialized (checkpointed) frame. */
  def track[T](owner: AnyRef, ds: Dataset[T]): Dataset[T] = {
    entries.add(owner -> ds)
    ds
  }

  /** Free every frame registered under `owner` since its last release. */
  def release(owner: AnyRef): Unit = drain(_ eq owner)

  /** Free every registered frame, whatever its owner. */
  def releaseAll(): Unit = drain(_ => true)

  /** Frames registered under `owner` and not yet released. */
  def count(owner: AnyRef): Int = {
    var n = 0
    entries.forEach(e => if (e._1 eq owner) n += 1)
    n
  }

  // `remove` succeeds for exactly one caller per entry, so concurrent
  // releases never free a frame twice or skip one
  private def drain(owned: AnyRef => Boolean): Unit =
    entries.forEach { e =>
      if (owned(e._1) && entries.remove(e)) Bridge.releaseFrame(e._2)
    }
}
