package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Caller-managed lifecycle for the persisted intermediates of lazily
  * returned pipelines. Near-dup candidate generation (MinHash / SimHash /
  * embedding-cosine) persists signature and pair frames that must outlive
  * the returned plan's first action, so the pipeline itself can never
  * safely unpersist them — somebody has to own the release.
  *
  * Two modes:
  *
  *  - [[StorageHandle.unmanaged]] (the default everywhere): persists live
  *    for the session, and pipelines keep their eager release of the
  *    largest full-corpus caches where profiling justified the extra
  *    materialization job. Right for one-shot jobs, where
  *    `spark.catalog.clearCache()` or session teardown reclaims the rest.
  *
  *  - a caller-created handle (`StorageHandle()`): construction stays
  *    fully lazy — no materialization job runs until the caller's own
  *    first action — every persisted intermediate is tracked, and the
  *    caller invokes [[release]] once the result has been consumed. This
  *    is the repeated-call / long-session usage the unmanaged default
  *    would otherwise leak cache entries under.
  */
final class StorageHandle private[graft] (val managed: Boolean) {
  private val tracked = ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) unless its plan is already cached,
    * and, when managed, remember it for [[release]].
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p =
      if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    if (managed) synchronized { tracked += p }
    p
  }

  /** Unpersist every tracked intermediate. Idempotent; `blocking = true`
    * waits for the blocks to actually drop (useful in tests).
    */
  def release(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking))
    tracked.clear()
  }
}

object StorageHandle {
  /** Session-lifetime persists with eager big-cache release — the
    * default when no handle is passed.
    */
  val unmanaged: StorageHandle = new StorageHandle(managed = false)

  /** A caller-managed handle: lazy construction, explicit [[StorageHandle.release]]. */
  def apply(): StorageHandle = new StorageHandle(managed = true)
}
