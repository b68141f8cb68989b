package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place in `graft.ops` that persists a frame. Every persisted
  * intermediate is pinned the same way:
  *
  *  - at MEMORY_AND_DISK, so a pin larger than the storage pool spills
  *    instead of being recomputed per reference; the cached plan keeps
  *    its hash partitioning and sort order through `InMemoryTableScan`,
  *    which the pre-partitioned band and ANN indexes and the g1/g2 edge
  *    frames rely on;
  *  - with an eager `count()` barrier: a frame that several join branches
  *    of one query read, if left lazy, lets AQE materialize two branches
  *    at once; a runtime replan then cancels one mid-compute and the
  *    abandoned tasks keep burning cores as zombies (cancelled tasks are
  *    not interrupted). One job materializes every block exactly once,
  *    before any race exists;
  *  - released without blocking.
  *
  * `localCheckpoint` frames are not pins: they are eager already and
  * truncate lineage, and `Dataset.unpersist` cannot free their blocks.
  */
private[ops] object Pin {

  /** Persists `ds` and materializes it; returns the pinned frame. A frame
    * whose plan is cached already is returned as is, with no job.
    */
  def apply[D <: Dataset[_]](ds: D): D = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
    }
    ds
  }

  /** Frees a pin's storage blocks. */
  def release(ds: Dataset[_]): Unit = { ds.unpersist(blocking = false); () }

  /** Pins `ds` for `body` and releases it afterwards, also when the build
    * or `body` throws. What `body` returns must not read the pin lazily:
    * end it on a `localCheckpoint` or an action, or the result silently
    * recomputes the released frame. `ds` must be the caller's own:
    * the release frees any pin of the same plan.
    */
  def during[D <: Dataset[_], A](ds: D)(body: D => A): A =
    try body(Pin(ds)) finally release(ds)

  /** A per-session memo of pins: one pinned frame per (session, key),
    * built on first use. A rebuild after the soft value was cleared
    * releases the superseded pin if it is still reachable.
    */
  final class Shared[K, D <: Dataset[_]] {
    private val cache = new SessionCache[K, D](release)

    def apply(spark: SparkSession, key: K)(build: => D): D =
      cache.getOrElseUpdate(spark, key)(Pin(build))
  }
}
