package graft.ops

import java.lang.ref.SoftReference

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  *
  * It is also the one registry of values shared across the queries of a
  * session, [[Shared]]. Each shared memo declares how it keeps a value:
  *
  *  - [[Shared.pinned]]: persisted through [[Pin]]; a superseded value
  *    is released with [[release]];
  *  - [[Shared.checkpointed]]: `localCheckpoint`ed, so eager, with its
  *    lineage cut and no cache entry;
  *  - [[Shared.memo]]: kept as built, for a value that is cut already
  *    (a [[Rounds]] output) or is not a frame.
  *
  * Lifecycle: sessions are WEAK keys and values SOFT, which prevents the
  * self-referential strong chain (a Dataset strongly references its own
  * SparkSession — the WeakHashMap javadoc's warning case) from holding
  * sessions for the JVM lifetime. It does NOT reclaim persisted storage
  * blocks under memory pressure — those are tracked by the session's
  * CacheManager until the session ends, which is the intended lifetime
  * for a materialized index in a long-lived engine session. A cleared
  * soft reference means the next request rebuilds (and re-pins) the
  * value; if the superseded pin is still reachable then, it is released,
  * so rebuilds don't accumulate orphaned cached data under exactly the
  * memory pressure that cleared the reference.
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

  /** A per-session memo: one value per (session, key), built on first
    * use and kept as its kind declares (see [[Pin]]). A build that throws
    * leaves no entry.
    */
  final class Shared[K, V <: AnyRef] private (keep: V => V, onReplace: V => Unit) {
    private val maps = mutable.WeakHashMap.empty[SparkSession, TrieMap[K, SoftReference[V]]]

    def apply(spark: SparkSession, key: K)(build: => V): V = {
      val inner = maps.synchronized(maps.getOrElseUpdate(spark, TrieMap.empty))
      inner.get(key).flatMap(r => Option(r.get())).getOrElse {
        // built outside any lock: concurrent distinct-key builds stay
        // parallel; a same-key race builds twice and last-write wins
        // (both values are equivalent)
        val v = keep(build)
        val old = inner.put(key, new SoftReference(v))
        // the soft ref may have been cleared while the value itself is
        // still strongly held elsewhere (e.g. a caller kept it)
        old.flatMap(r => Option(r.get())).filter(_ ne v).foreach { stale =>
          try onReplace(stale)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        v
      }
    }
  }

  object Shared {
    def pinned[K, D <: Dataset[_]]: Shared[K, D] = new Shared[K, D](Pin(_), release)

    def checkpointed[K]: Shared[K, DataFrame] =
      new Shared[K, DataFrame](_.localCheckpoint(), _ => ())

    def memo[K, V <: AnyRef]: Shared[K, V] = new Shared[K, V](identity, _ => ())
  }
}
