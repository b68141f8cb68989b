package graft.ops

import org.apache.spark.sql.SparkSession

/** Per-session memo for frames shared across queries. It holds two kinds:
  *
  *  - plain memos (`new SessionCache`): `localCheckpoint` frames, small
  *    artifacts that are eager already and own no cache entry, and q37's
  *    bloom child session, so a superseded value needs no release;
  *  - pins, through [[Pin.Shared]], which builds each value with [[Pin]]
  *    and passes [[Pin.release]] as `onReplace`.
  *
  * Lifecycle, honestly stated: sessions are WEAK keys and frames SOFT
  * values, which prevents the self-referential strong chain (a Dataset
  * strongly references its own SparkSession — the WeakHashMap javadoc's
  * warning case) from pinning sessions for the JVM lifetime. It does
  * NOT reclaim the persisted storage blocks under memory pressure —
  * those are tracked by the session's CacheManager until the session
  * ends, which is the intended lifetime for a materialized index in a
  * long-lived engine session. A cleared soft reference simply means the
  * next request rebuilds (and re-pins) the frame; if the superseded
  * frame is still reachable when that happens, `onReplace` releases its
  * storage blocks so rebuilds don't accumulate orphaned cached data
  * under exactly the memory pressure that cleared the reference.
  */
private[ops] final class SessionCache[K, V <: AnyRef](
    onReplace: V => Unit = (_: V) => ()) {
  private val maps = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.concurrent.TrieMap[K, java.lang.ref.SoftReference[V]]]()

  def getOrElseUpdate(spark: SparkSession, key: K)(mk: => V): V = {
    val inner = maps.synchronized {
      var m = maps.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[K, java.lang.ref.SoftReference[V]]
        maps.put(spark, m)
      }
      m
    }
    inner.get(key).flatMap(r => Option(r.get())) match {
      case Some(v) => v
      case None =>
        // built outside any lock: concurrent distinct-key builds stay
        // parallel; a same-key race builds twice and last-write wins
        // (both values are equivalent frames)
        val v = mk
        val old = inner.put(key, new java.lang.ref.SoftReference(v))
        // the soft ref may have been cleared but the frame itself still
        // strongly held elsewhere (e.g. a caller kept it) — release the
        // superseded frame's persisted blocks either way if reachable
        old.flatMap(r => Option(r.get())).filter(_ ne v).foreach { stale =>
          try onReplace(stale)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        v
    }
  }
}
