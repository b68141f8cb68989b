package graft.ops

import graft.{Q, Tables}
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Time-window aggregation over the `events` table — the batch twins of
  * the Structured Streaming pipelines in `graft.streaming` (same
  * operators, same semantics). w2 and w9 run the stream transforms
  * themselves on the batch table: the optimizer drops a watermark over a
  * batch frame (`EliminateEventTimeWatermark`), so the plan is the plain
  * batch aggregate.
  *
  * Tumbling windows shuffle once on (window, key); session windows use
  * Spark's native `session_window`, which sorts within the user partition
  * and merges gap-adjacent rows — the oracle cross-checks it against the
  * classic gaps-and-islands SQL formulation.
  */
object EventWindows {

  /** Tumbling 1-hour windows per event_type: `window()` aligns to the
    * epoch exactly like `date_trunc('hour', …)`. `value` is 2-decimal
    * money-shaped, so the decimal accumulator is exact.
    */
  val w1Tumbling: Q = Q.sql(
    "w1_window_tumbling",
    "Tumbling 1h window × event_type: count + exact sum.",
    """SELECT date_trunc('hour', ts) AS window_start,
      |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |       event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |       CAST(MIN(value) AS DOUBLE) AS min_value,
      |       CAST(MAX(value) AS DOUBLE) AS max_value
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"),
        min(col("value")).cast("double").as("min_value"),
        max(col("value")).cast("double").as("max_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"), col("min_value"), col("max_value"))
      .orderBy("window_start", "event_type")
  }

  /** Sessionization with a 30-minute gap via native `session_window`.
    * Oracle is the lag/cumsum gaps-and-islands equivalent: a new session
    * starts when the gap is ≥ 30 min; session end = last event + gap
    * (both formulations share the boundary convention).
    */
  val w2Session: Q = Q.sql(
    "w2_window_session",
    "session_window(ts, 30 min) per user vs gaps-and-islands oracle.",
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |       COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (spark, dir) =>
    EventsStream.sessionCounts(Tables.events(spark, dir))
      .orderBy("user_id", "session_start")
  }

  /** typed row for the debounce iterator (µs epoch keeps the arithmetic
    * exact and engine-portable; see Tables.events ns→µs truncation)
    */
  final case class DebEv(user_id: Long, event_id: Long, tsUs: Long)

  /** Greedy per-user debounce — keep an event only if ≥ 5 minutes have
    * passed since the last KEPT event (first always kept). This is the
    * throttle/notification-suppression operator, and it is genuinely
    * SEQUENTIAL per key: whether a row survives depends on which earlier
    * rows survived, so no window function expresses it. The Spark shape
    * is `groupByKey(user).flatMapSortedGroups(ts, event_id)` — the
    * secondary-sort pattern: one shuffle on the key, the sort rides the
    * shuffle, and the greedy scan is a per-group O(n) iterator with O(1)
    * state. At 100 TB this is exactly how it must run (state never
    * exceeds one timestamp per open group); the oracle walks the same
    * recurrence with a recursive CTE. Keep-decisions compare µs-exact
    * timestamps, so ties and boundaries are bit-deterministic.
    */
  val w8Debounce: Q = Q.sql(
    "w8_debounce",
    "Per-user greedy 5-minute debounce (keep iff >= 5 min since last kept) via flatMapSortedGroups.",
    """WITH RECURSIVE n AS (
      |  SELECT user_id, event_id, ts,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |walk(user_id, rn, last_kept, kept) AS (
      |  SELECT user_id, rn, ts, TRUE FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.user_id, n.rn,
      |         CASE WHEN n.ts >= w.last_kept + INTERVAL 5 MINUTE THEN n.ts
      |              ELSE w.last_kept END,
      |         n.ts >= w.last_kept + INTERVAL 5 MINUTE
      |  FROM walk w JOIN n ON n.user_id = w.user_id AND n.rn = w.rn + 1),
      |kept AS (
      |  SELECT n.user_id, n.event_id, n.ts
      |  FROM n JOIN walk w ON n.user_id = w.user_id AND n.rn = w.rn
      |  WHERE w.kept)
      |SELECT user_id, event_id, ts FROM kept
      |ORDER BY user_id, ts, event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val gapUs = 5L * 60 * 1000000L
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsUs"))
      .as[DebEv]
      .groupByKey(_.user_id)
      .flatMapSortedGroups(col("tsUs"), col("event_id")) { (_: Long, it: Iterator[DebEv]) =>
        var last = Long.MinValue
        it.flatMap { e =>
          if (last == Long.MinValue || e.tsUs >= last + gapUs) {
            last = e.tsUs
            Iterator.single(e)
          } else Iterator.empty
        }
      }
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("tsUs")).as("ts"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Hopping (sliding) windows — 1-hour span every 15 minutes, so each
    * event lands in exactly 4 overlapping windows. Spark's `window()`
    * with a slide replicates each row across its windows BEFORE the
    * aggregate (one shuffle on (window, key), 4× map-side fan-out, no
    * self-join); the oracle derives the same 4 window starts per event
    * from epoch-µs integer arithmetic — `window()` aligns its grid to
    * the epoch, so `(epoch_us div slide) · slide − k·slide` reproduces
    * the starts exactly.
    */
  val w9Hopping: Q = Q.sql(
    "w9_window_hopping",
    "Hopping 1h window every 15 min × event_type: count + exact sum (4 windows per event).",
    """WITH expanded AS (
      |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
      |           - k.k * 900000000) AS window_start,
      |         event_type, value
      |  FROM events CROSS JOIN (SELECT UNNEST(range(4)) AS k) k)
      |SELECT window_start,
      |       window_start + INTERVAL 1 HOUR AS window_end,
      |       event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM expanded
      |GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin) { (spark, dir) =>
    EventsStream.hoppingCounts(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")
  }

  val all: Seq[Q] = Seq(w1Tumbling, w2Session, w8Debounce, w9Hopping)
}
