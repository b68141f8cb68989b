package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines over the events schema — the streaming
  * twins of `graft.ops.EventWindows` (same transforms, plus watermarks)
  * and a custom stateful sessionizer via `flatMapGroupsWithState`.
  *
  * All transforms take/return DataFrames so they run identically on a
  * batch frame (tested that way) and on `spark.readStream` input — the
  * Structured Streaming contract. At scale the state store shards by
  * group key across executors; watermarks bound state growth.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.time.Instant, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionOut(user_id: Long, session_start: java.time.Instant,
      session_end: java.time.Instant, n_events: Long)

  /** µs-precision epoch arithmetic — Timestamp.getTime would truncate to
    * ms and drift session bounds off the native session_window values.
    */
  private def us(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** state-store record for statefulSessions (public: encoder codegen needs the ctor) */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Streaming source over a staged directory of events files
    * ([[graft.ops.Scratch.Arrivals.read]]: one file per micro-batch). The
    * staged directory is ts-range-partitioned (see
    * `ops.StreamingQueries.eventsPath`), so batches arrive in event-time
    * order and state/watermark progression across batches is exercised
    * for real without any late-drop divergence from the batch oracle.
    * Staged dirs carry the canonical raw-ns LONG ts, while raw driver
    * files may be TIMESTAMP(MICROS) — both normalize to TimestampType µs
    * exactly like graft.Tables.events.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.eventsTs(graft.ops.Scratch.Arrivals.read(spark, dir))
  }

  /** The click→purchase band join of the stream-stream join queries:
    * each purchase meets the same user's clicks of the 10 minutes before
    * it, as join type `how`. Each side is its own [[read]] of `dir`,
    * filtered to its event type and watermarked by 10 minutes, and the
    * band bounds the event-time distance between the sides, so each
    * side's state store holds only a ~10-minute horizon of rows (the
    * unbounded-state hazard of stream-stream joins is what the bound
    * exists to prevent).
    *
    * Purchases carry `p_user` and `p_ts`, after `purchase_id` when
    * `purchaseId` and before `purchaseValue` when given; clicks carry
    * `c_user` and `c_ts`, after `click_id` when `clickId`. Nothing else
    * enters the join state.
    */
  def clickPurchaseJoin(spark: SparkSession, dir: String, how: String,
      purchaseId: Boolean = true, purchaseValue: Option[Column] = None,
      clickId: Boolean = false): DataFrame = {
    def side(eventType: String, p: String, id: Option[String], carried: Option[Column]) =
      read(spark, dir)
        .filter(col("event_type") === eventType)
        .select(id.map(col("event_id").as(_)).toSeq ++
          Seq(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts")) ++ carried: _*)
        .withWatermark(s"${p}_ts", "10 minutes")
    val purchases = side("purchase", "p", Option.when(purchaseId)("purchase_id"), purchaseValue)
    val clicks = side("click", "c", Option.when(clickId)("click_id"), None)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"),
      how)
  }

  /** Tumbling 1h counts with a 10-minute watermark — late events beyond
    * the watermark are dropped; state per (window, event_type) only.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Hopping (sliding) 1h windows every 15 minutes with a 10-minute
    * watermark — each event is replicated into its 4 overlapping windows
    * map-side before the one shuffle on (window, event_type), exactly
    * like the batch twin (`ops.EventWindows.w9Hopping`); state is per
    * (window, event_type) and the watermark closes windows 4× faster
    * than a tumbling 1h because a new slide boundary passes every 15
    * minutes.
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** TWO chained stateful windowed aggregations in one streaming query —
    * Spark's multiple-stateful-operator support (3.4+): 15-minute
    * tumbling counts per event_type, re-aggregated into 1-hour rollups
    * (active-bucket count + event sum) keyed on `window_time` of the
    * inner window. The inner aggregation finalizes a bucket when the
    * watermark passes its end; the finalized row flows to the outer
    * aggregation IN THE SAME micro-batch, which emits the hour once the
    * same watermark passes the hour end — so only hours ending at or
    * behind the FINAL watermark reach an Append sink (the oracle mirrors
    * that emission rule). State is two window-keyed stores, both
    * watermark-bounded.
    */
  def chainedWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_buckets"), col("n_events"))

  /** Native session windows (30-minute gap) per user with watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Stream-static enrichment: each micro-batch joins against the static
    * customer dim (broadcast — the static side is re-planned per batch,
    * which is how Structured Streaming picks up slowly-changing dims on
    * restart), then aggregates tumbling 1h windows per nation. State is
    * per (window, nation) only; the join itself is stateless.
    */
  def enrichedNationCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(customers.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("c_nationkey").as("nation"), col("n"), col("sum_value"))

  /** Streaming exact dedup on event_id with bounded state:
    * `dropDuplicatesWithinWatermark` keeps each key only until the
    * watermark passes it, so state size tracks the late-data horizon
    * instead of the whole stream — the streaming counterpart of
    * `d1_dedup_exact`.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom stateful sessionization: one SessionState per user in the
    * state store; a session closes (and is emitted) when a later event
    * arrives past the 30-minute gap. Each user's final session stays
    * open in state awaiting more events — `finalizeSessions` drains it
    * in batch runs; a production stream would add
    * `GroupStateTimeout.EventTimeTimeout` + watermark to close and evict
    * idle sessions. This is the `flatMapGroupsWithState` shape for
    * session logic `session_window` can't express (e.g. emitting on
    * close with custom payloads).
    */
  def statefulSessions(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // events arrive unordered within the batch; sort this user's slice
          val sorted = rows.toSeq.sortBy(e => us(e.ts))
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = us(e.ts)
            cur match {
              case Some(s) if t - s.last < gapUs =>
                // a cross-batch straggler can precede the stored start
                cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
              case Some(s) =>
                closed ::= SessionOut(userId, instant(s.start), instant(s.last + gapUs), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** The production variant of [[statefulSessions]]: sessions close by
    * EVENT-TIME TIMEOUT, not only when a later event proves the gap.
    * Each arriving batch merges events into the user's open session and
    * arms `setTimeoutTimestamp(last + gap)`; when the watermark passes
    * that instant the engine calls the function once more with
    * `hasTimedOut=true` and the session emits + its state evicts. This
    * is the shape a live stream needs — without the timeout, an idle
    * user's final session never leaves the state store (state grows with
    * total keys ever seen instead of ACTIVE keys).
    *
    * Correctness contract under in-order arrival: a timeout fires only
    * when watermark > last + gap, i.e. only when no event can extend the
    * session any more (later events all carry ts ≥ watermark), so the
    * emitted sessions are exactly the batch gaps-and-islands sessions —
    * which is what the w15 gate checks.
    */
  def timeoutSessions(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the session is provably closed
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(userId, instant(s.start), instant(s.last + gapUs), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => us(e.ts))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = us(e.ts)
              cur match {
                case Some(s) if t - s.last < gapUs =>
                  cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, instant(s.start), instant(s.last + gapUs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // arm the event-time alarm: in-order staging guarantees
              // last ≥ watermark (see StreamingQueries.eventsPath), so
              // last+gap is always a legal (future) timeout instant
              state.setTimeoutTimestamp((s.last + gapUs) / 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Drain any pending session state as final rows (batch-mode finisher —
    * in a live stream these stay open awaiting more events).
    */
  def finalizeSessions(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, rows: Iterator[Event]) =>
        val sorted = rows.toSeq.sortBy(e => us(e.ts))
        val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
        var cur: Option[SessionState] = None
        sorted.foreach { e =>
          val t = us(e.ts)
          cur match {
            case Some(s) if t - s.last < gapUs =>
              cur = Some(s.copy(last = t, n = s.n + 1))
            case Some(s) =>
              out += SessionOut(userId, instant(s.start), instant(s.last + gapUs), s.n)
              cur = Some(SessionState(t, t, 1))
            case None => cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach(s => out += SessionOut(userId, instant(s.start), instant(s.last + gapUs), s.n))
        out.iterator
      }
  }
}
