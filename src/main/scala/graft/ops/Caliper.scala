package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's dataflow semantics (SURVEY.md §2/§3) re-expressed over
  * the driver's parquet test tables, so the DuckDB oracle can check them:
  * event-struct construction with renames and literals (P8/P9), `;`-split
  * learning-objective arrays wrapped as structs (P6/P7 — the reference's
  * *intended* multi-LO semantics, `/root/reference/etl.js:76-82`),
  * group-by-attempt with list collection (A1, `etl.js:107-112`), 1→3 event
  * fan-out (F1, `etl-assessment-level.js:108-113`), malformed-row drop
  * (P4, `etl.js:74`), and ordered limit (P12, `etl-assessment-level.js:42`).
  *
  * The CSV-file pipelines themselves (exact reference parity, including
  * the §3.3 output-shape divergences) live in `graft.etl` and are covered
  * by ScalaTest golden tests; here the same operators run against the
  * scale tables.
  *
  * Events are serialized with `to_json` so nested-struct values can be
  * hash-compared engine-to-engine as plain strings. All score fields stay
  * strings — the reference emits scores as JSON strings (`etl.js:98-99`).
  */
object Caliper {

  /** attempt key: 10 consecutive events form one "attempt" (deterministic,
    * engine-portable arithmetic on event_id).
    */
  private val attemptId: Column =
    concat(lit("attempt-"), floor(col("event_id") / 10).cast("long"))

  private def itemEventJson: Column = {
    val k = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    // Intended multi-LO semantics: 'k.1;k.2' split on ';' → [{id}] structs.
    val loIds = split(concat(k, lit(".1;"), k, lit(".2")), ";")
    to_json(struct(
      lit("OutcomeEvent").as("type"),
      struct(
        lit("GRADED").as("action"),
        struct(concat(lit("user-"), col("user_id")).as("id")).as("actor"),
        struct(
          concat(lit("item-"), col("event_id")).as("id"),
          transform(loIds, x => struct(x.as("id"))).as("learningObjectives")
        ).as("target"),
        struct(attemptId.as("id"), lit(1).as("count")).as("object"),
        struct(
          k.as("normalScore"),
          floor(col("value")).cast("long").cast("string").as("totalScore")
        ).as("generated")
      ).as("values")))
  }

  /** DuckDB rendering of the same event JSON. `to_json(struct_pack(…))`
    * preserves field order and prints compactly, matching Spark's
    * `to_json` byte-for-byte for all-string/int leaves.
    */
  private val itemEventJsonSql: String =
    """to_json(struct_pack(
      |  "type" := 'OutcomeEvent',
      |  "values" := struct_pack(
      |    action := 'GRADED',
      |    actor := struct_pack(id := 'user-' || user_id),
      |    target := struct_pack(
      |      id := 'item-' || event_id,
      |      learningObjectives := list_transform(
      |        string_split(k || '.1;' || k || '.2', ';'),
      |        x -> struct_pack(id := x))),
      |    object := struct_pack(id := attempt_id, count := 1),
      |    generated := struct_pack(
      |      normalScore := k,
      |      totalScore := CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR)))))""".stripMargin

  /** P3/P6/P7/P8/P9: per-row Caliper OutcomeEvent construction. */
  val c1ItemEvents: Q = Q.sql(
    "c1_item_events",
    "Row → nested Caliper OutcomeEvent (struct/array construction, renames, literals).",
    s"""WITH src AS (
       |  SELECT event_id, 'attempt-' || CAST(CAST(FLOOR(event_id / 10) AS BIGINT) AS VARCHAR) AS attempt_id,
       |         user_id, value,
       |         regexp_extract(props, '"k": ([0-9]+)', 1) AS k
       |  FROM events)
       |SELECT event_id, attempt_id, $itemEventJsonSql AS event
       |FROM src ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_id"), attemptId.as("attempt_id"), itemEventJson.as("event"))
      .orderBy("event_id")
  }

  /** A1: hash group-by attempt + collect_list — the reference's
    * driver-memory `Map<attempt, events[]>` (`etl.js:13,107-112`) as a
    * shuffled, spillable aggregate. Lists are sorted for deterministic
    * compare (the reference's order is input-file order; SURVEY §7.5).
    */
  val c2GroupedAttempts: Q = Q.sql(
    "c2_grouped_attempts",
    "groupBy(attempt).collect_list(event) — the reference's grouping Map, distributed.",
    s"""WITH src AS (
       |  SELECT event_id, 'attempt-' || CAST(CAST(FLOOR(event_id / 10) AS BIGINT) AS VARCHAR) AS attempt_id,
       |         user_id, value,
       |         regexp_extract(props, '"k": ([0-9]+)', 1) AS k
       |  FROM events),
       |ev AS (SELECT attempt_id, CAST($itemEventJsonSql AS VARCHAR) AS event FROM src)
       |SELECT attempt_id, '[' || string_agg(event, ',' ORDER BY event) || ']' AS events, COUNT(*) AS n_events
       |FROM ev GROUP BY attempt_id ORDER BY attempt_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(attemptId.as("attempt_id"), itemEventJson.as("event"))
      .groupBy(col("attempt_id"))
      // The collected list is rendered as one JSON-array string so the result
      // is scalar-typed end to end (hashable by any downstream comparator).
      // Rendered by concatenation, not to_json: the elements are already JSON
      // documents, and to_json over array<string> would re-escape them.
      .agg(concat(lit("["),
          array_join(sort_array(collect_list(col("event"))), ","),
          lit("]")).as("events"),
        count(lit(1)).as("n_events"))
      .orderBy("attempt_id")
  }

  /** F1: 1→3 fan-out — each order becomes STARTED/SUBMITTED/GRADED events
    * via explode(array(structs)), the reference's per-row 3-event emit
    * (`etl-assessment-level.js:108-113`). Note the §3.3 type divergence:
    * GRADED carries type 'AssessmentOutcomeEvent'.
    */
  val c3Fanout: Q = Q.sql(
    "c3_assessment_fanout",
    "1→3 event fan-out via explode(array(struct…)).",
    """SELECT o.o_orderkey AS attempt_key,
      |       'user-' || o.o_custkey AS actor_id,
      |       a.action,
      |       CASE WHEN a.action = 'GRADED' THEN 'AssessmentOutcomeEvent'
      |            ELSE 'AssessmentEvent' END AS event_type,
      |       CAST(CAST(FLOOR(o.o_totalprice) AS BIGINT) AS VARCHAR) AS total_score
      |FROM orders o
      |CROSS JOIN (SELECT UNNEST(['STARTED','SUBMITTED','GRADED']) AS action) a
      |ORDER BY attempt_key, action""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey").as("attempt_key"),
        concat(lit("user-"), col("o_custkey")).as("actor_id"),
        explode(array(lit("STARTED"), lit("SUBMITTED"), lit("GRADED"))).as("action"),
        floor(col("o_totalprice")).cast("long").cast("string").as("total_score"))
      .withColumn("event_type",
        when(col("action") === "GRADED", "AssessmentOutcomeEvent")
          .otherwise("AssessmentEvent"))
      .select("attempt_key", "actor_id", "action", "event_type", "total_score")
      .orderBy("attempt_key", "action")
  }

  /** P12: ordered limit (the reference's rowsToExtract clamp,
    * `etl-assessment-level.js:14,42-43`, made deterministic by ordering).
    */
  val c4Limit: Q = Q.sql(
    "c4_limit",
    "Deterministic head-N: ORDER BY key LIMIT 100.",
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  /** P4: malformed-row drop — regex-validate the props payload and keep
    * only parseable rows, the reference's silent non-matching-row skip
    * (`etl.js:74`) as a declarative filter the optimizer can push down.
    */
  val c5MalformedDrop: Q = Q.sql(
    "c5_malformed_drop",
    "Regex-gate rows (DROPMALFORMED semantics) + extract parsed field.",
    """SELECT event_id,
      |       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |FROM events
      |WHERE regexp_matches(props, '^\{"k": [0-9]+\}$')
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .filter(col("props").rlike("^\\{\"k\": [0-9]+\\}$"))
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k"))
      .orderBy("event_id")
  }

  /** A2: group iteration with a sequence number — the reference's output
    * counter `i` over map entries (`etl.js:56-60`, used in filenames) as
    * a deterministic global sequence.
    *
    * A bare `Window.orderBy(attempt_id)` (no partitionBy) would funnel
    * every group through ONE task — correct at sf0.1, dead at 100 TB. The
    * scale-safe shape is two-phase: range-partition on the order key, take
    * partition-local row numbers, then add cumulative per-partition
    * offsets. The only single-ordered-window left runs over the offsets
    * frame, which has #partitions rows (≤ spark.sql.shuffle.partitions),
    * not #groups rows.
    */
  val c6AttemptSeq: Q = Q.sql(
    "c6_attempt_seq",
    "Sequence number per attempt group (the reference's output counter, A2), two-phase.",
    """WITH g AS (
      |  SELECT 'attempt-' || CAST(CAST(FLOOR(event_id / 10) AS BIGINT) AS VARCHAR) AS attempt_id,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT ROW_NUMBER() OVER (ORDER BY attempt_id) - 1 AS seq, attempt_id, n_events
      |FROM g ORDER BY seq""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val grouped = Tables.events(spark, dir)
      .groupBy(attemptId.as("attempt_id"))
      .agg(count(lit(1)).as("n_events"))
    // Phase 1: range-partition by the order key so partition i holds keys
    // strictly below partition i+1, then number rows locally per partition.
    val local = grouped
      .repartitionByRange(col("attempt_id"))
      // no sortWithinPartitions: pid depends only on the range exchange,
      // and the Window below inserts its own per-partition sort anyway
      .withColumn("pid", spark_partition_id())
      .withColumn("local_rn",
        row_number().over(Window.partitionBy("pid").orderBy("attempt_id")))
      // pinned: `local` feeds BOTH the offsets aggregate and the final
      // join. Unpinned, each consumer can re-materialize the range
      // exchange, whose boundaries come from SAMPLING — two samplings
      // can route keys to different pids and the offsets misalign
      // (observed at the sf10 soak: seq off by thousands mid-stream).
      .localCheckpoint()
    // Phase 2: cumulative group counts per partition → global offset. The
    // offsets frame is partition-count-sized, so the ordered window here is
    // O(#partitions) regardless of data volume.
    val offsets = local.groupBy("pid")
      .agg(max("local_rn").as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select((col("offset") + col("local_rn") - 1).as("seq"),
        col("attempt_id"), col("n_events"))
      .orderBy("seq")
  }

  val all: Seq[Q] = Seq(c1ItemEvents, c2GroupedAttempts, c3Fanout, c4Limit,
    c5MalformedDrop, c6AttemptSeq)
}
