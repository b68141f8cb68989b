package graft.ops

import graft.{Q, Tables}
import graft.etl.{AssessmentEvents, ItemEvents}
import org.apache.spark.sql.functions._

/** The reference CSV pipelines themselves (graft.etl), registered under
  * the DuckDB-oracle gate: the oracle re-derives the full nested-event
  * JSON from the same fixture CSVs with `read_csv` + `struct_pack`, so
  * the end-to-end dataflow — csv parse, empty/malformed handling, struct
  * construction, `;`-split, group-collect, 1→3 fan-out — is checked
  * against an independent engine, not just against hand-written specs.
  */
object EtlQueries {

  // the fixture CSVs, resolved against the working directory (sbt runs
  // the mains and the test JVM from the repo root); only e1/e2 read them
  private val fixtures =
    java.nio.file.Paths.get(sys.props("user.dir"), "src", "test", "resources")
  private val itemsCsv = s"$fixtures/items.csv"
  private val assessCsv = s"$fixtures/assessments.csv"

  /** Item-level pipeline end-to-end (read → events → group-collect),
    * fixture-driven (sfDir unused — the operator under test is the CSV
    * pipeline, SURVEY §3.1).
    */
  val e1ItemPipeline: Q = Q.sql(
    "e1_item_pipeline_csv",
    "ItemEvents csv pipeline vs DuckDB re-derivation of the grouped event JSON.",
    s"""WITH src AS (
       |  SELECT * FROM read_csv('$itemsCsv', header=true, all_varchar=true, null_padding=true)
       |  WHERE attempt_id IS NOT NULL),
       |ev AS (
       |  SELECT attempt_id, CAST(to_json(struct_pack(
       |    "type" := 'OutcomeEvent',
       |    "values" := struct_pack(
       |      action := 'GRADED',
       |      actor := struct_pack(id := COALESCE(identity_id, '')),
       |      target := struct_pack(
       |        id := COALESCE(assmtitem_id, ''),
       |        learningObjectives := list_transform(
       |          string_split(trim(COALESCE(masterobjectivesid, '')), ';'),
       |          x -> struct_pack(id := x))),
       |      object := struct_pack(id := attempt_id, count := 1),
       |      generated := struct_pack(
       |        normalScore := COALESCE(score_earned, ''),
       |        totalScore := COALESCE(score_posible, '')),
       |      assessment := struct_pack(
       |        id := COALESCE(assessment_id, ''),
       |        version := COALESCE(assessment_version, ''))))) AS VARCHAR) AS event
       |  FROM src)
       |SELECT attempt_id, '[' || string_agg(event, ',' ORDER BY event) || ']' AS events, COUNT(*) AS n_events
       |FROM ev GROUP BY attempt_id ORDER BY attempt_id""".stripMargin) { (spark, _) =>
    ItemEvents.groupedByAttempt(ItemEvents.events(ItemEvents.read(spark, itemsCsv)))
      // concat, not to_json: elements are pre-rendered JSON documents and
      // to_json over array<string> would re-escape them (see Caliper.c2).
      .select(col("attempt_id"),
        concat(lit("["), array_join(sort_array(col("events")), ","), lit("]")).as("events"),
        size(col("events")).cast("long").as("n_events"))
      .orderBy("attempt_id")
  }

  /** Assessment-level pipeline end-to-end (read → all-field gate → 1→3
    * fan-out), fixture-driven (SURVEY §3.2, with the §3.3 per-variant
    * shapes and the corrected score orientation).
    */
  val e2AssessmentPipeline: Q = Q.sql(
    "e2_assessment_pipeline_csv",
    "AssessmentEvents csv fan-out vs DuckDB per-variant event JSON.",
    s"""WITH src AS (
       |  SELECT * FROM read_csv('$assessCsv', header=true, all_varchar=true, null_padding=true)
       |  WHERE identity_id IS NOT NULL AND login_identity_id IS NOT NULL
       |    AND school_id IS NOT NULL AND assessment_id IS NOT NULL
       |    AND assessment_version IS NOT NULL AND date_submitted IS NOT NULL
       |    AND assessment_type_id IS NOT NULL AND assessment_type IS NOT NULL
       |    AND attempt_id IS NOT NULL AND attemptnumber IS NOT NULL
       |    AND is_mastered IS NOT NULL AND score_earned IS NOT NULL
       |    AND score_posible IS NOT NULL),
       |started AS (
       |  SELECT attempt_id, 'STARTED' AS action, to_json(struct_pack(
       |    "type" := 'AssessmentEvent',
       |    "values" := struct_pack(action := 'STARTED'),
       |    actor := struct_pack(id := identity_id),
       |    "object" := struct_pack(id := assessment_id, version := assessment_version),
       |    generated := struct_pack(id := attempt_id, count := CAST(attemptnumber AS INTEGER)))) AS event
       |  FROM src),
       |submitted AS (
       |  SELECT attempt_id, 'SUBMITTED' AS action, to_json(struct_pack(
       |    "type" := 'AssessmentEvent',
       |    "values" := struct_pack(action := 'SUBMITTED'),
       |    actor := struct_pack(id := identity_id),
       |    "object" := struct_pack(id := assessment_id, version := assessment_version),
       |    generated := struct_pack(id := attempt_id, count := CAST(attemptnumber AS INTEGER)))) AS event
       |  FROM src),
       |graded AS (
       |  SELECT attempt_id, 'GRADED' AS action, to_json(struct_pack(
       |    "type" := 'AssessmentOutcomeEvent',
       |    "values" := struct_pack(
       |      action := 'GRADED',
       |      actor := struct_pack(id := identity_id),
       |      organization := struct_pack(id := school_id),
       |      assessment := struct_pack(id := assessment_id, version := assessment_version),
       |      "object" := struct_pack(id := attempt_id, count := CAST(attemptnumber AS INTEGER)),
       |      generated := struct_pack(totalScore := score_posible, normalScore := score_earned)))) AS event
       |  FROM src)
       |SELECT attempt_id, action, event
       |FROM (SELECT * FROM started UNION ALL SELECT * FROM submitted UNION ALL SELECT * FROM graded)
       |ORDER BY attempt_id, action""".stripMargin) { (spark, _) =>
    AssessmentEvents.events(AssessmentEvents.read(spark, assessCsv))
      .select(col("attempt_id"), col("event.values.action").as("action"),
        to_json(col("event")).as("event"))
      .orderBy("attempt_id", "action")
  }

  /** One staged JSONL copy of `documents` per (JVM, dataset). */
  private def jsonlPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("jsonl", dir) { out =>
      graft.Tables.documents(spark, dir)
        .write.mode("overwrite").json(out)
      out
    }

  /** JSON-lines source parity — JSONL is the interchange format LLM
    * corpora actually ship in, so the engine's JSON write→read loop must
    * be lossless. The query writes `documents` as JSONL (once per
    * session), reads it back through the JSON SOURCE with an explicit
    * schema (schema inference is a second scan — never at 100 TB), and
    * aggregates per source; the oracle computes the same aggregates from
    * the PARQUET table, so any fidelity loss in the engine's JSON
    * escaping/parsing (unicode, quotes, large ints) breaks the hash. The
    * md5-derived text checksum pins byte-exact text survival, not just
    * counts.
    */
  val e3JsonlRoundtrip: Q = Q.sql(
    "e3_jsonl_roundtrip",
    "documents -> JSONL sink -> JSON source -> per-source aggregates vs parquet-derived oracle.",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  CAST(SUM(('0x' || substring(md5(text), 1, 7))::BIGINT) AS BIGINT) AS text_checksum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    spark.read.schema(schema).json(jsonlPath(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        sum(graft.functions.DetHash.md5Long28(col("text"))).as("text_checksum"))
      .orderBy("source")
  }

  private def orcPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("orc", dir) { out =>
      graft.Tables.documents(spark, dir)
        .write.mode("overwrite").orc(out)
      out
    }

  /** ORC source parity — same contract as [[e3JsonlRoundtrip]] but
    * through the columnar ORC sink→source loop (type mapping, string
    * encoding, null handling differ from both parquet and JSON). The
    * oracle reads the PARQUET table, so the checksum catches any
    * fidelity loss in the engine's ORC path.
    */
  val e4OrcRoundtrip: Q = Q.sql(
    "e4_orc_roundtrip",
    "documents -> ORC sink -> ORC source -> per-source aggregates vs parquet-derived oracle.",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  CAST(SUM(('0x' || substring(md5(text), 1, 7))::BIGINT) AS BIGINT) AS text_checksum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    spark.read.orc(orcPath(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        sum(graft.functions.DetHash.md5Long28(col("text"))).as("text_checksum"))
      .orderBy("source")
  }

  /** documents written once per (JVM, dataset) as a lang-partitioned
    * parquet table (`lang=en/part-*.parquet` hive layout).
    */
  private def partitionedPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("part", dir) { out =>
      graft.Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      out
    }

  /** Partitioned-sink → partition-pruned-scan roundtrip: documents are
    * written `partitionBy("lang")` (the hive layout a 100 TB corpus
    * actually uses — lang/source/date are THE partition keys of training
    * corpora), then read back with a `lang IN ('en','fr')` filter. The
    * filter must resolve at FILE LISTING time — a pruned scan touches
    * only the matching directories, never opening the other partitions'
    * files (PlanSpec asserts the plan's partition filters; at 100 TB
    * this is the difference between scanning 2 languages and 50). The
    * partition column itself round-trips through directory names —
    * string encoding survival is part of the contract. Oracle: same
    * filter + aggregates from the unpartitioned parquet table.
    */
  val e5PartitionedRoundtrip: Q = Q.sql(
    "e5_partitioned_roundtrip",
    "documents -> lang-partitioned parquet sink -> partition-pruned scan -> aggregates vs oracle.",
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(('0x' || substring(md5(text), 1, 7))::BIGINT) AS BIGINT) AS text_checksum
      |FROM documents WHERE lang IN ('en', 'fr')
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (spark, dir) =>
    prunedLangScan(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(graft.functions.DetHash.md5Long28(col("text"))).as("text_checksum"))
      .orderBy("lang", "source")
  }

  /** The pruned scan itself (shared with PlanSpec's pruning assertion). */
  def prunedLangScan(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    spark.read.parquet(partitionedPath(spark, dir))
      .filter(col("lang").isin("en", "fr"))

  private val BUCKETS = 8

  /** Write lineitem and orders as BUCKETED tables (same bucket count,
    * same key) once per dataset; returns the catalog table names. The
    * `tableExists` guards make it idempotent in every session: the
    * catalog lives in the shared state. Bucketing is the storage-level
    * half of the co-located join: both tables are hash-partitioned into
    * [[BUCKETS]] files by the join key at WRITE time, so every future
    * join on that key reads matching buckets directly — no exchange of
    * either side, ever again.
    */
  private[ops] def bucketedTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    // table names carry the dataset identity so sf0.01 and sf0.1 can
    // coexist in one session catalog
    val id = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val li = s"graft_bkt_lineitem_$id"
    val ord = s"graft_bkt_orders_$id"
    // repartition onto the bucket hash BEFORE the bucketed write:
    // repartition(n, key) and bucketBy(n, key) share the same
    // murmur3-pmod assignment, so each write task holds exactly one
    // bucket's rows. Without it every input task writes a file per
    // bucket it sees — numTasks×numBuckets files at cluster scale
    // (the classic bucketed-write small-files explosion) — and on a
    // single-row-group input the whole hash+sort+encode runs in ONE
    // task; with it the write parallelizes across the buckets.
    if (!spark.catalog.tableExists(li)) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(BUCKETS, col("l_orderkey"))
        .write.bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .option("path", Scratch.dir("graft_bkt_li"))
        .mode("overwrite").saveAsTable(li)
    }
    if (!spark.catalog.tableExists(ord)) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(BUCKETS, col("o_orderkey"))
        .write.bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .option("path", Scratch.dir("graft_bkt_ord"))
        .mode("overwrite").saveAsTable(ord)
    }
    (li, ord)
  }

  /** The bucket-co-located fact⋈dim join, exposed so the plan spec can
    * assert the join runs with ZERO exchanges (both scans emit the
    * bucket-hash partitioning the sort-merge join requires).
    */
  private[graft] def bucketedJoinFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (li, ord) = bucketedTables(spark, dir)
    spark.table(li).join(spark.table(ord),
      col("l_orderkey") === col("o_orderkey"))
  }

  /** Bucketed co-located join — the 100 TB pattern this library leans on
    * for repeated fact⋈fact joins: pay the bucket-hash ONCE at write
    * time, then every join on the bucket key is exchange-free (the scan
    * itself reports the hash partitioning, so EnsureRequirements inserts
    * no shuffle for either 600 GB side; only the final small aggregate
    * shuffles). The oracle reads the plain parquet — bucketing changes
    * the physical plan, never the result.
    */
  val e6BucketedJoin: Q = Q.sql(
    "e6_bucketed_join",
    s"Exchange-free lineitem⋈orders join over $BUCKETS-bucket tables bucketed on the join key.",
    """SELECT o_orderstatus, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { (spark, dir) =>
    bucketedJoinFrame(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private def csvPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("csv", dir) { out =>
      graft.Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").option("header", "true").csv(out)
      out
    }

  /** CSV sink→source parity — the reference's native format driven the
    * other way (the engine WRITES csv, then reads its own output through
    * the csv source with an explicit schema). The `props` column is JSON
    * text full of quotes/commas/braces, so the loop exercises the
    * quoting/escaping path for real; doubles survive via shortest-
    * round-trip formatting, and timestamps travel as epoch-µs BIGINTs
    * (a textual timestamp format would silently truncate sub-ms
    * precision). Oracle aggregates the PARQUET table — any csv fidelity
    * loss breaks the checksum.
    */
  val e7CsvRoundtrip: Q = Q.sql(
    "e7_csv_roundtrip",
    "events -> CSV sink -> CSV source -> per-type aggregates vs parquet-derived oracle.",
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us,
      |  CAST(SUM(('0x' || substring(md5(props), 1, 7))::BIGINT) AS BIGINT) AS props_checksum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    spark.read
      .schema("event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .option("header", "true")
      .csv(csvPath(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"),
        min(col("ts_us")).as("min_ts_us"), max(col("ts_us")).as("max_ts_us"),
        sum(graft.functions.DetHash.md5Long28(col("props"))).as("props_checksum"))
      .orderBy("event_type")
  }

  /** Stage a schema-DRIFTED parquet directory: older files carry
    * (doc_id, lang), newer files add n_chars and drop lang — the shape a
    * long-lived corpus directory actually takes as its writer evolves.
    */
  private def evolvedPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("evo", dir) { out =>
      val docs = graft.Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("append").parquet(out)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("append").parquet(out)
      out
    }

  /** Schema-evolution read: the drifted directory ([[evolvedPath]]) read
    * back with `mergeSchema=true`, so the scan presents the UNION schema
    * and files fill their missing columns with nulls — the
    * schema-on-read guarantee that lets a 100 TB corpus directory evolve
    * without rewriting history. The aggregate counts presence per
    * column; the oracle re-derives the same from the authoritative
    * table, so a wrong null-fill or a dropped file breaks the hash.
    */
  val e8SchemaEvolution: Q = Q.sql(
    "e8_schema_evolution",
    "Schema-drifted parquet dir read with mergeSchema: per-lang presence counts vs re-derivation.",
    """WITH u AS (
      |  SELECT doc_id, lang, NULL::BIGINT AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL, n_chars FROM documents WHERE doc_id % 2 = 1)
      |SELECT COALESCE(lang, '<absent>') AS lang,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_chars,
      |       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars,
      |       MIN(doc_id) AS min_doc
      |FROM u GROUP BY 1 ORDER BY lang""".stripMargin) { (spark, dir) =>
    spark.read.option("mergeSchema", "true").parquet(evolvedPath(spark, dir))
      .groupBy(coalesce(col("lang"), lit("<absent>")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_null_chars"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("lang")
  }

  /** Stage events CLUSTERED on user_id: `repartitionByRange` gives each
    * file a disjoint user range and the within-partition sort makes every
    * row group's user_id min/max stats tight. That write-time layout is
    * what parquet data skipping needs — a selective user predicate then
    * prunes whole files/row groups at plan/scan time instead of reading
    * and filtering 100 TB.
    */
  private def sortedPath(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.once("sorted", dir) { out =>
      graft.Tables.events(spark, dir)
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Sort-clustered write → skipping read: the range predicate lands in
    * PushedFilters over the clustered copy ([[sortedPath]]), where the
    * layout makes the parquet min/max stats actually selective — 7 of 8
    * files prune without a read. The oracle runs the same predicate on
    * the authoritative table, so a row lost or duplicated by the
    * repartition/sort/write/scan chain breaks the hash. This is the
    * single-column version of the Z-order/liquid-clustering trade every
    * warehouse makes at 100 TB: one sort at write time buys every later
    * selective scan.
    */
  val e9SortedSkipping: Q = Q.sql(
    "e9_sorted_skipping",
    "events -> user-range-clustered parquet -> pruned selective scan vs authoritative-table oracle.",
    """SELECT event_type, COUNT(*) AS n_events,
      |  MIN(user_id) AS min_user, MAX(user_id) AS max_user,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts_us
      |FROM events WHERE user_id BETWEEN 100 AND 199
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    spark.read.parquet(sortedPath(spark, dir))
      .filter(col("user_id").between(100, 199))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"),
        min(unix_micros(col("ts"))).as("min_ts_us"))
      .orderBy("event_type")
  }

  /** Stage a deliberately fragmented copy of `documents` (one file per
    * fine-grained doc_id range), then COMPACT it: re-bin to 4× coarser
    * ranges, one file per output bin. Bin widths derive from the corpus
    * count (S = max(8, n div 1000), R = 4S), so the staged file count
    * stays ~O(1000) and the compaction ratio stays 4× at every scale.
    * Returns (compactedDir, R, stagedFileCount-as-measured-on-disk).
    */
  private def compactedPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, Long, Long) =
    Scratch.once("compact", dir) { out =>
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), col("text"))
      val n = docs.count()
      val s = math.max(8L, n / 64L)
      val r = 4L * s
      val staged = Scratch.dir("graft_frag")
      // one file per fine bin: repartition ON the bin column puts each
      // bin in exactly one task, so partitionBy writes a single file
      // per directory (the same trick the e6 bucketed write uses)
      docs.withColumn("bin2", expr(s"doc_id div $s"))
        .repartition(col("bin2"))
        .write.mode("overwrite").partitionBy("bin2").parquet(staged)
      val stagedFiles = spark.read.parquet(staged)
        .select(input_file_name()).distinct().count()
      spark.read.parquet(staged)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .withColumn("bin", expr(s"doc_id div $r"))
        .repartition(col("bin"))
        .write.mode("overwrite").partitionBy("bin").parquet(out)
      (out, r, stagedFiles)
    }

  /** Small-file compaction — the maintenance operator every 100 TB
    * corpus directory runs on a schedule (OPTIMIZE / rewrite-data-files
    * in the lakehouse formats): a fragmented directory is rewritten into
    * 4× fewer, range-clustered files, one file per bin, without losing
    * or duplicating a row. The Spark result reads the COMPACTED copy off
    * the real filesystem — per-bin row count, char sum, and text
    * checksum, plus the measured file-per-bin count and the measured
    * staged-file count — while the oracle computes the same model from
    * the authoritative table: any row lost/duplicated in the rewrite,
    * any bin split across files, or any staging fragmentation drift
    * breaks the compare.
    */
  val e10Compaction: Q = Q.sql(
    "e10_compaction",
    "Fragmented documents dir -> 4x range-binned compaction; per-bin stats + measured file counts vs model.",
    """WITH pr AS (
      |  SELECT GREATEST(8, COUNT(*) // 64) AS s,
      |         4 * GREATEST(8, COUNT(*) // 64) AS r
      |  FROM documents),
      |staged AS (
      |  SELECT COUNT(DISTINCT d.doc_id // pr.s) AS staged_files
      |  FROM documents d CROSS JOIN pr)
      |SELECT CAST(d.doc_id // pr.r AS BIGINT) AS bin,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(('0x' || substring(md5(d.text), 1, 7))::BIGINT) AS BIGINT) AS text_checksum,
      |       CAST(1 AS BIGINT) AS n_files,
      |       CAST(MAX(staged.staged_files) AS BIGINT) AS staged_files
      |FROM documents d CROSS JOIN pr CROSS JOIN staged
      |GROUP BY 1 ORDER BY bin""".stripMargin) { (spark, dir) =>
    val (out, r, stagedFiles) = compactedPath(spark, dir)
    spark.read.parquet(out)
      .select(col("doc_id"), col("n_chars"), col("text"),
        input_file_name().as("f"))
      .withColumn("b", expr(s"doc_id div $r"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(graft.functions.DetHash.md5Long28(col("text"))).as("text_checksum"),
        countDistinct(col("f")).as("n_files"))
      .select(col("b").as("bin"), col("n_docs"), col("sum_chars"),
        col("text_checksum"), col("n_files"),
        lit(stagedFiles).as("staged_files"))
      .orderBy("bin")
  }

  private val Z_BITS = 16
  private val Z_BUCKETS = 64L
  // probe rectangle for the skipping measurement
  private val ZP_LO = 100L; private val ZP_HI = 199L
  private val ZS_LO = 10L; private val ZS_HI = 19L

  /** z-interleave SQL over pre-scaled 16-bit keys `p16`/`s16` — the
    * 32-term exact-integer bit interleave, identical text in both
    * engines' dialects.
    */
  private val zInterleaveSql: String =
    (0 until Z_BITS).flatMap(b => Seq(
      s"(((p16 >> $b) & 1) << ${2 * b})",
      s"(((s16 >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")

  /** Stage lineitem Z-ORDER-clustered on (l_partkey, l_suppkey): scale
    * both keys into [[Z_BITS]] bits by integer division (monotone
    * coarsening — locality survives any key range, unlike a modulus,
    * which would shred it once keys outgrow 2^16), interleave the bits,
    * and bin the z-value into [[Z_BUCKETS]] fixed-width ranges; one file
    * per bin via the e6/e10 repartition-on-the-bin trick. Returns
    * (outDir, pw, sw, w) — the three derived widths the reader and the
    * oracle must share.
    */
  private def zorderPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, Long, Long, Long) =
    Scratch.once("zorder", dir) { out =>
      val li = graft.Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val Array(maxP, maxS) = li.agg(max("l_partkey"), max("l_suppkey"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray
      val pw = maxP / (1L << Z_BITS) + 1
      val sw = maxS / (1L << Z_BITS) + 1
      val withZ = li
        .withColumn("p16", expr(s"l_partkey div $pw"))
        .withColumn("s16", expr(s"l_suppkey div $sw"))
        .withColumn("z", expr(zInterleaveSql))
      val maxZ = withZ.agg(max("z")).head.getLong(0)
      val w = maxZ / Z_BUCKETS + 1
      withZ.withColumn("zbin", expr(s"z div $w"))
        .repartition(col("zbin"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").partitionBy("zbin").parquet(out)
      (out, pw, sw, w)
    }

  /** Z-order clustering — the multi-dimensional layout operator behind
    * OPTIMIZE ZORDER / liquid clustering: interleaving the bits of TWO
    * join keys bounds BOTH per file, so selective predicates on either
    * dimension (or both) prune files, where e9's single-column sort only
    * serves its one column. The Spark result reads the staged clustered
    * copy off the real filesystem — per-z-bin row count, both keys'
    * min/max envelopes, a price checksum, the measured file count, and
    * whether the bin survives a probe rectangle's pruning — while the
    * oracle recomputes the identical model from the authoritative table
    * (same integer bit-interleave, same derived widths): a row lost in
    * the rewrite, a bin split across files, or an envelope widened by
    * misplaced rows breaks the hash. `probe_hit` is the skipping story
    * measured, not asserted: at sf0.01, 2 of 22 occupied bins intersect
    * the partkey×suppkey rectangle — the other 91% of files never open.
    *
    * Scale shape: two scans (width derivation + write) and one
    * data-sized shuffle (the repartition that aligns bins to tasks);
    * widths derive from key maxima so bin population stays ~uniform at
    * every sf. All arithmetic is exact integers — no float seam can
    * enter the binning.
    */
  val e11Zorder: Q = Q.sql(
    "e11_zorder",
    "lineitem Z-order-clustered on (partkey, suppkey): per-bin envelopes + measured files + rectangle pruning vs model.",
    s"""WITH pr AS (
       |  SELECT MAX(l_partkey) // ${1L << Z_BITS} + 1 AS pw,
       |         MAX(l_suppkey) // ${1L << Z_BITS} + 1 AS sw
       |  FROM lineitem),
       |zed AS (
       |  SELECT l_partkey, l_suppkey, l_extendedprice, $zInterleaveSql AS z
       |  FROM (
       |    SELECT l_partkey, l_suppkey, l_extendedprice,
       |           l_partkey // pr.pw AS p16, l_suppkey // pr.sw AS s16
       |    FROM lineitem CROSS JOIN pr)),
       |wd AS (SELECT MAX(z) // $Z_BUCKETS + 1 AS w FROM zed)
       |SELECT CAST(z // wd.w AS BIGINT) AS zbin,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       |       CAST(MAX(l_partkey) AS BIGINT) AS max_part,
       |       CAST(MIN(l_suppkey) AS BIGINT) AS min_supp,
       |       CAST(MAX(l_suppkey) AS BIGINT) AS max_supp,
       |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
       |       CAST(1 AS BIGINT) AS n_files,
       |       CAST(CASE WHEN MIN(l_partkey) <= $ZP_HI AND MAX(l_partkey) >= $ZP_LO
       |                  AND MIN(l_suppkey) <= $ZS_HI AND MAX(l_suppkey) >= $ZS_LO
       |            THEN 1 ELSE 0 END AS BIGINT) AS probe_hit
       |FROM zed CROSS JOIN wd
       |GROUP BY 1 ORDER BY zbin""".stripMargin) { (spark, dir) =>
    val (out, _, _, _) = zorderPath(spark, dir)
    spark.read.parquet(out)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
        col("zbin"), input_file_name().as("f"))
      .groupBy(col("zbin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        sum(floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("bigint"))
          .as("price_cents"),
        countDistinct(col("f")).as("n_files"))
      .select(col("zbin").cast("bigint").as("zbin"), col("n_rows"),
        col("min_part"), col("max_part"), col("min_supp"), col("max_supp"),
        col("price_cents"), col("n_files"),
        when(col("min_part") <= ZP_HI && col("max_part") >= ZP_LO
          && col("min_supp") <= ZS_HI && col("max_supp") >= ZS_LO, 1L)
          .otherwise(0L).as("probe_hit"))
      .orderBy("zbin")
  }

  /** One md5 bucket definition for the CDC derivation — both engines
    * derive the change feed from it so they cannot drift.
    */
  private val cdcBucketSql =
    "('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 7))::BIGINT % 20"
  private def cdcBucketCol: org.apache.spark.sql.Column =
    pmod(graft.functions.DetHash.md5Long28(col("o_orderkey").cast("string")),
      lit(20))

  /** MERGE INTO — the lakehouse CDC-apply operator (Delta/Iceberg MERGE,
    * `WHEN MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT`): a
    * change batch (5% deletes, 10% updates, 5% inserts, md5-bucketed off
    * the order key) applied to the orders snapshot in ONE key-equi
    * full-outer join — the exact physical shape Delta's merge executes
    * (both sides hash-partitioned on the key, every base row meets its
    * at-most-one change row, unmatched change rows become inserts). No
    * driver-side row handling; at 100 TB the join is the same plan with
    * file-level pruning ahead of it.
    *
    * Price arithmetic runs in DECIMAL(18,2) end-to-end (updates add
    * 10.00 exactly; the final sum is a decimal reduction cast to double
    * once), so the result is bit-identical across engines regardless of
    * reduction order. Insert keys are `-(source_key + 1)` — strictly
    * negative, so collision-free against the non-negative base key space
    * (keys start at 0; plain negation would collide AT key 0) without a
    * global max-key lookup (a driver round-trip at scale).
    *
    * The per-status rollup of the MERGED table is the oracle surface:
    * lost deletes inflate original statuses, missed updates never move
    * rows to status 'X', dropped inserts empty status 'N', and any
    * double-application breaks the decimal sum.
    */
  val e12MergeUpsert: Q = Q.sql(
    "e12_merge_upsert",
    "CDC MERGE apply (delete/update/insert batch) onto orders via one full-outer key join; per-status rollup of the merged table.",
    s"""WITH b AS (
       |  SELECT o.*, $cdcBucketSql AS b FROM orders o),
       |changes AS (
       |  SELECT o_orderkey AS k, 'D' AS op, NULL::BIGINT AS c_custkey,
       |         NULL::VARCHAR AS c_status, NULL::DECIMAL(18,2) AS c_price
       |  FROM b WHERE b = 0
       |  UNION ALL
       |  SELECT o_orderkey, 'U', o_custkey, 'X',
       |         CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
       |  FROM b WHERE b IN (1, 2)
       |  UNION ALL
       |  SELECT -(o_orderkey + 1), 'I', o_custkey, 'N',
       |         CAST(o_totalprice AS DECIMAL(18,2))
       |  FROM b WHERE b = 3),
       |merged AS (
       |  SELECT COALESCE(c.k, o.o_orderkey) AS k,
       |         CASE WHEN c.op IS NULL THEN o.o_orderstatus
       |              ELSE c.c_status END AS status,
       |         CASE WHEN c.op IS NULL THEN CAST(o.o_totalprice AS DECIMAL(18,2))
       |              ELSE c.c_price END AS price
       |  FROM b o FULL OUTER JOIN changes c ON o.o_orderkey = c.k
       |  WHERE c.op IS NULL OR c.op <> 'D')
       |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(SUM(price) AS DOUBLE) AS sum_price,
       |       MIN(k) AS min_key, MAX(k) AS max_key
       |FROM merged GROUP BY status ORDER BY status""".stripMargin) { (spark, dir) =>
    val base = Tables.orders(spark, dir).withColumn("b", cdcBucketCol)
    val dec = col("o_totalprice").cast("decimal(18,2)")
    val changes = base.filter(col("b") === 0)
      .select(col("o_orderkey").as("k"), lit("D").as("op"),
        lit(null).cast("string").as("c_status"),
        lit(null).cast("decimal(18,2)").as("c_price"))
      .unionAll(base.filter(col("b").isin(1, 2))
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          lit("X").as("c_status"),
          (dec + lit(BigDecimal("10.00"))).cast("decimal(18,2)").as("c_price")))
      .unionAll(base.filter(col("b") === 3)
        .select((-(col("o_orderkey") + 1)).as("k"), lit("I").as("op"),
          lit("N").as("c_status"), dec.cast("decimal(18,2)").as("c_price")))
    val merged = base
      .join(changes, base("o_orderkey") === changes("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("k"), col("o_orderkey")).as("k"),
        when(col("op").isNull, col("o_orderstatus"))
          .otherwise(col("c_status")).as("status"),
        when(col("op").isNull, dec).otherwise(col("c_price")).as("price"))
    merged.groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast("double").as("sum_price"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("status")
  }

  /** Time travel — the lakehouse snapshot-as-of-version read (Delta
    * `VERSION AS OF` / Iceberg snapshot reads): reconstruct the table
    * state at every version of a commit chain from an ordered changelog.
    * The chain here is derived, so both engines build it identically:
    * v0 = the orders snapshot as inserts; v1 and v2 = CDC batches off
    * DISJOINT md5 bucket sets (v1: del b=0, upd b∈{1,2} → status X
    * +10.00, ins b=3; v2: del b=4, upd b∈{5,6} → status Y +5.00, ins
    * b=7). Insert keys are `-(key+1)` (e12's collision-free negative
    * space; v1/v2 insert buckets are disjoint so their images are too).
    *
    * The as-of read is last-writer-wins per key: changelog × the 3-row
    * broadcast snapshot frame, keep rows with ver ≤ snap, pick the max
    * version per (snap, key) with one row_number window, drop deletes.
    * ONE shuffle on (snap, key) over 3× the changelog — linear, and the
    * same plan a Delta log replay executes after file pruning; at 100 TB
    * the changelog arrives key-partitioned and the window never crosses
    * partitions. Decimal(18,2) price arithmetic end-to-end, summed then
    * cast to double once (e12's parity contract); the per-(snapshot,
    * status) rollup catches lost deletes, missed updates, leaked future
    * ops, and any cross-version double-application.
    */
  /** Oracle CTE chain for the derived 3-version changelog — ONE Scala
    * fragment shared by e13 (snapshot reads) and e17 (change data feed)
    * so the version rule cannot drift between their oracles.
    */
  private def cdcLogCtesSql: String =
    s"""b AS (
       |  SELECT o.*, $cdcBucketSql AS b FROM orders o),
       |log AS (
       |  SELECT 0 AS ver, o_orderkey AS k, 'I' AS op, o_orderstatus AS status,
       |         CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM b
       |  UNION ALL
       |  SELECT 1, o_orderkey, 'D', NULL::VARCHAR, NULL::DECIMAL(18,2)
       |  FROM b WHERE b = 0
       |  UNION ALL
       |  SELECT 1, o_orderkey, 'U', 'X', CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
       |  FROM b WHERE b IN (1, 2)
       |  UNION ALL
       |  SELECT 1, -(o_orderkey + 1), 'I', 'N', CAST(o_totalprice AS DECIMAL(18,2))
       |  FROM b WHERE b = 3
       |  UNION ALL
       |  SELECT 2, o_orderkey, 'D', NULL::VARCHAR, NULL::DECIMAL(18,2)
       |  FROM b WHERE b = 4
       |  UNION ALL
       |  SELECT 2, o_orderkey, 'U', 'Y', CAST(o_totalprice AS DECIMAL(18,2)) + 5.00
       |  FROM b WHERE b IN (5, 6)
       |  UNION ALL
       |  SELECT 2, -(o_orderkey + 1), 'I', 'M', CAST(o_totalprice AS DECIMAL(18,2))
       |  FROM b WHERE b = 7)""".stripMargin

  /** Spark twin of [[cdcLogCtesSql]]: the one-fact-scan changelog builder
    * (every row emits its v0 insert plus bucket-gated v1/v2 entries —
    * `when` without `otherwise` yields null slots the post-explode filter
    * drops; the 7-way UNION the oracle runs would re-scan orders 7×).
    */
  private def cdcLogFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.orders(spark, dir).withColumn("b", cdcBucketCol)
    val dec = col("o_totalprice").cast("decimal(19,2)")
    def entry(ver: Int, k: org.apache.spark.sql.Column, op: String,
        status: org.apache.spark.sql.Column, price: org.apache.spark.sql.Column) =
      struct(lit(ver).as("ver"), k.as("k"), lit(op).as("op"),
        status.as("status"), price.cast("decimal(19,2)").as("price"))
    val nullS = lit(null).cast("string")
    val nullP = lit(null).cast("decimal(19,2)")
    base.select(explode(array(
        entry(0, col("o_orderkey"), "I", col("o_orderstatus"), dec),
        when(col("b") === 0, entry(1, col("o_orderkey"), "D", nullS, nullP)),
        when(col("b").isin(1, 2), entry(1, col("o_orderkey"), "U", lit("X"),
          dec + lit(BigDecimal("10.00")))),
        when(col("b") === 3, entry(1, -(col("o_orderkey") + 1), "I", lit("N"), dec)),
        when(col("b") === 4, entry(2, col("o_orderkey"), "D", nullS, nullP)),
        when(col("b").isin(5, 6), entry(2, col("o_orderkey"), "U", lit("Y"),
          dec + lit(BigDecimal("5.00")))),
        when(col("b") === 7, entry(2, -(col("o_orderkey") + 1), "I", lit("M"), dec))
      )).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.ver").as("ver"), col("e.k").as("k"), col("e.op").as("op"),
        col("e.status").as("status"), col("e.price").as("price"))
  }

  val e13TimeTravel: Q = Q.sql(
    "e13_time_travel",
    "Snapshot-as-of-version reads over a 3-version CDC changelog (last-writer-wins per key); per-(snapshot, status) rollup.",
    s"""WITH $cdcLogCtesSql,
       |snapped AS (
       |  SELECT s.snap, l.* FROM log l
       |  JOIN (SELECT UNNEST([0, 1, 2]) AS snap) s ON l.ver <= s.snap),
       |latest AS (
       |  SELECT * FROM snapped
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY snap, k ORDER BY ver DESC) = 1)
       |SELECT snap, status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(SUM(price) AS DOUBLE) AS sum_price,
       |       MIN(k) AS min_key, MAX(k) AS max_key
       |FROM latest WHERE op <> 'D'
       |GROUP BY snap, status ORDER BY snap, status""".stripMargin) { (spark, dir) =>
    val log = cdcLogFrame(spark, dir)
    val snaps = spark.range(3).select(col("id").cast("int").as("snap"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("snap"), col("k")).orderBy(col("ver").desc)
    log.crossJoin(broadcast(snaps))
      .filter(col("ver") <= col("snap"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("snap"), col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast("double").as("sum_price"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("snap", "status")
  }

  /** Right-to-be-forgotten cascade — the GDPR/CCPA delete a 100 TB
    * lakehouse must run across every table that references a user: a
    * tombstone set of customers (~1%, md5-bucketed so both engines derive
    * the same set) removed from `customer`, cascading to their `orders`
    * and to those orders' `lineitem` rows. Every delete is an anti-join
    * against a key frame — the deletion-vector shape: the tombstone and
    * cascaded-order key sets are both tiny fractions of their tables, so
    * Spark broadcasts them and each fact table is ONE linear scan; no
    * fact-to-fact shuffle anywhere.
    *
    * The audit result carries, per table, before/deleted/after counts AND
    * an md5 checksum over the SURVIVING keys — counts alone can't tell
    * "deleted the right rows" from "deleted the right number of wrong
    * rows" (checksum sums stay < 2^53: 60M rows × 2^28 hash).
    */
  val e14ForgetCascade: Q = Q.sql(
    "e14_forget_cascade",
    "GDPR cascade delete: md5-derived customer tombstones anti-joined through customer→orders→lineitem; per-table audit with survivor checksum.",
    """WITH tomb AS MATERIALIZED (
      |  SELECT c_custkey FROM customer
      |  WHERE ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 7))::BIGINT % 97 = 0),
      |dord AS MATERIALIZED (
      |  SELECT o_orderkey FROM orders o JOIN tomb t ON o.o_custkey = t.c_custkey),
      |c_surv AS (SELECT c_custkey AS k FROM customer
      |           WHERE c_custkey NOT IN (SELECT c_custkey FROM tomb)),
      |o_surv AS (SELECT o_orderkey AS k FROM orders
      |           WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb)),
      |l_surv AS (SELECT l_orderkey AS k FROM lineitem
      |           WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dord)),
      |audit AS (
      |  SELECT 'customer' AS tbl, (SELECT COUNT(*) FROM customer) AS n_before,
      |         COUNT(*) AS n_after,
      |         CAST(SUM(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 7))::BIGINT) AS BIGINT) AS survivor_checksum
      |  FROM c_surv
      |  UNION ALL
      |  SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem), COUNT(*),
      |         CAST(SUM(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 7))::BIGINT) AS BIGINT)
      |  FROM l_surv
      |  UNION ALL
      |  SELECT 'orders', (SELECT COUNT(*) FROM orders), COUNT(*),
      |         CAST(SUM(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 7))::BIGINT) AS BIGINT)
      |  FROM o_surv)
      |SELECT tbl, n_before, n_before - n_after AS n_deleted, n_after, survivor_checksum
      |FROM audit ORDER BY tbl""".stripMargin) { (spark, dir) =>
    def hsum = sum(graft.functions.DetHash.md5Long28(col("k").cast("string")))
      .cast("long").as("survivor_checksum")
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val tomb = customer
      .filter(pmod(graft.functions.DetHash.md5Long28(
        col("c_custkey").cast("string")), lit(97)) === 0)
      .select(col("c_custkey"))
    // cascaded order tombstones: orders of forgotten customers
    val dord = orders.join(broadcast(tomb),
        orders("o_custkey") === tomb("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    def audit(tbl: String, before: org.apache.spark.sql.DataFrame,
        surv: org.apache.spark.sql.DataFrame) =
      surv.agg(count(lit(1)).as("n_after"), hsum)
        .crossJoin(broadcast(before.agg(count(lit(1)).as("n_before"))))
        .select(lit(tbl).as("tbl"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_deleted"),
          col("n_after"), col("survivor_checksum"))
    val cSurv = customer.join(broadcast(tomb), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey").as("k"))
    val oSurv = orders.join(broadcast(tomb),
        orders("o_custkey") === tomb("c_custkey"), "left_anti")
      .select(col("o_orderkey").as("k"))
    val lSurv = lineitem.join(broadcast(dord),
        lineitem("l_orderkey") === dord("o_orderkey"), "left_anti")
      .select(col("l_orderkey").as("k"))
    audit("customer", customer, cSurv)
      .unionAll(audit("lineitem", lineitem, lSurv))
      .unionAll(audit("orders", orders, oSurv))
      .orderBy("tbl")
  }

  /** Stage the e15 vacuum scenario: the documents corpus written as fine
    * range-binned files (e10's fragmentation model, width s), then a
    * REWRITE that compacts every EVEN coarse bin (width r = 4s) into one
    * file — leaving the superseded fine files on disk, exactly the state
    * a lakehouse table is in after OPTIMIZE and before VACUUM — then the
    * vacuum itself: every fine file whose coarse bin was rewritten is
    * physically deleted. Returns (stagedDir, compactDir, r, filesBefore,
    * filesDeleted) with both file counts MEASURED (listing + scan), not
    * assumed.
    */
  private def vacuumPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, Long, Long, Long) =
    Scratch.once("vac_fine", dir) { staged =>
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), col("text"))
      val n = docs.count()
      val s = math.max(8L, n / 64L)
      val r = 4L * s
      docs.withColumn("fb", expr(s"doc_id div $s"))
        .repartition(col("fb"))
        .write.mode("overwrite").partitionBy("fb").parquet(staged)
      val compact = Scratch.dir("graft_vac_coarse")
      spark.read.parquet(staged)
        .filter(expr(s"(doc_id div $r) % 2 = 0"))
        .select(col("doc_id"), col("n_chars"), col("text"))
        .withColumn("cb", expr(s"doc_id div $r"))
        .repartition(col("cb"))
        .write.mode("overwrite").partitionBy("cb").parquet(compact)
      def nFiles(d: String): Long = spark.read.parquet(d)
        .select(input_file_name()).distinct().count()
      val filesBefore = nFiles(staged) + nFiles(compact)
      // VACUUM: the fine files superseded by the rewrite (their coarse
      // bin is even) leave the filesystem for real
      val superseded = Option(new java.io.File(staged).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("fb="))
        .filter(f => (f.getName.stripPrefix("fb=").toLong / 4) % 2 == 0)
      superseded.foreach(Scratch.rm)
      (staged, compact, r, filesBefore, superseded.length.toLong)
    }

  /** VACUUM / retention — the other half of the e10 maintenance pair:
    * after a compaction rewrite, the superseded data files must leave the
    * filesystem without touching a LIVE byte. The stage builds the
    * post-OPTIMIZE state (fine files + even-coarse rewrites, fine
    * originals still present), the vacuum physically deletes every
    * superseded fine file, and the result reads the SURVIVING files only
    * — per-bin rollup with text checksum plus measured per-bin and
    * global file counts — while the oracle recomputes the whole model
    * (live/deleted/before counts and the per-bin stats) from the
    * authoritative table. A vacuum that deletes a live file loses rows
    * and breaks the checksum; one that misses a superseded file breaks
    * the measured file counts.
    *
    * Scale shape: the rewrite and the read are bin-partitioned linear
    * scans (one file per bin via the e6/e10 repartition trick); the
    * delete is a pure manifest/filesystem operation — at 100 TB this is
    * exactly Delta's VACUUM: list files, anti-join against the live
    * manifest, delete the difference; no data shuffles anywhere.
    */
  val e15Vacuum: Q = Q.sql(
    "e15_vacuum",
    "Post-compaction VACUUM: superseded fine files physically deleted; surviving-file read + measured file counts vs model.",
    """WITH pr AS (
      |  SELECT GREATEST(8, COUNT(*) // 64) AS s,
      |         4 * GREATEST(8, COUNT(*) // 64) AS r
      |  FROM documents),
      |fine AS (
      |  SELECT DISTINCT d.doc_id // pr.s AS fb, d.doc_id // pr.r AS cb
      |  FROM documents d CROSS JOIN pr),
      |cm AS (
      |  SELECT COUNT(*) AS n_fine,
      |         COUNT(CASE WHEN cb % 2 = 0 THEN 1 END) AS fine_even,
      |         COUNT(DISTINCT CASE WHEN cb % 2 = 0 THEN cb END) AS coarse_even
      |  FROM fine),
      |base AS (
      |  SELECT d.doc_id // pr.r AS bin, d.doc_id // pr.s AS fb,
      |         d.n_chars, d.text
      |  FROM documents d CROSS JOIN pr)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(('0x' || substring(md5(text), 1, 7))::BIGINT) AS BIGINT) AS text_checksum,
      |       CAST(CASE WHEN bin % 2 = 0 THEN 1
      |                 ELSE COUNT(DISTINCT fb) END AS BIGINT) AS n_files,
      |       CAST(MAX(cm.n_fine + cm.coarse_even) AS BIGINT) AS files_before,
      |       CAST(MAX(cm.fine_even) AS BIGINT) AS files_deleted,
      |       CAST(MAX(cm.n_fine + cm.coarse_even - cm.fine_even) AS BIGINT) AS files_live
      |FROM base CROSS JOIN cm
      |GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    val (staged, compact, r, filesBefore, filesDeleted) = vacuumPath(spark, dir)
    def part(d: String) = spark.read.parquet(d)
      .select(col("doc_id"), col("n_chars"), col("text"),
        input_file_name().as("f"))
    part(staged).union(part(compact))
      .withColumn("bin", expr(s"doc_id div $r"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(graft.functions.DetHash.md5Long28(col("text"))).as("text_checksum"),
        countDistinct(col("f")).as("n_files"))
      .select(col("bin"), col("n_docs"), col("sum_chars"),
        col("text_checksum"), col("n_files"),
        lit(filesBefore).as("files_before"),
        lit(filesDeleted).as("files_deleted"),
        lit(filesBefore - filesDeleted).as("files_live"))
      .orderBy("bin")
  }

  private val E16_LANGS = Seq("de", "fr")

  /** Stage e16: full lang-partitioned write, then a DYNAMIC-mode
    * INSERT OVERWRITE of ONLY the partitions present in the incremental
    * batch (the de/fr revision). Cached per dataset — consumers re-read
    * the staged table, never re-run the writes.
    */
  private def dynPartPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Scratch.once("dynpart", dir) { out =>
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), col("source"), col("lang"))
      // one file per lang both times: hash-repartition on the partition
      // column sends each lang to exactly one task (the e10 alignment
      // trick), so the overwritten partitions are single-file too
      docs.repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      docs.filter(col("lang").isin(E16_LANGS: _*))
        .select(col("doc_id"), (col("n_chars") + 1000000L).as("n_chars"),
          col("source"), col("lang"))
        .repartition(col("lang"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(out)
      out
    }

  /** Dynamic partition overwrite — the incremental-refresh primitive of
    * every partitioned 100 TB table (Spark's
    * `partitionOverwriteMode=dynamic` INSERT OVERWRITE): an incremental
    * batch replaces EXACTLY the partitions it contains and may not touch
    * any other. The stage writes the full lang-partitioned corpus, then
    * dynamically overwrites with a de/fr revision batch (n_chars
    * shifted +1e6 as the revision marker); the result reads the staged
    * table back — per-lang counts, revised-sum, an order-independent
    * md5 row checksum, and the measured per-partition file count —
    * while the oracle recomputes the expected post-overwrite state from
    * the authoritative table. STATIC-mode semantics (wiping the
    * untouched en/es/zh partitions) would null three langs out; append
    * semantics would double de/fr; a partial overwrite breaks the
    * checksum. At 100 TB this is the nightly-refresh shape: the batch
    * job rewrites yesterday's partitions in place while the other 10k
    * partitions stay untouched on disk.
    */
  val e16DynamicOverwrite: Q = Q.sql(
    "e16_dynamic_overwrite",
    s"Dynamic partition overwrite: de/fr revision batch replaces exactly its lang partitions; per-lang rollup + row checksum + file counts.",
    s"""WITH cur AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN lang IN ('de', 'fr') THEN n_chars + 1000000
       |              ELSE n_chars END AS n_chars
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(SUM(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |         CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT % 1000000007) AS BIGINT)
       |         AS checksum,
       |       CAST(1 AS BIGINT) AS n_files
       |FROM cur GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val staged = dynPartPath(spark, dir)
    // input_file_name is nondeterministic per Catalyst — project it to a
    // plain column BEFORE the aggregate (the e10 measured-count pattern)
    spark.read.parquet(staged)
      .withColumn("fname", input_file_name())
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(graft.functions.DetHash.md5Long60(
          concat(col("doc_id").cast("string"), lit(":"),
            col("n_chars").cast("string"))) % 1000000007L)
          .cast("bigint").as("checksum"),
        countDistinct(col("fname")).as("n_files"))
      .orderBy("lang")
  }

  /** Change data feed — Delta's `table_changes(v)` / Iceberg's
    * changelog read: the row-level diff a downstream incremental consumer
    * pulls instead of re-reading the table. Derived generically as the
    * SNAPSHOT DIFF between v1 and v2 of e13's changelog (the
    * CDF-backfill recipe for tables that never recorded one): keys only
    * in v2 → `insert`, keys only in v1 → `delete` (pre-image), keys in
    * both with a changed (status, price) image → `update_preimage` +
    * `update_postimage` — Delta's four `_change_type` values exactly.
    *
    * Scale shape: both snapshots fold in ONE aggregation over ONE
    * changelog scan — per key, `max(struct(ver, …))` gated on `ver <= 1`
    * and ungated IS last-writer-wins for v1 and v2 (one entry per
    * (k, ver)), so the whole diff is a single shuffle on the key with
    * map-side combine, no window sorts, no full-outer join, and nothing
    * pinned in executor memory (the r11 sf100 failure was a
    * localCheckpoint holding the 240M-row log in storage while the diff
    * machinery wanted the same RAM as execution memory). Update rows fan
    * out 2× inside the row (explode), never a second pass. Decimal(18,2)
    * images cast to double only at emission (exact — 2-dp decimals are
    * dyadic-representable under 2^53).
    */
  val e17ChangeFeed: Q = Q.sql(
    "e17_change_feed",
    "Change data feed v1->v2 as a snapshot diff: insert/delete/update_pre/update_post rows per changed key.",
    s"""WITH $cdcLogCtesSql,
       |s1 AS (
       |  SELECT k, status, price FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
       |    FROM log WHERE ver <= 1)
       |  WHERE rn = 1 AND op <> 'D'),
       |s2 AS (
       |  SELECT k, status, price FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
       |    FROM log WHERE ver <= 2)
       |  WHERE rn = 1 AND op <> 'D'),
       |d AS (
       |  SELECT COALESCE(a.k, b.k) AS k,
       |         a.status AS status_pre, a.price AS price_pre,
       |         b.status AS status_post, b.price AS price_post
       |  FROM s1 a FULL OUTER JOIN s2 b ON a.k = b.k
       |  WHERE a.k IS NULL OR b.k IS NULL
       |     OR a.status <> b.status OR a.price <> b.price),
       |feed AS (
       |  SELECT k, 'insert' AS change_type, status_post AS status,
       |         price_post AS price FROM d WHERE status_pre IS NULL
       |  UNION ALL
       |  SELECT k, 'delete', status_pre, price_pre FROM d WHERE status_post IS NULL
       |  UNION ALL
       |  SELECT k, 'update_preimage', status_pre, price_pre
       |  FROM d WHERE status_pre IS NOT NULL AND status_post IS NOT NULL
       |  UNION ALL
       |  SELECT k, 'update_postimage', status_post, price_post
       |  FROM d WHERE status_pre IS NOT NULL AND status_post IS NOT NULL)
       |SELECT k, change_type, status, CAST(price AS DOUBLE) AS price
       |FROM feed ORDER BY k, change_type""".stripMargin) { (spark, dir) =>
    // Both snapshots fold in ONE aggregation pass: per key, the latest
    // entry <= v is max(struct(ver, ...)) — ver leads the struct, and the
    // changelog has at most one entry per (k, ver), so struct-max IS
    // last-writer-wins. No pinned changelog (the r11 sf100 OOM: a
    // localCheckpoint held a 240M-row log in storage memory), no window
    // sorts, no full-outer join — one shuffle on k with map-side combine.
    val log = cdcLogFrame(spark, dir)
    val entry = struct(col("ver"), col("op"), col("status"), col("price"))
    def live(s: String) = // a snapshot state is live unless absent or D-terminated
      when(col(s)("op") =!= "D", col(s))
    val d = log.groupBy(col("k"))
      .agg(max(when(col("ver") <= 1, entry)).as("a1"), max(entry).as("a2"))
      .select(col("k"),
        live("a1")("status").as("status_pre"), live("a1")("price").as("price_pre"),
        live("a2")("status").as("status_post"), live("a2")("price").as("price_post"))
      .filter((col("status_pre").isNotNull || col("status_post").isNotNull) &&
        (col("status_pre").isNull || col("status_post").isNull ||
          col("status_pre") =!= col("status_post") ||
          col("price_pre") =!= col("price_post")))
    val isIns = col("status_pre").isNull
    val isDel = col("status_post").isNull
    def fr(ct: String, s: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column) =
      struct(lit(ct).as("change_type"), s.as("status"), p.as("price"))
    d.select(col("k"), explode(array(
        when(isIns, fr("insert", col("status_post"), col("price_post"))),
        when(isDel, fr("delete", col("status_pre"), col("price_pre"))),
        when(!isIns && !isDel,
          fr("update_preimage", col("status_pre"), col("price_pre"))),
        when(!isIns && !isDel,
          fr("update_postimage", col("status_post"), col("price_post")))
      )).as("e"))
      .filter(col("e").isNotNull)
      .select(col("k"), col("e.change_type").as("change_type"),
        col("e.status").as("status"),
        col("e.price").cast("double").as("price"))
      .orderBy("k", "change_type")
  }

  /** Nightly MAINTENANCE DAG — the second composed plan a training-data
    * team runs (p15 covers curation; this covers upkeep): e10 small-file
    * compaction → e12 CDC MERGE apply → the four incremental applies
    * (d13 docs, s21 vectors, g11 edges, m16 payloads), rolled into ONE
    * six-row run manifest with per-stage witnesses — the lineage record
    * a maintenance orchestrator logs nightly. Both sides COMPOSE the
    * component definitions verbatim: the Spark plan is a union of six
    * constant-size rollups over the components' own dataflows (each
    * probing its session-persisted artifact — band index, ANN index,
    * standing adjacency, signature index — exactly once), and the oracle
    * embeds each component's registered oracle SQL as a subquery, so the
    * DAG can never drift from the stages it orchestrates.
    *
    * Manifest columns (uniform, all BIGINT): `n_rows` = the stage's
    * verdict/output rows; `n_acted` = rows the stage acted on (files
    * compacted away / rows updated+inserted / duplicates quarantined /
    * edges the standing predictor had flagged); `n_kept` = rows surviving
    * (docs kept, merged rows, admitted batch members, arriving edges);
    * `witness` = the stage's integrity checksum (text-checksum sum, min
    * merged key, duplicate-target id sums, triangle-delta sum).
    *
    * Scale shape: every stage is the already-laddered component plan —
    * linear in its batch, artifact-probing, nothing quadratic; the
    * manifest itself adds six 1-row aggregates and a 6-row union. At
    * 100 TB this runs as one job whose stages share the published
    * artifacts instead of six jobs re-deriving them.
    */
  val e18MaintenanceDag: Q = {
    def sub(q: Q): String = q.oracle.get
    Q.sql(
      "e18_maintenance_dag",
      "Nightly maintenance DAG: compaction -> MERGE apply -> four incremental applies (docs/vectors/edges/payloads), as one six-row manifest with per-stage witnesses.",
      s"""SELECT * FROM (
         |SELECT 1 AS stage_id, 'compact' AS stage,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(MAX(staged_files) AS BIGINT) AS n_acted,
         |       CAST(SUM(n_docs) AS BIGINT) AS n_kept,
         |       CAST(SUM(text_checksum) AS BIGINT) AS witness
         |FROM (${sub(e10Compaction)}) c
         |UNION ALL
         |SELECT 2, 'merge', CAST(COUNT(*) AS BIGINT),
         |       CAST(SUM(CASE WHEN status IN ('X', 'N') THEN n_rows ELSE 0 END) AS BIGINT),
         |       CAST(SUM(n_rows) AS BIGINT),
         |       CAST(MIN(min_key) AS BIGINT)
         |FROM (${sub(e12MergeUpsert)}) m
         |UNION ALL
         |SELECT 3, 'dedup_apply', CAST(COUNT(*) AS BIGINT),
         |       CAST(COUNT(CASE WHEN admit = 0 THEN 1 END) AS BIGINT),
         |       CAST(SUM(admit) AS BIGINT),
         |       CAST(SUM(COALESCE(dup_of, -1)) AS BIGINT)
         |FROM (${sub(Dedup.d13IncrementalMinHash)}) d
         |UNION ALL
         |SELECT 4, 'ann_apply', CAST(COUNT(*) AS BIGINT),
         |       CAST(COUNT(CASE WHEN admit = 0 THEN 1 END) AS BIGINT),
         |       CAST(SUM(admit) AS BIGINT),
         |       CAST(SUM(COALESCE(nn_id, -1)) AS BIGINT)
         |FROM (${sub(Similarity.s21IncrementalAnnApply)}) s
         |UNION ALL
         |SELECT 5, 'edge_apply', CAST(COUNT(*) AS BIGINT),
         |       CAST(SUM(predicted) AS BIGINT),
         |       CAST(COUNT(*) AS BIGINT),
         |       CAST(SUM(triangles_closed) AS BIGINT)
         |FROM (${sub(Graph.g11IncrementalEdges)}) g
         |UNION ALL
         |SELECT 6, 'payload_apply', CAST(COUNT(*) AS BIGINT),
         |       CAST(COUNT(CASE WHEN admit = 0 THEN 1 END) AS BIGINT),
         |       CAST(SUM(admit) AS BIGINT),
         |       CAST(SUM(COALESCE(dup_of, -1)) AS BIGINT)
         |FROM (${sub(Multimodal.m16IncrementalPayloads)}) p
         |) ORDER BY stage_id""".stripMargin) { (spark, dir) =>
      def manifest(id: Long, name: String, df: org.apache.spark.sql.DataFrame,
          nActed: org.apache.spark.sql.Column,
          nKept: org.apache.spark.sql.Column,
          witness: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            nActed.cast("bigint").as("n_acted"),
            nKept.cast("bigint").as("n_kept"),
            witness.cast("bigint").as("witness"))
          .select(lit(id).as("stage_id"), lit(name).as("stage"),
            col("n_rows"), col("n_acted"), col("n_kept"), col("witness"))
      val stages = Seq(
        manifest(1L, "compact", e10Compaction.run(spark, dir),
          max(col("staged_files")), sum(col("n_docs")),
          sum(col("text_checksum"))),
        manifest(2L, "merge", e12MergeUpsert.run(spark, dir),
          sum(when(col("status").isin("X", "N"), col("n_rows")).otherwise(0L)),
          sum(col("n_rows")), min(col("min_key"))),
        manifest(3L, "dedup_apply", Dedup.d13IncrementalMinHash.run(spark, dir),
          count(when(col("admit") === 0, lit(1))), sum(col("admit")),
          sum(coalesce(col("dup_of"), lit(-1L)))),
        manifest(4L, "ann_apply", Similarity.s21IncrementalAnnApply.run(spark, dir),
          count(when(col("admit") === 0, lit(1))), sum(col("admit")),
          sum(coalesce(col("nn_id"), lit(-1L)))),
        manifest(5L, "edge_apply", Graph.g11IncrementalEdges.run(spark, dir),
          sum(col("predicted")), count(lit(1)),
          sum(col("triangles_closed"))),
        manifest(6L, "payload_apply", Multimodal.m16IncrementalPayloads.run(spark, dir),
          count(when(col("admit") === 0, lit(1))), sum(col("admit")),
          sum(coalesce(col("dup_of"), lit(-1L)))))
      stages.reduce(_ unionAll _).orderBy("stage_id")
    }
  }

  val all: Seq[Q] = Seq(e1ItemPipeline, e2AssessmentPipeline, e3JsonlRoundtrip,
    e4OrcRoundtrip, e5PartitionedRoundtrip, e6BucketedJoin, e7CsvRoundtrip,
    e8SchemaEvolution, e9SortedSkipping, e10Compaction, e11Zorder,
    e12MergeUpsert, e13TimeTravel, e14ForgetCascade, e15Vacuum,
    e16DynamicOverwrite, e17ChangeFeed, e18MaintenanceDag)
}
