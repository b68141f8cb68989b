package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Item-level pipeline (`node etl.js <csv>`, SURVEY §3.1), Spark-first:
  *
  * {{{
  * read.csv → project OutcomeEvent struct → groupBy(attempt_id)
  *          → collect_list → write.partitionBy(attempt_id)
  * }}}
  *
  * replacing the reference's whole-file slurp (`etl.js:22`), row-at-a-time
  * regex (`etl.js:73`), driver-memory group map (`etl.js:13`) and
  * unbounded async writes (`etl.js:118`) with a single shuffled,
  * spillable aggregate. The rendezvous barrier (`etl.js:48-52`) and
  * target-dir reset (`etl.js:40-45`) collapse into `mode("overwrite")`.
  *
  * Parse-semantics decisions (SURVEY §5, FIXTURES.md §1):
  *  - wrong-arity rows are dropped (the regex-mismatch drop, `etl.js:74`)
  *    via csv `mode=DROPMALFORMED`;
  *  - multi-objective `a;b` ids follow the reference's *intent*
  *    (`etl.js:76-82` — split on ';'), which its own pattern made
  *    unreachable;
  *  - quoted embedded commas are handled by the CSV reader (the
  *    reference mis-splits them — we implement the format, not the bug).
  */
object ItemEvents {

  /** Schema-on-read CSV source (the scale path — proper quoting, splittable).
    *
    * The CSV reader maps both missing and empty fields to null, so the
    * reference's "wrong-arity row → drop" (`etl.js:74`) is expressed as a
    * gate on the group key: a row short enough to miss `attempt_id`
    * (column 6) is malformed. Remaining empty fields become empty strings
    * (the `([^,]*)` groups match empties, `etl.js:11`). Exact regex
    * parity — including the quirks — lives in [[ParityParsers]].
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(CaliperSchemas.itemSchema)
      .csv(path)
      .filter(col("attempt_id").isNotNull)
      .na.fill("")

  /** Per-row OutcomeEvent struct, field-for-field the shape built at
    * `etl.js:84-105`: values{action, actor, target{id, learningObjectives},
    * object{id, count:1}, generated{normalScore←score_earned,
    * totalScore←score_posible}, assessment{id, version}}.
    */
  def events(items: DataFrame): DataFrame =
    items.select(
      col("attempt_id"),
      struct(
        lit("OutcomeEvent").as("type"),
        struct(
          lit("GRADED").as("action"),
          struct(col("identity_id").as("id")).as("actor"),
          struct(
            col("assmtitem_id").as("id"),
            transform(split(trim(col("masterobjectivesid")), ";"),
              x => struct(x.as("id"))).as("learningObjectives")
          ).as("target"),
          struct(col("attempt_id").as("id"), lit(1).as("count")).as("object"),
          struct(
            col("score_earned").as("normalScore"),
            col("score_posible").as("totalScore")
          ).as("generated"),
          struct(
            col("assessment_id").as("id"),
            col("assessment_version").as("version")
          ).as("assessment")
        ).as("values")
      ).as("event"))

  /** The `Map<attempt_id, OutcomeEvent[]>` (`etl.js:13,107-112`) as a
    * distributed aggregate — one hash shuffle on attempt_id, spillable,
    * no driver materialization.
    */
  def groupedByAttempt(events: DataFrame): DataFrame =
    events
      .groupBy(col("attempt_id"))
      // sort_array: collect_list order is partition-fetch order
      // (nondeterministic); the reference's input-file order can't exist
      // distributed, so the documented contract is canonical sorted order
      // (SURVEY §7.5)
      .agg(sort_array(collect_list(to_json(col("event")))).as("events"))

  /** One JSON array document per attempt, directory-per-key
    * (`etl.js:115-125`; SURVEY §7.5 treats directory-per-attempt as the
    * sink contract — deterministic, unlike `Date.now()` filenames). The
    * sink of both pipelines.
    *
    * A `file:` output goes through [[NioLocalFileSystem]]: with no
    * `libhadoop`, the stock local FS forks a shell `chmod` for every file
    * and directory it creates, which dominated the job. Each attempt
    * directory therefore holds exactly one `part-*` document and no
    * `.crc` sidecar. Other schemes (e.g. `hdfs:`, `s3a:`) use their own FS.
    */
  def writeJson(grouped: DataFrame, outDir: String): Unit =
    grouped
      .select(col("attempt_id"),
        concat(lit("["), concat_ws(",", col("events")), lit("]")).as("value"))
      .write.options(NioLocalFileSystem.writeOptions)
      .mode("overwrite").partitionBy("attempt_id").text(outDir)

  /** End-to-end: csv → events → grouped → partitioned JSON sink. */
  def run(spark: SparkSession, inPath: String, outDir: String): Unit =
    writeJson(groupedByAttempt(events(read(spark, inPath))), outDir)
}
