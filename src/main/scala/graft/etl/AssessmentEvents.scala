package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Assessment-level pipeline (`node etl-assessment-level.js <csv> [n]`,
  * SURVEY §3.2): each row fans out into exactly three events —
  * AssessmentEvent/STARTED, AssessmentEvent/SUBMITTED,
  * AssessmentOutcomeEvent/GRADED (`etl-assessment-level.js:108-113`,
  * builders `:125-161`) — via `explode(array(struct…))`.
  *
  * Shape fidelity (SURVEY §3.3): the STARTED/SUBMITTED events carry
  * actor/object/generated as *siblings* of `values`
  * (`etl-assessment-level.js:126-135`) while GRADED nests everything
  * inside `values` (`:150-160`). One nullable superstruct models both;
  * `to_json` omits null branches, reproducing each variant's exact JSON.
  *
  * Score orientation: the reference swaps normal/total here
  * (`totalScore ← score_earned`, `normalScore ← score_posible`,
  * `:101-106`) — opposite of the item-level pipeline and of Caliper's
  * published Result semantics. Default is the corrected orientation
  * (SURVEY §3.3 decision); `referenceScoreSwap = true` reproduces the
  * reference bit-for-bit.
  */
object AssessmentEvents {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(CaliperSchemas.assessmentSchema)
      .csv(path)

  /** The reference pattern's `(.+)`×13 requires every field non-empty
    * (`etl-assessment-level.js:18`; empty field → row skipped `:50-52`).
    */
  def requireAllFields(assessments: DataFrame): DataFrame =
    CaliperSchemas.assessmentSchema.fieldNames.foldLeft(assessments) {
      (df, f) => df.filter(col(f).isNotNull && col(f) =!= "")
    }

  private def actorS: Column = struct(col("identity_id").as("id"))
  private def assessmentS: Column =
    struct(col("assessment_id").as("id"), col("assessment_version").as("version"))
  private def attemptS: Column =
    struct(col("attempt_id").as("id"),
      col("attemptnumber").cast("int").as("count")) // the `+attemptCount` cast, :91

  /** One event in the unified (nullable) shape. */
  private def event(
      eventType: String, action: String,
      topLevel: Boolean, scores: Option[Column]): Column = {
    struct(
      lit(eventType).as("type"),
      struct(
        lit(action).as("action"),
        (if (topLevel) lit(null).cast("struct<id:string>") else actorS).as("actor"),
        (if (topLevel) lit(null).cast("struct<id:string>")
         else struct(col("school_id").as("id"))).as("organization"),
        (if (topLevel) lit(null).cast("struct<id:string,version:string>")
         else assessmentS).as("assessment"),
        (if (topLevel) lit(null).cast("struct<id:string,count:int>")
         else attemptS).as("object"),
        scores.getOrElse(lit(null).cast("struct<totalScore:string,normalScore:string>"))
          .as("generated")
      ).as("values"),
      (if (topLevel) actorS else lit(null).cast("struct<id:string>")).as("actor"),
      (if (topLevel) assessmentS
       else lit(null).cast("struct<id:string,version:string>")).as("object"),
      (if (topLevel) attemptS
       else lit(null).cast("struct<id:string,count:int>")).as("generated"))
  }

  /** 1→3 fan-out. `referenceScoreSwap=true` reproduces
    * `etl-assessment-level.js:101-106` (totalScore←earned) verbatim;
    * default is the Caliper-correct orientation.
    */
  def events(assessments: DataFrame, referenceScoreSwap: Boolean = false): DataFrame = {
    val scores =
      if (referenceScoreSwap)
        struct(col("score_earned").as("totalScore"), col("score_posible").as("normalScore"))
      else
        struct(col("score_posible").as("totalScore"), col("score_earned").as("normalScore"))
    requireAllFields(assessments)
      .select(
        col("attempt_id"),
        explode(array(
          event("AssessmentEvent", "STARTED", topLevel = true, None),
          event("AssessmentEvent", "SUBMITTED", topLevel = true, None),
          event("AssessmentOutcomeEvent", "GRADED", topLevel = false, Some(scores))
        )).as("event"))
  }

  /** One JSON array of 3 events per input row, directory-per-attempt
    * (`etl-assessment-level.js:114-116`), through the item pipeline's sink.
    */
  def writeJson(events: DataFrame, outDir: String): Unit =
    ItemEvents.writeJson(ItemEvents.groupedByAttempt(events), outDir)

  /** End-to-end with the optional rowsToExtract clamp
    * (`etl-assessment-level.js:14,42-43`; default: all rows).
    */
  def run(spark: SparkSession, inPath: String, outDir: String,
      rowsToExtract: Option[Int] = None,
      referenceScoreSwap: Boolean = false): Unit = {
    val src = read(spark, inPath)
    val limited = rowsToExtract.fold(src)(src.limit)
    writeJson(events(limited, referenceScoreSwap), outDir)
  }
}
