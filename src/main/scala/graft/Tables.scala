package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet test tables
  * (`/root/testdata/sf*`; see TESTDATA.md). All engine code reads tables
  * through here so the ns-timestamp normalization is applied in exactly
  * one place.
  *
  * Scale note: these are plain `spark.read.parquet` scans — Catalyst
  * pushes filters/column pruning into the scan, and on a real cluster the
  * same code picks up distributed file listing + vectorized readers for
  * free. Nothing here materializes on the driver.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def path(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(path(dir, name))

  /** `events.ts` normalization, adaptive to the parquet physical type the
    * driver generated (it changed between rounds):
    *
    *  - INT64 TIMESTAMP(NANOS) (rounds 1–6): Spark refuses it by default
    *    (PARQUET_TYPE_ILLEGAL); with `nanosAsLong` it reads as a ns long,
    *    which we truncate to µs — the same truncation DuckDB applies when
    *    it scans nanos into its native µs TIMESTAMP. Integer `div` (not
    *    `/`) matters: ns-since-epoch (~1.7e18) exceeds a double's 2^53
    *    exact-integer range.
    *  - TIMESTAMP(MICROS) (round 7+): reads natively as a timestamp
    *    (NTZ when isAdjustedToUTC=false); cast to TimestampType so every
    *    downstream expression sees the identical type either way (the
    *    session timezone is pinned UTC, so the cast is value-preserving).
    *
    * [[eventsTs]] is that normalization on any events frame (the
    * streaming source applies it too).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(spark.read.parquet(path(dir, "events")))
  }

  /** `df` with `ts` as a µs TimestampType, whether it was read as a raw
    * ns long or as a timestamp (see [[events]]).
    */
  def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
