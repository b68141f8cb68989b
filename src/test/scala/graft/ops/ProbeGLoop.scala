package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-15 probe (not a test): capture the EXECUTED plan of one
  * g1/g6 power-iteration round over the real sf0.1 co-purchase edges,
  * with the degree-enriched edge frame persisted (a) unpartitioned —
  * the pre-round-15 small-path layout — and (b) hash-partitioned on the
  * aggregate key `b`. The diff is the per-round |E|-row Exchange in
  * front of the destination aggregate. Writes
  * plans/r15/g1_iteration_{before,after}.txt.
  *
  * Usage: sbt -batch "Test/runMain graft.ops.ProbeGLoop <sfDir>"
  */
object ProbeGLoop {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false") // as Rounds runs the small-path loops
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the g1/g6 dedges build, verbatim shape (copurchaseEdges ⋈ deg)
    val eg = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = eg.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val deg = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val de0 = edges.join(broadcast(deg), edges("a") === deg("node"))
      .select(col("a"), col("b"), col("deg").as("deg_a"))
    val rank0 = deg.select(col("node"), lit(1000000L).as("r")).localCheckpoint()

    def round(dedges: org.apache.spark.sql.DataFrame): String = {
      dedges.count() // materialize the cached layout
      val step = Graph.contribSum(dedges, broadcast(rank0))
        .select(col("node"), (lit(150000L) + expr("(85 * m) div 100")).as("r"))
      step.collect()
      val s = step.queryExecution.executedPlan.toString
      dedges.unpersist()
      s
    }

    val before = round(de0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val after = round(de0.repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hdr = "One g1 power-iteration round, executed plan at " + sfDir + "\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("plans/r15/g1_iteration_before.txt"),
      hdr + "dedges persisted UNPARTITIONED (pre-round-15 small path):\n\n" + before + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("plans/r15/g1_iteration_after.txt"),
      hdr + "dedges persisted hash-partitioned on b (round-15 small path):\n\n" + after + "\n")
    println("exchanges before: " + "Exchange hashpartitioning".r.findAllIn(before).size)
    println("exchanges after:  " + "Exchange hashpartitioning".r.findAllIn(after).size)
    spark.stop()
  }
}
