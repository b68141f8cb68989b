package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session recipe: `HarnessConf.sessionConf` is the conf map
  * Bench and Verify each spelled out by hand before they shared it, and
  * the shared test session is built on it.
  */
class HarnessConfSpec extends AnyFunSuite {

  test("sessionConf(4, dir) is the Bench/Verify session conf") {
    assume(HarnessConf.shufflePartitions.isEmpty,
      "SPARK_GRAFT_SHUFFLE_PARTITIONS is set in this environment")
    assert(HarnessConf.sessionConf(4, "/scratch/local") === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.local.dir" -> "/scratch/local",
      "spark.cleaner.periodicGC.interval" -> "45s"))
  }

  test("TestSpark.spark carries the recipe's confs") {
    val spark = TestSpark.spark
    val recipe = HarnessConf.sessionConf(4, "unused")
    val sql = recipe.keys.filter(_.startsWith("spark.sql."))
    assert(sql.size >= 4)
    sql.foreach(k => assert(spark.conf.get(k) === recipe(k), k))
    val ctx = spark.sparkContext.getConf
    Seq("spark.master", "spark.ui.enabled", "spark.cleaner.periodicGC.interval")
      .foreach(k => assert(ctx.get(k) === recipe(k), k))
  }

  // one key the session sets and one it leaves unset
  private val (setKey, unsetKey) =
    ("spark.sql.shuffle.partitions", "spark.sql.streaming.checkpointFileManagerClass")

  /** Runs `run` against the test session; both keys must read as before. */
  private def restoresBoth(run: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val spark = TestSpark.spark
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(unsetKey).isEmpty, s"$unsetKey is set in the test session")
    run(spark)
    assert(spark.conf.get(setKey) === before)
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }

  test("withConf sets every key for the body and restores each after it, unset ones unset") {
    restoresBoth { spark =>
      val inside = HarnessConf.withConf(spark, setKey -> "7", unsetKey -> "x.Y") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(inside === (("7", "x.Y")))
    }
  }

  test("withConf restores every key when the body throws") {
    restoresBoth { spark =>
      val e = intercept[IllegalStateException] {
        HarnessConf.withConf(spark, setKey -> "7", unsetKey -> "x.Y") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
    }
  }
}
