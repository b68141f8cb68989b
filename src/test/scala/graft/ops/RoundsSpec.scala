package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** [[Rounds]], the one round loop of `graft.ops`: `step` sees rounds 1..n
  * in order, the init frame and every round's output are checkpointed,
  * AQE is off inside an `aqe = false` loop and the session's setting comes
  * back however the loop ends, and `until` stops at the first round where
  * `done` holds.
  */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val aqeKey = "spark.sql.adaptive.enabled"

  private def init: DataFrame = spark.range(0, 100).select(col("id").as("v"))
  private def bump(df: DataFrame): DataFrame = df.select((col("v") + 1).as("v"))
  private def total(df: DataFrame): Long = df.agg(sum(col("v"))).head().getLong(0)
  /** total of `init` after k bumps */
  private def after(k: Int): Long = (0 until 100).map(_ + k.toLong).sum

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]
  private def size(p: LogicalPlan): Int = p.collect { case n => n }.size

  test("step sees rounds 1..n in order, each from a checkpointed frame") {
    val seen = ArrayBuffer.empty[(Int, Boolean)]
    val out = Rounds(spark, init, 5, aqe = true) { (prev, r) =>
      seen += r -> checkpointed(prev)
      bump(prev)
    }
    assert(seen.toSeq == (1 to 5).map(_ -> true))
    assert(checkpointed(out))
    assert(total(out) == after(5))
  }

  test("the logical plan does not deepen with the round count") {
    def plan(n: Int) = Rounds(spark, init, n, aqe = true)((prev, _) =>
      bump(bump(prev).join(broadcast(init), "v"))).queryExecution.logical
    assert(size(plan(1)) == size(plan(6)), s"${plan(1)}\nvs\n${plan(6)}")
  }

  test("frames returns the checkpointed init and every round's frame") {
    val fs = Rounds.frames(spark, init, 3, aqe = true)((prev, _) => bump(prev))
    assert(fs.size == 4 && fs.forall(checkpointed))
    assert(fs.map(total) == (0 to 3).map(after))
  }

  test("aqe = false: AQE is off inside step and restored after a normal run") {
    spark.conf.set(aqeKey, "true")
    val inside = ArrayBuffer.empty[String]
    Rounds(spark, init, 2, aqe = false) { (prev, _) =>
      inside += spark.conf.get(aqeKey)
      bump(prev)
    }
    assert(inside.toSeq == Seq("false", "false"))
    assert(spark.conf.get(aqeKey) == "true")
  }

  test("aqe = false: the setting is restored after a throwing step") {
    spark.conf.set(aqeKey, "true")
    val e = intercept[IllegalStateException] {
      Rounds(spark, init, 3, aqe = false) { (prev, r) =>
        if (r == 2) throw new IllegalStateException("step failed")
        bump(prev)
      }
    }
    assert(e.getMessage == "step failed")
    assert(spark.conf.get(aqeKey) == "true")
  }

  test("aqe = true: the AQE key is never touched") {
    val saved = spark.conf.getOption(aqeKey).filter(_ => spark.conf.getAll.contains(aqeKey))
    spark.conf.unset(aqeKey)
    try {
      val inside = ArrayBuffer.empty[Boolean]
      Rounds(spark, init, 2, aqe = true) { (prev, _) =>
        inside += spark.conf.getAll.contains(aqeKey)
        bump(prev)
      }
      assert(inside.toSeq == Seq(false, false), "the key was set inside the loop")
      assert(!spark.conf.getAll.contains(aqeKey), "the key was set after the loop")
    } finally saved.foreach(spark.conf.set(aqeKey, _))
  }

  test("until stops after the first round where done holds and reports it") {
    val seen = ArrayBuffer.empty[Int]
    val (out, used) = Rounds.until(spark, init, 10, aqe = true) { (prev, r) =>
      seen += r
      bump(prev)
    }((_, next) => total(next) >= after(3))
    assert(used.contains(3) && seen.toSeq == Seq(1, 2, 3))
    assert(total(out) == after(3))
  }

  test("until asks done after the last round too, and reports None when it never held") {
    val (_, atLast) = Rounds.until(spark, init, 4, aqe = true)((prev, _) => bump(prev))(
      (_, next) => total(next) == after(4))
    assert(atLast.contains(4))
    val seen = ArrayBuffer.empty[Int]
    val (out, never) = Rounds.until(spark, init, 4, aqe = true) { (prev, r) =>
      seen += r
      bump(prev)
    }((_, _) => false)
    assert(never.isEmpty && seen.toSeq == (1 to 4))
    assert(total(out) == after(4))
  }
}
