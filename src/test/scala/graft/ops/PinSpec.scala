package graft.ops

import graft.TestSpark
import org.apache.spark.sql.{classic, DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin]], the one persist primitive of `graft.ops`: a pin is cached at
  * MEMORY_AND_DISK and already materialized when it is returned, keeps
  * the layout it was built with, is released when its scope ends however
  * it ends, and the keyed form shares one pin per (session, key).
  */
class PinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** plan walks that see through AQE stages */
  private object Plans extends AdaptiveSparkPlanHelper

  private def cached(ds: Dataset[_]) = {
    val c = ds.asInstanceOf[classic.Dataset[_]]
    c.sparkSession.sharedState.cacheManager.lookupCachedData(c)
  }

  private def loaded(ds: Dataset[_]): Boolean =
    cached(ds).exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** distinct plans per call, so no test sees another's cache entry */
  private def frame(tag: Long): DataFrame =
    spark.range(0, 2000).select((col("id") % 50).as("k"), (col("id") + tag).as("v"))

  test("Pin returns a frame materialized at MEMORY_AND_DISK") {
    val lazyOne = frame(1).persist(StorageLevel.MEMORY_AND_DISK)
    try assert(cached(lazyOne).isDefined && !loaded(lazyOne),
      "a bare persist is expected to stay lazy")
    finally Pin.release(lazyOne)

    val p = Pin(frame(2))
    try {
      val c = cached(p)
      assert(c.isDefined, "pinned frame not in the cache manager")
      assert(c.get.cachedRepresentation.cacheBuilder.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(loaded(p), "pinned frame returned before its blocks were built")
    } finally Pin.release(p)
  }

  test("Pin of an already pinned frame runs no job") {
    val p = Pin(frame(3))
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("pin-spec-again", "pin an already pinned frame")
      try assert(Pin(p) eq p) finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup("pin-spec-again").isEmpty)
    } finally Pin.release(p)
  }

  test("Pin keeps a repartition(col) layout: an aggregate and a join on the key plan no exchange") {
    val p = Pin(frame(4).repartition(col("k")))
    try {
      val agg = p.groupBy(col("k")).agg(sum(col("v")).as("s"))
      // merge hint: a broadcast join would need no layout at all
      val join = p.as("x").hint("merge").join(p.as("y"), col("x.k") === col("y.k"))
      Seq(agg, join).foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        // the live plan only: the cached build plan, which holds the
        // repartition's own exchange, is not a child of the scan
        assert(Plans.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty,
          s"pin not read in:\n$plan")
        assert(Plans.collect(plan) { case s: ShuffleExchangeLike => s }.isEmpty,
          s"layout lost in:\n$plan")
      }
    } finally Pin.release(p)
  }

  test("Pin.during releases the frame after a normal return and after a throw") {
    val f = frame(5)
    val n = Pin.during(f) { p =>
      assert(loaded(p))
      p.count()
    }
    assert(n == 2000 && cached(f).isEmpty && f.storageLevel == StorageLevel.NONE)

    val g = frame(6)
    val e = intercept[IllegalStateException] {
      Pin.during(g) { p =>
        assert(loaded(p))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cached(g).isEmpty && g.storageLevel == StorageLevel.NONE)
  }

  test("Pin.Shared keeps one pin per (session, key) and builds anew for another session") {
    val shared = new Pin.Shared[String, DataFrame]
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, key: String) =
      shared(s, key) { builds += 1; s.range(0, 100).select((col("id") * 7).as("x")) }
    val a = get(spark, "k")
    try {
      assert(loaded(a))
      assert(get(spark, "k") eq a)
      assert(builds == 1)
      val other = spark.newSession()
      val b = get(other, "k")
      assert(builds == 2 && (b ne a))
      val c = get(spark, "k2")
      assert(builds == 3 && (c ne a))
    } finally Pin.release(a)
  }

  test("Dedup.normedVectors is materialized when it returns") {
    val v = Dedup.normedVectors(spark, TestSpark.sf0001)
    assert(cached(v).isDefined && loaded(v), "normedVectors returned a lazy pin")
  }
}
