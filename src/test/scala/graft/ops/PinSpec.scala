package graft.ops

import graft.TestSpark
import org.apache.spark.sql.{classic, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin]], the one persist primitive of `graft.ops`: a pin is cached at
  * MEMORY_AND_DISK and already materialized when it is returned, keeps
  * the layout it was built with, is released when its scope ends however
  * it ends, and the keyed registry shares one value per (session, key),
  * kept as its kind declares: pinned, checkpointed or as built.
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

  /** Runs `body` in a job group; returns its value and whether it ran a job. */
  private def jobsIn[A](group: String)(body: => A): (A, Boolean) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    (a, sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
  }

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
    try {
      val (again, ranJob) = jobsIn("pin-spec-again")(Pin(p))
      assert((again eq p) && !ranJob)
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

  /** Builds through `shared` once per (session, key), and anew for
    * another session or key; returns the first value.
    */
  private def oncePerSessionAndKey(shared: Pin.Shared[String, DataFrame]): DataFrame = {
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, key: String) =
      shared(s, key) { builds += 1; s.range(0, 100).select((col("id") * 7).as("x")) }
    val a = get(spark, "k")
    assert(get(spark, "k") eq a)
    assert(builds == 1)
    val b = get(spark.newSession(), "k")
    assert(builds == 2 && (b ne a))
    val c = get(spark, "k2")
    assert(builds == 3 && (c ne a))
    a
  }

  test("Pin.Shared keeps one pin per (session, key) and builds anew for another session") {
    val a = oncePerSessionAndKey(Pin.Shared.pinned[String, DataFrame])
    try assert(loaded(a)) finally Pin.release(a)
  }

  test("Pin.Shared.checkpointed returns a checkpoint with no cache entry") {
    val shared = Pin.Shared.checkpointed[String]
    val f = frame(7)
    val (c, ranJob) = jobsIn("pin-spec-checkpointed")(shared(spark, "k")(f))
    assert(ranJob, "the checkpoint was not built eagerly")
    assert(c.queryExecution.logical.isInstanceOf[LogicalRDD],
      s"not a checkpoint:\n${c.queryExecution.logical}")
    assert(cached(c).isEmpty && cached(f).isEmpty && c.storageLevel == StorageLevel.NONE)
    assert(c.count() == 2000)
  }

  test("Pin.Shared.checkpointed builds once per (session, key)") {
    oncePerSessionAndKey(Pin.Shared.checkpointed[String])
  }

  test("Pin.Shared leaves no entry when the build throws") {
    val shared = Pin.Shared.checkpointed[String]
    var builds = 0
    val e = intercept[IllegalStateException] {
      shared(spark, "k") { builds += 1; throw new IllegalStateException("build failed") }
    }
    assert(e.getMessage == "build failed")
    val a = shared(spark, "k") { builds += 1; frame(8) }
    assert(builds == 2 && a.count() == 2000)
  }

  test("Pin.Shared.memo returns the same instance and runs no job") {
    val shared = Pin.Shared.memo[String, DataFrame]
    val f = frame(9)
    val ((a, b), ranJob) = jobsIn("pin-spec-memo") {
      (shared(spark, "k")(f), shared(spark, "k")(frame(10)))
    }
    assert((a eq f) && (b eq f))
    assert(!ranJob)
    assert(cached(f).isEmpty)
  }

  test("Dedup.normedVectors is materialized when it returns") {
    val v = Dedup.normedVectors(spark, TestSpark.sf0001)
    assert(cached(v).isDefined && loaded(v), "normedVectors returned a lazy pin")
  }
}
