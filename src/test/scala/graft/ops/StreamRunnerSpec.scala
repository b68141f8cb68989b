package graft.ops

import graft.{HarnessConf, Tables, TestSpark}
import graft.streaming.{EventsStream, NioCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one stream runner ([[StreamingQueries.runStream]]): the session's
  * shuffle partition count is capped and the checkpoint file manager set
  * for the run, both restored however it ends, and the checkpoint the
  * runner made itself is freed once the query terminates while the
  * drained sink stays readable.
  */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  private val key = "spark.sql.shuffle.partitions"
  private val (managerKey, manager) = NioCheckpointFileManager.conf
  // above the stream cap, so the runner has something to cap and restore
  private val wide = (HarnessConf.streamPartitions + 3).toString

  /** file-source streams need a directory of files, not a single file */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("runner-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("part-000.parquet"))
    d.toString
  }

  private def ids = EventsStream.read(spark, eventsDir).select(col("event_id"))

  test("runStream caps shuffle partitions for the run and restores them after") {
    HarnessConf.withConf(spark, key -> wide) {
      val seen = new java.util.concurrent.atomic.AtomicReference[(String, Option[String])]()
      StreamingQueries.runStream(spark, "runner_spec_ok", ids, OutputMode.Append(),
        StreamingQueries.batchSink((b, _) =>
          seen.set((b.sparkSession.conf.get(key), b.sparkSession.conf.getOption(managerKey)))))
      assert(seen.get == ((HarnessConf.streamPartitions.toString, Some(manager))))
      assert(spark.conf.get(key) == wide)
      assert(spark.conf.getOption(managerKey).isEmpty)
    }
  }

  test("runStream restores shuffle partitions after a run whose sink throws") {
    HarnessConf.withConf(spark, key -> wide) {
      val e = intercept[Exception] {
        StreamingQueries.runStream(spark, "runner_spec_fail", ids, OutputMode.Append(),
          StreamingQueries.batchSink((_, _) => throw new IllegalStateException("sink failed")))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("sink failed")), e)
      assert(spark.conf.get(key) == wide)
      assert(spark.conf.getOption(managerKey).isEmpty)
    }
  }

  test("w3: the runner's own checkpoint is gone after the run; the sink still reads") {
    val roots = Seq("/dev/shm", sys.props("java.io.tmpdir")).distinct.map(new java.io.File(_))
    def ckpts(): Set[java.io.File] = roots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("graft_ckpt_w3_stream_tumbling")).toSet
    val before = ckpts()
    val created = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      // runs before start() returns, while the query's checkpoint exists
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        (ckpts() -- before).foreach(created.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val drained =
      try StreamingQueries.w3StreamTumbling.run(spark, sf)
      finally spark.streams.removeListener(listener)
    assert(created.size == 1, s"expected one w3 checkpoint, saw $created")
    assert(created.asScala.forall(!_.exists()), s"checkpoint left behind: $created")
    val groups = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
    assert(groups > 0)
    assert(drained.count() == groups)
  }
}
