package graft.ops

import graft.{HarnessConf, Tables, TestSpark}
import graft.etl.NioLocalFileSystem
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one stream runner ([[StreamingQueries.runStream]]): the session's
  * shuffle partition count is capped, and Spark's `FileSystem`-based
  * checkpoint manager and the [[NioLocalFileSystem]] write options are
  * set, for the run; every key is restored however it ends. The
  * checkpoint the runner made itself is freed once the query terminates
  * while the drained sink stays readable.
  */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  private val key = "spark.sql.shuffle.partitions"
  // what the run sets besides the cap: unset in the test session
  private val runConf: Map[String, String] = NioLocalFileSystem.writeOptions +
    ("spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName)
  private def runKeys(conf: org.apache.spark.sql.RuntimeConfig): Map[String, Option[String]] =
    runConf.keys.map(k => k -> conf.getOption(k)).toMap
  private val inRun = runConf.map { case (k, v) => k -> Some(v) }
  private val unset = runConf.map { case (k, _) => k -> None }
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
      assert(runKeys(spark.conf) == unset)
      val seen = new java.util.concurrent.atomic.AtomicReference[(String, Map[String, Option[String]])]()
      StreamingQueries.runStream(spark, "runner_spec_ok", ids, OutputMode.Append(),
        StreamingQueries.batchSink((b, _) =>
          seen.set((b.sparkSession.conf.get(key), runKeys(b.sparkSession.conf)))))
      assert(seen.get == ((HarnessConf.streamPartitions.toString, inRun)))
      assert(spark.conf.get(key) == wide)
      assert(runKeys(spark.conf) == unset)
    }
  }

  test("runStream restores shuffle partitions after a run whose sink throws") {
    HarnessConf.withConf(spark, key -> wide) {
      val seen = new java.util.concurrent.atomic.AtomicReference[Map[String, Option[String]]]()
      val e = intercept[Exception] {
        StreamingQueries.runStream(spark, "runner_spec_fail", ids, OutputMode.Append(),
          StreamingQueries.batchSink { (b, _) =>
            seen.set(runKeys(b.sparkSession.conf))
            throw new IllegalStateException("sink failed")
          })
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("sink failed")), e)
      assert(seen.get == inRun)
      assert(spark.conf.get(key) == wide)
      assert(runKeys(spark.conf) == unset)
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
