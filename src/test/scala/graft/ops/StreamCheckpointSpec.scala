package graft.ops

import java.io.File

import graft.TestSpark
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** What a [[StreamingQueries.runStream]] run leaves on disk: a
  * checkpoint holding the offset and commit logs and the state store, and
  * a log that a later run on the same checkpoint resumes. Checkpoint and
  * sink files alike are written raw through `graft.etl.NioLocalFileSystem`,
  * so neither holds a Hadoop `.<name>.crc` sidecar.
  *
  * The state store's `<n>.delta.crc` files are Spark's own checkpoint
  * checksums (`spark.sql.streaming.checkpoint.fileChecksum.enabled`),
  * verified when the store is read back; they are not sidecars.
  */
class StreamCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** The raw events split in two by `event_id` parity, one half per add. */
  private def half(parity: Int) =
    spark.read.parquet(s"$sf/events.parquet").filter(col("event_id") % 2 === parity)

  /** One stateful run (tumbling window counts) of the arrivals so far on
    * `ckpt`; returns the micro-batch ids the sink saw.
    */
  private def run(src: Scratch.Arrivals, ckpt: String): Seq[Long] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    StreamingQueries.runStream(spark, "ckpt_spec",
      EventsStream.tumblingCounts(EventsStream.read(spark, src.dir)),
      OutputMode.Update(), StreamingQueries.batchSink { (b, id) =>
        b.count() // runs every state partition, so each commits its store
        ids.add(id); ()
      }, Some(ckpt))
    ids.asScala.toSeq
  }

  private def sidecars(root: String): Seq[String] =
    files(root).map(_.getName).filter(n => n.startsWith(".") && n.endsWith(".crc"))

  private def files(root: String): Seq[File] = {
    val walk = java.nio.file.Files.walk(new File(root).toPath)
    try walk.iterator().asScala.map(_.toFile).filter(_.isFile).toList
    finally walk.close()
  }

  /** The numbered entries of one log under the checkpoint, sorted. */
  private def batchIds(ckpt: String, log: String): Seq[Long] =
    Option(new File(ckpt, log).listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  private def withCheckpoint(body: (Scratch.Arrivals, String) => Unit): Unit = {
    val src = new Scratch.Arrivals(Scratch.dir("graft_ckpt_spec_src"))
    val ckpt = Scratch.dir("graft_ckpt_spec")
    try body(src, ckpt) finally { Scratch.drop(ckpt); Scratch.drop(src.dir) }
  }

  test("a run leaves offsets, commits and state files and no .crc sidecar under the checkpoint") {
    withCheckpoint { (src, ckpt) =>
      src.add("a.parquet", half(0))
      assert(run(src, ckpt).nonEmpty)
      Seq("offsets", "commits", "state").foreach { sub =>
        assert(files(s"$ckpt/$sub").nonEmpty, s"no files under $sub/")
      }
      assert(sidecars(ckpt).isEmpty, s"checksum sidecars under the checkpoint: ${sidecars(ckpt)}")
    }
  }

  test("a second run on the same checkpoint resumes: batch ids contiguous from 0") {
    withCheckpoint { (src, ckpt) =>
      src.add("a.parquet", half(0))
      val first = run(src, ckpt)
      src.add("b.parquet", half(1))
      val second = run(src, ckpt)
      assert(first.nonEmpty && second.nonEmpty)
      // a fresh log would restart at 0; a replay would re-run a committed id
      assert(second.min > first.max, s"second run replayed: $first then $second")
      val offsets = batchIds(ckpt, "offsets")
      assert(offsets == (0L until offsets.size), s"offsets not contiguous from 0: $offsets")
      assert(batchIds(ckpt, "commits") == offsets)
      assert((first ++ second).distinct.sorted == offsets)
    }
  }

  /** Drains `stream(src)` over two arrivals; returns the sink dir. */
  private def drainedSink(name: String, mode: OutputMode)(
      stream: Scratch.Arrivals => org.apache.spark.sql.DataFrame): String = {
    val src = new Scratch.Arrivals(Scratch.dir("graft_ckpt_spec_src"))
    try {
      src.add("a.parquet", half(0))
      src.add("b.parquet", half(1))
      val files = StreamingQueries.drained(spark, name, stream(src), mode).inputFiles
      assert(files.nonEmpty, s"$name: the drained sink holds no rows")
      new File(new java.net.URI(files.head)).getParent
    } finally Scratch.drop(src.dir)
  }

  test("a drained Append run (w5 shape) leaves no .crc sidecar under its sink") {
    val sink = drainedSink("ckpt_spec_append", OutputMode.Append()) { src =>
      EventsStream.dedupedEvents(
        EventsStream.read(spark, src.dir).union(EventsStream.read(spark, src.dir)))
    }
    assert(new File(sink, "_spark_metadata").isDirectory, s"not a file sink: $sink")
    try assert(sidecars(sink).isEmpty, s"checksum sidecars under the sink: ${sidecars(sink)}")
    finally Scratch.drop(sink)
  }

  test("a drained Complete run (w3 shape) leaves no .crc sidecar under its sink") {
    val sink = drainedSink("ckpt_spec_complete", OutputMode.Complete()) { src =>
      EventsStream.tumblingCounts(EventsStream.read(spark, src.dir))
    }
    try assert(sidecars(sink).isEmpty, s"checksum sidecars under the sink: ${sidecars(sink)}")
    finally Scratch.drop(sink)
  }
}
