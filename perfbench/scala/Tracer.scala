package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all from outside the program:
  * client-side timers around each call into the program, a
  * `SparkListener` (jobs, stages, task ends), a `QueryExecutionListener`
  * (Catalyst phases) and the streaming progress of [[StreamWatch]].
  *
  * Spans are kept in memory and written to `spans.jsonl` by [[finish]]:
  * workload pass → operation → construct / action (ETL: prepare / write)
  * → micro-batch → job → stage, plus Catalyst phases under the client
  * span they ran in. Jobs find their parent through a local property set
  * on the client thread (stream execution threads inherit it); stages
  * through their job.
  */
final class Tracer(spark: SparkSession, out: Path) {
  import Tracer._

  private val Prop = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = mutable.Map.empty[Int, (Span, Long, Long)]
  private val stack = mutable.Stack.empty[Int]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Open a client-side span; jobs submitted until [[close]] nest under it. */
  def open(name: String, layer: String, parent: Option[Int], attrs: (String, Any)*): Int = {
    val s = Span(ids.incrementAndGet(), parent.getOrElse(0), name, layer, now(), Double.NaN,
      mutable.Map(attrs: _*))
    open(s.id) = (s, Scratch.forks(), gcMs())
    if (layer == "operation") s.attrs("scratch_before") = Scratch.heldBytes()
    stack.push(s.id)
    spark.sparkContext.setLocalProperty(Prop, s.id.toString)
    s.id
  }

  def close(id: Int, attrs: (String, Any)*): Unit = {
    val (s, forks0, gc0) = open.remove(id).get
    s.end = now()
    s.attrs ++= attrs
    s.attrs("forks") = Scratch.forks() - forks0
    s.attrs("gc_ms") = gcMs() - gc0
    s.attrs.remove("scratch_before").foreach { b =>
      s.attrs("scratch_bytes") = Scratch.heldBytes() - b.asInstanceOf[Long]
    }
    spans.add(s)
    stack.pop()
    spark.sparkContext.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
  }

  def span[T](name: String, layer: String, parent: Option[Int])(f: => T): T = {
    val id = open(name, layer, parent)
    try f finally close(id)
  }

  // ---- Spark scheduler ----------------------------------------------------
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))
  @volatile private var lastEvent = System.nanoTime()

  /** Listener events arrive asynchronously: wait until every job seen has
    * ended and no event has come for half a second (at most 20 s).
    */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    while (System.nanoTime() < deadline &&
        (jobs.values.asScala.exists(_.end == 0L) || System.nanoTime() - lastEvent < 500000000L))
      Thread.sleep(50)
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = lastEvent = System.nanoTime()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent = System.nanoTime()
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, JobRec(e.jobId, p, e.time, 0L, e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.synchronized {
        s.start = i.submissionTime.getOrElse(0L); s.end = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent = System.nanoTime()
      val s = stage(e.stageId)
      s.synchronized {
        s.lastTaskEnd = math.max(s.lastTaskEnd, e.taskInfo.finishTime)
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  // ---- Catalyst -----------------------------------------------------------
  private val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Turn the listener records into spans and write the span file. */
  def finish(streams: StreamWatch): Unit = {
    quiesce()
    val client = spans.asScala.toSeq
    val byId = client.map(s => s.id -> s).toMap
    // micro-batches under the construct span of the operation that ran them
    val constructOf = client.filter(_.layer == "construct").flatMap { c =>
      byId.get(c.parent).flatMap(_.attrs.get("op")).map(_.asInstanceOf[Int] -> c.id)
    }.toMap
    val batches = streams.progress.asScala.toSeq.flatMap { case (run, p) =>
      constructOf.get(streams.opOf(run)).map { parent =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Span(ids.incrementAndGet(), parent, s"batch ${p.batchId}", "microbatch", start,
          start + d.getOrElse("triggerExecution", 0L),
          mutable.Map[String, Any](
            "rows" -> p.numInputRows,
            "addbatch_ms" -> d.getOrElse("addBatch", 0L),
            "log_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
            "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
      }
    }
    val jobSpans = jobs.values.asScala.toSeq.map { j =>
      val parent = batches.find(b => b.parent == j.parent && b.start <= j.start && j.start <= b.end)
        .map(_.id).getOrElse(j.parent)
      Span(ids.incrementAndGet(), parent, s"job ${j.id}", "job", j.start.toDouble,
        math.max(j.end, j.start).toDouble, mutable.Map[String, Any]("job" -> j.id))
    }
    val jobSpanOf = jobSpans.map(s => s.attrs("job").asInstanceOf[Int] -> s.id).toMap
    val stageSpans = jobs.values.asScala.toSeq.flatMap { j =>
      j.stages.flatMap(i => Option(stages.get(i))).filter(_.end > 0).map { s =>
        Span(ids.incrementAndGet(), jobSpanOf(j.id), s"stage ${s.id}", "stage", s.start.toDouble,
          s.end.toDouble, mutable.Map[String, Any](
            "task_ms" -> s.taskMs, "tasks" -> s.tasks, "shuffle_write_bytes" -> s.shuffleWrite,
            "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
            "last_task_end" -> s.lastTaskEnd))
      }
    }
    // Catalyst phases under the innermost client span they started in
    val leaves = client.filter(s => s.layer == "construct" || s.layer == "action")
    val phaseSpans = phases.asScala.toSeq.flatMap { case (name, t0, t1) =>
      leaves.find(s => s.start <= t0 && t0 <= s.end).map { p =>
        Span(ids.incrementAndGet(), p.id, name, "catalyst", t0.toDouble, t1.toDouble,
          mutable.Map.empty[String, Any])
      }
    }
    val w = java.nio.file.Files.newBufferedWriter(out.resolve("spans.jsonl"))
    try (client ++ batches ++ jobSpans ++ stageSpans ++ phaseSpans).sortBy(_.id).foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Double, var end: Double, attrs: mutable.Map[String, Any])
  final case class JobRec(id: Int, parent: Int, start: Long, var end: Long, stages: Seq[Int])
  final class StageRec(val id: Int) {
    var start = 0L; var end = 0L; var lastTaskEnd = 0L
    var taskMs = 0L; var tasks = 0; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
}
