package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload inside one JVM: build the session
  * the way `graft.Bench` does, warm up, run whole passes of the
  * workload's operations as one closed-loop client until the time is up,
  * then write the raw measurements (and, for query workloads, every
  * query's full result) under `--out` for `run.py` to check and reduce.
  *
  * Arguments are `--key value` pairs:
  *   --workload  caliper_etl | batch_queries | stream_queries | fixtures
  *               | train (one pass of every workload's operations, run
  *               on small inputs to record the class-data archive)
  *   --input     sf directory (queries) or directory holding items.csv
  *               and assessments.csv (caliper_etl, fixtures)
  *   --caliper   the CSV directory for train
  *   --out       output directory of this run
  *   --queries   comma-separated registry names (query workloads)
  *   --seconds   length of the timed region
  *   --warm      warm-up passes, counted in the set-up time
  *   --passes    fewest timed passes (default 1)
  *   --trace     1 attaches [[Tracer]]; 0 leaves the session untouched
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, input,
      warmParquet = workload.endsWith("_queries") || workload == "train")
    try {
      if (workload == "fixtures") fixtures(spark, input, out)
      else {
        def etl(dir: String) = Seq(
          Op.etl("items", "graft.etl", out, (s, o) =>
            graft.etl.ItemEvents.run(s, s"$dir/items.csv", o)),
          Op.etl("assessments", "graft.etl", out, (s, o) =>
            graft.etl.AssessmentEvents.run(s, s"$dir/assessments.csv", o)))
        lazy val queries = {
          val modules = Op.modules
          val registry = graft.SparkEntry.queries
          opt("queries").split(",").toSeq.map { q =>
            Op.query(q, modules.getOrElse(q, "?"), registry(q), input)
          }
        }
        val ops: Seq[Op] = workload match {
          case "caliper_etl" => etl(input)
          case "batch_queries" | "stream_queries" => queries
          case "train" => etl(opt("caliper")) ++ queries
        }
        val tracer = if (opt.get("trace").contains("1")) Some(new Tracer(spark, out)) else None
        val driver = new Driver(spark, ops, tracer)
        val result = driver.run(warm = opt("warm").toInt, seconds = opt("seconds").toDouble,
          minPasses = opt.get("passes").fold(1)(_.toInt))
        // every query's full result, once, outside the timed region: the
        // frames the last timed pass built (stream results read back from
        // their drained sinks), written concurrently, since one small
        // query leaves most cores idle
        val dumpS = mutable.LinkedHashMap.empty[String, Double]
        if (workload != "caliper_etl") {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
          try {
            driver.lastBuilt.toSeq.collect { case (name, df: org.apache.spark.sql.DataFrame) =>
              pool.submit(() => {
                val t = System.nanoTime()
                df.write.mode("overwrite").parquet(out.resolve("full").resolve(name).toString)
                name -> (System.nanoTime() - t) / 1e9
              })
            }.foreach { f => dumpS += f.get() }
          } finally pool.shutdown()
          val oracle = graft.SparkEntry.oracleSql
          Json.write(out.resolve("oracle_sql.json"),
            ops.map(op => op.name -> oracle.get(op.name).orNull).toMap)
        }
        Json.write(out.resolve("result.json"),
          result + ("dump_s" -> dumpS.toMap))
      }
    } finally spark.stop()
  }

  /** The session of `graft.Bench.buildSession`: same master, conf and
    * warm-up step, no dev-only `SPARK_GRAFT_*` switch. Shuffle and spill
    * files go to tmpfs when it has room, as in Bench, else to the JVM's
    * temp directory.
    */
  def session(cpus: Int, input: String, warmParquet: Boolean): SparkSession = {
    val localDir = tmpfsOrTemp("graft_local_bench")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.local.dir", localDir.toString)
      .config("spark.cleaner.periodicGC.interval", "45s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", "true")
    Runtime.getRuntime.addShutdownHook(new Thread(() => { deleteTree(localDir.toFile); () }))
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      if (warmParquet) spark.read.parquet(s"$input/region.parquet").count()
    } catch { case _: Throwable => () }
    spark
  }

  private def tmpfsOrTemp(prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm) &&
        shm.toFile.getUsableSpace >= (4L << 30)) Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  def deleteTree(f: File): Boolean = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run both ETL entry points once on the given CSVs (used by the tests
    * of the benchmark's own expected-document function).
    */
  private def fixtures(spark: SparkSession, input: String, out: Path): Unit = {
    graft.etl.ItemEvents.run(spark, s"$input/items.csv", out.resolve("items").toString)
    graft.etl.AssessmentEvents.run(spark, s"$input/assessments.csv",
      out.resolve("assessments").toString)
  }
}

/** One operation of a workload's pass. `construct` returns the work for
  * `action`; for the ETL the whole job is the action.
  */
final case class Op(name: String, module: String, kind: String,
    construct: (SparkSession, Int) => Any, action: Any => Long,
    outDir: Int => Option[String])

object Op {
  def query(name: String, module: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Op =
    Op(name, module, "query", (s, _) => fn(s, dir),
      df => df.asInstanceOf[org.apache.spark.sql.DataFrame].count(), _ => None)

  def etl(name: String, module: String, out: Path,
      job: (SparkSession, String) => Unit): Op = {
    def dir(i: Int) = out.resolve("jobs").resolve(f"$i%04d-$name").toString
    Op(name, module, "etl", (s, i) => () => job(s, dir(i)),
      f => { f.asInstanceOf[() => Unit](); 0L }, i => Some(dir(i)))
  }

  /** Registry name -> the `graft.ops` module that registers it. */
  def modules: Map[String, String] = Seq(
    "Relational" -> graft.ops.Relational.all, "Caliper" -> graft.ops.Caliper.all,
    "TextAnalysis" -> graft.ops.TextAnalysis.all, "Dedup" -> graft.ops.Dedup.all,
    "Similarity" -> graft.ops.Similarity.all, "EventWindows" -> graft.ops.EventWindows.all,
    "StreamingQueries" -> graft.ops.StreamingQueries.all, "Curation" -> graft.ops.Curation.all,
    "Multimodal" -> graft.ops.Multimodal.all, "EtlQueries" -> graft.ops.EtlQueries.all,
    "Graph" -> graft.ops.Graph.all
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}

/** The closed loop: warm-up passes, then whole timed passes until
  * `seconds` have elapsed and at least `minPasses` have run.
  */
final class Driver(spark: SparkSession, ops: Seq[Op], tracer: Option[Tracer]) {
  private val streams = new StreamWatch(spark)
  private val jobs = new JobClock(spark)
  private var opIndex = 0
  /** What each operation's construct step returned in the latest pass. */
  val lastBuilt = mutable.LinkedHashMap.empty[String, Any]

  def run(warm: Int, seconds: Double, minPasses: Int): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionMs = System.currentTimeMillis()
    // what one pass leaves in the program's scratch until the JVM exits
    val scratch0 = Scratch.heldBytes()
    val warmPasses = (0 until warm).map(_ => pass(timed = false))
    val firstPassScratch = if (warm > 0) Scratch.heldBytes() - scratch0 else 0L
    val setupEndMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    jobs.timed = true
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass(timed = true)
    val timedS = (System.nanoTime() - t0) / 1e9
    jobs.timed = false
    val peakRssMb = Scratch.peakRssMb()
    val settle0 = System.nanoTime()
    streams.settle()
    jobs.settle()
    val settleS = (System.nanoTime() - settle0) / 1e9
    tracer.foreach(_.finish(streams))
    Map(
      "jvm_start_ms" -> jvmStartMs, "setup_end_ms" -> setupEndMs,
      "session_ready_ms" -> sessionMs, "warm_passes" -> warmPasses,
      "timed_s" -> timedS, "timed_end_ms" -> System.currentTimeMillis(), "settle_s" -> settleS,
      "passes" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "first_pass_scratch_mb" -> firstPassScratch / 1e6,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "stream_runs" -> streams.summary,
      "jobs" -> jobs.spans)
  }

  private def pass(timed: Boolean): Map[String, Any] = {
    val passSpan = tracer.map(_.open("pass", "pass", None))
    val t0 = System.nanoTime()
    val records = ops.map { op =>
      val i = opIndex; opIndex += 1
      streams.currentOp = i
      val opSpan = tracer.map(_.open(op.name, "operation", passSpan, "module" -> op.module, "op" -> i))
      val startMs = System.currentTimeMillis()
      val steal0 = Scratch.stealTicks()
      val s0 = System.nanoTime()
      val (count, error) =
        try {
          val built = tracer.fold(op.construct(spark, i)) { t =>
            t.span(if (op.kind == "etl") "prepare" else "construct", "construct", opSpan)(
              op.construct(spark, i))
          }
          lastBuilt(op.name) = built
          val n = tracer.fold(op.action(built)) { t =>
            t.span(if (op.kind == "etl") "write" else "action", "action", opSpan)(
              op.action(built))
          }
          (n, null)
        } catch { case e: Throwable =>
          (-1L, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val sec = (System.nanoTime() - s0) / 1e9
      tracer.foreach(_.close(opSpan.get))
      Map("name" -> op.name, "index" -> i, "seconds" -> sec, "count" -> count,
        "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(),
        "steal_ticks" -> (Scratch.stealTicks() - steal0),
        "error" -> error, "out" -> op.outDir(i).orNull, "timed" -> timed)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.close(passSpan.get, "timed" -> timed))
    Map("seconds" -> sec, "timed" -> timed, "ops" -> records)
  }
}

/** Per streaming-query run: the operation that started it and the
  * `StreamingQueryProgress` of each of its micro-batches. `onQueryStarted`
  * runs synchronously inside `start()`, so the run is tied to the
  * operation in flight on the client thread.
  */
final class StreamWatch(spark: SparkSession) {
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  @volatile var currentOp: Int = -1
  private val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress)]()

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = { runs.put(e.runId, currentOp); () }
    override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress.runId -> e.progress); () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { ended.add(e.runId); () }
  })

  def opOf(run: java.util.UUID): Int = runs.getOrDefault(run, -1)

  /** Wait (bounded) until every started run's events have been delivered. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (runs.keySet.asScala.exists(r => !ended.contains(r)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def summary: Seq[Map[String, Any]] = {
    val byRun = progress.asScala.toSeq.groupBy(_._1)
    runs.asScala.toSeq.map { case (run, op) =>
      val ps = byRun.getOrElse(run, Nil).map(_._2).sortBy(_.batchId)
      Map("op" -> op, "run" -> run.toString,
        "batches" -> ps.map(p => Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> Long.unbox(p.durationMs.getOrDefault("triggerExecution", 0L)))))
    }.sortBy(_("op").asInstanceOf[Int])
  }
}

/** Start and end of every Spark job submitted while `timed` is set. */
final class JobClock(spark: SparkSession) {
  import org.apache.spark.scheduler._
  @volatile var timed = false
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (timed) { starts.put(e.jobId, e.time); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
  })

  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (starts.keySet.asScala.exists(!ends.containsKey(_)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** (start, end) epoch ms per job, in job order. */
  def spans: Seq[Seq[Long]] = starts.asScala.toSeq.sortBy(_._1).flatMap { case (j, t) =>
    Option(ends.get(j)).map(e => Seq(t, e.longValue))
  }
}

/** Process-level readings: peak RSS and the tmpfs/temp space the program's
  * own scratch directories hold (`graft_*` directories other than the
  * session's local dir, which shuffle cleanup empties on its own schedule).
  */
object Scratch {
  private val roots = Seq(Paths.get("/dev/shm"), Paths.get(sys.props("java.io.tmpdir")))

  def heldBytes(): Long = roots.distinct.filter(Files.isDirectory(_)).flatMap { r =>
    Option(r.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && !f.getName.startsWith("graft_local_bench"))
  }.map(size).sum

  private def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
    else f.length()

  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  def statusKb(key: String): Long =
    field("/proc/self/status", key + ":", 1)

  /** Ticks of CPU time the hypervisor took from this machine since boot,
    * summed over its CPUs (`/proc/stat`). */
  def stealTicks(): Long = field("/proc/stat", "cpu ", 8)

  /** Processes started on the whole machine since boot (`/proc/stat`). */
  def forks(): Long = field("/proc/stat", "processes ", 1)

  private def field(path: String, prefix: String, i: Int): Long =
    Files.readAllLines(Paths.get(path)).asScala.find(_.startsWith(prefix))
      .flatMap(_.trim.split("\\s+").lift(i)).map(_.toLong).getOrElse(0L)
}

/** A minimal JSON writer for the harness's result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(p: Path, v: Any): Unit = Files.writeString(p, render(v) + "\n")
}
