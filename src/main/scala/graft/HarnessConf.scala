package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe and the one registry of environment knobs.
  * Every env read in `src/main` lives here with its rationale; a
  * standard run sets at most the SF dir and the core count, and every
  * other knob defaults to the measured configuration.
  */
object HarnessConf {
  /** SPARK_GRAFT_SF_DIR: the scale-factor directory Bench times
    * (default sf0.1, the bench scale of TESTDATA.md).
    */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** SPARK_GRAFT_CPUS: the `local[n]` core count of the Bench and Verify
    * sessions, and their shuffle partition count (default 4).
    */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the one-partition-per-core
    * default. At soak scales (sf100: billion-row shuffles) partitions
    * must be sized to the target SF to fit in memory; AQE coalescing
    * folds the excess away on small queries.
    */
  val shufflePartitions: Option[String] = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")

  /** SPARK_GRAFT_BENCH_ONLY=<comma-separated names> makes Bench time only
    * those registry queries (dev subset; unset = the full registry).
    */
  val benchOnly: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** SPARK_GRAFT_BENCH_TRACE=1 prints a per-query start/failure trace on
    * stderr during Bench.
    */
  val benchTrace: Boolean = sys.env.get("SPARK_GRAFT_BENCH_TRACE").contains("1")

  /** SPARK_GRAFT_BENCH_OUT: where Bench writes its full record line
    * (default `bench_out.json` in the working directory, resolved to an
    * absolute path so a different launcher cwd still lands it somewhere
    * findable).
    */
  val benchOut: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
    java.nio.file.Paths.get(sys.props("user.dir"), "bench_out.json").toString)

  /** GRAFT_STREAM_PARTITIONS (default 4) caps `spark.sql.shuffle.partitions`
    * while a `graft.ops.StreamingQueries` stream runs: the state store
    * writes one file per shuffle partition per stateful operator per
    * micro-batch, so at gate/bench scale that fixed IO, not the data,
    * sets a stream's time. Sessions with fewer partitions keep theirs.
    */
  val streamPartitions: Int = sys.env.getOrElse("GRAFT_STREAM_PARTITIONS", "4").toInt

  /** The session recipe as a conf map: `local[cpus]`, one shuffle
    * partition per core, UTC. Pure, so a spec pins it. `localDir` is the
    * tmpfs scratch root.
    *
    * `spark.local.dir` precedence: a `SPARK_LOCAL_DIRS` environment
    * variable overrides it (Spark's `Utils.getConfiguredLocalDirs`, as
    * of spark-core 4.1.2), so under one `localDir` is ignored.
    */
  def sessionConf(cpus: Int, localDir: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(cpus.toString),
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is parquet TIMESTAMP(NANOS); see Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // keep AQE (coalescing, skew splits) but disable RUNTIME demotion
    // of shuffle joins to broadcast: demotion cancels the in-flight map
    // stage, cancelled tasks are not reliably interruptible, and the
    // abandoned work degrades every later query (measured 5-10×,
    // intermittent). Every small-dim join in the registry already
    // broadcasts EXPLICITLY at plan time, so demotion had nothing left
    // to win here.
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    // shuffle files + sort spills on tmpfs: the bench box is a shared
    // VM whose disk stalls under co-tenant writeback throttling
    // (observed: write/shuffle-heavy queries intermittently 5-10×
    // while CPU calibration stays clean); RAM-backed local dirs take
    // host disk out of the measurement. A real cluster points this at
    // executor-local NVMe.
    "spark.local.dir" -> localDir,
    // single-use localCheckpoint pins (d12 windows, t14 bigrams…)
    // become garbage the moment their query's count() ends, but
    // ContextCleaner only reaps them after a DRIVER GC — and the
    // default periodic GC (30 min) never fires inside one session. A
    // 45s periodic GC keeps dead pins reaped at negligible cost
    // (measured at sf10: m4 164.7s → 61.8s).
    "spark.cleaner.periodicGC.interval" -> "45s"
  )

  /** A new session on [[sessionConf]]. Clears the active and default
    * sessions first, so `getOrCreate` cannot hand back an earlier one.
    * The scratch dirs are named by `scratchTag` and deleted at JVM exit.
    */
  def session(cpus: Int, scratchTag: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .config(sessionConf(cpus, ops.Scratch.dir(scratchTag)))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // when AQE cancels a superseded stage (runtime join replan), actually
    // interrupt its tasks — otherwise an abandoned aggregate keeps burning
    // cores as a zombie and every later query's time is noise.
    // Thread-locality note: this local property covers jobs submitted from
    // THIS thread only. The streaming (w*) queries' micro-batch jobs run on
    // StreamExecution threads, which are covered independently —
    // StreamExecution.runStream sets its own job group with
    // interruptOnCancel=true (verified in spark-sql 4.1.2 bytecode:
    // iconst_1 before the SparkContext.setJobGroup(String,String,Z) call in
    // o.a.s.sql.execution.streaming.runtime.StreamExecution).
    spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", "true")
    spark
  }

  /** Runs `body` with each session conf `key -> value` set, then puts the
    * session's own setting of every key back (unset where it had none),
    * also when `body` throws.
    */
  def withConf[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
