package graft.ops

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place in `graft` that makes scratch directories, stages a
  * dataset's derived copy once per JVM, and lays out stream input files.
  *
  *  - [[dir]]: a fresh `graft_*` directory, deleted at JVM
  *    exit (or earlier by [[drop]]). Checkpoints, staged inputs, drained
  *    sinks and the session's `spark.local.dir` all come from here.
  *  - [[once]]: a JVM-wide memo of staged copies, keyed by (tag, dataset).
  *  - [[Arrivals]]: a directory of stream input files whose modification
  *    times fix the micro-batch order, and the stream that reads it.
  *
  * Scratch goes to tmpfs when the platform has one: the state store
  * fsyncs one delta file per partition per operator per micro-batch, and
  * on a disk-backed temp dir that fixed IO dominates the whole gate at
  * bench scale. A production deployment points `checkpointLocation` at
  * durable shared storage instead — this is gate/bench scratch, not the
  * durability path.
  */
private[graft] object Scratch {

  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  // deleteOnExit cannot remove non-empty dirs and the state store writes
  // nested offsets/commits/state subtrees after dir creation — a recursive
  // shutdown hook is the only way the tmpfs scratch actually gets freed.
  private lazy val cleanup: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => roots.forEach(rm)))
    ()
  }

  /** Recursive delete (a missing path is a no-op). */
  def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Free one scratch dir now rather than at JVM exit. */
  def drop(path: String): Unit = {
    val f = new File(path)
    rm(f)
    roots.remove(f); ()
  }

  private def register(p: Path): String = {
    cleanup
    roots.add(p.toFile)
    p.toString
  }

  // tmpfs scratch competes with the JVM heap for physical RAM: guard on
  // free space so a large staged copy degrades to disk tmp instead of
  // failing with ENOSPC/OOM-kill mid-query. 4 GiB headroom covers the
  // largest staged side-copy at the gate/bench scale with margin.
  private val shmMinFreeBytes = 4L * 1024 * 1024 * 1024

  // log the chosen scratch root class once per JVM — dir's silent
  // fallback to disk tmp changes what the bench measures across machines,
  // so the run output must record which one this run actually used.
  private val loggedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A fresh scratch dir named `prefix…`, on tmpfs when it has room. */
  def dir(prefix: String): String = {
    val shm = Paths.get("/dev/shm")
    val shmOk = Files.isDirectory(shm) && Files.isWritable(shm) &&
      shm.toFile.getUsableSpace >= shmMinFreeBytes
    val p =
      if (shmOk) Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    val rootClass = if (shmOk) "tmpfs:/dev/shm" else "disk:" + sys.props("java.io.tmpdir")
    if (loggedRoots.add(rootClass))
      System.err.println(s"[graft] scratch root: $rootClass " +
        s"(usable ${p.getParent.toFile.getUsableSpace / (1024 * 1024)} MiB)")
    register(p)
  }

  private val staged = scala.collection.concurrent.TrieMap.empty[(String, String), Any]

  /** The staged copy of `dataset` for `tag`, built once per JVM:
    * `build` gets a fresh `graft_<tag>` dir and returns what the callers
    * need (the dir itself, or the dir plus measured facts). Sessions
    * share it — a staged copy is plain files. A failed build leaves no
    * entry and no dir, so the next call builds again.
    */
  def once[V](tag: String, dataset: String)(build: String => V): V =
    staged.getOrElseUpdate((tag, dataset), {
      val out = dir(s"graft_$tag")
      try build(out)
      catch { case e: Throwable => drop(out); throw e }
    }).asInstanceOf[V]

  /** Stream input files in `dir`, one file per micro-batch. The file
    * source ([[Arrivals.read]]) takes files in modification-time
    * order, so each added file gets t0 + n·60 s, n counting adds:
    * STRICTLY increasing, because the source breaks equal-modtime ties
    * by local-FS readdir order, which follows creation order, i.e. task
    * completion order — nondeterministic (observed once in a w15 run:
    * the newer half scheduled first, its watermark ran ahead, and the
    * older half's rows arrived late).
    */
  final class Arrivals(val dir: String) {
    private val t0 = System.currentTimeMillis()
    private var n = 0

    /** Writes `df` as exactly one parquet file `dir/name`; its temp
      * write dir (with `_SUCCESS` and the `.crc` sidecar) is dropped.
      */
    def add(name: String, df: DataFrame): Unit = {
      val tmp = Scratch.dir("graft_arrival")
      try {
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        val parts = Option(new File(tmp).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"staging $name: expected 1 part file, found ${parts.length}")
        arrived(Files.move(parts(0).toPath, Paths.get(dir, name)))
      } finally drop(tmp)
    }

    /** Copies an already staged file in, under its own name. */
    def add(file: File): Unit =
      arrived(Files.copy(file.toPath, Paths.get(dir, file.getName)))

    private def arrived(p: Path): Unit = synchronized {
      require(p.toFile.setLastModified(t0 + n * 60000L), s"cannot set the modtime of $p")
      n += 1
    }
  }

  object Arrivals {

    /** The file stream over an arrivals `dir`: one file per micro-batch,
      * in arrival order, with the schema read from the staged files (a
      * file stream needs one up front).
      */
    def read(spark: SparkSession, dir: String): DataFrame =
      spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** The parquet files of an [[Arrivals]] dir, in arrival order. */
  def arrivals(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(f => (f.lastModified, f.getName))
}
