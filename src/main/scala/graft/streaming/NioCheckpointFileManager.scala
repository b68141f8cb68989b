package graft.streaming

import graft.etl.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager of every `graft.ops.StreamingQueries` run:
  * offset and commit logs, the stream metadata and the state store's
  * delta and snapshot files all go through it.
  *
  * Spark's default manager writes through `FileContext`, whose local file
  * system forks a shell `chmod` for each file it creates when `libhadoop`
  * is absent, and writes a `.crc` sidecar next to each. This one is a
  * `FileSystem`-based manager over a copy of the query's Hadoop conf that
  * carries [[NioLocalFileSystem.writeOptions]], so `file:` checkpoints
  * are written raw: no sidecars and no processes. Other schemes keep
  * their own file system.
  *
  * Spark builds it reflectively from `(Path, Configuration)` when the
  * session conf names it (see [[NioCheckpointFileManager.conf]]).
  */
class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, NioCheckpointFileManager.raw(conf))

object NioCheckpointFileManager {

  /** The session setting that routes a stream's checkpoint through this class. */
  val conf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[NioCheckpointFileManager].getName

  private def raw(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    NioLocalFileSystem.writeOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
