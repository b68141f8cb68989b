package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites run in a
  * single forked JVM; building a session per suite costs ~5s each), on
  * the Bench/Verify recipe at 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = HarnessConf.session(4, "graft_local_test")

  val sf0001 = "/root/testdata/sf0.001"

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** Recursive delete for spec temp dirs; closes the walk stream. */
  def deleteRecursively(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
