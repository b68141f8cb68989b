package graft.etl

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Caliper JSON sink (`ItemEvents.writeJson`, README S3/S4) and the
  * fork-free [[NioLocalFileSystem]] it writes through: the same POSIX
  * modes as the stock local FS, one document per attempt directory, the
  * sticky-bit fallback, and the overwrite of an existing output.
  */
class JsonSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val grouped = ItemEvents.groupedByAttempt(
    ItemEvents.events(ItemEvents.read(spark, TestSpark.resource("items.csv"))))

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1ff

  private def tree(root: JPath): Seq[JPath] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq finally walk.close()
  }

  private def names(dir: JPath): Seq[String] = {
    val list = Files.list(dir)
    try list.iterator().asScala.map(_.getFileName.toString).toSeq finally list.close()
  }

  /** Relative path → mode, part-file names (a random job UUID) folded to
    * `part-*`, `.crc` sidecars left out.
    */
  private def modes(root: JPath): Map[String, Int] =
    tree(root).filterNot(_.getFileName.toString.endsWith(".crc")).map { p =>
      val rel = root.relativize(p).toString.replaceAll("part-[^/]*$", "part-*")
      rel -> mode(p)
    }.toMap

  /** The sink's partitioned text write, on the stock local FS unless `opts` reroutes it. */
  private def textWrite(df: DataFrame, out: String, opts: Map[String, String]): Unit =
    df.select(col("attempt_id"), concat_ws(",", col("events")).as("value"))
      .write.options(opts).mode("overwrite").partitionBy("attempt_id").text(out)

  test("files and directories get the stock local FS's POSIX modes under the same umask") {
    val root = tempDir("sink-modes")
    try {
      // the session's umask: ItemEvents' sink vs the cached stock LocalFileSystem
      ItemEvents.writeJson(grouped, s"$root/nio")
      textWrite(grouped, s"$root/stock", Map.empty)
      val nio = modes(root.resolve("nio"))
      assert(nio.keySet === Set("", "_SUCCESS", "attempt_id=attempt-02",
        "attempt_id=attempt-02/part-*", "attempt_id=attempt-03", "attempt_id=attempt-03/part-*"))
      assert(nio === modes(root.resolve("stock")))
      // a non-default umask reaches both through the write's Hadoop conf
      val umask = Map("fs.file.impl.disable.cache" -> "true", "fs.permissions.umask-mode" -> "027")
      textWrite(grouped, s"$root/nio027", NioLocalFileSystem.writeOptions ++ umask)
      textWrite(grouped, s"$root/stock027", umask)
      val nio027 = modes(root.resolve("nio027"))
      assert(nio027 === modes(root.resolve("stock027")))
      assert(nio027("attempt_id=attempt-02/part-*") === Integer.parseInt("640", 8))
    } finally TestSpark.deleteRecursively(root.toString)
  }

  test("every attempt directory holds exactly one part file and no .crc; _SUCCESS exists") {
    val out = tempDir("sink-layout")
    try {
      AssessmentEvents.run(spark, TestSpark.resource("assessments.csv"), out.toString)
      val attempts = names(out).filter(_.startsWith("attempt_id="))
      assert(attempts.size === 2)
      attempts.foreach { d =>
        val files = names(out.resolve(d))
        assert(files.size === 1 && files.head.startsWith("part-"), s"$d holds $files")
      }
      assert(Files.exists(out.resolve("_SUCCESS")))
      assert(!tree(out).exists(_.getFileName.toString.endsWith(".crc")))
    } finally TestSpark.deleteRecursively(out.toString)
  }

  test("setPermission: plain modes go through NIO, a sticky bit through the stock fallback") {
    val dir = tempDir("sink-sticky")
    try {
      val fs = new NioLocalFileSystem
      fs.initialize(URI.create("file:///"), new Configuration())
      def set(octal: String): Int = {
        fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
        Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff
      }
      assert(set("705") === Integer.parseInt("705", 8))
      assert(set("1750") === Integer.parseInt("1750", 8))
    } finally TestSpark.deleteRecursively(dir.toString)
  }

  test("a second run into the same directory leaves only its own attempts (S3 overwrite)") {
    val root = tempDir("sink-overwrite")
    try {
      val second = root.resolve("items2.csv")
      val fixture = Files.readAllLines(JPath.of(TestSpark.resource("items.csv"))).asScala
      Files.write(second, Seq(fixture.head,
        "stu-09,login-09,school-02,assessment-09,1.0,attempt-09,item-09,1,5,TRUEFALSE,20,10,6,History,2.1,1"
      ).asJava)
      val out = root.resolve("out")
      ItemEvents.run(spark, TestSpark.resource("items.csv"), out.toString)
      assert(Files.isDirectory(out.resolve("attempt_id=attempt-02")))
      ItemEvents.run(spark, second.toString, out.toString)
      assert(names(out).toSet === Set("attempt_id=attempt-09", "_SUCCESS"))
      val doc = spark.read.text(s"$out/attempt_id=attempt-09").head().getString(0)
      assert(doc.contains("\"actor\":{\"id\":\"stu-09\"}"))
    } finally TestSpark.deleteRecursively(root.toString)
  }
}
