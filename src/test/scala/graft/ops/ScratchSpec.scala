package graft.ops

import java.io.File

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]], the staging module: stream arrivals are one parquet file
  * per add whose modification times follow the add order (the file
  * source's micro-batch order), a staged frame leaves no temp write dir
  * behind, and [[Scratch.once]] builds a staged copy once per (tag,
  * dataset) across sessions.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `graft_arrival*` dirs under the scratch roots */
  private def arrivalTemps(): Set[String] =
    Seq("/dev/shm", sys.props("java.io.tmpdir")).distinct.flatMap { r =>
      Option(new File(r).listFiles()).toSeq.flatten
        .map(_.getPath).filter(p => new File(p).getName.startsWith("graft_arrival"))
    }.toSet

  private def names(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName).toSet

  test("Arrivals: one parquet file per add, named as given, modtimes strictly increasing in add order") {
    val src = new Scratch.Arrivals(Scratch.dir("graft_spec_src"))
    src.add("part-0.parquet", spark.range(0, 10).toDF("k"))
    val arr = new Scratch.Arrivals(Scratch.dir("graft_spec_arrivals"))
    // names sort against the add order, so only the modtimes can order them
    arr.add("zz-first.parquet", spark.range(0, 100).toDF("k"))
    arr.add("aa-second.parquet", spark.range(100, 150).toDF("k"))
    arr.add(new File(src.dir, "part-0.parquet"))
    assert(names(arr.dir) === Set("zz-first.parquet", "aa-second.parquet", "part-0.parquet"),
      "arrivals must hold exactly the added files: no _SUCCESS, .crc or part-* leftovers")
    val order = Scratch.arrivals(arr.dir)
    assert(order.map(_.getName) === Seq("zz-first.parquet", "aa-second.parquet", "part-0.parquet"))
    val times = order.map(_.lastModified)
    assert(times.zip(times.tail).forall { case (a, b) => a < b },
      s"modtimes not strictly increasing in add order: $times")
    assert(spark.read.parquet(s"${arr.dir}/zz-first.parquet").count() === 100)
    assert(spark.read.parquet(s"${arr.dir}/part-0.parquet").count() === 10)
  }

  test("Arrivals: a multi-partition frame stages as one file with every row") {
    val arr = new Scratch.Arrivals(Scratch.dir("graft_spec_multi"))
    val df = spark.range(0, 1000, 1, 8).select((col("id") % 7).as("k"), col("id"))
    assert(df.rdd.getNumPartitions === 8)
    arr.add("part-0.parquet", df)
    assert(names(arr.dir) === Set("part-0.parquet"))
    val back = spark.read.parquet(s"${arr.dir}/part-0.parquet")
    assert(back.inputFiles.length === 1)
    assert(back.agg(count(lit(1)), sum(col("id"))).head.toSeq === Seq(1000L, 499500L))
  }

  test("Arrivals: no temp write dir is left behind, also when the write fails") {
    val before = arrivalTemps()
    val arr = new Scratch.Arrivals(Scratch.dir("graft_spec_temps"))
    arr.add("part-0.parquet", spark.range(0, 20).toDF("k"))
    assert(arrivalTemps() -- before === Set.empty, "a staged frame left its write dir")
    val failing = spark.range(0, 5)
      .select(raise_error(lit("staging spec: boom")).cast("long").as("k"))
    intercept[Exception](arr.add("part-1.parquet", failing))
    assert(arrivalTemps() -- before === Set.empty, "a failed staging left its write dir")
    assert(names(arr.dir) === Set("part-0.parquet"))
  }

  test("once: builds once per (tag, dataset), across sessions, and anew for another tag or dataset") {
    val ds = s"spec-dataset-${System.nanoTime}"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def stage(tag: String, dataset: String, session: org.apache.spark.sql.SparkSession): String =
      Scratch.once(tag, dataset) { out =>
        builds.incrementAndGet()
        session.range(0, 3).write.mode("overwrite").parquet(out)
        out
      }
    val first = stage("spec_once", ds, spark)
    assert(new File(first).getName.startsWith("graft_spec_once"))
    assert(stage("spec_once", ds, spark) === first)
    assert(stage("spec_once", ds, spark.newSession()) === first, "a second session rebuilt the stage")
    assert(builds.get === 1)
    assert(spark.newSession().read.parquet(first).count() === 3)
    val otherTag = stage("spec_once_b", ds, spark)
    val otherDataset = stage("spec_once", ds + "-b", spark)
    assert(builds.get === 3)
    assert(Set(first, otherTag, otherDataset).size === 3)
  }

  test("once: a failed build drops its dir and leaves no entry") {
    val ds = s"spec-failing-${System.nanoTime}"
    var dirOfFailure = ""
    intercept[IllegalStateException] {
      Scratch.once[String]("spec_fail", ds) { out =>
        dirOfFailure = out
        throw new IllegalStateException("build failed")
      }
    }
    assert(dirOfFailure.nonEmpty && !new File(dirOfFailure).exists)
    assert(Scratch.once("spec_fail", ds)(out => out) !== dirOfFailure)
  }
}
