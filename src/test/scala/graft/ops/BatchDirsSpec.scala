package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[StreamingQueries.BatchDirs]], the one per-batch-directory
  * `foreachBatch` sink: `all` reads every batch's rows, `latest` the
  * newest batch's, a merging sink hands each batch the newest EARLIER
  * batch's dir, and a replayed batch id rewrites its own dir, so its rows
  * are read once.
  */
class BatchDirsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ids(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).toDF("k")

  private def keys(df: DataFrame): Seq[Long] =
    df.select(col("k")).collect().map(_.getLong(0)).toSeq.sorted

  private def withRoot(body: String => Unit): Unit = {
    val root = Scratch.dir("graft_batch_dirs_spec")
    try body(root) finally Scratch.drop(root)
  }

  test("all reads every batch; latest reads the newest batch") {
    withRoot { root =>
      val dirs = StreamingQueries.BatchDirs(root)(_.withColumn("k", col("k") * 10))
      dirs.write(ids(0, 3), 0)
      dirs.write(ids(3, 5), 1)
      assert(keys(dirs.all(spark, "spec")) === Seq(0L, 10L, 20L, 30L, 40L))
      assert(keys(dirs.latest(spark, "spec")) === Seq(30L, 40L))
    }
  }

  test("a replayed batch id is read once, with the replay's rows") {
    withRoot { root =>
      val dirs = StreamingQueries.BatchDirs(root)(identity)
      dirs.write(ids(0, 3), 0)
      dirs.write(ids(3, 5), 1)
      dirs.write(ids(3, 6), 1) // at-least-once: batch 1 runs again
      assert(keys(dirs.all(spark, "spec")) === Seq(0L, 1L, 2L, 3L, 4L, 5L))
      assert(keys(dirs.latest(spark, "spec")) === Seq(3L, 4L, 5L))
    }
  }

  test("merging: each batch merges into the newest earlier batch, also on replay") {
    withRoot { root =>
      val seen = scala.collection.mutable.ArrayBuffer.empty[Option[Seq[Long]]]
      val dirs = StreamingQueries.BatchDirs.merging(root) { (prev, batch) =>
        seen += prev.map(keys)
        prev.fold(batch)(_.union(batch))
      }
      dirs.write(ids(0, 2), 0)
      dirs.write(ids(2, 4), 1)
      dirs.write(ids(2, 4), 1) // replay: merges into batch 0 again, not into itself
      assert(seen.toSeq === Seq(None, Some(Seq(0L, 1L)), Some(Seq(0L, 1L))))
      assert(keys(dirs.latest(spark, "spec")) === Seq(0L, 1L, 2L, 3L))
    }
  }

  test("reading a sink that saw no batch fails with the query name") {
    withRoot { root =>
      val e = intercept[IllegalArgumentException](
        StreamingQueries.BatchDirs(root)(identity).all(spark, "w_spec"))
      assert(e.getMessage.contains("w_spec: no micro-batch ran"))
    }
  }
}
