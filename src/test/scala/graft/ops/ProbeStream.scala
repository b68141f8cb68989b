package graft.ops

import graft.HarnessConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Per-micro-batch executed-plan capture + timing for the w22–w25
  * incremental streams. Not a test — a perf dissection main (round 15):
  * times the static artifact build and the stream separately, then
  * prints the LAST micro-batch's executed physical plan, which is where
  * a per-batch re-Exchange/re-Sort of a pinned static side shows up
  * (batch explain cannot see it; the streaming plan is only planned per
  * micro-batch).
  *
  * Usage: GRAFT_PROBE_STREAM=w25 SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "Test/runMain graft.ops.ProbeStream"
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val spark = HarnessConf.session(HarnessConf.cpus, "graft_local_probe")
    val sf = HarnessConf.sfDir
    val which = sys.env.getOrElse("GRAFT_PROBE_STREAM", "w25")

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    // 1. static artifacts, timed apart so the stream number is the stream
    time(s"$which static artifacts") {
      which match {
        case "w22" =>
          Dedup.bandIndex(spark, sf).count()
          Dedup.shingledDocs(spark, sf).count()
        case "w23" =>
          Similarity.annIndex(spark, sf).count()
          Dedup.normedVectors(spark, sf).count()
        case "w24" =>
          Graph.standingAdj(spark, sf).count()
          Graph.standingDeg(spark, sf).count()
        case "w25" =>
          Multimodal.payloadSigIndex(spark, sf).count()
        case _ => ()
      }
    }

    def streamFrame(): DataFrame = which match {
      case "w22" => StreamingQueries.w22Stream(spark, sf)
      case "w23" => StreamingQueries.w23Stream(spark, sf)
      case "w24" => StreamingQueries.w24Stream(spark, sf)
      case "w25" => StreamingQueries.w25Stream(spark, sf)
      case other => sys.error(s"unknown stream $other")
    }

    // 2. the stream alone, with a noop micro-batch sink (guide §1.4) —
    // captures the full streaming-plan cost without the rollup, and
    // leaves the query handle for the executed-plan dump
    val q = time(s"$which stream (noop sink)") {
      val qq = streamFrame().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format("noop").mode("overwrite").save(); ()
        }
        .option("checkpointLocation",
          Scratch.dir("graft_ckpt_probe"))
        .trigger(Trigger.AvailableNow())
        .start()
      qq.awaitTermination()
      qq
    }

    // batch-mode dissection of ONE w25 micro-batch's work (the staged
    // half-file read as a batch frame): times each stage separately
    if (sys.env.get("GRAFT_PROBE_DISSECT").contains("1") && which == "w25") {
      import org.apache.spark.sql.DataFrame
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val staged = StreamingQueries.docsPath(spark, sf)
      val half = spark.read.parquet(staged + "/part-0.parquet")
        .filter(length(col("text")) > 0)
      time("dissect: staged half scan") { noop(half) }
      val art = Multimodal.signArtifactRow(spark, sf).withColumn("k", lit(1))
      val s = half
        .withColumn("hist",
          graft.functions.GraftExpressions.byteHistArr(col("text").cast("binary")))
        .withColumn("n_doc", aggregate(col("hist"), lit(0L), (a, h) => a + h))
        .withColumn("k", lit(1))
        .join(art, "k")
        .withColumn("sig",
          Multimodal.sigOfExpr(col("hist"), col("n_doc"), col("art")))
        .select(col("doc_id"), col("sig"))
      time("dissect: sign half (noop)") { noop(s) }
      val sp = s.persist()
      time("dissect: sign half (persist)") { sp.count() }
      val grp = Multimodal.payloadSigGroups(spark, sf)
      val idx0 = broadcast(grp.select(col("sig_b"), col("cnt"),
        col("min_doc"), (col("sig_b") % 256).as("band2")))
      val idx1 = broadcast(grp.select(col("sig_b"), col("cnt"),
        col("min_doc"), expr("sig_b div 256").as("band2")))
      val ham = bit_count(expr("sig ^ sig_b")).cast("bigint")
      val b0 = sp.join(idx0, col("sig") % 256 === col("band2"), "left_outer")
        .select(col("doc_id"), col("sig"), col("cnt"), col("min_doc"),
          when(col("sig_b").isNotNull, ham).as("hamming"))
      val c0 = time("dissect: b0 join count") { b0.count() }
      println(s"dissect: b0 rows = $c0")
      val b1 = sp.join(idx1,
          expr("sig div 256") === col("band2") &&
            (col("sig") % 256 =!= col("sig_b") % 256))
        .select(col("doc_id"), col("sig"), col("cnt"), col("min_doc"),
          ham.as("hamming"))
      val c1 = time("dissect: b1 join count") { b1.count() }
      println(s"dissect: b1 rows = $c1")
      time("dissect: b0+b1 noop") { noop(b0.union(b1)) }
      sp.unpersist()
    }

    println(s"=== $which PER-BATCH PROGRESS ===")
    q.recentProgress.foreach { p =>
      println(s"batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs}")
    }

    // 3. the real registered query end-to-end (artifacts warm)
    if (!sys.env.get("GRAFT_PROBE_SKIP_FULL").contains("1")) {
      val reg = StreamingQueries.all.find(_.name.startsWith(which)).get
      time(s"$which full query (warm)") { reg.run(spark, sf).count() }
    }

    println(s"=== $which LAST MICRO-BATCH EXECUTED PLAN ===")
    q.explain()
    spark.stop()
  }
}
