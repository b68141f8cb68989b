package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** One bench session — the HarnessConf recipe, as in Verify, plus a
    * warm-up. Rebuilt PER FAMILY CHUNK (round 11): the session-inflation
    * class (m4 r8, dp19 r9, w23/s14 r10 — a query slow in the full run
    * but fast solo, from storage-pool pressure of LIVE
    * session-cached artifacts accumulated by earlier families) is killed
    * structurally by giving each query family a fresh session, so every
    * in-record number IS the solo-session number and no solo replay
    * adjudication is needed. Restart cost sits OUTSIDE the per-query
    * timers (the metric is the sum of query seconds, not process wall
    * clock). The few cross-family artifact consumers (p14/p15 read the
    * d-family cluster table) now rebuild those artifacts inside their
    * own chunk — which is exactly what a solo run of that family pays,
    * so in-session and solo numbers agree by construction.
    */
  private def buildSession(sfDir: String, cpus: Int): SparkSession = {
    val spark = HarnessConf.session(cpus, "graft_local_bench")
    // warm up the executor pool + parquet reader so the chunk's first
    // measured query doesn't absorb session-start cost (codegen caches
    // are JVM-global, so later sessions warm in well under a second)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => () }
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = HarnessConf.sfDir
    val cpus = HarnessConf.cpus
    var spark = buildSession(sfDir, cpus)
    // metric is wall-clock over .count() per the driver's BASELINE.md
    // definition; note count() lets Catalyst prune final projections of
    // map-shaped queries — full-result execution is exercised by Verify,
    // which writes every query's complete output
    // fixed-work machine-speed sanity probes, reported alongside the
    // query times: cross-round comparisons are only meaningful scaled by
    // these (the bench box is a shared VM — host contention between
    // rounds shows up here as a uniform shift, distinct from a real
    // engine regression)
    val calT0 = System.nanoTime()
    spark.range(3000000000L).selectExpr("sum(id % 1000)").collect()
    val calPar = (System.nanoTime() - calT0) / 1e9
    val calS0 = System.nanoTime()
    var calAcc = 0L; var calI = 0L
    while (calI < 300000000L) { calAcc += calI * 31; calI += 1 }
    val calSingle =
      if (calAcc != 0L) (System.nanoTime() - calS0) / 1e9 else -1.0
    // per-query storage-pool sample, taken right AFTER the query's
    // count() returns: cached bytes actually resident (getRDDStorageInfo
    // filters to blocks with storage) plus the count of LIVE pinned RDDs
    // (registered localCheckpoints/persists not yet reaped by
    // ContextCleaner). With per-family sessions this now reads the
    // FAMILY's own pool only — pressure in the record is pressure the
    // family itself created.
    def storageSample(): (Double, Int) = {
      val mem = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      val pins = spark.sparkContext.getPersistentRDDs.size
      (mem, pins)
    }
    // family = the query-name prefix before the first digit (c, d, dp, e,
    // g, m, p, q, s, t, w); the sorted name order groups each family
    // contiguously, so chunking preserves the historical execution order
    def family(name: String): String = name.takeWhile(!_.isDigit)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => HarnessConf.benchOnly.forall(_.contains(name)) }
    val chunkFamilies = scala.collection.mutable.ListBuffer.empty[String]
    val triples = sorted.zipWithIndex.map { case ((name, fn), i) =>
      val f = family(name)
      if (chunkFamilies.lastOption.contains(f)) ()
      else {
        // chunk boundary: a fresh session per family (see buildSession)
        if (i > 0) { spark.stop(); spark = buildSession(sfDir, cpus) }
        chunkFamilies += f
      }
      if (HarnessConf.benchTrace)
        System.err.println(s"[bench] ${System.currentTimeMillis()} start $name")
      val t0 = System.nanoTime()
      // record failures explicitly: a thrown count() used to leave an
      // indistinguishable wall-clock number in the record (at sf100 a
      // driver-maxResultSize abort looked like a normal 42s query) —
      // failed queries now land in the record's "errors" list
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 if (HarnessConf.benchTrace) System.err.println(
                   s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
                 false }
      val sec = (System.nanoTime() - t0) / 1e9
      val (poolMb, pins) = storageSample()
      // ATTRIBUTION rows (round 15, additive only): the incremental-apply
      // queries share session-pinned standing artifacts (band/ANN/sig
      // indexes, the mutual-edge mine), and alphabetical order makes ONE
      // family member pay the whole build (w24's sf0.1 row was 28.9s
      // artifact build + 2.5s of query). A second, warm-artifact run of
      // just those queries is timed into the separate "queries_warm" map —
      // "value"/"queries" semantics are UNCHANGED (warm seconds are never
      // added to any total), so records stay comparable across rounds.
      val warmSec =
        if (ok && Bench.warmAttributed(name)) {
          val t1 = System.nanoTime()
          try { fn(spark, sfDir).count()
                Some((System.nanoTime() - t1) / 1e9) }
          catch { case _: Throwable => None }
        } else None
      (name, sec, (poolMb, pins), ok, warmSec)
    }
    val results = triples.map { case (n, s, _, _, _) => n -> s }.toMap
    val storage = triples.map { case (n, _, sp, _, _) => n -> sp }.toMap
    val failed = triples.collect { case (n, _, _, false, _) => n }.sorted
    val warm = triples.collect { case (n, _, _, _, Some(w)) => n -> w }.toMap
    // re-run the parallel probe AFTER the query loop: contention that
    // arrives mid-run is invisible to the start-of-run sample, so the
    // pair brackets the run (matching values = clean run; a higher end
    // value = totals are contention-inflated)
    val calT1 = System.nanoTime()
    spark.range(3000000000L).selectExpr("sum(id % 1000)").collect()
    val calParEnd = (System.nanoTime() - calT1) / 1e9
    val (full, compact) = renderRecords(results, failed, storage,
      chunkFamilies.toSeq, calSingle, calPar, calParEnd, sfDir, warm)
    // the full map to a bare file (see HarnessConf.benchOut)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(HarnessConf.benchOut), full + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    // stdout LAST, after spark.stop(), so no late WARN line splits it;
    // the driver keeps only the final ~2000 chars of output, so the full
    // 210-query map gets truncated mid-line — print the full line first
    // for humans, then a compact line (full-run totals, top-20 query
    // breakdown) as the very last output so at least one complete
    // parseable JSON line sits inside the tail window.
    println(full)
    println(compact)
  }

  /** The artifact-consuming queries that get a second, warm-artifact
    * timed run into "queries_warm" (additive attribution — see the
    * triples loop). Membership = every query whose first run builds or
    * shares a session-pinned standing artifact that alphabetically
    * earlier family members have NOT already built.
    */
  private[graft] val warmAttributed: Set[String] = Set(
    "d13_incremental_minhash", "d14_retire_reprobe",
    "s21_incremental_ann_apply", "g11_incremental_edges",
    "m16_incremental_payloads", "e18_maintenance_dag",
    "w22_stream_incremental_dedup", "w23_stream_incremental_ann",
    "w24_stream_incremental_edges", "w25_stream_incremental_payloads")

  /** Render the (full, compact) record lines. Pure — unit-tested by
    * BenchRecordSpec. BOTH lines carry totals computed from the FULL
    * results map; the compact line differs only in its per-query
    * breakdown (top-20 by time) and in omitting storage snapshots.
    * Round-12 regression (VERDICT r12 item 1): the renderer used to sum
    * the map it was GIVEN, so the compact line — the only complete JSON
    * line inside the driver's 2000-char tail window — reported the
    * top-20 sum (107.2s) as the 210-query total (really 265.5s).
    *
    * Headline totals count SUCCESSFUL queries only — a failed query's
    * elapsed time (often a multi-minute abort) would skew comparisons
    * between runs with different error sets; its wall time stays visible
    * per-query and in failed_sec, and n_failed makes the denominator
    * asymmetry explicit (ADVICE r12).
    *
    * Host-noise normalization: the bench box is a shared VM, and the
    * recorded back-to-back evidence (176.7s vs 124.6s identical runs,
    * start calibrations 0.975 vs 0.541 — SURVEY §7.8) means a single
    * contended run can false-fail a 2× wall-clock gate. The calibration
    * probes measure fixed work, so host contention is a multiplier on
    * them too: value_normalized = value × (CAL_REF / cal_measured),
    * where cal_measured is the mean of the start/end parallel brackets
    * (contention arriving mid-run is visible in the end bracket) and
    * CAL_REF is the clean-host parallel calibration recorded in round 5.
    * The raw value stays authoritative; the normalized one is what
    * cross-round comparisons should read (README "Benchmark" section).
    */
  private[graft] def renderRecords(
      results: Map[String, Double],
      failed: Seq[String],
      storage: Map[String, (Double, Int)],
      chunkFamilies: Seq[String],
      calSingle: Double,
      calPar: Double,
      calParEnd: Double,
      sfDir: String,
      warm: Map[String, Double] = Map.empty): (String, String) = {
    def fmt(v: Double): String = f"$v%.3f"
    val calRef = 0.320
    val calMeasured = (calPar + calParEnd) / 2.0
    val failedSet = failed.toSet
    val totalSec = results.collect { case (k, v) if !failedSet(k) => v }.sum
    val failedSec = results.collect { case (k, v) if failedSet(k) => v }.sum
    val normSec =
      if (calMeasured > 0) totalSec * (calRef / calMeasured) else totalSec
    def jsonLine(m: Map[String, Double], withStorage: Boolean): String = {
      val qs = m.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // post-query storage snapshots, same (time-descending) key order
      val st =
        if (!withStorage) ""
        else m.toSeq.sortBy(-_._2).map { case (k, _) =>
          val (mb, pins) = storage.getOrElse(k, (0.0, 0))
          s"\"" + k + s"""":{"pool_mb":${fmt(mb)},"pins":$pins}"""
        }.mkString(""","storage":{""", ",", "}")
      // chunk record: each listed family ran in its own fresh session,
      // in this order (so every number is a solo-session number)
      val ch = chunkFamilies.map("\"" + _ + "\"").mkString("[", ",", "]")
      val er = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      // warm-artifact attribution rows (never summed into any total; the
      // full line only, keeping the compact tail line short)
      val wm =
        if (!withStorage || warm.isEmpty) ""
        else warm.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
          .mkString(""","queries_warm":{""", ",", "}")
      s"""{"metric":"total","value":${fmt(totalSec)},"unit":"sec","n_queries":${results.size},""" +
        s""""n_failed":${failed.size},""" +
        s""""errors":$er,"failed_sec":${fmt(failedSec)},""" +
        s""""value_normalized":${fmt(normSec)},"cal_ref":${fmt(calRef)},""" +
        s""""cal_single_sec":${fmt(calSingle)},"cal_parallel_sec":${fmt(calPar)},""" +
        s""""cal_parallel_end_sec":${fmt(calParEnd)},""" +
        s""""session_chunks":$ch,""" +
        s""""queries":$qs$st$wm,"sf":"$sfDir"}"""
    }
    (jsonLine(results, withStorage = true),
      jsonLine(results.toSeq.sortBy(-_._2).take(20).toMap,
        withStorage = false))
  }
}
