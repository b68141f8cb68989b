package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether these
  * queries survive a 100× scale-up — filters reaching the parquet scan,
  * dimensions broadcast instead of shuffled, top-k never globally
  * sorting, codegen covering the hot path. `.count()`-level correctness
  * can hide all of these; this spec can't.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(q: graft.Q): String = {
    val df = q.run(spark, sf)
    df.collect() // materialize THIS frame so AQE finalizes and codegen spans appear
    df.queryExecution.executedPlan.toString
  }

  test("q2: predicate and projection are pushed into the parquet scan") {
    val p = plan(Relational.q2Filter)
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // only the 4 referenced columns are read, not all 11
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("q3: dimension join is a broadcast, not a shuffle") {
    val p = plan(Relational.q3Join)
    assert(p.contains("BroadcastHashJoin"), s"customer not broadcast in:\n$p")
  }

  test("q4: snowflake dims are all broadcast (single fact shuffle at most)") {
    val p = plan(Relational.q4MultiJoin)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q5: top-k runs as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q5TopK)
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to sort in:\n$p")
  }

  test("q1: aggregation is two-phase (map-side partial before the shuffle)") {
    val p = plan(Relational.q1Agg)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("c1: event construction stays inside whole-stage codegen") {
    val p = plan(Caliper.c1ItemEvents)
    // codegen spans render as "*(n) Project" in the finalized plan tree
    assert(p.contains("*("), s"no codegen span in:\n$p")
  }

  test("d2: inverted-index join is an equi-join on the shingle, not a cross join") {
    // the executed d2 reads the localCheckpoint-pinned pair table, so the
    // join shape is pinned on the UNCACHED pipeline (same plan the pin
    // build runs once per session)
    val p = Dedup.jaccardPairsPrefix(spark, sf, 0.8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
  }

  test("s1: probe side is broadcast (corpus is scanned once, never shuffled)") {
    val p = plan(Similarity.s1AnnBruteForce)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes not broadcast in:\n$p")
  }

  test("s2: bucketed ANN joins on the bucket id (equi-join, no cross join)") {
    val p = plan(Similarity.s2AnnLsh)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("c6: no single-task window over the grouped data (two-phase sequence)") {
    // inspect the Catalyst nodes, not the rendered string — TreeNode
    // omits empty partition specs from toString, so a string regex for
    // "[], [attempt_id" can never fire
    val wins = Caliper.c6AttemptSeq.run(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty)
    // an unpartitioned Window ordered on attempt_id is the single-task
    // regression this test exists to catch; the only unpartitioned window
    // allowed runs over the #partitions-sized offsets frame (ordered pid)
    val globalOverGroups = wins.filter(w => w.partitionSpec.isEmpty &&
      w.orderSpec.exists(_.references.exists(_.name == "attempt_id")))
    assert(globalOverGroups.isEmpty,
      s"global window over attempt groups:\n${globalOverGroups.mkString("\n")}")
    // the pid-partitioned LOCAL window sits behind the localCheckpoint
    // that pins the sampled range exchange (one materialization — see
    // the c6 comment), so the only window visible here must be the
    // O(#partitions) offsets frame: unpartitioned, ordered on pid alone
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.nonEmpty &&
      unpart.forall(_.orderSpec.forall(_.references.forall(_.name == "pid"))),
      s"unexpected global window in:\n${wins.mkString("\n")}")
  }

  test("d5: blocked cosine join is an equi-join on the grid cell, not a cross join") {
    val p = plan(Dedup.d5EmbeddingCosine)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
  }

  test("q9: semi/anti joins plan as join strategies, not subquery re-execution") {
    val p = plan(Relational.q9SemiAnti)
    assert(p.contains("LeftSemi") || p.contains("LeftAnti"), s"no semi/anti in:\n$p")
  }

  test("q31: salted join is a shuffle join on (key, salt), not a broadcast") {
    val p = plan(Relational.q31SaltedJoin)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"salt pattern lost its shuffle join in:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"dim was broadcast — the salt demo is vacuous in:\n$p")
  }

  test("e5: lang filter prunes at partition level, not as a data filter") {
    val df = EtlQueries.prunedLangScan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang not in PartitionFilters:\n$p")
    // the scan must list only the 2 matching partition dirs; a lang
    // DATA filter (PushedFilters on lang) would mean pruning failed
    assert(!p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").contains("lang"),
      s"lang degraded to a data filter:\n$p")
  }

  test("dp3: histogram is one corpus pass — bounds ride a broadcast, never a shuffle") {
    val p = plan(Relational.dp3Histogram)
    // the single-row bounds frame joins back via BroadcastNestedLoopJoin
    // (cross join of one row); a shuffled join here would mean the main
    // scan waits on a repartition of itself
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastExchange"),
      s"bounds row not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian in:\n$p")
  }

  test("p9: funnel scans don't scale with the stage count") {
    val p = plan(Curation.p9RejectFunnel)
    // all four cumulative stage counters come from ONE scan; the lone
    // distinct-count (dedup survivors) gets its own narrow scan — 4
    // stages must never mean 4 scans
    assert("documents\\.parquet".r.findAllIn(p).size <= 2,
      s"funnel re-scans the corpus per stage:\n$p")
  }

  test("g3: affinity pairs meet on a customer equi-join, never a cross join") {
    val p = plan(Graph.g3SupplierAffinity)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair generation degraded to a cross join:\n$p")
  }

  test("g3: the hot-key degree cap is applied IN-ROW below the pair explode") {
    // the session caches hide the pair-mine subtree from g3's executed
    // plan, so the pin inspects the uncached builder: pairs must be
    // generated inside the row from the capped array — NO self-join (it
    // re-sorted the full incidence twice at sf100) and NO window (the
    // full-incidence md5 rank sort) may reappear; the slice cap must sit
    // below the pair aggregate so no uncapped row reaches the explode
    val plan = Graph.pairMinePlan(spark, sf).queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"pair mine degraded back to a self-join:\n$plan")
    val wins = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty, s"full-incidence rank window reappeared:\n$plan")
    val s = plan.toString
    // the cap lives INSIDE the k-bounded TopKPairs aggregate (map-side
    // buffers hold <= CAP suppliers per customer) — a collect_list here
    // would mean the buffer is bounded by the supplier universe again
    assert(s.contains("graft_topk") && s.contains(Graph.DEGREE_CAP.toString),
      s"k-bounded degree-cap aggregate missing from the in-row mine:\n$plan")
    assert(!s.contains("collect_list"),
      s"universe-bounded collect buffer reappeared in the pair mine:\n$plan")
    assert(s.contains("explode"), s"no in-row pair explode in:\n$plan")
  }

  test("t14: bigram stats shuffle on the bigram and the doc key only") {
    val p = plan(TextAnalysis.t14BigramStats)
    assert(!p.contains("CartesianProduct"), s"cross join in:\n$p")
    // corpus count table joins back to instances as an equi-join on bg
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on bigram key in:\n$p")
  }

  test("q38: no single-task window over the boundary stream (two-phase sweep)") {
    val wins = Relational.q38PeakConcurrency.run(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty)
    // the running sum must never order ALL boundaries through one task;
    // the only unpartitioned window allowed is the O(#partitions)
    // offsets frame (ordered on pid)
    val globalOverBoundaries = wins.filter(w => w.partitionSpec.isEmpty &&
      w.orderSpec.exists(_.references.exists(_.name == "t")))
    assert(globalOverBoundaries.isEmpty,
      s"global window over sweep boundaries:\n${globalOverBoundaries.mkString("\n")}")
    // the pid-partitioned local window is pinned behind the
    // localCheckpoint (see the c6 test); only the pid-ordered offsets
    // window may remain global
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.nonEmpty &&
      unpart.forall(_.orderSpec.forall(_.references.forall(_.name == "pid"))),
      s"unexpected global window in:\n${wins.mkString("\n")}")
  }

  test("d8: containment candidates meet on a shingle-hash equi-join, never a cross join") {
    val p = plan(Dedup.d8Containment)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation degraded to a cross join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
  }

  test("g4: triangle closure meets on equi-joins, never a cross join") {
    val p = plan(Graph.g4TriangleCount)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("g4: triangles ride the shared pinned wedge frame (no parquet rescan, no 3-way closure)") {
    val p = plan(Graph.g4TriangleCount)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the wedge mine is session-shared with g10; g4's plan must read the
    // pinned frames (wedgeCounts + mutualEdges), never re-mine from facts
    assert(!fp.contains("Scan parquet"),
      s"fact tables re-scanned below the wedge/mutual pins:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned frames not read in:\n$p")
    // one edge⋈wedge join + one left join onto degrees — the old triple
    // self-join closure (3 joins before the aggregate) must not return
    val joins = Graph.g4TriangleCount.run(spark, sf).queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .size
    assert(joins <= 2, s"triangle stage grew back to a closure join chain ($joins joins):\n$p")
  }

  test("q39: distribution windows are partitioned (no single-task window)") {
    val wins = Relational.q39Distribution.run(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in:\n${wins.mkString("\n")}")
  }

  test("dp5: per-type stats ride a broadcast back onto the stream") {
    val p = plan(Relational.dp5Outliers)
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast in:\n$p")
  }

  test("s10: PQ encode is a pure map stage — no joins at all") {
    val p = plan(Similarity.s10PqEncode).split("\n\\+- == Initial Plan ==", 2)(0)
    assert(!p.contains("Join"), s"unexpected join in PQ encode:\n$p")
  }

  test("p11: no single-task window over the corpus (two-phase sequence)") {
    val wins = Curation.p11Curriculum.run(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty)
    val globalOverDocs = wins.filter(w => w.partitionSpec.isEmpty &&
      w.orderSpec.exists(_.references.exists(_.name == "n_tokens")))
    assert(globalOverDocs.isEmpty,
      s"global window over the corpus:\n${globalOverDocs.mkString("\n")}")
    // the pid-partitioned local window is pinned behind the
    // localCheckpoint (see the c6 test); only the pid-ordered offsets
    // window may remain global
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.nonEmpty &&
      unpart.forall(_.orderSpec.forall(_.references.forall(_.name == "pid"))),
      s"unexpected global window in:\n${wins.mkString("\n")}")
  }

  test("d9: in-cell dedup join is an equi-join on the cell, never all-pairs") {
    val p = plan(Dedup.d9SemanticDedup)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on the cell id in:\n$p")
  }

  test("dp4: correlation is one fact scan with map-side partial aggregation") {
    // count scans in the FINAL plan only — AdaptiveSparkPlan.toString
    // appends the initial plan too, which would double-count the scan
    val p = plan(Relational.dp4Correlation).split("\n\\+- == Initial Plan ==", 2)(0)
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1,
      s"correlation re-scans the fact table:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("e9: user-range predicate is pushed into the clustered-copy scan") {
    val p = plan(EtlQueries.e9SortedSkipping)
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThanOrEqual(user_id,100)") &&
      p.contains("LessThanOrEqual(user_id,199)"),
      s"user range not pushed to the scan:\n$p")
  }

  test("q40: cohort sizes ride a broadcast; no cartesian anywhere") {
    val p = plan(Relational.q40Retention)
    assert(p.contains("BroadcastHashJoin"), s"sizes join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("p12: pair mine is explode + ONE aggregation shuffle off the scan") {
    val p = plan(Curation.p12BpeMerges).split("\n\\+- == Initial Plan ==", 2)(0)
    assert("documents\\.parquet".r.findAllIn(p).size === 1,
      s"pair mine re-scans the corpus:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side partial combine in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q41: carry-forward window, no range join, event filters pushed") {
    val p = plan(Relational.q41Attribution)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution fell back to a range join:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(event_type,"),
      s"event_type filters not pushed to the scan:\n$p")
  }

  test("q42: row totals ride a broadcast; one window shuffle on user_id") {
    val p = plan(Relational.q42Transitions)
    assert(p.contains("BroadcastHashJoin"), s"row-total join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dp8: 9-cell aggregate has map-side combine; total is broadcast") {
    val p = plan(Relational.dp8Benford)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row total not broadcast in:\n$p")
  }

  test("t16: df join reuses the shingle exchange; corpus not re-shingled") {
    val p = plan(TextAnalysis.t16Boilerplate)
    // both join inputs come off the persisted shingle frame
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"shingle index not reused from cache:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dp7: marginals re-aggregate the checkpointed cell frame — one fact pass") {
    val p = plan(Relational.dp7ChiSquare)
    // the events scan ran once, eagerly, into the localCheckpoint; the
    // final plan reads only the checkpointed cell frame (ExistingRDD) —
    // a parquet scan here would mean the facts were re-read per marginal
    assert(!p.contains("Scan parquet"), s"fact table rescanned in:\n$p")
    assert("Broadcast".r.findAllIn(p).size >= 2,
      s"column/total marginals not broadcast in:\n$p")
  }

  // a streaming frame refuses batch .optimizedPlan (start() checker), but
  // the pushdown/collapse rules under test run in the SAME optimizer the
  // micro-batch planner uses — execute it directly on the analyzed plan
  private def optimizedStreaming(frame: org.apache.spark.sql.DataFrame) =
    spark.sessionState.optimizer.execute(frame.queryExecution.analyzed)

  test("w13/w14: sentinel-drop filter stays ABOVE the stream-stream join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    for (frame <- Seq(StreamingQueries.w13Joined(spark, sf),
        StreamingQueries.w14Joined(spark, sf))) {
      val plan = optimizedStreaming(frame)
      val joins = plan.collect { case j: Join => j }
      assert(joins.nonEmpty, s"join eliminated in:\n$plan")
      // the sentinel predicate must survive as a coalesce-based Filter
      // with the join still BELOW it (NullPropagation collapsing the
      // coalesce to p_user would make it single-sided and pushable —
      // the watermark-killing failure eventsPathWithSentinel documents)
      val filtersAboveJoin = plan.collect {
        case f: Filter if f.condition.toString.toLowerCase.contains("coalesce") &&
          f.collectFirst { case j: Join => j }.nonEmpty => f
      }
      assert(filtersAboveJoin.nonEmpty,
        s"sentinel filter collapsed or pushed below the join in:\n$plan")
      // and no sentinel-id predicate reached the scan side of the join
      joins.foreach { j =>
        val below = j.children.flatMap(_.collect {
          case f: Filter if f.condition.toString.contains(">= 0") => f
        })
        assert(below.isEmpty, s"sentinel predicate pushed below the join in:\n$plan")
      }
    }
  }

  test("d10: banded candidates meet on an equi-join; no pair space forms") {
    val p = plan(Dedup.d10EmbeddingNearDup)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
  }

  test("t17: the merge table rides a broadcast; one doc-key shuffle") {
    val p = plan(TextAnalysis.t17BpeApply)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"merge table not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("t18: LM count tables join on their own keys; V is broadcast") {
    val p = plan(TextAnalysis.t18Perplexity)
    // the bigram/prefix joins must be EQUI-joins keyed on bg/w1 — at
    // gate scale the size estimator legitimately broadcasts the tiny
    // count tables; at 100 TB the same plan flips to shuffle equi-joins
    // when they exceed the threshold. What must never appear is a
    // cartesian between row-sized streams; the only nested-loop join is
    // the broadcast cross with the 1-row vocabulary scalar.
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[bg#".r
      .findFirstIn(p).nonEmpty, s"no equi-join on bg in:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[w1#".r
      .findFirstIn(p).nonEmpty, s"no equi-join on w1 in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"unexpected nested-loop joins beyond the vocab scalar in:\n$p")
  }

  test("m8: decode+hash is a map stage; clusters form on a hash-key shuffle") {
    val p = plan(Multimodal.m8ImageAHash)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation for the cluster group-by in:\n$p")
  }

  test("m7: decode is an object map stage; only the final order shuffles") {
    val p = plan(Multimodal.m7ImageDecode)
    assert(p.contains("MapPartitions"),
      s"decode not a mapPartitions stage in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the only exchange is the rangepartitioning for the final ORDER BY;
    // a hashpartitioning exchange would mean the decode path shuffled
    assert(!p.contains("Exchange hashpartitioning"),
      s"decode path shuffles in:\n$p")
  }

  test("w16/w18: restart RESUMES the committed offsets log (no replay, no fresh log)") {
    def batchIds(ckpt: String, sub: String): Seq[Int] = {
      val d = new java.io.File(ckpt, sub)
      Option(d.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toInt).sorted.toSeq
    }
    // running the gate executes BOTH phases (stop + checkpoint restart)
    StreamingQueries.w16StreamRestart.run(spark, sf).collect()
    val off16 = batchIds(StreamingQueries.w16LastCkpt, "offsets")
    val com16 = batchIds(StreamingQueries.w16LastCkpt, "commits")
    // 2 staged files × maxFilesPerTrigger=1 → ≥2 data batches (the
    // engine may add a no-data batch per phase for watermark
    // advancement). A fresh log on restart would restart numbering at 0
    // and break contiguity/commit pairing; a replay would re-emit batch
    // 0's data under a new id and fail the oracle hash.
    assert(off16 == com16, s"uncommitted batch after restart: $off16 vs $com16")
    assert(off16.headOption.contains(0) && off16 == (0 until off16.size),
      s"offsets log not contiguous-from-0 across restart: $off16")
    assert(off16.size >= 2, s"expected >=2 batches across w16 phases: $off16")

    StreamingQueries.w18StreamStateRestart.run(spark, sf).collect()
    val off18 = batchIds(StreamingQueries.w18LastCkpt, "offsets")
    val com18 = batchIds(StreamingQueries.w18LastCkpt, "commits")
    // 2 data + 2 sentinel files → ≥4 one-file batches: one before the
    // stop, the rest after the checkpoint restart (plus optional no-data
    // watermark batches)
    assert(off18 == com18, s"uncommitted batch after restart: $off18 vs $com18")
    assert(off18.headOption.contains(0) && off18 == (0 until off18.size),
      s"offsets log not contiguous-from-0 across restart: $off18")
    assert(off18.size >= 4, s"expected >=4 batches across w18 phases: $off18")
  }

  test("w15: sentinel-user filter stays ABOVE flatMapGroupsWithState") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, FlatMapGroupsWithState}
    val plan = optimizedStreaming(StreamingQueries.w15Sessions(spark, sf))
    val fm = plan.collect { case n: FlatMapGroupsWithState => n }
    assert(fm.nonEmpty, s"no FlatMapGroupsWithState node in:\n$plan")
    val filterAbove = plan.collect {
      case f: Filter
        if f.collectFirst { case n: FlatMapGroupsWithState => n }.nonEmpty => f
    }
    assert(filterAbove.nonEmpty,
      s"sentinel-user filter pushed below the state function in:\n$plan")
    // nothing below the state function filters on the sentinel user
    fm.foreach { n =>
      val below = n.children.flatMap(_.collect {
        case f: Filter if f.condition.toString.contains(">= 0") => f
      })
      assert(below.isEmpty, s"sentinel filter below flatMapGroupsWithState in:\n$plan")
    }
  }

  test("q43: top-k runs as a map-side partial aggregate, never a window sort") {
    val p = plan(Relational.q43GroupedTopK)
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial+final
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial object aggregate in:\n$p")
    assert(!p.contains("Window"), s"fell back to a window sort in:\n$p")
  }

  test("e15: the read scans only surviving staged files, never the authoritative table") {
    val p = plan(EtlQueries.e15Vacuum)
    assert(p.contains("graft_vac_fine") && p.contains("graft_vac_coarse"),
      s"staged dirs not scanned in:\n$p")
    assert(!p.contains("documents.parquet"),
      s"authoritative documents re-scanned downstream of the stage:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("m10: reads the pinned decode-diff frame; no join, only the gate sort") {
    val p = plan(Multimodal.m10SceneCut)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the mapPartitions decode ran ONCE into the shared localCheckpoint
    // pin (frameDiffs — m12 reuses it); the visible plan is pin + sort
    assert(fp.contains("Scan ExistingRDD"), s"pinned diff frame not read in:\n$p")
    assert(!fp.contains("Scan parquet"),
      s"assets re-decoded downstream of the diff pin:\n$p")
    assert(!fp.contains("Join"), s"join crept into the decode map:\n$p")
  }

  test("g8: walk steps are equi-joins on the node key; no pair space forms") {
    val p = plan(Graph.g8RandomWalk)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"theta-join in:\n$p")
  }

  test("dp15: the output rides the pinned cell grid, never a fact re-scan") {
    val p = plan(Relational.dp15MutualInfo)
    // the single events scan feeds the cell aggregate ABOVE the
    // localCheckpoint; the visible plan must read only the pinned grid
    // (both PMI rows and the 1-row broadcast total)
    assert(!p.contains("events.parquet"),
      s"fact table re-scanned downstream of the pinned grid:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"MI total not broadcast in:\n$p")
  }

  test("s15: probes broadcast over the 16-byte signature scan; witness joins by key") {
    val p = plan(Similarity.s15BinaryQuant)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the hamming scan is the 10-row probe broadcast against signatures;
    // the cosine witness joins the <=50 result rows back by vec_id
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes not broadcast in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"signature build not partially aggregated in:\n$p")
  }

  test("s12: IVF-PQ search joins cells/codes by key; probes and centroids broadcast") {
    val p = plan(Similarity.s12IvfPq)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the only nested-loop is the 8-row centroid broadcast (cell assignment);
    // the probe⋈cell search and the code lookup must be broadcast/equi-joins
    assert(p.contains("BroadcastExchange"), s"no broadcast side in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
  }

  test("s13: both towers join by key (term / bucketless broadcast); no cartesian") {
    val p = plan(Similarity.s13HybridRrf)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // lexical tower: probe-term list broadcast into the inverted-index
    // equi-join on term; vector tower: probes broadcast against the scan
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"towers not broadcast-joined in:\n$p")
    // the fuse joins two top-20 frames — any equi-join strategy is fine,
    // but it must BE an equi-join (FullOuter on (probe, cand))
    assert(p.contains("FullOuter"), s"no full-outer fuse in:\n$p")
  }

  test("e11: read-back aggregates the staged clustered copy only, two-phase") {
    val p = plan(EtlQueries.e11Zorder)
    // only scan: the z-clustered staging dir (the authoritative lineitem
    // was consumed when the stage materialized, not here). AQE prints the
    // same plan twice (final + initial), so assert on scan identity.
    assert(p.contains("graft_zorder"), s"staged copy not scanned in:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"authoritative lineitem re-scanned downstream of the stage:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("dp10: facts are scanned once per key column, upstream of the pinned histograms") {
    val p = plan(Relational.dp10SkewAudit)
    // every per-column branch reads its localCheckpoint-pinned
    // count-of-counts histogram (ExistingRDD), so the final plan holds NO
    // parquet scan: the one fact pass per column already happened when the
    // pin materialized
    assert(!p.contains("Scan parquet"), s"fact table re-scanned downstream of the pin:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 5,
      s"expected 5 pinned histogram scans in:\n$p")
  }

  test("s14: centroids broadcast every round; corpus never shuffle-joins") {
    val p = plan(Similarity.s14KmeansTrain)
    // each Lloyd round crossJoins the corpus against the 1-row broadcast
    // sorted codebook; the (cell,pos) update aggregate is map-side partial
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffle-join in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
    // the assign stage is a per-row argmin fold — the old shape expanded
    // the corpus xKC rows through a (vec_id) window exchange per round
    assert(!p.contains("Window"), s"assign stage regressed to a window:\n$p")
  }

  test("s16: search joins probes on the cell id against the PINNED index") {
    val p = plan(Similarity.s16TrainedIvf)
    // training + indexing happen behind localCheckpoints; the search plan
    // must read the pinned index (no corpus re-scan via the codebook
    // crossJoin) and meet candidates on a broadcast cell equi-join
    assert(p.contains("BroadcastHashJoin"), s"probes not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"search degraded to a cross join:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"pinned index not read in:\n$p")
  }

  test("dp18: one fact scan to the cell grid; everything downstream on pinned frames") {
    val p = plan(Relational.dp18PsiDrift)
    // the (event_type, cohort, bin) cell frame is localCheckpoint-pinned;
    // spine/smoothing/terms/totals must all run on ExistingRDD scans, and
    // the per-bin PSI math must never re-touch the fact table
    assert(!p.contains("Scan parquet"),
      s"fact table re-scanned downstream of the cell pin:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"pinned cell frame not read in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"grid join shuffled in:\n$p")
  }

  test("m11: patchify is one mapPartitions pass — no shuffle before the gate sort") {
    val p = plan(Multimodal.m11PatchGrid)
    assert(p.contains("MapPartitions"), s"no mapPartitions decode stage in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"unexpected join in:\n$p")
    // exactly one exchange: the range partitioning of the output ORDER BY
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"patchify shuffles more than the output sort:\n$p")
  }

  test("s17: greedy rounds run on the pinned pool; corpus is never re-scanned") {
    val p = plan(Similarity.s17MmrDiversify)
    assert(!p.contains("Scan parquet"),
      s"corpus re-scanned downstream of the pool pin:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"pinned pool not read in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q44: doubling rounds are pinned; the final plan reads state, not the table") {
    val p = plan(Relational.q44HierarchyFlatten)
    // every doubling round ends in a localCheckpoint, so the output plan
    // must read pinned state + the broadcast rollup — a parquet scan here
    // would mean a round re-derived the tree from the table (depth-many
    // dependent scans, the recursive-CTE shape this operator exists to avoid)
    assert(!p.contains("Scan parquet"), s"table re-scanned in:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"pinned state not read in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rollup not broadcast in:\n$p")
  }

  test("e16: post-overwrite read is one partitioned scan with partial aggregation") {
    val p = plan(EtlQueries.e16DynamicOverwrite)
    assert(p.contains("Scan parquet"), s"staged table not scanned in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"unexpected join in:\n$p")
  }

  test("dp13: stats broadcast back onto the stream; no window anywhere") {
    val p = plan(Relational.dp13Moments)
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast in:\n$p")
    assert(!p.contains("Window"), s"window crept in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("dp14: the sampler is the map-side top-k aggregate; windows stay partitioned") {
    val p = plan(Relational.dp14QuantileSketch)
    // TopKPairs plans as ObjectHashAggregate partial+final — the sample
    // never comes from a per-group sort of the fact rows
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial top-k sampler in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("w19: the optimized stream keeps a LeftSemi join with both watermarks") {
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val plan = optimizedStreaming(StreamingQueries.w19Joined(spark, sf))
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, s"join eliminated in:\n$plan")
    assert(joins.exists(_.joinType == LeftSemi),
      s"semi join rewritten to ${joins.map(_.joinType)} in:\n$plan")
    // both sides must keep their watermark nodes — they bound the
    // click state and gate the purchase emission
    val wms = plan.collect { case w: EventTimeWatermark => w }
    assert(wms.size == 2, s"expected 2 watermark nodes, got ${wms.size} in:\n$plan")
  }

  test("dp11: the k smallest hashes come from a partial top-k, never a global sort") {
    val p = plan(Relational.dp11KmvSketch)
    // TakeOrderedAndProject = per-partition top-k + merge — the sketch's
    // mergeability made physical; a global Sort before the limit would
    // shuffle every distinct hash to one task
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 4,
      s"top-k fell back to a sort in:\n$p")
    // both consumers (exact count + top-k) read the pinned distinct frame
    assert(!p.contains("Scan parquet"),
      s"fact table re-scanned downstream of the distinct pin:\n$p")
  }

  test("d11: corpus frequency and join-back meet on the hash key; no pair space") {
    val p = plan(Dedup.d11ParagraphDedup)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"paragraph join fell back to a pair space:\n$p")
    // the paragraph frame is pinned: chunking ran once inside the scan
    assert(!p.contains("Scan parquet"),
      s"documents re-scanned downstream of the paragraph pin:\n$p")
  }

  test("e14: every cascade delete is a broadcast anti/semi join, never a shuffle join") {
    val p = plan(EtlQueries.e14ForgetCascade)
    // tombstone and cascaded-order key frames are tiny fractions of
    // their tables — at 100 TB they broadcast; a SortMergeJoin here
    // would shuffle the full fact table to delete 1% of it
    assert(!p.contains("SortMergeJoin"), s"cascade delete shuffles a fact table:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected 3+ broadcast deletes in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dp12: the bit set is pinned; probes broadcast against it") {
    val p = plan(Relational.dp12BloomProfile)
    // fill count and probe join both read the localCheckpoint-pinned
    // distinct bit set — the explode+distinct runs exactly once
    assert(!p.contains("Scan parquet"),
      s"bit set rebuilt from the fact table downstream of the pin:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("e13: the changelog is ONE fact scan; the per-key sort is group-limited") {
    val p = plan(EtlQueries.e13TimeTravel)
    // AdaptiveSparkPlan prints the final plan then repeats the initial
    // one — count scans in the final section only
    val finalPlan = p.split("\n\\+- == Initial Plan ==", 2).head
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"changelog derivation re-scans orders:\n$p")
    // Catalyst prunes the row_number sort to the top row per (snap, key)
    // BEFORE the exchange — the rank-pushdown that keeps the as-of read
    // from sorting full version history at scale
    assert(p.contains("WindowGroupLimit"), s"no rank pushdown in:\n$p")
  }

  test("dp16: the register build is a partial-combined aggregate; no window, no sort join") {
    val p = plan(Relational.dp16HllSketch)
    // the ONE fact pass per column reduces to <=256 register rows with
    // map-side partial MIN — the no-distinct-shuffle property that is
    // HLL's whole advantage over COUNT(DISTINCT)
    assert(p.contains("partial_min"), s"register MIN lost its partial phase in:\n$p")
    assert(!p.contains("Window"), s"window crept into the sketch path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tiny register frames shuffle-joined:\n$p")
  }

  test("dp17: counters combine map-side over the pinned key rollup; probes broadcast") {
    val p = plan(Relational.dp17CountMin)
    // the per-key rollup is pinned (ONE fact pass, shared with the exact
    // top-10); the cell build sums key counts off that pin, so the
    // visible plan holds NO parquet scan at all — and the giant
    // (i, bucket) aggregate still combines map-side (partial_sum)
    assert(p.contains("partial_sum"), s"cell build lost its partial phase in:\n$p")
    val finalPlan = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!finalPlan.contains("Scan parquet"),
      s"fact table re-scanned above the key-rollup pin in:\n$p")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"pinned key rollup not read in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe join shuffled the cell grid:\n$p")
  }

  test("t20: rule bundle is one scan, pure codegen — no join, one output sort") {
    val p = plan(TextAnalysis.t20GopherRules)
    // AQE plans repeat the tree under "== Initial Plan =="; audit the final
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!fp.contains("Join") && !fp.contains("CartesianProduct"),
      s"per-row rule bundle grew a join:\n$p")
    assert("Scan parquet".r.findAllIn(fp).size == 1,
      s"expected exactly one documents scan in:\n$p")
    assert(fp.contains("*("), s"no codegen span in:\n$p")
  }

  test("dp19: pair mine runs on the pinned GROUPED basket frame; stats broadcast") {
    val p = plan(Relational.dp19AssocRules)
    // the per-order item-array frame is localCheckpoint-pinned (three
    // consumers share one fact scan + ONE shuffle; the pin is |orders|
    // rows of bounded arrays, never the raw corpus-scale basket frame);
    // pairs come from in-row array expansion, never a self-join, and
    // item counts + the 1-row total are broadcast
    assert(!p.contains("Scan parquet"),
      s"fact table re-scanned downstream of the basket pin:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"pinned baskets not read in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"item counts not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pair mine degraded to a shuffle/cross join:\n$p")
  }

  test("g9: modularity audit reads the pinned graph + labels, one linear pass") {
    val p = plan(Graph.g9Modularity)
    // mutual edges and the LPA label frame are localCheckpoint-pinned
    // (shared with g7); the audit must never re-derive either from the
    // fact tables, and the label/size joins are broadcast. AQE repeats
    // the tree under "== Initial Plan ==" — audit the final plan only.
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!fp.contains("Scan parquet"),
      s"fact tables re-scanned downstream of the graph/label pins:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned frames not read in:\n$p")
    assert(fp.contains("BroadcastHashJoin"), s"label join not broadcast in:\n$p")
    assert(!fp.contains("SortMergeJoin"), s"audit shuffled a broadcastable join:\n$p")
  }

  test("s18: multi-probe search joins the pinned index on the cell id") {
    val p = plan(Similarity.s18MultiProbe)
    // the trained index is localCheckpoint-pinned; candidates meet it on
    // a broadcast cell equi-join (probes x NPROBE rows), and the exact
    // witness joins back by (probe, neighbor) broadcast — nothing sorts
    // or crosses at corpus scale
    assert(p.contains("Scan ExistingRDD"), s"pinned index not read in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"search degraded to a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"cell join shuffled in:\n$p")
  }

  test("d12: pair mine reads the pinned window frame; hot cap sits below the self-join") {
    val p = plan(Dedup.d12SubstringDedup)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // windows are localCheckpoint-pinned (n_win, the hot filter and both
    // self-join probes share ONE shingling pass); a parquet scan below
    // means documents were re-windowed per consumer
    assert(!fp.contains("Scan parquet"),
      s"documents re-scanned downstream of the window pin:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned windows not read in:\n$p")
    // the hot-window cap is a semi-join BELOW the pair join — the pair
    // space must never see uncapped windows
    assert(fp.contains("LeftSemi"), s"hot-window cap semi-join missing:\n$p")
    assert(!fp.contains("CartesianProduct"),
      s"pair mine degraded to a cross join:\n$p")
  }

  test("t21: readability is one scan, no join, codegen over the fold") {
    val p = plan(TextAnalysis.t21Readability)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!fp.contains("Join") && !fp.contains("CartesianProduct"),
      s"per-row readability grew a join:\n$p")
    assert("Scan parquet".r.findAllIn(fp).size == 1,
      s"expected exactly one documents scan in:\n$p")
    assert(fp.contains("*("), s"no codegen span in:\n$p")
  }

  test("g10: wedge mine reads the pinned edge frame; top-N never sorts globally") {
    val p = plan(Graph.g10LinkPrediction)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // ed is localCheckpoint-pinned (degrees + both wedge sides share it);
    // the K-bounded mutual graph keeps the wedge join an equi-join
    assert(!fp.contains("Scan parquet"),
      s"fact tables re-scanned downstream of the edge pin:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned edges not read in:\n$p")
    assert(fp.contains("TakeOrderedAndProject"),
      s"top-N fell back to a global sort in:\n$p")
    assert(!fp.contains("CartesianProduct"))
  }

  test("s19: probes broadcast against the pinned code scan") {
    val p = plan(Similarity.s19Sq8Search)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // codes are localCheckpoint-pinned (one encode feeds probe + scan
    // sides); the 10-probe side broadcasts against one linear code scan
    assert(fp.contains("Scan ExistingRDD"), s"pinned codes not read in:\n$p")
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"probe scan not a broadcast in:\n$p")
    assert(!fp.contains("CartesianProduct"),
      s"code scan degraded to a cartesian:\n$p")
  }

  test("e17: feed is ONE pass — single scan, one aggregate, no pin/window/join") {
    val p = plan(EtlQueries.e17ChangeFeed)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // both snapshots fold in one struct-max aggregation over ONE orders
    // scan; a second scan means the snapshots diverged back into two
    // passes, a Window/Join means the r11 OOM shape returned
    assert("Scan parquet".r.findAllIn(fp).size == 1,
      s"expected exactly one orders scan in:\n$p")
    assert(!fp.contains("Scan ExistingRDD"),
      s"changelog pinned in executor memory again (r11 sf100 OOM shape):\n$p")
    assert(!fp.contains("Window"), s"window sort crept back into:\n$p")
    assert(!fp.contains("Join"), s"snapshot diff degraded to a join in:\n$p")
  }

  test("m12: scene rollup reads the SHARED pinned diff frame — no second decode") {
    val p = plan(Multimodal.m12SceneStats)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the decoded frame-delta frame is localCheckpoint-pinned and shared
    // with m10 — m12 must never re-run the ImageIO decode pass
    assert(fp.contains("Scan ExistingRDD"), s"pinned diff frame not read in:\n$p")
    assert(!fp.contains("Scan parquet"),
      s"assets re-decoded downstream of the diff pin:\n$p")
    assert(!fp.contains("Join"), s"join crept into the scene rollup:\n$p")
  }

  test("p13: plan frame is a #sources-row rollup; totals ride broadcasts") {
    val p = plan(Curation.p13EpochMix)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert("HashAggregate".r.findAllIn(fp).size >= 2 ||
      "SortAggregate".r.findAllIn(fp).size >= 2,
      s"token rollup lost its map-side partial phase in:\n$p")
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"1-row totals not broadcast in:\n$p")
    assert(!fp.contains("SortMergeJoin") && !fp.contains("CartesianProduct"))
  }

  test("w20: ONE streaming query carries TWO stateful aggregations on one watermark") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark}
    val plan = optimizedStreaming(StreamingQueries.w20Chained(spark, sf))
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 2,
      s"expected exactly 2 chained aggregates, got ${aggs.size} in:\n$plan")
    val wms = plan.collect { case w: EventTimeWatermark => w }
    assert(wms.size == 1, s"expected one watermark in:\n$plan")
    // the outer agg keys on the inner agg's window (window_time chain)
    assert(plan.toString.contains("window_time") || plan.toString.contains("window#"),
      s"outer agg lost the window_time chain in:\n$plan")
  }

  test("s20: each Lloyd round reads the pinned subvector frame; codebooks broadcast") {
    val p = plan(Similarity.s20PqTrain)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the subvector frame and the per-round centroid state are
    // localCheckpoint-pinned; the final plan reads pins, broadcasts the
    // (M·K)-row codebook, and never re-scans embeddings
    assert(fp.contains("Scan ExistingRDD"), s"pinned frames not read in:\n$p")
    assert(!fp.contains("Scan parquet"),
      s"embeddings re-scanned downstream of the subvector pin:\n$p")
    assert(fp.contains("BroadcastHashJoin"), s"codebook join not broadcast in:\n$p")
    assert(!fp.contains("CartesianProduct"))
    // PQ assign is the per-sub argmin fold over the broadcast codebook —
    // no (vec_id, sub) window exchange, no xKC row expansion
    assert(!fp.contains("Window"), s"PQ assign regressed to a window:\n$p")
  }

  test("p14: split derives from the persisted cluster table; rollup and witness share the pinned assignment") {
    val p = plan(Curation.p14LeakSafeSplit)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the cluster table is the session-persisted d6 artifact; the split
    // assignment is localCheckpoint-pinned so the per-split rollup and
    // the leak witness never re-derive it; the 1-row witness broadcasts
    assert(fp.contains("Scan ExistingRDD"), s"pinned assignment not read in:\n$p")
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"leak witness not a 1-row broadcast in:\n$p")
    assert(!fp.contains("CartesianProduct"))
  }

  test("m13: per-asset trim is one decode fan-out + one doc-keyed rollup, no join") {
    val p = plan(Multimodal.m13SilenceTrim)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!fp.contains("Join"), s"join crept into the trim rollup:\n$p")
    assert(!fp.contains("CartesianProduct"))
    assert(fp.contains("HashAggregate") || fp.contains("ObjectHashAggregate") ||
      fp.contains("SortAggregate"), s"no per-asset rollup in:\n$p")
  }

  test("d13: the incremental apply probes the persisted band index; no corpus self-join") {
    val p = plan(Dedup.d13IncrementalMinHash)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // both the band index and the shingle frame are session-persisted —
    // the nightly apply must NOT rebuild the signature kernel from the
    // parquet scan; candidates come from a (band, bh) equi-join
    assert(fp.contains("InMemoryTableScan"), s"band index not persisted in:\n$p")
    assert(!fp.contains("CartesianProduct"))
    assert(fp.contains("HashAggregate") || fp.contains("ObjectHashAggregate") ||
      fp.contains("SortAggregate"), s"no per-batch-doc rollup in:\n$p")
  }

  test("d14: the retire re-probe reads the persisted index; one pinned verify frame feeds both rolls") {
    val p = plan(Dedup.d14RetireReprobe)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the deletion pass must not re-sign or rescan the corpus: candidates
    // and the verify frame are localCheckpoint-pinned (the band-index
    // InMemoryTableScan sits BELOW the cand pin, so the executed plan
    // reads only pinned frames), and the old/new rolls read ONE pinned
    // verify frame
    assert(fp.contains("Scan ExistingRDD"), s"pinned verify frame not read in:\n$p")
    assert(!fp.contains("Scan parquet"), s"corpus re-scanned above the pins:\n$p")
    assert(!fp.contains("CartesianProduct"))
    assert(fp.contains("HashAggregate") || fp.contains("ObjectHashAggregate") ||
      fp.contains("SortAggregate"), s"no per-doc rollup in:\n$p")
  }

  test("s21: the incremental apply probes the persisted ANN index; no retrain stage") {
    val p = plan(Similarity.s21IncrementalAnnApply)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the IVF+SQ8 index is session-persisted and the batch side is a
    // pinned frame assigned against the pinned trained codebook — the
    // nightly apply must probe via a (cell, bucket) equi-join with NO
    // Lloyd retrain and no corpus self-join in its plan
    assert(fp.contains("InMemoryTableScan"), s"ANN index not persisted in:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned batch frame not read in:\n$p")
    assert(!fp.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(fp.contains("Window"), s"shortlist window missing in:\n$p")
  }

  test("p15: every DAG stage reads its pinned predecessor; no corpus rescan above the pins") {
    val p = plan(Curation.p15CurationDag)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the chain's stage frames (gate, split assignment, decon list, final
    // train set) are localCheckpoint-pinned and the session-shared
    // artifacts (cluster table, shingle frame) are persisted ONCE — the
    // composed plan must therefore contain NO parquet scan at all: the
    // packing/schedule/witness layers run entirely on pinned frames, so
    // no stage can silently recompute another's work
    assert(!fp.contains("Scan parquet"),
      s"a DAG stage recomputed the corpus instead of reading a pinned frame:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(fp).size >= 4,
      s"pinned stage frames missing in:\n$p")
    assert(!fp.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(fp.contains("Window"), s"pack/schedule windows missing in:\n$p")
  }

  test("g11: the edge apply probes the pinned standing adjacency; no full wedge mine") {
    val p = plan(Graph.g11IncrementalEdges)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the mutual graph is the session-pinned artifact (localCheckpoint →
    // ExistingRDD) and the standing adjacency is pinned too — the nightly
    // apply joins batch edges to ≤8-row neighbor probes and must never
    // re-mine wedges (or scan parquet) over the whole graph
    assert(fp.contains("Scan ExistingRDD"), s"pinned frames not read in:\n$p")
    assert(!fp.contains("Scan parquet"), s"the apply re-derived the graph from the fact tables:\n$p")
    assert(!fp.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("m16: the payload apply probes the persisted signature index; no corpus self-join") {
    val p = plan(Multimodal.m16IncrementalPayloads)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // the projection table + signature index are session-persisted and
    // the batch signature frame is pinned — the nightly apply is two
    // band equi-joins against the index plus one batch-keyed rollup
    assert(fp.contains("InMemoryTableScan"), s"signature index not persisted in:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"pinned batch signatures not read in:\n$p")
    assert(!fp.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(fp.contains("HashAggregate") || fp.contains("ObjectHashAggregate") ||
      fp.contains("SortAggregate"), s"no per-batch-doc rollup in:\n$p")
  }

  test("m14: the pair mine is one page equi-join feeding a bounded per-image window") {
    val p = plan(Multimodal.m14CrossModalPairs)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    assert(!fp.contains("CartesianProduct"), s"all-pairs product in the pair mine:\n$p")
    assert(fp.contains("Window"), s"top-k window missing in:\n$p")
    // the decode/feature fold is the typed mapPartitions stage
    assert(fp.contains("MapPartitions"), s"typed decode stage missing in:\n$p")
  }

  test("registry sweep: NO batch query's physical plan contains a CartesianProduct") {
    // the wholesale guard for the #1 scale-killer class: a cartesian that
    // slips into any of the ~180 batch queries (a dropped join key, an
    // accidentally non-equi condition) fails the build, not the sf10
    // soak. Streaming queries are excluded (building their plan requires
    // executing the stream; their shapes are pinned individually above) —
    // plans are compiled, not executed, so the sweep stays cheap.
    val streaming = StreamingQueries.all.map(_.name).toSet
    val offenders = graft.SparkEntry.registry
      .filterNot(q => streaming(q.name))
      .flatMap { q =>
        val p = q.run(spark, sf).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct")) Some(q.name) else None
      }
    assert(offenders.isEmpty,
      s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("registry sweep: every batch query EMITS only hash-canonical column types") {
    // round-8 lesson: the driver's result hasher canonicalizes int/float
    // widths and timestamp precisions but NOT 128-bit values — a
    // DECIMAL(38,0) or int128 output column hashes differently from an
    // equal-valued BIGINT (the g9/m13 red rows), and neither the python
    // repr compare nor a 5-scale ladder can see it. House rule, now
    // pinned: wide arithmetic stays INTERNAL; the emission boundary
    // carries only {long-or-narrower ints, double/float, string, boolean,
    // date, timestamp, binary-free arrays/structs thereof}. Mirrors the
    // ROUND-at-emission rule in the oracle-determinism scaladoc.
    // Streaming queries are excluded here for the same reason as the
    // cartesian sweep (their run() executes the stream); their emitted
    // parquet types are enforced by tools/check_oracle.py at verify time.
    import org.apache.spark.sql.types._
    def canonical(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case _: FloatType | _: DoubleType => true
      case _: StringType | _: BooleanType => true
      // NTZ included: parquet stores it as isAdjustedToUTC=false, DuckDB
      // DESCRIBEs both as TIMESTAMP, and q35 is green at the driver gate
      case _: DateType | _: TimestampType | _: TimestampNTZType => true
      case ArrayType(e, _) => canonical(e)
      case StructType(fs) => fs.forall(f => canonical(f.dataType))
      case _ => false // DecimalType, BinaryType, MapType, ...
    }
    val streaming = StreamingQueries.all.map(_.name).toSet
    val offenders = graft.SparkEntry.registry
      .filterNot(q => streaming(q.name))
      .flatMap { q =>
        q.run(spark, sf).schema.fields.collect {
          case f if !canonical(f.dataType) => s"${q.name}.${f.name}: ${f.dataType.sql}"
        }
      }
    assert(offenders.isEmpty,
      s"non-hash-canonical emission types: ${offenders.mkString(", ")}")
  }

  test("w22: the streaming plan is two stateless LEFT joins, no stateful op before foreachBatch") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    val plan = optimizedStreaming(StreamingQueries.w22Stream(spark, sf))
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 2, s"expected index-probe + verify joins in:\n$plan")
    assert(joins.forall(_.joinType.sql == "LEFT OUTER"),
      s"zero-candidate docs must keep a row (left outer) in:\n$plan")
    // no stateful operator inside the stream — the rollup is batch-local
    // in foreachBatch (docs carry no event time to watermark on)
    assert(plan.collect { case a: Aggregate => a }.isEmpty &&
      plan.collect { case d: Deduplicate => d }.isEmpty,
      s"stateful op crept into the streaming plan:\n$plan")
  }

  test("w23: the streaming plan is three stateless joins, no refine before foreachBatch") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    val plan = optimizedStreaming(StreamingQueries.w23Stream(spark, sf))
    // restrict to STREAM-side nodes: the persisted static artifacts
    // (ANN index) keep their full logical lineage at this level (cache
    // substitution is physical-planning-time), and that lineage
    // legitimately contains the index build's joins/aggregates — what
    // must be stateless is the streaming path itself
    val joins = plan.collect { case j: Join if j.isStreaming => j }
    // codebook + stats (one-row artifacts, inner on a constant key) +
    // index probe (left outer). The normed-corpus refine must NOT be
    // here — it runs in foreachBatch AFTER the top-K shortlist (the
    // round-13 in-stream refine was 265× adrift of batch s21 at sf100)
    assert(joins.size == 3, s"expected 2 artifact joins + index probe in:\n$plan")
    assert(joins.count(_.joinType.sql == "LEFT OUTER") == 1,
      s"zero-candidate vectors must keep a row (left outer probe) in:\n$plan")
    // no 64-double vector column may survive past the probe: each
    // candidate row is ids + the 8-byte-code integer dot only
    assert(!plan.output.map(_.name).contains("cos") &&
      !plan.output.map(_.name).contains("v"),
      s"wide-vector refine crept back into the streaming frame:\n${plan.output}")
    assert(plan.collect { case a: Aggregate if a.isStreaming => a }.isEmpty &&
      plan.collect { case d: Deduplicate if d.isStreaming => d }.isEmpty,
      s"stateful op crept into the streaming plan:\n$plan")
  }

  test("e18: the maintenance manifest unions six constant-size stage rollups; artifacts pinned") {
    val p = plan(EtlQueries.e18MaintenanceDag)
    val fp = p.split("\n\\+- == Initial Plan ==", 2).head
    // one Union of the six stage aggregates; the incremental applies
    // probe their session-persisted artifacts (band index, ANN index,
    // standing adjacency, signature index) as pinned-frame reads
    assert(fp.contains("Union"), s"stage rollups not unioned in:\n$p")
    assert(fp.contains("Scan ExistingRDD"), s"no pinned artifact read in:\n$p")
    assert(!fp.contains("CartesianProduct"), s"cartesian in:\n$p")
    // six FINAL 1-row stage aggregates feed the union (partials print as
    // partial_count, so this counts exactly the per-stage finals)
    // six FINAL 1-row stage aggregates feed the union — count the finals
    // by their manifest output (nested cached-artifact plan strings also
    // carry count(1) aggregates, but never output stage_id)
    assert("functions=\\[count\\(1\\)[^\\n]*output=\\[stage_id".r.findAllIn(fp).size == 6,
      s"expected 6 stage rollups in:\n$p")
  }

  test("w24: the streaming plan is four stateless LEFT joins against pinned standing frames") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    val plan = optimizedStreaming(StreamingQueries.w24Stream(spark, sf))
    val joins = plan.collect { case j: Join if j.isStreaming => j }
    // two neighbor probes + two degree lookups, all left outer so an
    // edge with no standing neighbors still gets its verdict row
    assert(joins.size == 4, s"expected 2 probes + 2 degree joins in:\n$plan")
    assert(joins.forall(_.joinType.sql == "LEFT OUTER"),
      s"neighborless edges must keep a row (left outer) in:\n$plan")
    assert(plan.collect { case a: Aggregate if a.isStreaming => a }.isEmpty &&
      plan.collect { case d: Deduplicate if d.isStreaming => d }.isEmpty,
      s"stateful op crept into the streaming plan:\n$plan")
  }

  test("w25: the streaming plan signs per-row and probes two disjoint bands, no stateful op") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    val plan = optimizedStreaming(StreamingQueries.w25Stream(spark, sf))
    // per union branch: the one-row artifact join + one band probe —
    // exactly one probe is LEFT OUTER (the verdict spine)
    val joins = plan.collect { case j: Join if j.isStreaming => j }
    assert(joins.size == 4, s"expected 2x(artifact + band probe) joins in:\n$plan")
    assert(joins.count(_.joinType.sql == "LEFT OUTER") == 1,
      s"zero-candidate payloads must keep exactly the band-0 spine row in:\n$plan")
    assert(plan.collect { case a: Aggregate if a.isStreaming => a }.isEmpty &&
      plan.collect { case d: Deduplicate if d.isStreaming => d }.isEmpty,
      s"stateful op crept into the streaming plan:\n$plan")
  }

  test("w21: the optimized stream chains a watermarked join INTO an aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark, Join}
    val plan = optimizedStreaming(StreamingQueries.w21Chained(spark, sf))
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1, s"expected one stream-stream join in:\n$plan")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, s"expected one windowed aggregate in:\n$plan")
    val wms = plan.collect { case w: EventTimeWatermark => w }
    assert(wms.size == 2, s"expected a watermark per join side in:\n$plan")
    // the agg must sit ABOVE the join (join output feeds the rollup)
    val aggHasJoinBelow = aggs.head.collect { case j: Join => j }.nonEmpty
    assert(aggHasJoinBelow, s"aggregate does not consume the join in:\n$plan")
  }

  test("g1/g6 round: contribution aggregate runs with no Exchange on the b-partitioned edges") {
    import org.apache.spark.sql.functions._
    // the small-path dedges layout: persisted pre-hash-partitioned on the
    // AGGREGATE key b — the broadcast join + projection must carry that
    // partitioning (alias-aware through `b AS node`) into the per-round
    // destination aggregate, so the whole round plans without a shuffle
    val dedges = spark.range(0, 1000)
      .select((col("id") % 100).as("a"), (col("id") % 97).as("b"),
        (col("id") % 7 + 1).as("deg_a"))
      .repartition(col("b"))
      .persist()
    dedges.count()
    val rank = spark.range(0, 100)
      .select(col("id").as("node"), lit(1000000L).as("r"))
    try Rounds.withoutAqe(spark) {
      val step = Graph.contribSum(dedges, broadcast(rank))
      step.collect()
      val p = step.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"rank frame not broadcast in:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"edges not read from the cached layout in:\n$p")
      // the only hash exchange in the string is the REPARTITION_BY_COL
      // stored INSIDE the cached relation's build plan; the live dataflow
      // (scan → join → aggregate) must not add one (ENSURE_REQUIREMENTS
      // is the planner-inserted shuffle origin)
      assert(!p.contains("ENSURE_REQUIREMENTS"),
        s"per-round contribution exchange not elided in:\n$p")
    } finally dedges.unpersist()
  }

  test("g2 round: relaxation aggregate runs with no Exchange on the b-partitioned edges") {
    import org.apache.spark.sql.functions._
    val edges2 = spark.range(0, 1000)
      .select((col("id") % 100).as("a"), (col("id") % 97).as("b"))
      .repartition(col("b"))
      .persist()
    edges2.count()
    val dist = spark.range(0, 50)
      .select(col("id").as("node"), lit(0).as("dist"))
    try Rounds.withoutAqe(spark) {
      val step = Graph.relaxMin(edges2, dist)
      step.collect()
      val p = step.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"frontier not broadcast in:\n$p")
      assert(!p.contains("ENSURE_REQUIREMENTS"),
        s"per-round relaxation exchange not elided in:\n$p")
    } finally edges2.unpersist()
  }
}
