package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-centrality operators over the co-purchase graph — the iterative
  * half of the dedup family's connected components ([[Dedup.d6DedupClusters]]):
  * same distributed shape (driver-side control loop, per-round equi-join +
  * aggregate, `localCheckpoint` lineage truncation), different fixpoint.
  *
  * Determinism contract: ranks are FIXED-POINT integers (×1e6) and every
  * per-iteration op is integer arithmetic (`div`, `*`, `+`) — sums of
  * integers are order-independent, so Spark's partitioned aggregation and
  * DuckDB's single-threaded fold produce bit-identical ranks after any
  * number of iterations. A floating-point PageRank would drift at the
  * 15th digit between engines purely from reduction order.
  *
  * Join-strategy contract (both fixpoints): the per-round frontier/rank
  * frame is joined against the static edge list. While the frame is small
  * (≤ [[Graph.BROADCAST_NODE_LIMIT]] nodes) it is BROADCAST — the edge
  * list never moves and the only shuffle per round is the destination
  * aggregate. Past that limit the code switches to the co-partitioned
  * shuffle-hash shape (edges pre-partitioned on the expansion key, rank
  * shuffled to meet it) — the billion-node Pregel layout where neither
  * side can broadcast.
  *
  * Every loop here runs through [[Rounds]] (checkpointed rounds). AQE is
  * off for g2, g5, g7 and g8, and for g1 and g6 on the small-side path;
  * g1 and g6's at-scale path keeps AQE for its skew handling.
  */
object Graph {

  private val SCALE = 1000000L
  private val ITERS = 10
  /** teleport = floor(0.15 · SCALE); damped share = (85·x) div 100 */
  private val TELEPORT = 15L * SCALE / 100L

  /** Above this node count the per-round rank/frontier frame stops being
    * broadcast and the loop falls back to the co-partitioned shuffle
    * join. ~50M nodes × 16 bytes ≈ 800 MB — the practical ceiling for a
    * broadcast that every executor must hold.
    */
  private val BROADCAST_NODE_LIMIT = 50000000L

  private val edgeCache = Pin.Shared.pinned[String, DataFrame]

  /** Undirected co-purchase edges: customer c bought from supplier s in
    * some order. Node ids interleave the two key spaces (customer → 2k,
    * supplier → 2k+1) so one BIGINT column carries both entity types.
    *
    * Persisted once per (session, dataset) — g1 and g2 iterate over the
    * SAME static graph, and at 100 TB this is the edge table a graph job
    * materializes once. The orders side is NOT hint-broadcast: plan-time
    * statistics broadcast it on their own while the parquet footprint is
    * small, and at soak scale (sf100: 150M orders, ~2.4 GB serialized)
    * a forced broadcast aborts on spark.driver.maxResultSize — the
    * d13/d14 lesson, for facts: never hardcode a broadcast whose side
    * grows with the corpus.
    */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    // pinned: g3's pair mine self-joins this frame and g1/g2 start from
    // it, so the family shares its one materialization job
    edgeCache(spark, dir) {
      val eg = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // both directions via a map-side explode, NOT union(eg, eg.swap):
      // the union's second branch would recompute the whole
      // join+distinct subtree a second time during materialization
      eg
        .select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
    }

  /** One power-iteration contribution aggregate (g1/g6's per-round body):
    * degree-enriched edges ⋈ the round's rank frame on the SENDER key,
    * then Σ (r div deg_a) per DESTINATION. On the broadcast (small) path
    * the callers persist `dedges` pre-hash-partitioned on `b`: the
    * broadcast join and the projection both preserve the streamed side's
    * partitioning (alias-aware through the `b AS node` grouping key), so
    * this aggregate satisfies its clustering requirement from the cached
    * layout and plans with NO Exchange — previously every one of the 10
    * rounds re-shuffled the full |E|-row contribution frame into the
    * aggregate (map-side partials cannot help: with |V| ≫ rows-per-task
    * a destination repeats ~once per task). On the at-scale path
    * `dedges` is partitioned on `a` instead (the JOIN key — rank moves
    * to meet the static edges) and this aggregate shuffles: that is the
    * billion-node Pregel cost model, where neither side broadcasts.
    * PlanSpec pins the zero-Exchange shape of the small path.
    */
  private[ops] def contribSum(dedges: DataFrame, rside: DataFrame): DataFrame =
    dedges.join(rside, col("a") === rside("node"))
      .select(col("b"), expr("r div deg_a").as("c"))
      .groupBy(col("b").as("node"))
      .agg(sum(col("c")).as("m"))

  /** One BFS relaxation aggregate (g2's per-round frontier expansion):
    * edges ⋈ the round's distance frame on the sender key, then
    * MIN(dist+1) per destination. Same Exchange-elision contract as
    * [[contribSum]]: g2 persists its edge copy pre-hash-partitioned on
    * `b`, so the ~|E|-row relaxation aggregate plans with no Exchange;
    * only the tiny (2·|V|-row) outer `union ∘ min` that merges it with
    * the previous distances shuffles. MIN is associative, so
    * min(dist ∪ relaxed) == min(dist ∪ min-per-node(relaxed)) row-for-row
    * — the declared SQL is untouched.
    */
  private[ops] def relaxMin(edges2: DataFrame, dist: DataFrame): DataFrame =
    edges2.join(broadcast(dist), edges2("a") === dist("node"))
      .select(col("b").as("node"), (col("dist") + 1).as("dist"))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /** Runs g1/g6's power iteration `body(deg, small, dedges)` over the
    * co-purchase graph: `deg` is the checkpointed (node, deg) frame,
    * `small` whether the node count allows the broadcast path, and
    * `dedges` the edges enriched with the SENDER's degree, pinned for
    * `body`. The contribution r div deg only ever needs deg(u) of the
    * sending side, so carrying it on the edge removes the per-iteration
    * deg re-join; deg (one row per node) broadcasts into the build. On
    * the at-scale path the pin is pre-partitioned on the JOIN key (a) so
    * the per-iteration shuffle join reuses this layout and only the rank
    * frame moves (the Pregel invariant: edges stay put, messages move).
    * On the broadcast path the join never shuffles, so the layout is
    * spent where the shuffle actually is: partitioned on the AGGREGATE
    * key (b), which the broadcast join preserves and the per-round
    * destination aggregate consumes — every round's |E|-row contribution
    * Exchange is gone (see [[contribSum]]). `body` must end on a
    * checkpoint: the pin is released when it returns.
    */
  private def withSenderDegree[A](spark: SparkSession, dir: String)(
      body: (DataFrame, Boolean, DataFrame) => A): A = {
    val edges = copurchaseEdges(spark, dir)
    val deg = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val small = deg.count() <= BROADCAST_NODE_LIMIT
    val degSide = if (small) broadcast(deg) else deg
    val de0 = edges
      .join(degSide, edges("a") === deg("node"))
      .select(col("a"), col("b"), col("deg").as("deg_a"))
    Pin.during(de0.repartition(col(if (small) "b" else "a")))(
      dedges => body(deg, small, dedges))
  }

  /** PageRank with damping 0.85 over the undirected co-purchase graph,
    * run for a fixed [[ITERS]] power iterations in ×1e6 fixed point:
    *
    *   r₀(v)    = SCALE
    *   rₖ₊₁(v) = TELEPORT + (85 · Σ_{u∈N(v)} (rₖ(u) div deg(u))) div 100
    *
    * Undirected edges mean no dangling nodes (every node in the edge list
    * has out-degree ≥ 1), so no dangling-mass redistribution term is
    * needed and the per-node update is a pure neighbor aggregate.
    *
    * 100 TB shape: edges and (node, deg) are the persisted inputs; each
    * iteration joins the static edge list against the current rank frame
    * (broadcast below [[BROADCAST_NODE_LIMIT]] nodes, co-partitioned
    * shuffle-hash above it — see the object doc) and aggregates on the
    * destination key with map-side partials. The driver loop carries only
    * iteration CONTROL; no row-sized data ever hits the driver. Skewed
    * hubs (a supplier half the customers bought from) fan their single
    * rank value out through the join — the aggregate side combines
    * map-side, so hot destinations cost one reducer each, the classic
    * Pregel/GraphX PageRank cost model.
    */
  val g1PageRank: Q = Q.sql(
    "g1_pagerank",
    s"Fixed-point (×1e6) PageRank, damping 0.85, $ITERS iterations, over the customer–supplier co-purchase graph.",
    {
      val iters = (0 until ITERS).map { i =>
        s"""it${i + 1} AS (
           |  SELECT e.b AS node,
           |         $TELEPORT + (85 * SUM(r.r // d.deg)) // 100 AS r
           |  FROM it$i r
           |  JOIN deg d ON r.node = d.node
           |  JOIN edges e ON e.a = r.node
           |  GROUP BY e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH eg AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS MATERIALIZED (SELECT a, b FROM eg UNION ALL SELECT b, a FROM eg),
         |deg AS MATERIALIZED (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
         |it0 AS (SELECT node, CAST($SCALE AS BIGINT) AS r FROM deg),
         |$iters
         |SELECT f.node AS node_id,
         |       CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
         |       f.node // 2 AS entity_key,
         |       d.deg, CAST(f.r AS BIGINT) AS rank_fp
         |FROM it$ITERS f JOIN deg d ON f.node = d.node
         |ORDER BY node_id""".stripMargin
    }) { (spark, dir) =>
    withSenderDegree(spark, dir) { (deg, small, dedges) =>
      // Round fusion (result is IDENTICAL at any F — same 10 logical
      // rounds): F rounds build as one lazy DAG between
      // localCheckpoint barriers, halving (at F=2) the materialization
      // jobs and convergence probes per run. Measured per the round-7
      // verdict item 3 (interleaved sf10 A/B): F=1 77.2/76.9s, F=2
      // 74.1/67.1s, F=5 75.8s, F=10 69.5s — fusion buys ~5-10% and
      // plateaus past F=2, i.e. the loop is SHUFFLE-dominated (the
      // per-round edge aggregate), not barrier-dominated. F=2 takes
      // the win while keeping barrier convergence checks dense;
      // sf0.1 is a wash (barrier cost invisible under 16k nodes).
      // Eager per-barrier checkpoints: lazy (single-DAG across ALL
      // rounds) was measured equivalent at best and showed rare
      // pathological outliers.
      val fuse = 2
      require(ITERS % fuse == 0, s"$ITERS rounds do not split into barriers of $fuse")
      def powerStep(cur: DataFrame): DataFrame = {
        val rside = if (small) broadcast(cur) else cur.hint("shuffle_hash")
        contribSum(dedges, rside)
          .select(col("node"), (lit(TELEPORT) + expr("(85 * m) div 100")).as("r"))
      }
      // Exact-fixpoint early exit at each BARRIER: the frames compared
      // are F rounds apart, so equality means rank is a fixpoint of f^F
      // (f = one power iteration); with F dividing ITERS the final frame
      // then provably equals the current one — oracle-preserving by
      // construction, no epsilon to mirror in SQL. At F=1 this is
      // exactly the per-round check. A THRESHOLD exit cannot
      // fire under this contract: the measured max |Δr| trajectory
      // decays at exactly the damping factor (0.85×/round — 14.0M→
      // 3.19M fp units over rounds 1→10 at sf0.1, same curve at
      // sf0.001/0.01), so quantizing to ±1 fp unit needs ~90 rounds;
      // any epsilon loose enough to fire inside 10 rounds would just
      // be a smaller ITERS wearing a convergence costume. The check
      // itself is one broadcast join + isEmpty over two checkpointed
      // node-frames (|V| rows, not |E|) — microseconds against the
      // per-round edge aggregate.
      val init = deg.select(col("node"), lit(SCALE).as("r"))
      val (fixed, _) = Rounds.until(spark, init, ITERS / fuse, aqe = !small)(
        (rank, _) => (1 to fuse).foldLeft(rank)((cur, _) => powerStep(cur))) { (prev, next) =>
        next.as("n")
          .join(broadcast(prev.as("p")), col("n.node") === col("p.node"))
          .where(col("n.r") =!= col("p.r"))
          .isEmpty
      }
      // re-attach each node's own degree once, checkpointed (with the
      // loop's AQE setting) so the returned plan survives the pin's release
      val rank = Rounds.scope(spark, aqe = !small) {
        fixed
          .join(deg.withColumnRenamed("node", "dn"), col("node") === col("dn"))
          .select(col("node"), col("r"), col("deg"))
          .localCheckpoint()
      }
      rank
        .select(col("node").as("node_id"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("entity"),
          expr("node div 2").as("entity_key"),
          col("deg"), col("r").as("rank_fp"))
        .orderBy("node_id")
    }
  }

  private val HOPS = 4

  /** K-bounded multi-source BFS: shortest hop distance (≤ [[HOPS]]) from
    * the seed set — customers of nation 0 — through the co-purchase
    * graph. Semantics are "distance after exactly K relaxation rounds",
    * which both engines compute identically whatever the true diameter
    * is; integer mins are order-independent, so parity is unconditional.
    *
    * Distributed shape per round: one edges equi-join (frontier
    * expansion, frontier broadcast below [[BROADCAST_NODE_LIMIT]] — see
    * the object doc) + one min-aggregate on the destination key — the
    * Bellman-Ford relaxation step, `localCheckpoint` between rounds. At
    * 100 TB this is the standard Pregel iteration; a real deployment
    * would keep only the CHANGED frontier as the join probe (delta
    * iteration) — at gate scale the full frame is smaller than the
    * bookkeeping, and the K-round contract is identical.
    */
  val g2BfsHops: Q = Q.sql(
    "g2_bfs_hops",
    s"Multi-source BFS: min hop distance (<= $HOPS) from nation-0 customers over the co-purchase graph.",
    {
      val iters = (0 until HOPS).map { i =>
        s"""it${i + 1} AS (
           |  SELECT node, MIN(dist) AS dist FROM (
           |    SELECT node, dist FROM it$i
           |    UNION ALL
           |    SELECT e.b AS node, r.dist + 1 AS dist
           |    FROM it$i r JOIN edges e ON e.a = r.node
           |  ) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH eg AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS MATERIALIZED (SELECT a, b FROM eg UNION ALL SELECT b, a FROM eg),
         |it0 AS (
         |  SELECT c_custkey * 2 AS node, 0 AS dist FROM customer
         |  WHERE c_nationkey = 0),
         |$iters
         |SELECT node AS node_id,
         |       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
         |       node // 2 AS entity_key,
         |       dist AS hops
         |FROM it$HOPS ORDER BY node_id""".stripMargin
    }) { (spark, dir) =>
    // loop-local edge copy pinned pre-hash-partitioned on the
    // DESTINATION key: the per-round ~|E|-row relaxation aggregate
    // consumes the cached layout through the broadcast join and plans
    // with no Exchange (see [[relaxMin]]); only the 2·|V|-row
    // `dist ∪ relaxedMin` merge shuffles each round. min∘min == min,
    // so the two-level aggregate is row-identical to the single one.
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"), lit(0).as("dist"))
    // the frontier is bounded by |V| (16k at sf0.1, far under the
    // broadcast limit); a graph past BROADCAST_NODE_LIMIT would flip to
    // the g1 shuffle-hash shape with edges pre-partitioned on `a`
    Pin.during(copurchaseEdges(spark, dir).repartition(col("b")))(edges2 =>
      Rounds(spark, seeds, HOPS, aqe = false)((dist, _) =>
        dist.union(relaxMin(edges2, dist))
          .groupBy(col("node"))
          .agg(min(col("dist")).as("dist"))))
      .select(col("node").as("node_id"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("entity"),
        expr("node div 2").as("entity_key"),
        col("dist").as("hops"))
      .orderBy("node_id")
  }

  private val AFFINITY_TOP = 5

  /** Hot-key cap on the pair-mine: per customer, at most this many
    * suppliers enter the co-occurrence self-join. A customer of degree d
    * emits d² pairs, so ONE hot key (a crawler account, a marketplace
    * aggregator) turns the otherwise-linear mine quadratic — the s5
    * failure class. The cap bounds every customer's pair fan-out at
    * CAP² = 2304 rows regardless of corpus scale, which is what keeps
    * the mine volume-linear at 100 TB. Selection is DETERMINISTIC —
    * top-[[DEGREE_CAP]] by the 60-bit md5(c#s) prefix with an (s)
    * tie-break, the same hash-as-random-tape contract as dp14/g8 — so
    * both engines truncate to the SAME supplier subset and the capped
    * semantics are themselves oracle-verified (the cap FIRES at the
    * sf0.01 gate: p99 degree 55, max 67). Chosen over sampling because a
    * uniform hash pick preserves co-occurrence statistics in expectation
    * without an RNG seam. (The rank key is the numeric 15-hex-char md5
    * prefix rather than the 32-char string so the cap can live INSIDE a
    * k-bounded [[graft.functions.TopKPairs]] aggregate buffer; both
    * engines rank by the same prefix, and a prefix tie — 2^-60 per
    * supplier pair per customer — falls to the same (s) tie-break.)
    */
  private[ops] val DEGREE_CAP = 48

  /** Oracle-side mirror of [[cappedIncidence]]: CTE body over `eg(c,s)`.
    * Shared verbatim by the five pair-mine consumers (g3/g4/g5/g7/g8) so
    * the cap rule can never drift between their oracles.
    */
  private def egcSql: String =
    s"""egc AS MATERIALIZED (
       |  SELECT c, s FROM (
       |    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c
       |      ORDER BY ('0x' || substring(md5(concat_ws('#', c, s)), 1, 15))::BIGINT, s) AS rn
       |    FROM eg)
       |  WHERE rn <= $DEGREE_CAP)""".stripMargin

  private val incidenceCache = Pin.Shared.checkpointed[String]

  /** Uncached capped per-customer supplier ARRAY plan — exposed (with
    * [[pairMinePlan]]) so PlanSpec can pin that the degree cap is applied
    * IN-ROW below the pair explode (the caches hide the subtree from the
    * consumers' executed plans).
    *
    * The hash-ranked top-[[DEGREE_CAP]] selection lives INSIDE the
    * aggregate: [[graft.functions.TopKPairs]] keeps a k-bounded buffer
    * per customer on the MAP side (score = the negated 60-bit md5(c#s)
    * prefix, so (score DESC, id ASC) == (md5-prefix ASC, s ASC) — the
    * deterministic cap order), and the shuffle carries at most
    * [[DEGREE_CAP]] suppliers per (partition, customer). The r11 shape
    * ranked with a row_number WINDOW over the full incidence — at sf100
    * that sorts 550M rows carrying 32-char md5 keys through an exchange
    * (~45 GB of sort spill); the r12–r13 shape collect_list'ed each
    * customer's FULL distinct supplier list before an in-row slice — a
    * buffer bounded by the supplier universe, not the cap, which a true
    * hot key over a huge entity universe at 100 TB would blow. This
    * shape bounds BOTH the shuffle and the buffer at the cap: a
    * degree-10M crawler account costs 4·CAP longs of aggregate state
    * per map partition, nothing more. Survivors are re-sorted ascending
    * by id so the pair mine can emit s1 < s2 directly.
    */
  private[ops] def cappedArraysPlan(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(spark)
    // the cached undirected frame holds each edge once per direction;
    // keeping only even (customer-side) sources recovers the distinct
    // customer→supplier incidence exactly
    val cs = copurchaseEdges(spark, dir)
      .filter(col("a") % 2 === 0)
      .select(expr("a div 2").as("c"), expr("b div 2").as("s"))
    cs.groupBy(col("c"))
      .agg(graft.functions.GraftExpressions.topk(
        expr("-CAST(conv(substring(md5(concat_ws('#', c, s)), 1, 15), 16, 10) AS BIGINT)"),
        col("s"), DEGREE_CAP).as("top"))
      .select(col("c"), expr("array_sort(transform(top, e -> e.id))").as("ss"))
  }

  /** Capped arrays, session-pinned: ONE materialization feeds the pair
    * mine, the exploded incidence view, and g3's degree frame.
    */
  private def cappedArrays(spark: SparkSession, dir: String): DataFrame =
    incidenceCache(spark, dir)(cappedArraysPlan(spark, dir))

  /** Degree-capped customer→supplier incidence (see [[DEGREE_CAP]]) as
    * (c, s) rows — a map-side explode over the pinned [[cappedArrays]]
    * frame, no shuffle of its own.
    */
  private def cappedIncidence(spark: SparkSession, dir: String): DataFrame =
    cappedArrays(spark, dir)
      .select(col("c"), explode(col("ss")).as("s"))

  /** Uncached pair-mine plan for PlanSpec (in-row cap + no-join pin). */
  private[ops] def pairMinePlan(spark: SparkSession, dir: String): DataFrame =
    pairsFromArrays(cappedArraysPlan(spark, dir))

  /** In-row pair explode over the capped arrays, with the (s1, s2) key
    * PACKED into one long through the exchange: the aggregate's input is
    * ~deg²/2 rows per customer (11B rows at sf100 — the single biggest
    * shuffle in the registry), so halving the key bytes halves the one
    * shuffle that dominates the whole graph family. Ids are div-2 node
    * keys < 2^31 at any reachable scale; shiftleft(32) cannot collide.
    *
    * The pair enumeration itself runs on the
    * [[graft.functions.GraftExpressions.PackedPairs]] kernel — one
    * primitive long[] loop per row. The previous
    * `flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2,
    * size(ss)), y -> shiftleft(x, 32) + y)))` chain is higher-order
    * functions, which are CodegenFallback: ~4 interpreted expression
    * nodes plus one boxed Long per PAIR and two array copies per outer
    * element, paid ~11B times at sf100 (GraftExpressionsSpec pins the
    * kernel value-identical to that chain, nulls and edge shapes
    * included).
    */
  private def pairsFromArrays(arrs: DataFrame): DataFrame =
    arrs.select(explode(
        graft.functions.GraftExpressions.packedPairs(col("ss"))).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("co"))
      .select(expr("shiftright(pk, 32)").as("s1"),
        expr("pk & 4294967295").as("s2"), col("co"))

  private val pairCache = Pin.Shared.pinned[String, DataFrame]

  /** Shared-customer counts per supplier pair (s1 < s2) — the pair-mine
    * aggregate both g3 (affinity top-k) and g4 (mutual-kNN triangles)
    * start from, over the DEGREE-CAPPED incidence ([[DEGREE_CAP]] — the
    * hot-key guard that keeps the mine linear at 100 TB). Pairs are
    * generated INSIDE the row from the pinned capped array (sorted
    * ascending, so s1 < s2 by construction — the r11 self-join on the
    * customer key is gone: it re-sorted the 550M-row incidence twice at
    * sf100 before emitting the same 11B pair rows). It is the expensive
    * half of either query, so it is pinned once per (session, dataset),
    * like [[copurchaseEdges]].
    */
  private def coPairs(spark: SparkSession, dir: String): DataFrame =
    pairCache(spark, dir)(pairsFromArrays(cappedArrays(spark, dir)))

  /** Link prediction / item-item affinity over the co-purchase graph:
    * for every supplier, its top-[[AFFINITY_TOP]] most-associated
    * suppliers by shared-customer count, with the customer-set Jaccard —
    * the "customers who bought from X also bought from Y" primitive of a
    * recommender or a product-dedup pass.
    *
    * Distributed shape: the shared-customer counts come from an inverted
    * index join — co-purchase rows self-join on the CUSTOMER key, so
    * pairs meet on a plain equi-join shuffle (never a cross join), and
    * the pair aggregate has map-side partials. The top-k is a
    * row_number window partitioned by supplier — each supplier's
    * partner list sorts independently, no global sort. Ties break
    * deterministically (count desc, partner asc). The hot-entity blowup
    * every co-occurrence mine risks — a customer of d suppliers emits
    * d² pairs — is bounded by the [[DEGREE_CAP]] deterministic
    * per-customer truncation BELOW the self-join (PlanSpec-pinned),
    * mirrored in the oracle's `egc` CTE; degrees and Jaccard are over
    * the same capped incidence, so the statistic is internally
    * consistent.
    */
  val g3SupplierAffinity: Q = Q.sql(
    "g3_supplier_affinity",
    s"Top-$AFFINITY_TOP co-purchase partner suppliers by shared customers (degree-capped pair-mine), with customer-set Jaccard.",
    s"""WITH eg AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$egcSql,
       |co AS (
       |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
       |  FROM egc a JOIN egc b ON a.c = b.c AND a.s < b.s
       |  GROUP BY 1, 2),
       |deg AS (SELECT s, COUNT(*) AS d FROM egc GROUP BY s),
       |bidir AS (
       |  SELECT s1 AS s, s2 AS p, co FROM co
       |  UNION ALL SELECT s2, s1, co FROM co),
       |r AS (
       |  SELECT s, p, co,
       |         ROW_NUMBER() OVER (PARTITION BY s ORDER BY co DESC, p) AS rnk
       |  FROM bidir)
       |SELECT r.s AS supp_key, r.rnk, r.p AS partner_key, r.co AS n_common,
       |       ROUND(CAST(r.co AS DOUBLE) / (da.d + dp.d - r.co), 6) AS jaccard
       |FROM r JOIN deg da ON r.s = da.s JOIN deg dp ON r.p = dp.s
       |WHERE r.rnk <= $AFFINITY_TOP
       |ORDER BY supp_key, rnk""".stripMargin) { (spark, dir) =>
    val co = coPairs(spark, dir)
    // degree over the SAME capped incidence the pairs come from (the
    // Jaccard must be internally consistent); tiny (one row per
    // supplier) but derived from a full incidence scan — checkpoint so
    // its TWO broadcast consumers below don't re-run that scan each
    val deg = cappedIncidence(spark, dir)
      .groupBy(col("s")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // both orientations via map-side explode, NOT union(co, co.swap): the
    // union's branches would each recompute the whole pair-mine aggregate
    // (measured 2× the query cost)
    val bidir = co
      .select(explode(array(
        struct(col("s1").as("s"), col("s2").as("p"), col("co")),
        struct(col("s2").as("s"), col("s1").as("p"), col("co")))).as("e"))
      .select(col("e.s").as("s"), col("e.p").as("p"), col("e.co").as("co"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("co").desc, col("p"))
    val top = bidir
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= AFFINITY_TOP)
    top
      .join(broadcast(deg.select(col("s").as("das"), col("d").as("da"))),
        col("s") === col("das"))
      .join(broadcast(deg.select(col("s").as("dps"), col("d").as("dp"))),
        col("p") === col("dps"))
      .select(col("s").as("supp_key"), col("rnk"), col("p").as("partner_key"),
        col("co").as("n_common"),
        round(col("co").cast("double") / (col("da") + col("dp") - col("co")), 6)
          .as("jaccard"))
      .orderBy("supp_key", "rnk")
  }

  private val MUTUAL_TOP = 8

  private val mutualCache = Pin.Shared.checkpointed[String]

  /** Oriented (x < y) mutual-top-[[MUTUAL_TOP]] partner edges — the
    * sparsified supplier graph g4 (triangles) and g5 (k-core) both run
    * on. Derived from the shared [[coPairs]] frame; the localCheckpoint
    * truncates the window lineage and gives the planner true (tiny)
    * sizes, and the session cache keeps the top-K window from re-running
    * per consumer query.
    */
  private[ops] def mutualEdges(spark: SparkSession, dir: String): DataFrame =
    mutualCache(spark, dir) {
      val co = coPairs(spark, dir)
      val bidir = co
        .select(explode(array(
          struct(col("s1").as("s"), col("s2").as("p"), col("co")),
          struct(col("s2").as("s"), col("s1").as("p"), col("co")))).as("e"))
        .select(col("e.s").as("s"), col("e.p").as("p"), col("e.co").as("co"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("co").desc, col("p"))
      val topk = bidir
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= MUTUAL_TOP)
        .select(col("s"), col("p"))
      topk.as("a").join(topk.as("b"),
          col("a.s") === col("b.p") && col("a.p") === col("b.s") &&
            col("a.s") < col("a.p"))
        .select(col("a.s").as("x"), col("a.p").as("y"))
    }

  private val wedgeCache = Pin.Shared.checkpointed[String]

  /** Wedge (distance-≤2 pair) common-neighbor counts over the mutual
    * graph: for every unordered pair u < v with at least one shared
    * neighbor, the shared-neighbor count `cn`. ONE mine, session-pinned,
    * shared by the two wedge consumers: g10 (link prediction scores
    * non-EDGES by cn/Jaccard) and g4 (triangles ARE the edges' cn —
    * tri-per-node(s) = ½·Σ cn over s's incident edges, since each
    * triangle {s,b,c} is seen by exactly the two incident edges (s,b)
    * and (s,c)). Before the share, g4 ran its own 3-way closure join
    * over the same frame g10's self-join already enumerates — the two
    * heaviest graph mines each paid the wedge cost separately.
    *
    * Scale shape: the mutual graph caps degree at [[MUTUAL_TOP]] by
    * construction, so the symmetric self-join fans out ≤ K²/2 rows per
    * node — linear in |V| at any corpus scale. The localCheckpoint
    * truncates the two-join lineage and lets every consumer read the
    * tiny counted frame instead of re-running the mine.
    */
  private[ops] def wedgeCounts(spark: SparkSession, dir: String): DataFrame =
    wedgeCache(spark, dir) {
      val ed = mutualEdges(spark, dir)
        .select(explode(array(
          struct(col("x").as("src"), col("y").as("dst")),
          struct(col("y").as("src"), col("x").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      ed.select(col("src"), col("dst").as("u"))
        .join(ed.select(col("src"), col("dst").as("v")), "src")
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("cn"))
    }

  /** Triangle count + local clustering coefficient over the mutual-top-K
    * co-purchase partner graph. The raw supplier–supplier projection of a
    * co-purchase bipartite graph is DENSE (at gate scale it is complete —
    * every supplier pair shares customers), so the standard sparsifier is
    * applied first: keep the top-[[MUTUAL_TOP]] partners per supplier by
    * shared-customer count and an edge only where the selection is MUTUAL
    * (each endpoint in the other's top-K). That graph has degree ≤ K by
    * construction, so edges are O(K·|V|) and wedge fan-out per node is
    * ≤ K² — triangle enumeration stays linear in |V| at any corpus scale,
    * the reason mutual-kNN is the graph ANN/community pipelines actually
    * build.
    *
    * Distributed shape: the pair mine is the shared [[coPairs]] frame;
    * top-K is a per-supplier window (no global sort); the mutual filter
    * is a self equi-join on the reversed key; triangles ride the SHARED
    * [[wedgeCounts]] frame (also g10's candidate mine): an edge (u,v)'s
    * triangle count IS its wedge cn, so per-node credit is one equi-join
    * of the pinned wedge frame onto the edge list, a 2-way endpoint
    * explode, and one aggregate — the 3-way closure join this query ran
    * before the share is gone. Every join is an equi-join over
    * localCheckpoint-pinned frames; at 1e9 nodes the joins shuffle on
    * the same keys with no code change.
    */
  val g4TriangleCount: Q = Q.sql(
    "g4_triangles",
    s"Triangle count + clustering coefficient over the mutual-top-$MUTUAL_TOP co-purchase partner graph.",
    // MATERIALIZED on every multiply-referenced CTE: DuckDB otherwise
    // INLINES each reference (mut x5, topk x2, tri x3), compounding into
    // one giant join tree whose mis-ordered plan ran 75+ min at sf0.1;
    // materialization hints restore the obvious bottom-up evaluation
    // (measured 3.4 s)
    s"""WITH eg AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$egcSql,
       |co AS MATERIALIZED (
       |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
       |  FROM egc a JOIN egc b ON a.c = b.c AND a.s < b.s
       |  GROUP BY 1, 2),
       |bidir AS (
       |  SELECT s1 AS s, s2 AS p, co FROM co
       |  UNION ALL SELECT s2, s1, co FROM co),
       |topk AS MATERIALIZED (
       |  SELECT s, p FROM (
       |    SELECT s, p,
       |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY co DESC, p) AS rnk
       |    FROM bidir)
       |  WHERE rnk <= $MUTUAL_TOP),
       |mut AS MATERIALIZED (
       |  SELECT a.s AS x, a.p AS y FROM topk a
       |  JOIN topk b ON a.s = b.p AND a.p = b.s
       |  WHERE a.s < a.p),
       |tri AS MATERIALIZED (
       |  SELECT ab.x AS a, ab.y AS b, bc.y AS c
       |  FROM mut ab JOIN mut bc ON ab.y = bc.x
       |  JOIN mut ac ON ac.x = ab.x AND ac.y = bc.y),
       |tn AS (
       |  SELECT a AS s FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |tc AS (SELECT s, COUNT(*) AS tri FROM tn GROUP BY s),
       |degm AS (
       |  SELECT s, COUNT(*) AS deg FROM (
       |    SELECT x AS s FROM mut UNION ALL SELECT y FROM mut)
       |  GROUP BY s)
       |SELECT d.s AS supp_key, d.deg, COALESCE(tc.tri, 0) AS triangles,
       |       CASE WHEN d.deg >= 2
       |            THEN ROUND(CAST(2 * COALESCE(tc.tri, 0) AS DOUBLE)
       |                       / (d.deg * (d.deg - 1)), 6)
       |            ELSE 0.0 END AS clustering
       |FROM degm d LEFT JOIN tc ON d.s = tc.s
       |ORDER BY supp_key""".stripMargin) { (spark, dir) =>
    val mut = mutualEdges(spark, dir)
    // an edge's wedge cn IS its triangle count; each triangle {s,b,c} is
    // credited to s by both incident edges, hence the exact DIV 2
    val edgeTri = wedgeCounts(spark, dir)
      .join(mut.select(col("x").as("u"), col("y").as("v")), Seq("u", "v"))
    val tc = edgeTri
      .select(explode(array(col("u"), col("v"))).as("s"), col("cn"))
      .groupBy(col("s")).agg(expr("sum(cn) DIV 2").as("tri"))
    val degm = mut
      .select(explode(array(col("x"), col("y"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
    degm.join(tc.withColumnRenamed("s", "ts"), col("s") === col("ts"), "left")
      .select(col("s").as("supp_key"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round((lit(2) * coalesce(col("tri"), lit(0L))).cast("double")
            / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("supp_key")
  }

  private val CORE_K = 3
  private val CORE_ROUNDS = 8

  /** [[CORE_K]]-core of the mutual partner graph by fixed-round
    * simultaneous peeling: each round drops every node with fewer than
    * [[CORE_K]] neighbors in the current induced subgraph; after
    * [[CORE_ROUNDS]] rounds (measured converged by round 6 at both gate
    * scales; extra rounds are no-ops, so the fixed-R contract is
    * engine-agnostic either way) the survivors are the densely
    * co-purchased supplier cluster — the community-detection primitive
    * k-core decomposition computes per level.
    *
    * Distributed shape per round, same as the g1/g2 fixpoints: induce
    * the subgraph with two alive-set equi-joins (alive broadcast below
    * [[BROADCAST_NODE_LIMIT]]), one degree aggregate, one filter;
    * `localCheckpoint` truncates lineage; the driver loop carries only
    * round CONTROL. The oracle unrolls the same rounds as MATERIALIZED
    * CTEs (see g4 for why the hint matters).
    */
  val g5KCore: Q = Q.sql(
    "g5_kcore",
    s"$CORE_K-core of the mutual-top-$MUTUAL_TOP partner graph: $CORE_ROUNDS-round peel, survivors with core degree.",
    {
      // a node's degree is its count across BOTH endpoints of the
      // oriented (x < y) edge list — per-orientation HAVING clauses
      // would drop nodes whose degree splits across orientations
      val iters = (0 until CORE_ROUNDS).map { i =>
        s"""f$i AS MATERIALIZED (
           |  SELECT m.x, m.y FROM mut m
           |  JOIN a$i p ON m.x = p.node JOIN a$i q ON m.y = q.node),
           |a${i + 1} AS MATERIALIZED (
           |  SELECT s AS node FROM (
           |    SELECT x AS s FROM f$i UNION ALL SELECT y FROM f$i)
           |  GROUP BY s HAVING COUNT(*) >= $CORE_K)""".stripMargin
      }.mkString(",\n")
      s"""WITH eg AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |$egcSql,
         |co AS MATERIALIZED (
         |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
         |  FROM egc a JOIN egc b ON a.c = b.c AND a.s < b.s
         |  GROUP BY 1, 2),
         |bidir AS (
         |  SELECT s1 AS s, s2 AS p, co FROM co
         |  UNION ALL SELECT s2, s1, co FROM co),
         |topk AS MATERIALIZED (
         |  SELECT s, p FROM (
         |    SELECT s, p,
         |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY co DESC, p) AS rnk
         |    FROM bidir)
         |  WHERE rnk <= $MUTUAL_TOP),
         |mut AS MATERIALIZED (
         |  SELECT a.s AS x, a.p AS y FROM topk a
         |  JOIN topk b ON a.s = b.p AND a.p = b.s
         |  WHERE a.s < a.p),
         |a0 AS (SELECT x AS node FROM mut UNION SELECT y FROM mut),
         |$iters,
         |fe AS (
         |  SELECT m.x, m.y FROM mut m
         |  JOIN a$CORE_ROUNDS p ON m.x = p.node
         |  JOIN a$CORE_ROUNDS q ON m.y = q.node)
         |SELECT s AS supp_key, COUNT(*) AS core_deg FROM (
         |  SELECT x AS s FROM fe UNION ALL SELECT y FROM fe)
         |GROUP BY s ORDER BY supp_key""".stripMargin
    }) { (spark, dir) =>
    val mut = mutualEdges(spark, dir)
    def induced(alive: DataFrame): DataFrame = mut
      .join(broadcast(alive.withColumnRenamed("node", "ax")), col("x") === col("ax"))
      .join(broadcast(alive.withColumnRenamed("node", "ay")), col("y") === col("ay"))
      .select(col("x"), col("y"))
    // tiny per-round frames: the rounds and the final degree count run
    // with AQE off
    val nodes = mut.select(explode(array(col("x"), col("y"))).as("node")).distinct()
    val core = Rounds(spark, nodes, CORE_ROUNDS, aqe = false)((alive, _) =>
      induced(alive)
        .select(explode(array(col("x"), col("y"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= CORE_K)
        .select(col("node")))
    Rounds.scope(spark, aqe = false)(induced(core)
        .select(explode(array(col("x"), col("y"))).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("core_deg"))
        .localCheckpoint())
      .select(col("s").as("supp_key"), col("core_deg"))
      .orderBy("supp_key")
  }

  private val PPR_ITERS = 10

  /** Personalized PageRank from a seed set — the trusted-seed expansion
    * move behind graph-based data curation (score every document/domain
    * by proximity to a hand-vetted seed list, keep the high-mass tail):
    * teleport mass returns ONLY to the seeds (nation-0 customers, the
    * same seed set [[g2BfsHops]] uses), so rank measures closeness to
    * the seed neighborhood rather than global centrality.
    *
    *   r₀(v)    = SCALE · 1[v ∈ seeds]
    *   rₖ₊₁(v) = TELEPORT · 1[v ∈ seeds] + (85 · Σ_{u∈N(v)} (rₖ(u) div deg(u))) div 100
    *
    * Same fixed-point (×1e6) integer contract as [[g1PageRank]] — sums of
    * integers are order-independent, so both engines agree bit-for-bit
    * after any round count. Unlike g1 the frame STARTS at the seed set
    * and grows with the reached neighborhood (each round's full-outer
    * join re-injects seed teleport even where no mass arrives), so early
    * rounds move kilobytes — the sparse-frontier property that makes PPR
    * the cheap per-seed query at 100 TB. No early exit: mass is still
    * spreading at round [[PPR_ITERS]] by construction, and g1's scaladoc
    * records why a threshold exit can't honestly fire.
    *
    * Per-round shape: static degree-enriched edges ⋈ rank frame
    * (broadcast below [[BROADCAST_NODE_LIMIT]]) → destination aggregate
    * with map-side partials → full-outer with the (tiny, checkpointed)
    * seed frame; `localCheckpoint` truncates lineage per round.
    */
  val g6PersonalizedPageRank: Q = Q.sql(
    "g6_personalized_pagerank",
    s"Fixed-point personalized PageRank ($PPR_ITERS rounds) from the nation-0 customer seed set over the co-purchase graph.",
    {
      val iters = (0 until PPR_ITERS).map { i =>
        s"""it${i + 1} AS (
           |  SELECT COALESCE(c.node, s.node) AS node,
           |         COALESCE(s.t, 0) + (85 * COALESCE(c.m, 0)) // 100 AS r
           |  FROM (
           |    SELECT e.b AS node, SUM(r.r // d.deg) AS m
           |    FROM it$i r
           |    JOIN deg d ON r.node = d.node
           |    JOIN edges e ON e.a = r.node
           |    GROUP BY e.b) c
           |  FULL OUTER JOIN seeds s ON c.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH eg AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS MATERIALIZED (SELECT a, b FROM eg UNION ALL SELECT b, a FROM eg),
         |deg AS MATERIALIZED (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
         |seeds AS MATERIALIZED (
         |  SELECT c_custkey * 2 AS node, CAST($TELEPORT AS BIGINT) AS t
         |  FROM customer WHERE c_nationkey = 0),
         |it0 AS (SELECT node, CAST($SCALE AS BIGINT) AS r FROM seeds),
         |$iters
         |SELECT f.node AS node_id,
         |       CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
         |       f.node // 2 AS entity_key,
         |       CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_seed,
         |       CAST(f.r AS BIGINT) AS rank_fp
         |FROM it$PPR_ITERS f LEFT JOIN seeds s ON f.node = s.node
         |WHERE f.r > 0
         |ORDER BY node_id""".stripMargin
    }) { (spark, dir) =>
    withSenderDegree(spark, dir) { (_, small, dedges) =>
      val seeds = Tables.customer(spark, dir)
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node"), lit(TELEPORT).as("t"))
        .localCheckpoint()
      val init = seeds.select(col("node"), lit(SCALE).as("r"))
      val rank = Rounds(spark, init, PPR_ITERS, aqe = !small) { (prev, _) =>
        val rside = if (small) broadcast(prev) else prev.hint("shuffle_hash")
        contribSum(dedges, rside)
          .join(broadcast(seeds), Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("t"), lit(0L))
              + expr("(85 * coalesce(m, 0)) div 100")).as("r"))
      }
      rank.filter(col("r") > 0)
        .join(broadcast(seeds.select(col("node").as("sn"))),
          col("node") === col("sn"), "left_outer")
        .select(col("node").as("node_id"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("entity"),
          expr("node div 2").as("entity_key"),
          when(col("sn").isNull, 0L).otherwise(1L).as("is_seed"),
          col("r").as("rank_fp"))
        .orderBy("node_id")
    }
  }

  private val LPA_ROUNDS = 4

  private val lpaCache = Pin.Shared.memo[String, DataFrame]

  /** Final (node, label) frame after [[LPA_ROUNDS]] synchronous LPA rounds
    * over the mutual-top-[[MUTUAL_TOP]] partner graph — the loop g7
    * reports and g9 audits, factored so both consumers (and both their
    * oracles, which repeat the same CTE chain) share ONE propagation per
    * (session, dataset). Each round: bidirectional edges ⋈ broadcast
    * label frame → per-(node,label) count with map-side partials →
    * plurality pick via a ≤deg(v) candidate window; the rounds run
    * through [[Rounds]] with AQE off.
    */
  private[ops] def lpaLabels(spark: SparkSession, dir: String): DataFrame =
    lpaCache(spark, dir) {
      val mut = mutualEdges(spark, dir)
      val ed = mut
        .select(explode(array(
          struct(col("x").as("src"), col("y").as("dst")),
          struct(col("y").as("src"), col("x").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .localCheckpoint()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("cnt").desc, col("label"))
      val own = ed.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      Rounds(spark, own, LPA_ROUNDS, aqe = false)((lab, _) =>
        ed.join(broadcast(lab), col("src") === col("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select(col("dst").as("node"), col("label")))
    }

  /** Synchronous label propagation (community detection) over the
    * mutual-top-[[MUTUAL_TOP]] partner graph — the clustering move behind
    * topic/domain grouping of a crawled corpus (bucket similar sources,
    * then sample per community instead of per page). Every node starts
    * with its own id as label; each round every node adopts the label
    * held by the PLURALITY of its neighbors, ties broken toward the
    * smallest label — a fully deterministic variant of Raghavan et al.'s
    * LPA (random tie-breaks would diverge between engines). Fixed
    * [[LPA_ROUNDS]] synchronous rounds: synchronous LPA has no guaranteed
    * fixpoint (bipartite-ish regions oscillate with period 2), so a fixed
    * round budget IS the spec, identically executed by both engines.
    *
    * Distributed shape per round: bidirectional edges ⋈ label frame
    * (broadcast — one row per node, the same ≤[[BROADCAST_NODE_LIMIT]]
    * rationale as g1; past it, the same co-partitioned shuffle shape) →
    * per-(node, label) count aggregate with map-side partials → plurality
    * pick via a per-node window over ≤ deg(v) ≤ [[MUTUAL_TOP]] candidate
    * rows. The rounds run through [[Rounds]] with AQE off. Degree ≤
    * [[MUTUAL_TOP]] by construction bounds each round at O(K·|V|) rows —
    * community detection on the sparsified graph stays linear at 100 TB.
    */
  /** Oracle-side mirror of [[lpaLabels]]: the CTE chain from the raw
    * incidence through the final label frame `l`[[LPA_ROUNDS]] — shared
    * verbatim by g7 and g9 so the propagation rule cannot drift between
    * their oracles (the egcSql discipline applied to the LPA loop).
    */
  /** Oracle CTE chain from the raw incidence through the mutual graph's
    * bidirectional edge list `ed` — shared by every oracle that consumes
    * the mutual-top-[[MUTUAL_TOP]] graph so the construction rule cannot
    * drift between them (the egcSql discipline, one level up).
    */
  private def mutCtesSql: String =
    s"""eg AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$egcSql,
       |co AS MATERIALIZED (
       |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
       |  FROM egc a JOIN egc b ON a.c = b.c AND a.s < b.s
       |  GROUP BY 1, 2),
       |bidir AS (
       |  SELECT s1 AS s, s2 AS p, co FROM co
       |  UNION ALL SELECT s2, s1, co FROM co),
       |topk AS MATERIALIZED (
       |  SELECT s, p FROM (
       |    SELECT s, p,
       |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY co DESC, p) AS rnk
       |    FROM bidir)
       |  WHERE rnk <= $MUTUAL_TOP),
       |mut AS MATERIALIZED (
       |  SELECT a.s AS x, a.p AS y FROM topk a
       |  JOIN topk b ON a.s = b.p AND a.p = b.s
       |  WHERE a.s < a.p),
       |ed AS MATERIALIZED (
       |  SELECT x AS src, y AS dst FROM mut UNION ALL SELECT y, x FROM mut)""".stripMargin

  private def lpaCtesSql: String = {
    val iters = (0 until LPA_ROUNDS).map { i =>
      s"""l${i + 1} AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label,
         |           ROW_NUMBER() OVER (PARTITION BY e.dst
         |             ORDER BY COUNT(*) DESC, l.label) AS rnk
         |    FROM ed e JOIN l$i l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$mutCtesSql,
       |l0 AS (
       |  SELECT node, node AS label FROM (
       |    SELECT x AS node FROM mut UNION SELECT y FROM mut)),
       |$iters""".stripMargin
  }

  val g7LabelPropagation: Q = Q.sql(
    "g7_label_propagation",
    s"Deterministic $LPA_ROUNDS-round label propagation communities over the mutual-top-$MUTUAL_TOP partner graph.",
    s"""WITH $lpaCtesSql,
       |cs AS (SELECT label, COUNT(*) AS comm_size FROM l$LPA_ROUNDS GROUP BY label)
       |SELECT l.node AS supp_key, l.label AS community, c.comm_size
       |FROM l$LPA_ROUNDS l JOIN cs c ON l.label = c.label
       |ORDER BY supp_key""".stripMargin) { (spark, dir) =>
    val lab = lpaLabels(spark, dir)
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("comm_size"))
    lab.join(broadcast(sizes), Seq("label"))
      .select(col("node").as("supp_key"), col("label").as("community"),
        col("comm_size"))
      .orderBy("supp_key")
  }

  private val WALK_LEN = 4

  /** Deterministic random walks over the mutual-top-[[MUTUAL_TOP]]
    * partner graph — the DeepWalk/node2vec corpus-generation step: one
    * length-[[WALK_LEN]] walk per node, whose step-t transition picks
    * neighbor index `md5(node#t#start) mod degree` from the rank-ordered
    * adjacency. The md5 stream plays the random tape (the dp14 trick
    * applied to walks), so the walk corpus is bit-reproducible in any
    * engine — the property that makes graph-embedding training data
    * auditable, where a PRNG-seeded walker never reproduces across
    * frameworks. Hashing (node, step, START) rather than (node, step)
    * keeps two walks that meet at a node from merging into the same
    * suffix — the corpus stays diverse, as sampled walks would be.
    *
    * Distributed shape: the ranked adjacency (rank + degree windows over
    * the degree-≤[[MUTUAL_TOP]] edge frame) is built once and
    * localCheckpoint-pinned; each step is ONE equi-join of the walk
    * frontier against it on the node key (frontier rows join ≤ K
    * adjacency rows, then the rank filter keeps exactly one) — at 100 TB
    * both sides hash-partition on the node id and each step is a
    * co-partitioned join of n rows, the textbook distributed walk
    * engine. No floats anywhere.
    */
  val g8RandomWalk: Q = Q.sql(
    "g8_random_walk",
    s"Deterministic md5-driven random walks (length $WALK_LEN) over the mutual-top-$MUTUAL_TOP partner graph.",
    {
      val steps = (1 to WALK_LEN).map { t =>
        s"""w$t AS (
           |  SELECT w.start, a.dst AS node
           |  FROM w${t - 1} w JOIN adj a
           |    ON a.src = w.node
           |   AND a.rnk = 1 + ('0x' || substring(md5(concat_ws('#', w.node, $t, w.start)), 1, 7))::BIGINT % a.deg)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to WALK_LEN)
        .map(t => s"SELECT start, $t AS step, node FROM w$t")
        .mkString("\nUNION ALL ")
      s"""WITH eg AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |$egcSql,
         |co AS MATERIALIZED (
         |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
         |  FROM egc a JOIN egc b ON a.c = b.c AND a.s < b.s
         |  GROUP BY 1, 2),
         |bidir AS (
         |  SELECT s1 AS s, s2 AS p, co FROM co
         |  UNION ALL SELECT s2, s1, co FROM co),
         |topk AS MATERIALIZED (
         |  SELECT s, p FROM (
         |    SELECT s, p,
         |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY co DESC, p) AS rnk
         |    FROM bidir)
         |  WHERE rnk <= $MUTUAL_TOP),
         |mut AS MATERIALIZED (
         |  SELECT a.s AS x, a.p AS y FROM topk a
         |  JOIN topk b ON a.s = b.p AND a.p = b.s
         |  WHERE a.s < a.p),
         |ed AS (
         |  SELECT x AS src, y AS dst FROM mut UNION ALL SELECT y, x FROM mut),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rnk,
         |         COUNT(*) OVER (PARTITION BY src) AS deg
         |  FROM ed),
         |w0 AS (SELECT DISTINCT src AS start, src AS node FROM adj),
         |$steps
         |SELECT start, CAST(step AS BIGINT) AS step, node FROM (
         |$unions)
         |ORDER BY start, step""".stripMargin
    }) { (spark, dir) =>
    val mut = mutualEdges(spark, dir)
    val ed = mut
      .select(explode(array(
        struct(col("x").as("src"), col("y").as("dst")),
        struct(col("y").as("src"), col("x").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val adj = ed
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint()
    val starts = adj.select(col("src")).distinct()
      .select(col("src").as("start"), col("src").as("node"))
    val steps = Rounds.frames(spark, starts, WALK_LEN, aqe = false) { (cur, t) =>
      val pick = pmod(graft.functions.DetHash.md5Long28(
        concat_ws("#", col("node"), lit(t), col("start"))), col("deg")) + 1
      cur.join(adj, col("node") === col("src"))
        .filter(col("rnk") === pick)
        .select(col("start"), col("dst").as("node"))
    }
    steps.zipWithIndex
      .map { case (cur, t) => cur.withColumn("step", lit(t.toLong)) }
      .reduce(_ union _)
      .select(col("start"), col("step"), col("node"))
      .orderBy("start", "step")
  }

  /** Newman modularity audit of g7's communities — the quality metric a
    * clustering pipeline reports before trusting a partition (sampling
    * per community, corpus mixing by community, etc.). Per community c:
    * node count, intra-community edge count e_c, degree mass D_c, and
    * the EXACT integer modularity-contribution numerator
    * 4·m·e_c − D_c² over the shared denominator 4·m² (Q = Σ_c num_c /
    * 4m² — the textbook Σ e_c/m − (D_c/2m)² cleared of fractions). No
    * division happens anywhere, so there is no floor-vs-truncate seam on
    * the NEGATIVE contributions sparse communities produce (the dp13
    * lesson applied by construction); decimal(38,0)/HUGEINT carries
    * 4m² past BIGINT at billion-node scale.
    *
    * Distributed shape: labels come from the SHARED [[lpaLabels]] frame
    * (one propagation feeds g7 and g9); intra-edge counting is the edge
    * list joined twice against the broadcast label frame (|V| rows —
    * past the broadcast limit it becomes two co-partitioned shuffles on
    * the endpoint key); degrees and community rollups are map-side
    * partial aggregates; the global edge count rides a 1-row broadcast
    * crossJoin. Everything downstream of the shared LPA loop is linear
    * in |E| ≤ K·|V| — the audit costs one extra pass over the sparsified
    * graph.
    */
  val g9Modularity: Q = Q.sql(
    "g9_modularity",
    s"Per-community Newman modularity contributions (exact integer numerators) over g7's $LPA_ROUNDS-round LPA partition.",
    s"""WITH $lpaCtesSql,
       |lab AS (SELECT node, label FROM l$LPA_ROUNDS),
       |mtot AS (SELECT COUNT(*) AS m FROM mut),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM ed GROUP BY src),
       |intra AS (
       |  SELECT la.label AS community, COUNT(*) AS intra_edges
       |  FROM mut e
       |  JOIN lab la ON e.x = la.node
       |  JOIN lab lb ON e.y = lb.node
       |  WHERE la.label = lb.label
       |  GROUP BY 1),
       |comm AS (
       |  SELECT l.label AS community, COUNT(*) AS n_nodes,
       |         SUM(d.d) AS deg_sum
       |  FROM lab l JOIN deg d ON l.node = d.node
       |  GROUP BY 1)
       |SELECT c.community, CAST(c.n_nodes AS BIGINT) AS n_nodes,
       |       CAST(c.deg_sum AS BIGINT) AS deg_sum,
       |       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       |       CAST(m.m AS BIGINT) AS m_edges,
       |       CAST(4::HUGEINT * m.m * COALESCE(i.intra_edges, 0)
       |            - c.deg_sum::HUGEINT * c.deg_sum AS BIGINT) AS contrib_num,
       |       CAST(4::HUGEINT * m.m * m.m AS BIGINT) AS denom
       |FROM comm c
       |LEFT JOIN intra i ON c.community = i.community
       |CROSS JOIN mtot m
       |ORDER BY c.community""".stripMargin) { (spark, dir) =>
    val mut = mutualEdges(spark, dir)
    val lab = lpaLabels(spark, dir)
    val mTot = mut.agg(count(lit(1)).as("m"))
    val deg = mut
      .select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val intra = mut
      .join(broadcast(lab.select(col("node").as("x"), col("label").as("la"))), "x")
      .join(broadcast(lab.select(col("node").as("y"), col("label").as("lb"))), "y")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // arithmetic stays decimal(38,0) internally; EMISSION is BIGINT —
    // decimal128/int128 outputs sit outside the driver hasher's
    // canonicalization (round-8 red row). |contrib_num| ≤ 4m² and
    // denom = 4m² fit 2^63 up to m ≈ 1.5e9 mutual edges — orders of
    // magnitude past sf10's graph. Past that bound Spark's non-ANSI
    // decimal→long cast would return NULL where the oracle's CAST
    // raises, so guard explicitly: overflow fails loudly on BOTH
    // engines instead of diverging silently.
    val asLongChecked = (c: Column, what: String) =>
      when(abs(c) > d38(lit(Long.MaxValue)),
        raise_error(concat(lit(s"g9: $what overflows BIGINT at m > ~1.5e9 "
          + "mutual edges: "), c.cast("string"))).cast("long"))
        .otherwise(c.cast("long"))
    lab.join(broadcast(deg), "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("deg_sum"))
      .join(broadcast(intra), Seq("community"), "left_outer")
      .crossJoin(broadcast(mTot))
      .select(col("community"), col("n_nodes"),
        col("deg_sum").cast("long").as("deg_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("m").as("m_edges"),
        asLongChecked(d38(lit(4L)) * col("m") * coalesce(col("intra_edges"), lit(0L))
          - d38(col("deg_sum")) * col("deg_sum"), "contrib_num").as("contrib_num"),
        asLongChecked(d38(lit(4L)) * col("m") * col("m"), "denom").as("denom"))
      .orderBy("community")
  }

  private[ops] val LP_MIN_CN = 2
  private val LP_TOPN = 100

  /** Link prediction over the mutual-top-[[MUTUAL_TOP]] partner graph:
    * for every NON-edge pair at distance 2, the common-neighbor count
    * and Jaccard neighborhood overlap (the classic Liben-Nowell/Kleinberg
    * scores) — the "suppliers that should partner but don't" /
    * "sources that should be crawled together" recommendation a graph
    * curation pass emits. Top-[[LP_TOPN]] by (jaccard, keys) with the
    * [[LP_MIN_CN]]-common-neighbor floor.
    *
    * Scale shape: candidate pairs are WEDGES — the shared session-pinned
    * [[wedgeCounts]] frame (ONE ed⋈ed self-join on the shared endpoint,
    * also the frame g4's triangle count reads) — and the mutual graph
    * caps degree at [[MUTUAL_TOP]] by construction, so per-node wedge
    * fan-out is ≤ K²/2 = 32 rows: the mine is linear in |V| at any
    * corpus scale and paid once per session across both consumers.
    * Existing edges leave via a broadcast-able anti-join against the
    * edge list; degrees join from a map-side-partial count. Jaccard is a floor-divided ppm of
    * all-positive integers (|N(u)∩N(v)| / |N(u)∪N(v)| with the union by
    * inclusion-exclusion) — bit-identical across engines; the LIMIT
    * rides a total order.
    */
  val g10LinkPrediction: Q = Q.sql(
    "g10_link_prediction",
    s"Common-neighbor/Jaccard link prediction over the mutual graph: top-$LP_TOPN distance-2 non-edges (cn >= $LP_MIN_CN).",
    s"""WITH $mutCtesSql,
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM ed GROUP BY 1),
       |cn AS (
       |  SELECT a.dst AS u, b.dst AS v, COUNT(*) AS cn
       |  FROM ed a JOIN ed b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT c.u, c.v, c.cn, du.d AS deg_u, dv.d AS deg_v,
       |         CAST((1000000 * c.cn) // (du.d + dv.d - c.cn) AS BIGINT) AS jaccard_ppm
       |  FROM cn c
       |  JOIN deg du ON c.u = du.node
       |  JOIN deg dv ON c.v = dv.node
       |  LEFT JOIN mut e ON c.u = e.x AND c.v = e.y
       |  WHERE e.x IS NULL AND c.cn >= $LP_MIN_CN)
       |SELECT u AS supp_u, v AS supp_v, cn AS common_neighbors,
       |       deg_u, deg_v, jaccard_ppm
       |FROM pred
       |ORDER BY jaccard_ppm DESC, supp_u, supp_v LIMIT $LP_TOPN""".stripMargin) { (spark, dir) =>
    val mut = mutualEdges(spark, dir)
    // the wedge mine is the shared session-pinned frame (g4 reads the
    // same one for triangles); degrees are one pass over the pinned
    // mutual edge list
    val deg = mut.select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val wedges = wedgeCounts(spark, dir).filter(col("cn") >= LP_MIN_CN)
    wedges
      .join(mut.select(col("x").as("u"), col("y").as("v")), Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("d").as("deg_u")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("deg_v")), "v")
      .select(col("u").as("supp_u"), col("v").as("supp_v"),
        col("cn").as("common_neighbors"), col("deg_u"), col("deg_v"),
        expr("CAST((1000000 * cn) DIV (deg_u + deg_v - cn) AS BIGINT)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("supp_u"), col("supp_v"))
      .limit(LP_TOPN)
  }

  // the "today's arrivals" slice of the mutual graph: a fixed ~10%
  // residue class of edges held out as the nightly batch (the d13/s21
  // convention, lifted to edges — deterministic in both engines)
  // private[ops]: w24 (the streaming twin) reuses g11's oracle verbatim,
  // so its staging and standing-graph slices must reference these same
  // constants — a local hardcode there could drift the stream==batch
  // contract (the S21/w23 rule, applied to edges)
  private[ops] val G11_MOD = 10
  private[ops] val G11_RES = 3

  private val standingAdjCache = Pin.Shared.checkpointed[String]
  private val standingDegCache = Pin.Shared.checkpointed[String]

  private def isG11Batch =
    pmod(col("x") + col("y"), lit(G11_MOD)) === G11_RES

  /** g11's arriving-edge batch: the fixed residue class of the mutual
    * graph. Shared with w24's staging so batch and stream apply to the
    * identical edge set.
    */
  private[ops] def g11BatchEdges(spark: SparkSession, dir: String): DataFrame =
    mutualEdges(spark, dir).filter(isG11Batch).select(col("x"), col("y"))

  /** The STANDING symmetric adjacency (batch residue excluded), pinned
    * and session-shared: feeds g11's degree rollup and both neighbor
    * probes, and is the static side of w24's stream-static joins (a
    * stream-static join re-evaluates its static plan per micro-batch —
    * the pin makes that a cached-frame read).
    */
  private[ops] def standingAdj(spark: SparkSession, dir: String): DataFrame =
    standingAdjCache(spark, dir) {
      mutualEdges(spark, dir).filter(!isG11Batch)
        .select(explode(array(
          struct(col("x").as("src"), col("y").as("dst")),
          struct(col("y").as("src"), col("x").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

  /** Standing per-node degree over [[standingAdj]], pinned (w24 joins it
    * per micro-batch; g11 broadcasts it twice).
    */
  private[ops] def standingDeg(spark: SparkSession, dir: String): DataFrame =
    standingDegCache(spark, dir) {
      standingAdj(spark, dir)
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    }

  /** Incremental edge apply — the d13/s21 move for graphs: a batch of
    * NEW edges (the fixed residue class `(x + y) % `[[G11_MOD]]` =
    * `[[G11_RES]] of the mutual graph) is applied against the STANDING
    * graph (the session-persisted [[mutualEdges]] minus the batch), and
    * each arriving edge gets its maintenance verdict: the triangles it
    * closes on arrival (common neighbors in the standing graph — the
    * incremental-triangle-count delta), both endpoints' standing
    * degrees, the g10 Jaccard score, and whether the standing graph's
    * link predictor would have flagged it (cn ≥ [[LP_MIN_CN]] — the
    * prediction-validation loop a graph curation pass closes nightly).
    *
    * Scale shape: the standing adjacency is degree-capped at
    * [[MUTUAL_TOP]] by construction, so per-batch-edge work is two ≤8-row
    * neighbor probes meeting on the shared endpoint — linear in the
    * BATCH, no wedge mine over the full graph, no recompute of the
    * standing artifact (one persisted frame feeds the batch slice, the
    * standing slice, and both probes). Incremental triangle maintenance
    * is how a 100 TB graph keeps g4's count current without re-running
    * it.
    */
  val g11IncrementalEdges: Q = Q.sql(
    "g11_incremental_edges",
    s"Incremental edge apply: held-out mutual edges ((x+y) % $G11_MOD = $G11_RES) verdict against the standing graph — triangles closed, degrees, Jaccard, predicted flag.",
    s"""WITH $mutCtesSql,
       |bat AS (SELECT x, y FROM mut WHERE (x + y) % $G11_MOD = $G11_RES),
       |sed AS MATERIALIZED (
       |  SELECT x AS src, y AS dst FROM mut WHERE (x + y) % $G11_MOD <> $G11_RES
       |  UNION ALL
       |  SELECT y, x FROM mut WHERE (x + y) % $G11_MOD <> $G11_RES),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM sed GROUP BY 1),
       |cn AS (
       |  SELECT b.x, b.y, COUNT(*) AS cn
       |  FROM bat b
       |  JOIN sed ea ON ea.src = b.x
       |  JOIN sed eb ON eb.src = b.y AND eb.dst = ea.dst
       |  GROUP BY 1, 2)
       |SELECT b.x AS supp_x, b.y AS supp_y,
       |       CAST(COALESCE(c.cn, 0) AS BIGINT) AS triangles_closed,
       |       CAST(COALESCE(dx.d, 0) AS BIGINT) AS deg_x,
       |       CAST(COALESCE(dy.d, 0) AS BIGINT) AS deg_y,
       |       CAST(CASE WHEN COALESCE(dx.d, 0) + COALESCE(dy.d, 0) - COALESCE(c.cn, 0) = 0 THEN 0
       |            ELSE (1000000 * COALESCE(c.cn, 0))
       |                 // (COALESCE(dx.d, 0) + COALESCE(dy.d, 0) - COALESCE(c.cn, 0))
       |       END AS BIGINT) AS jaccard_ppm,
       |       CAST(CASE WHEN COALESCE(c.cn, 0) >= $LP_MIN_CN THEN 1 ELSE 0 END AS BIGINT) AS predicted
       |FROM bat b
       |LEFT JOIN cn c ON b.x = c.x AND b.y = c.y
       |LEFT JOIN deg dx ON b.x = dx.node
       |LEFT JOIN deg dy ON b.y = dy.node
       |ORDER BY supp_x, supp_y""".stripMargin) { (spark, dir) =>
    val bat = g11BatchEdges(spark, dir)
    // standing adjacency, pinned & session-shared with w24: feeds the
    // degree rollup and BOTH neighbor probes of the per-edge intersection
    val sed = standingAdj(spark, dir)
    val deg = standingDeg(spark, dir)
    val cn = bat
      .join(sed.select(col("src").as("x"), col("dst").as("na")), "x")
      .join(sed.select(col("src").as("y"), col("dst").as("na")), Seq("y", "na"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
    val cnC = coalesce(col("cn"), lit(0L))
    val dxC = coalesce(col("deg_x"), lit(0L))
    val dyC = coalesce(col("deg_y"), lit(0L))
    bat
      .join(cn, Seq("x", "y"), "left_outer")
      .join(broadcast(deg.select(col("node").as("x"), col("d").as("deg_x"))),
        Seq("x"), "left_outer")
      .join(broadcast(deg.select(col("node").as("y"), col("d").as("deg_y"))),
        Seq("y"), "left_outer")
      .select(col("x").as("supp_x"), col("y").as("supp_y"),
        cnC.as("triangles_closed"), dxC.as("deg_x"), dyC.as("deg_y"),
        when(dxC + dyC - cnC === 0, lit(0L))
          .otherwise(expr(
            "CAST((1000000 * coalesce(cn, 0L)) DIV (coalesce(deg_x, 0L) + coalesce(deg_y, 0L) - coalesce(cn, 0L)) AS BIGINT)"))
          .as("jaccard_ppm"),
        when(cnC >= LP_MIN_CN, lit(1L)).otherwise(lit(0L)).as("predicted"))
      .orderBy("supp_x", "supp_y")
  }

  val all: Seq[Q] = Seq(g1PageRank, g2BfsHops, g3SupplierAffinity,
    g4TriangleCount, g5KCore, g6PersonalizedPageRank, g7LabelPropagation,
    g8RandomWalk, g9Modularity, g10LinkPrediction, g11IncrementalEdges)
}
