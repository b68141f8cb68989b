package graft.ops

import graft.{Q, Tables}
import graft.functions.DetHash.md5Hex
import graft.functions.GraftExpressions
import graft.functions.GraftExpressions.{dot, minhash, shingles, simhash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, SimHash — and embedding-cosine near-dup over
  * `embeddings`. These are the LLM-training-pipeline workhorses; each is
  * built to avoid the O(n²) all-pairs comparison that dies at scale:
  *
  *  - exact:      one hash-shuffle on the normalized text key.
  *  - n-gram:     inverted shingle index → pairs share a shuffle key
  *                (the shingle), never a cross join.
  *  - MinHash:    one-pass signature kernel ([[GraftExpressions.MinHashSig]],
  *                map stage); candidate pairs come from a band-bucket
  *                equi-join (shuffle on band hash), then exact-Jaccard
  *                verification of candidates only.
  *  - SimHash:    one-pass 60-bit signature kernel; banded equi-join with
  *                a pigeonhole guarantee (3 bands of 20 bits ⇒ hamming ≤ 2
  *                always shares a clean band), then exact hamming verify.
  *  - cosine:     thresholded pair join over the codegen'd dot-product
  *                kernel (the LSH-bucketed scale path is
  *                `graft.ops.Similarity.s2AnnLsh`).
  *
  * All hash material is md5-derived, so the DuckDB oracle reproduces
  * every bit; the custom kernels change the cost, never the value.
  */
object Dedup {

  /** shared shingle CTE for the SQL oracles (string_split keeps empty
    * tokens, list comprehension = 3-gram window, list_distinct =
    * first-occurrence distinct — all matching WordShingles exactly).
    * `extraExpr`/`extraName` thread additional computed columns through
    * both CTE stages (e.g. p4's split bucket) so every consumer shares
    * the ONE shingle formula the kernel must match.
    */
  private[ops] def shinglesSqlCteWith(extraExpr: String, extraName: String): String =
    s"""w AS (SELECT doc_id$extraExpr, string_split(text, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id$extraName,
       |  CASE WHEN len(w) >= 3
       |       THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)])
       |       ELSE [] END AS s
       |FROM w)""".stripMargin

  private val shinglesSqlCte: String = shinglesSqlCteWith("", "")

  /** Exact dedup on normalized text: group on the content key, keep the
    * lowest doc_id as representative. One shuffle; at 100 TB the group key
    * would be a 128-bit content hash instead of the text itself to keep
    * shuffle rows narrow — emitted here too (md5) to make that concrete.
    */
  val d1Exact: Q = Q.sql(
    "d1_dedup_exact",
    "Exact duplicate grouping on normalized text (hash group-by).",
    """SELECT md5(lower(trim(text))) AS content_key,
      |       MIN(doc_id) AS keep_doc_id,
      |       COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1 ORDER BY keep_doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(md5(lower(trim(col("text")))).as("content_key"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")
  }

  /** (doc_id, s: array<string> of distinct 3-shingles), empty docs
    * dropped. Persisted: the self-joins in d2/d3 reference this frame up
    * to 5× and Spark recomputes unpersisted subtrees per reference — at
    * 100 TB this materialization is the shingle index you'd write to
    * storage once and reuse across the dedup suite.
    */
  private val shingleCache = Pin.Shared.pinned[String, DataFrame]

  private[ops] def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    // one persisted shingle frame per (session, dataset): d2 and d3 both
    // hit it (up to 5 references each), and recomputing the kernel per
    // query was the dedup family's biggest repeated cost. At 100 TB this
    // is the shingle index you'd materialize to storage once per corpus.
    shingleCache(spark, dir) {
      GraftExpressions.register(spark)
      Tables.documents(spark, dir)
        .select(col("doc_id"), shingles(col("text"), 3).as("s"))
        .filter(size(col("s")) > 0)
    }

  /** Candidate pairs by prefix filtering (AllPairs/PPJoin): with a global
    * canonical shingle order (ascending document frequency, then hash —
    * any consistent total order preserves the proof; df-ascending
    * minimizes candidates), two sets with jaccard ≥ t must share an
    * element inside each other's
    * first `n - ceil(t·n) + 1` shingles — because j ≥ t ⇒
    * |A∩B| ≥ t·|A∪B| ≥ ceil(t·max(|A|,|B|)), and missing the whole prefix
    * would cap the intersection below that. So indexing ONLY the prefixes
    * (rarest ~(1-t)·n shingles per doc) is lossless for the threshold,
    * and candidate volume stops scaling with hot-shingle df² — the thing
    * that kills a naive inverted index at corpus scale.
    */
  private def prefixCandidates(docs: DataFrame, t: Double): DataFrame =
    prefixSelfJoin(prefixIndex(docs, t))

  /** The per-doc prefix index: (doc_id, sh) where sh = xxhash64(shingle)
    * and only the first `nsh - ceil(t·nsh) + 1` shingles in global
    * (df asc, hash) order are kept. All joins downstream key on the
    * 8-byte hash, not the shingle string — narrow shuffle rows, and
    * collisions only MERGE elements, which can only raise pairwise
    * jaccard, so the t-threshold prefix guarantee stays lossless (the
    * verify step is exact on the real shingle sets regardless).
    */
  /** df≥2 shingle postings (doc_id, nsh, sh, df) — singleton shingles
    * are dropped at the SOURCE: a df=1 shingle appears in exactly one
    * document, so in any candidate join (prefix self-join, prefix ×
    * postings) it can only ever meet its own document, which the
    * doc-inequality predicate excludes — singletons produce NOTHING
    * downstream. Dropping them is also lossless for prefix SELECTION:
    * removing singletons from a doc's canonical (df asc, hash) order
    * only moves true shared shingles EARLIER, so every canonical-prefix
    * shared shingle stays inside the first p slots and the candidate
    * set is a SUPERSET of the canonical filter's (the verify is exact
    * on real shingle sets regardless). At sf100 this is the difference
    * between a run and an OOM: the decade suffixing makes MOST shingles
    * corpus-unique, so the cut shrinks the df back-join, the per-doc
    * collect, the persisted index, AND d8's postings side by the
    * singleton fraction — the ~70 GB RAM-scratch spills that killed the
    * first sf100 bench (d2, then d8) disappear at the source. The
    * pipeline is recomputed per consumer rather than materialized: its
    * output is ~600M rows at sf100 (checkpointing that measured slower
    * than recomputing) while its transient shuffle files are reaped
    * between queries; at 100 TB a dedup sweep would write this posting
    * table to real storage once, next to the shingle index.
    */
  private def postings(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), size(col("s")).as("nsh"),
        explode(col("s")).as("s"))
      .select(col("doc_id"), col("nsh"), xxhash64(col("s")).as("sh"))
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    ex.join(dfreq, "sh")
  }


  /** Prefix selection from a postings frame: by aggregate + per-row
    * array sort, not a window — a window must sort every (doc, shingle)
    * row of a partition; the aggregate hash-groups and then sorts each
    * doc's own ~n-element array. (df, sh) pairs are unique per doc, so
    * array_sort's order is total and equals the window's (df asc, hash
    * asc) canonical order restricted to df≥2 rows. The prefix LENGTH
    * still comes from the full shingle count, so p is the canonical
    * nsh − ceil(t·nsh) + 1 whatever the singleton cut removed.
    */
  private def prefixIndexFrom(post: DataFrame, t: Double): DataFrame =
    post.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("arr"),
        first(col("nsh")).as("nsh"))
      .select(col("doc_id"), explode(slice(col("arr"), lit(1),
        (col("nsh") - ceil(col("nsh") * t) + 1).cast("int"))).as("e"))
      .select(col("doc_id"), col("e.sh").as("sh"))

  private def prefixIndex(docs: DataFrame, t: Double): DataFrame =
    prefixIndexFrom(postings(docs), t)

  private def prefixSelfJoin(prefixes: DataFrame): DataFrame =
    prefixes.as("a").join(prefixes.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs at threshold 0.8: prefix-filter
    * candidate generation (lossless, see [[prefixCandidates]]) + exact
    * intersection verify on the candidate pairs only. Output is identical
    * to a full inverted-index join (the oracle computes it that way;
    * `OpsSpec` cross-checks the naive index too).
    */
  val d2NgramJaccard: Q = Q.sql(
    "d2_dedup_ngram_jaccard",
    "3-gram Jaccard ≥ 0.8 near-dup pairs via inverted shingle index.",
    s"""WITH $shinglesSqlCte,
       |cnt AS (SELECT doc_id, len(s) AS nsh FROM sh WHERE len(s) > 0),
       |ex AS (SELECT doc_id, UNNEST(s) AS s FROM sh WHERE len(s) > 0),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  ROUND(CAST(c.n_common AS DOUBLE) / (ca.nsh + cb.nsh - c.n_common), 6) AS jaccard
       |FROM common c
       |JOIN cnt ca ON c.doc_a = ca.doc_id
       |JOIN cnt cb ON c.doc_b = cb.doc_id
       |WHERE CAST(c.n_common AS DOUBLE) / (ca.nsh + cb.nsh - c.n_common) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    // prefix filtering at every scale: measured faster than the full
    // inverted index already at 5k docs (hot-shingle df² pair blowup hits
    // long before the old 50k strategy threshold), and it is the shape
    // that survives 100 TB — candidate volume tracks the rare-prefix
    // index, not squared shingle document frequency. Exactness is proven
    // by OpsSpec's set-equality cross-check against the naive index.
    jaccardPairs(spark, dir, 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact Jaccard over candidate pairs: join back the full shingle sets,
    * intersect, threshold. (doc_a, doc_b, jaccard ≥ t.)
    */
  private def jaccardVerify(docs: DataFrame, cand: DataFrame, t: Double): DataFrame = {
    // join order matters for scale AND was measured: the bare candidate
    // pairs (two longs) broadcast into the corpus scan for join 1; the
    // result carries doc_a's shingle array, so join 2 must NOT broadcast
    // it — a sort-merge on doc_b moves each array exactly once through
    // one narrow shuffle (measured 1.9s vs 5.3s for broadcasting the
    // array-carrying side at sf0.1), and at 100 TB an array-carrying
    // broadcast is impossible anyway while the corpus side never moves
    // more than the candidate rows.
    val withA = broadcast(cand)
      .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("sa.s").as("s_a"))
    // one-pass count kernel: same value as size(array_intersect(…)) but
    // never allocates the intersection array (also available as an
    // automatic rewrite via GraftExtensions' IntersectCountRewrite)
    val nCommon = GraftExpressions.intersectCount(col("s_a"), col("sb.s"))
    val j = nCommon.cast("double") /
      (size(col("s_a")) + size(col("sb.s")) - nCommon)
    withA.hint("merge")
      .join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(j >= t)
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"))
  }

  private val pairCache = Pin.Shared.checkpointed[(String, Double)]

  private val prefixIdxCache = Pin.Shared.checkpointed[(String, Double)]

  /** The materialized prefix index, persisted once per (session, dataset,
    * threshold) and shared by d2 (self-join candidates) and d8 (prefix ×
    * full-postings candidates). The count() barrier is LOAD-BEARING, not
    * scratch: without it, AQE materializes a consuming join's two map
    * stages concurrently, both racing to compute this same subtree; once
    * one side's runtime size is known AQE replans the join and CANCELS
    * the other stage — and cancelled tasks are not interrupted by
    * default, so the abandoned sort-based collect_list aggregate keeps
    * burning every core as a zombie long after the query returns
    * (measured: later bench queries degraded 5-10× for minutes).
    */
  private def prefixIndexCached(spark: SparkSession, dir: String, t: Double): DataFrame =
    prefixIdxCache(spark, (dir, t)) {
      // checkpointed, not pinned: same eager barrier (one job, the
      // AQE-zombie guard) but the lineage is TRUNCATED, so the ~45 GB of
      // construction shuffle behind the index (1B-row df back-join +
      // collect_list regroup) becomes ContextCleaner-reapable instead of
      // staying pinned in RAM-backed scratch for the whole family run —
      // the residual driver of the sf100 OOM kills. The checkpointed
      // index itself is the SMALL artifact (two longs per kept prefix
      // entry). The postings pipeline is deliberately NOT materialized:
      // at sf100 checkpointing its ~600M raw rows measured slower than
      // recomputing it per consumer, and its transient shuffle files
      // are reaped between queries.
      prefixIndexFrom(postings(shingledDocs(spark, dir)), t)
    }

  /** Verified jaccard ≥ t pairs, persisted once per (session, dataset,
    * threshold): d2 emits them and d6's cluster graph consumes them — at
    * 100 TB this is the pair table a dedup run materializes once.
    */
  private def jaccardPairs(spark: SparkSession, dir: String, t: Double): DataFrame =
    pairCache(spark, (dir, t)) {
      val docs = shingledDocs(spark, dir)
      // the prefix index is materialized ONCE (see prefixIndexCached —
      // its count() barrier is what keeps AQE from cancelling a racing
      // duplicate materialization and leaving zombie tasks; this was the
      // round-5 bench mystery: "host contention" that was actually our
      // own abandoned collect_list stages). Shared with d8, so it stays
      // persisted instead of being dropped after the pair build.
      val idx = prefixIndexCached(spark, dir, t)
      val cand = prefixSelfJoin(idx)
      // checkpointed: eager (the pair table is the product) and the
      // candidate-distinct + verify-join shuffles behind it become
      // reapable (see prefixIndexCached)
      jaccardVerify(docs, cand, t)
    }

  /** Prefix-filtered pair pipeline (uncached), exposed for the
    * losslessness cross-check in OpsSpec.
    */
  def jaccardPairsPrefix(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = shingledDocs(spark, dir)
    jaccardVerify(docs, prefixCandidates(docs, t), t)
  }

  /** The naive full inverted-index pair join (all shingles indexed) —
    * kept as the cross-check reference for [[prefixCandidates]].
    */
  def jaccardPairsNaive(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = shingledDocs(spark, dir)
    val ex = docs.select(col("doc_id"), explode(col("s")).as("s"))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(docs, cand, t)
  }

  private val K = 32 // minhash functions
  private val BANDS = 8 // bands of 4 rows each
  private val R = K / BANDS

  /** Shared oracle CTE chain `sh → sig → bands`: MinHash signatures and
    * LSH band hashes over the shingled corpus, mirroring
    * [[GraftExpressions.MinHashSig]] bit-for-bit. Used by d3 (full
    * corpus self-join dedup) and d13 (incremental batch-vs-index apply)
    * so the two oracles can never drift from each other.
    */
  private val bandsSqlCtes: String =
    s"""$shinglesSqlCte,
       |ex AS (SELECT doc_id, UNNEST(s) AS s FROM sh WHERE len(s) > 0),
       |hi AS (
       |  SELECT doc_id, i.i AS i,
       |         MIN((('0x' || substring(md5(s), 1, 7))::BIGINT
       |              + i.i * ('0x' || substring(md5(s), 8, 7))::BIGINT) % ${GraftExpressions.MinHashSig.M}) AS mh
       |  FROM ex CROSS JOIN (SELECT UNNEST(range($K)) AS i) i
       |  GROUP BY doc_id, i.i),
       |sig AS MATERIALIZED (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hi GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b.b AS band,
       |         md5(array_to_string(list_transform(sig[b.b*$R+1 : b.b*$R+$R], x -> CAST(x AS VARCHAR)), ',')) AS bh
       |  FROM sig CROSS JOIN (SELECT UNNEST(range($BANDS)) AS b) b)""".stripMargin

  /** Band-hash derivation from a MinHash signature column: [[BANDS]]
    * structs of (band, md5-of-R-slice). One expression, stateless —
    * usable on batch AND streaming frames (w22 applies it inside the
    * streaming plan; bandIndex below applies it to the corpus).
    */
  private[ops] def bandCols(sig: Column): Column =
    explode(transform(sequence(lit(0), lit(BANDS - 1)), b =>
      struct(b.as("band"),
        md5(concat_ws(",", transform(slice(sig, b * R + 1, lit(R)),
          x => x.cast("string")))).as("bh"))))

  /** MinHash size — exposed for the streaming apply (w22). */
  private[ops] def minhashK: Int = K

  private val bandCache = Pin.Shared.pinned[String, DataFrame]

  /** Session-persisted LSH band index over the whole corpus:
    * `(doc_id, band, bh)` — one MinHash-signature pass ([[K]] hashes per
    * shingle set) fanned into [[BANDS]] band hashes. d3's self-join
    * references it twice and d13's incremental apply probes it per
    * batch; persisting it once per (session, dataset) is the
    * materialized LSH index a 100 TB corpus would keep on storage and
    * refresh per ingest epoch. A [[Pin]], like [[shingledDocs]].
    */
  private[ops] def bandIndex(spark: SparkSession, dir: String): DataFrame =
    bandCache(spark, dir) {
      val sig = shingledDocs(spark, dir)
        .select(col("doc_id"), minhash(col("s"), K).as("sig"))
      // pinned pre-hash-partitioned and pre-sorted by the probe key
      // (band, bh): the cached plan's partitioning/ordering survive
      // InMemoryTableScan, so d3's self-join (BOTH sides this frame —
      // zero exchanges), d13's batch probe, and w22's per-micro-batch
      // stream-static probe (static plan re-executes EVERY micro-batch)
      // all skip the index-side Exchange + Sort (round 15, the w25 move).
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      sig
        .select(col("doc_id"), bandCols(col("sig")).as("x"))
        .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
        .repartition(p, col("band"), col("bh"))
        .sortWithinPartitions("band", "bh")
    }

  /** MinHash + LSH banding. Signature = one-pass Carter-Wegman kernel
    * (1 md5 per shingle → 32 hashes); 8 bands of 4 → candidate pairs
    * share a (band, band-hash) shuffle key. Candidates are then verified
    * with exact Jaccard — output carries the verified similarity, flagged
    * at the 0.7 dedup threshold.
    *
    * The oracle replicates the *entire* pipeline (hashes included), so
    * the check is exact even for borderline candidates LSH could
    * probabilistically drop.
    */
  val d3MinHashLsh: Q = Q.sql(
    "d3_dedup_minhash_lsh",
    s"MinHash($K) + LSH($BANDS bands × $R) candidates, exact-Jaccard verified.",
    s"""WITH $bandsSqlCtes,
       |cnt AS (SELECT doc_id, len(s) AS nsh FROM sh WHERE len(s) > 0),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |           / (ca.nsh + cb.nsh - len(list_intersect(sa.s, sb.s))) AS j
       |  FROM cand c
       |  JOIN sh sa ON c.doc_a = sa.doc_id JOIN sh sb ON c.doc_b = sb.doc_id
       |  JOIN cnt ca ON c.doc_a = ca.doc_id JOIN cnt cb ON c.doc_b = cb.doc_id)
       |SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard,
       |       CASE WHEN j >= 0.7 THEN 1 ELSE 0 END AS is_dup
       |FROM verified ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val docs = shingledDocs(spark, dir)
    val bands = bandIndex(spark, dir)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // shingle counts fall out of the joined sets directly (size(s)) — no
    // separate cnt frame, two fewer verify joins than the oracle's shape
    val nCommon = GraftExpressions.intersectCount(col("sa.s"), col("sb.s"))
    val j = nCommon.cast("double") /
      (size(col("sa.s")) + size(col("sb.s")) - nCommon)
    // verify joins are doc_id-keyed SHUFFLE joins (the d13 shape): a
    // broadcast of the shingled corpus serializes it through the driver
    // and aborts on spark.driver.maxResultSize at sf100 (measured this
    // round — ~8 GB at 5M docs; d13/d14 hit the identical wall in r11).
    // The planner moves each shingle array exactly once, keyed on doc_id.
    cand
      .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"),
        when(j >= 0.7, 1).otherwise(0).as("is_dup"))
      .orderBy("doc_a", "doc_b")
  }

  private val SIM_BITS = 60
  private val SIM_BANDS = 3 // 3 bands of 20 bits; hamming ≤ 2 ⇒ ≥ 1 clean band
  private val HAMMING_MAX = 2

  /** SimHash near-dup: one-pass 60-bit signature kernel over distinct
    * tokens (bit b = sign of Σ±1), banded equi-join for candidates, exact
    * hamming verify. The oracle brute-forces all pairs — sound because
    * the pigeonhole bound makes the banded join lossless for
    * hamming ≤ [[HAMMING_MAX]].
    */
  val d4SimHash: Q = Q.sql(
    "d4_dedup_simhash",
    s"SimHash($SIM_BITS-bit) near-dup pairs with hamming ≤ $HAMMING_MAX (banded join, pigeonhole-lossless).",
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS t FROM documents),
       |th AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, b.b AS b,
       |         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT UNNEST(range($SIM_BITS)) AS b) b
       |  GROUP BY doc_id, b.b),
       |sim AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HAMMING_MAX
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val sim = simHashes(spark, dir)
    val bandsPerDoc = sim
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(SIM_BANDS - 1))).as("band"))
      .withColumn("bv", expr("shiftright(simhash, cast(band * 20 as int)) & 1048575"))
    val cand = bandsPerDoc.as("a").join(bandsPerDoc.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sim_a"),
        col("b.doc_id").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
    val hamming = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    cand.filter(hamming <= HAMMING_MAX)
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  private val simHashCache = Pin.Shared.pinned[String, DataFrame]

  /** (doc_id, simhash) via the one-pass kernel — shared by d4 and specs;
    * persisted once per (session, dataset) like [[shingledDocs]].
    */
  def simHashes(spark: SparkSession, dir: String): DataFrame =
    simHashCache(spark, dir) {
      GraftExpressions.register(spark)
      Tables.documents(spark, dir)
        .select(col("doc_id"), simhash(shingles(col("text"), 1), SIM_BITS).as("simhash"))
    }

  /** Number of blocks per side in the d5 blocked self-join grid: B² grid
    * cells = B² independent reducers, each side's rows replicated B times.
    */
  private val COS_BLOCKS = 8

  /** Embedding-cosine near-dup pairs (threshold 0.4 on this corpus),
    * exact, via a blocked theta-join (the 1-bucket theta-join of Okcan &
    * Riedewald, SIGMOD'11): row i is replicated across grid row blk(i),
    * row j across grid column blk(j), and the pair (i,j) meets in exactly
    * one of the B×B cells through a plain shuffled EQUI-join on the cell
    * key — no broadcast-nested-loop, no single-task bottleneck, B²-way
    * parallelism with each side shuffled B times.
    *
    * Why not LSH candidates here: measured on this corpus, qualifying
    * pairs sit at cosine 0.40–0.60 against a background whose max
    * non-qualifying cosine is 0.39987 — the threshold cuts the *tail of a
    * continuous random-cosine distribution*, not a cluster structure. Any
    * hyperplane banding reaching 100% recall must cover ≥86% of all pairs
    * (32 bands × 4 planes: 107k of 125k pairs at sf0.01), i.e. costs MORE
    * than the exact join; IVF multi-probe behaves the same. Exact
    * τ=0.4 dense-vector dedup is inherently Θ(n²) FLOPs; the job of the
    * plan is therefore to distribute those FLOPs evenly, which the block
    * grid does. Genuinely sub-quadratic embedding dedup needs a high
    * threshold (true near-dups, cos ≥ 0.9) — that is
    * [[d10EmbeddingNearDup]], the first-class banded-LSH dedup path (the
    * ANN analog of the same bucketing is [[Similarity.s2AnnLsh]]).
    *
    * Scale bound: the exact baseline is DETERMINISTICALLY SAMPLE-BOUNDED
    * at [[D5_SAMPLE_CAP]] vectors — stride = ceil(n / cap), keep
    * vec_id % stride = 0, mirrored verbatim in the oracle. Below the cap
    * (all driver gate/bench scales: ≤2000 vectors) stride is 1 and the
    * query is bit-identical to the unsampled original; above it the pair
    * volume is a CONSTANT cap² / 2 whatever the corpus size (sf1 ran 84s
    * unsampled at 20k vectors; sf10 would have been ~40 min at 200k).
    * That is how an exact-verification baseline is actually run against a
    * 100 TB corpus: on a fixed-size deterministic sample, with the full
    * corpus served by the banded d10 path.
    */
  private val D5_SAMPLE_CAP = 4000L

  val d5EmbeddingCosine: Q = Q.sql(
    "d5_dedup_embedding",
    "Embedding cosine ≥ 0.4 near-dup pairs (exact, blocked theta-join; bucketed high-threshold path in d10_dedup_embedding_lsh).",
    s"""WITH st AS (
       |  SELECT CAST(CEIL(COUNT(*) / $D5_SAMPLE_CAP.0) AS BIGINT) AS stride
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings, st
       |  WHERE vec_id % st.stride = 0),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])), (x, y) -> x + y)
       |           / (a.nrm * b.nrm) AS cos
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
       |FROM p WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin) { (spark, dir) =>
    // deterministic stride sample (see Scaladoc): stride is driver-side
    // control (one metadata-cheap count, like the g1/d6 loop control);
    // at every driver scale stride = 1 and the plan is IDENTICAL to the
    // unsampled original — no extra operator for PlanSpec's pin to see
    val total = Tables.embeddings(spark, dir).count()
    val stride = (total + D5_SAMPLE_CAP - 1) / D5_SAMPLE_CAP
    val n0 = normedVectors(spark, dir)
    val n = if (stride <= 1L) n0
      else n0.filter(col("vec_id") % stride === 0)
    val B = COS_BLOCKS
    // grid row side: vector i owns grid row blk(i), appears in every column
    val left = n
      .withColumn("ba", pmod(col("vec_id"), lit(B)))
      .withColumn("bb", explode(sequence(lit(0), lit(B - 1))))
    // grid column side: vector j owns grid column blk(j), appears in every row
    val right = n
      .withColumn("ba", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("bb", pmod(col("vec_id"), lit(B)))
    val cos = cosineCol(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
    left.as("a").join(right.as("b"),
        col("a.ba") === col("b.ba") && col("a.bb") === col("b.bb") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), cos.as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  private val normedCache = Pin.Shared.pinned[String, DataFrame]

  /** embeddings as (vec_id, v: array<double>, nrm, label) — persisted once
    * per (session, dataset); referenced by d5, s1, s2 and s3 (up to twice
    * each per plan).
    */
  def normedVectors(spark: SparkSession, dir: String): DataFrame =
    normedCache(spark, dir) {
      GraftExpressions.register(spark)
      val v = col("embedding").cast("array<double>")
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), v.as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    }

  /** Codegen'd left-fold cosine — identical op order to the DuckDB oracle. */
  def cosineCol(va: Column, vb: Column, na: Column, nb: Column): Column =
    dot(va, vb) / (na * nb)

  /** Dedup cluster formation: the step that turns pairwise near-dup
    * output into actual document removal. Near-dup pairs (the d2 prefix
    * pipeline at jaccard ≥ 0.8) are edges of an undirected graph; each
    * connected component is one duplicate cluster; the canonical survivor
    * is the minimum doc_id. Emits (doc_id, cluster_id, cluster_size,
    * is_canonical) for every clustered doc — `WHERE NOT is_canonical` is
    * the delete list.
    *
    * Distributed shape: iterative min-label propagation with pointer
    * jumping — per round, a node takes the min over (its label, its
    * neighbours' labels, its label's label). The edge join spreads labels
    * one hop; the label-of-label join doubles the effective hop distance,
    * so rounds are O(log diameter) instead of O(diameter) — a chain of
    * 1000 near-identical docs converges in ~10 rounds, not 1000.
    * `localCheckpoint` truncates the growing lineage each round. The loop
    * is driver-side CONTROL only — each round's data work is distributed
    * equi-joins shuffling on doc_id; nothing row-sized hits the driver.
    *
    * The DuckDB oracle computes components independently via a recursive
    * transitive closure and must agree bit-for-bit.
    */
  /** The d6 cluster derivation as a reusable CTE chain (shingles →
    * exact-jaccard pairs → recursive connected components → labels +
    * sizes) — d6 emits the clusters, d7 applies them to the corpus; ONE
    * definition so the two oracles cannot drift.
    */
  private[ops] val clusterCteSql: String =
    s"""$shinglesSqlCte,
       |cnt AS (SELECT doc_id, len(s) AS nsh FROM sh WHERE len(s) > 0),
       |ex AS (SELECT doc_id, UNNEST(s) AS s FROM sh WHERE len(s) > 0),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b FROM common c
       |  JOIN cnt ca ON c.doc_a = ca.doc_id
       |  JOIN cnt cb ON c.doc_b = cb.doc_id
       |  WHERE CAST(c.n_common AS DOUBLE) / (ca.nsh + cb.nsh - c.n_common) >= 0.8),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, root) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc),
       |lab AS (SELECT doc, MIN(root) AS cluster_id FROM reach GROUP BY doc),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)""".stripMargin

  private val clusterCache = Pin.Shared.pinned[String, DataFrame]

  /** The cluster table (doc_id, cluster_id, cluster_size, is_canonical),
    * one row per clustered doc — computed once per (session, dataset) and
    * persisted: d6 emits it and d7 joins it against the corpus, and the
    * label-propagation loop is by far the most expensive part of both.
    * At 100 TB this is the cluster assignment table a dedup run writes to
    * storage once and every downstream consumer reads.
    */
  private[ops] def clusterTable(spark: SparkSession, dir: String): DataFrame =
    clusterCache(spark, dir)(computeClusters(spark, dir))

  val d6DedupClusters: Q = Q.sql(
    "d6_dedup_clusters",
    "Connected-component dup clusters over jaccard >= 0.8 pairs; min doc_id is canonical.",
    s"""WITH RECURSIVE $clusterCteSql
       |SELECT l.doc AS doc_id, l.cluster_id, s.cluster_size,
       |       l.doc = l.cluster_id AS is_canonical
       |FROM lab l JOIN sz s USING (cluster_id) ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    clusterTable(spark, dir).orderBy("doc_id")
  }

  private def computeClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(spark, dir, 0.8)
      .select(col("doc_a"), col("doc_b"))
    val edges0 = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
    // The loop runs through [[Rounds]] with AQE off: ~3 micro-stages per
    // round over tiny known-size frames, where AQE showed the same
    // intermittent multi-× inflation as on g1. Each round's checkpoint
    // also truncates the logical plan (see [[Rounds]]). The superseded
    // rounds' checkpoint blocks (a few KB each — one row per clustered
    // doc, ≤ ~10 rounds) are left to session cleanup: they are RDD-level
    // blocks a Dataset.unpersist cannot free.
    val maxRounds = 64
    val (last, used) = Pin.during(edges0) { edges =>
      val own = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
      Rounds.until(spark, own, maxRounds, aqe = false) { (prev, _) =>
        // a round's output also carries old_label, for the convergence count
        val labels = prev.select(col("doc_id"), col("label"))
        val nbrMin = edges
          .join(labels.as("nl"), edges("dst") === col("nl.doc_id"))
          .groupBy(edges("src").as("nid"))
          .agg(min(col("nl.label")).as("nbr_min"))
        // pointer jumping: follow my current label to ITS label (labels are
        // doc_ids of the same component, so they resolve in this frame)
        val ptrMin = labels.as("x")
          .join(labels.as("y"), col("x.label") === col("y.doc_id"))
          .select(col("x.doc_id").as("pid"), col("y.label").as("ptr_min"))
        labels.as("l")
          .join(nbrMin, col("l.doc_id") === col("nid"), "left")
          .join(ptrMin, col("l.doc_id") === col("pid"), "left")
          .select(col("l.doc_id").as("doc_id"), col("l.label").as("old_label"),
            least(col("l.label"),
              coalesce(col("nbr_min"), col("l.label")),
              coalesce(col("ptr_min"), col("l.label"))).as("label"))
      }((_, next) => next.filter(col("label") < col("old_label")).count() == 0)
    }
    // fail loudly rather than return split clusters: an unconverged exit
    // would otherwise surface only as an opaque oracle hash mismatch
    require(used.isDefined,
      s"label propagation did not converge in $maxRounds rounds")
    val labels = last.select(col("doc_id"), col("label"))
    val sz = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels
      .join(broadcast(sz), "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("label")).as("is_canonical"))
  }

  /** Dedup APPLY — the step that turns d6's cluster table into the
    * deliverable: the retained corpus (every unclustered doc + each
    * cluster's canonical minimum), with the number of near-dups each
    * kept doc absorbed. One anti-join shape: documents LEFT JOIN labels,
    * keep rows that are unlabeled or canonical — at 100 TB the labels
    * side is the (much smaller) cluster table, broadcast or
    * shuffle-joined on doc_id, and the output IS the next pipeline
    * stage's input corpus.
    */
  val d7DedupApply: Q = Q.sql(
    "d7_dedup_apply",
    "Retained corpus after cluster dedup: unclustered + canonical docs, with absorbed-dup counts.",
    s"""WITH RECURSIVE $clusterCteSql
       |SELECT d.doc_id, d.source, d.n_chars,
       |  COALESCE(s.cluster_size - 1, 0) AS n_removed
       |FROM documents d
       |LEFT JOIN lab l ON d.doc_id = l.doc
       |LEFT JOIN sz s ON l.cluster_id = s.cluster_id AND l.doc = l.cluster_id
       |WHERE l.doc IS NULL OR l.doc = l.cluster_id
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val clusters = clusterTable(spark, dir)
      .select(col("doc_id"), col("cluster_size"), col("is_canonical"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("is_canonical").isNull || col("is_canonical"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("is_canonical"), col("cluster_size") - 1)
          .otherwise(lit(0L)).as("n_removed"))
      .orderBy("doc_id")
  }

  private val CONTAIN_T = 0.8

  /** Containment / near-superset detection: pairs whose overlap
    * coefficient |A∩B| / min(|A|,|B|) ≥ [[CONTAIN_T]] over the 3-shingle
    * sets. Jaccard (d2) misses the prefix/truncation duplicates every
    * crawl corpus has — a doc that is 90% CONTAINED in a much longer doc
    * has high overlap coefficient but low Jaccard (the size difference
    * inflates the union). This is the asymmetric-dup operator that
    * catches them.
    *
    * Candidate generation stays prefix-filtered but ASYMMETRIC: for a
    * qualifying pair, the SMALLER set must share ≥ ⌈t·m⌉ of its m
    * shingles, so its canonical-order prefix of m − ⌈t·m⌉ + 1 elements
    * must intersect the other doc's FULL set (missing the entire prefix
    * caps the intersection at ⌈t·m⌉ − 1). Hence: join each doc's prefix
    * ([[prefixIndex]], reused from d2 — the t-threshold prefix is valid
    * for any measure needing ≥ ⌈t·min⌉ shared elements) against the full
    * inverted postings of all OTHER docs. One side of the join is
    * prefix-thin (rare shingles by df-ascending selection), so hot-shingle
    * df² blowup only arises where a hot shingle lands in some prefix —
    * which df-ascending ordering makes rare by construction. Verify is
    * exact on the real shingle sets ([[GraftExpressions.intersectCount]]),
    * same two-join shape as [[jaccardVerify]].
    */
  val d8Containment: Q = Q.sql(
    "d8_dedup_containment",
    s"Near-superset pairs: shingle overlap coefficient >= $CONTAIN_T via asymmetric prefix filter.",
    s"""WITH $shinglesSqlCte,
       |cnt AS (SELECT doc_id, len(s) AS nsh FROM sh WHERE len(s) > 0),
       |ex AS (SELECT doc_id, UNNEST(s) AS s FROM sh WHERE len(s) > 0),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, ca.nsh AS nsh_a, cb.nsh AS nsh_b,
       |  ROUND(CAST(c.n_common AS DOUBLE) / LEAST(ca.nsh, cb.nsh), 6) AS overlap_coef
       |FROM common c
       |JOIN cnt ca ON c.doc_a = ca.doc_id
       |JOIN cnt cb ON c.doc_b = cb.doc_id
       |WHERE CAST(c.n_common AS DOUBLE) / LEAST(ca.nsh, cb.nsh) >= $CONTAIN_T
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val docs = shingledDocs(spark, dir)
    // postings side = the df≥2 pipeline, NOT a fresh full-corpus
    // explode: a singleton posting could only ever meet its own doc's
    // prefix entry (excluded below), so the df≥2 cut loses nothing and
    // drops the postings join side by the singleton fraction (at sf100
    // that fraction is dominant — the first full-postings run spilled
    // ~70 GB and died; see the postings scaladoc for why the pipeline
    // is recomputed here rather than materialized)
    val full = postings(docs).select(col("doc_id"), col("sh"))
    val cand = prefixIndexCached(spark, dir, CONTAIN_T).as("p")
      .join(full.as("f"),
        col("p.sh") === col("f.sh") && col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("doc_b"))
      .distinct()
    // verify joins are SHUFFLE joins here, unlike jaccardVerify's
    // broadcast of d2's candidates: the asymmetric filter admits ~180k
    // candidate pairs at sf0.1 (vs d2's few hundred) and the count grows
    // with the corpus — a broadcast would serialize the whole pair table
    // through the driver per join and is impossible at 100 TB. Two narrow
    // shuffles on doc_a/doc_b move each shingle array exactly once.
    val withA = cand.hint("merge")
      .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("sa.s").as("s_a"))
    val nCommon = GraftExpressions.intersectCount(col("s_a"), col("sb.s"))
    val oc = nCommon.cast("double") /
      least(size(col("s_a")), size(col("sb.s")))
    withA.hint("merge")
      .join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(oc >= CONTAIN_T)
      .select(col("doc_a"), col("doc_b"),
        size(col("s_a")).cast("bigint").as("nsh_a"),
        size(col("sb.s")).cast("bigint").as("nsh_b"),
        round(oc, 6).as("overlap_coef"))
      .orderBy("doc_a", "doc_b")
  }

  /** Naive full-inverted-index containment pairs — the cross-check
    * reference proving d8's asymmetric prefix filter lossless (OpsSpec).
    */
  def containmentPairsNaive(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = shingledDocs(spark, dir)
    val ex = docs.select(col("doc_id"), explode(col("s")).as("s"))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withA = broadcast(cand)
      .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("sa.s").as("s_a"))
    val nCommon = GraftExpressions.intersectCount(col("s_a"), col("sb.s"))
    val oc = nCommon.cast("double") /
      least(size(col("s_a")), size(col("sb.s")))
    withA.join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(oc >= t)
      .select(col("doc_a"), col("doc_b"), round(oc, 6).as("overlap_coef"))
  }

  private val SEM_CELLS = 8
  private val SEM_T = 0.4

  /** SemDeDup-style semantic dedup: embeddings are clustered into
    * [[SEM_CELLS]] Voronoi cells (the s3 IVF assignment, bit-identical
    * arithmetic), and WITHIN each cell a vector is dropped when an
    * earlier (lower-id) cell-mate sits above cosine [[SEM_T]] — the
    * keep-first pruning rule training pipelines run after clustering,
    * turning the pairwise d5 signal into an actual keep/drop decision
    * without any global component computation (that's d6's job).
    *
    * Scale shape: cell assignment is one broadcast-centroid map pass; the
    * only join is the in-cell self equi-join on the cell id, whose cost
    * is Σ|cell|² — the clustering IS the candidate bound (with k-means'd
    * centroids at 100 TB, cells are balanced by construction and each
    * cell's block fits a task). No all-pairs join ever forms.
    */
  val d9SemanticDedup: Q = Q.sql(
    "d9_semantic_dedup",
    s"SemDeDup: per-IVF-cell keep-first pruning at cosine >= $SEM_T ($SEM_CELLS cells).",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $SEM_CELLS),
       |assigned AS (
       |  SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |  FROM (
       |    SELECT n.vec_id, cent.cent_id,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i])), (x, y) -> x + y)
       |             / (n.nrm * cent.cnrm) AS cos
       |    FROM n CROSS JOIN cent)),
       |cells AS (SELECT vec_id, cent_id AS cell FROM assigned WHERE rn = 1),
       |dups AS (
       |  SELECT b.vec_id, COUNT(*) AS n_earlier_dups
       |  FROM n a JOIN cells ca ON a.vec_id = ca.vec_id
       |  JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
       |  JOIN n b ON b.vec_id = cb.vec_id
       |  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])), (x, y) -> x + y)
       |          / (a.nrm * b.nrm) >= $SEM_T
       |  GROUP BY b.vec_id)
       |SELECT c.vec_id AS vec_id, c.cell, COALESCE(d.n_earlier_dups, 0) AS n_earlier_dups,
       |       d.vec_id IS NULL AS kept
       |FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
       |ORDER BY c.vec_id""".stripMargin) { (spark, dir) =>
    val n = normedVectors(spark, dir)
    val cent = n.filter(col("vec_id") < SEM_CELLS)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assignW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val withCell = n.crossJoin(broadcast(cent))
      .withColumn("ccos", cosineCol(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rn", row_number().over(assignW))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"), col("v"), col("nrm"))
    val cos = cosineCol(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
    val dups = withCell.as("a").join(withCell.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cos >= SEM_T)
      .groupBy(col("b.vec_id").as("dv"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    withCell.join(dups, col("vec_id") === col("dv"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        col("dv").isNull.as("kept"))
      .orderBy("vec_id")
  }

  private val D10_DIMS = 64
  private val D10_BAND_BITS = 12
  private val D10_BANDS = 12
  private val D10_T = 0.9
  private val D10_DUP_EVERY = 10
  private val D10_DUP_OFFSET = 1000000L

  /** ±1 sign-projection weight for plane p, dim d — md5-derived so both
    * engines inline bit-identical literals.
    */
  private def d10Sign(p: Int, d: Int): Int =
    if (java.lang.Long.parseLong(md5Hex(s"d10p-$p-$d").substring(0, 8), 16) % 2 == 0) 1 else -1

  private def d10PlaneCol(p: Int): Column =
    array((0 until D10_DIMS).map(d => lit(d10Sign(p, d).toDouble)): _*)

  private val d10PlanesSql: String =
    (0 until D10_BANDS * D10_BAND_BITS)
      .map(p => (0 until D10_DIMS).map(d => d10Sign(p, d)).mkString("[", ", ", "]"))
      .mkString("[", ",\n  ", "]::DOUBLE[][]")

  /** HIGH-threshold embedding dedup — the sub-quadratic dedup-family path
    * d5 deliberately is not. d5's τ=0.4 cuts the tail of a continuous
    * random-cosine distribution, so exactness there is inherently Θ(n²)
    * FLOPs (see its scaladoc); TRUE near-duplicates (cos ≥ [[D10_T]] —
    * re-encoded, re-scaled, or noise-perturbed copies) sit at tiny angles
    * where banded sign-LSH is lossless in practice, and the plan never
    * forms a pair space: [[D10_BANDS]] bands × [[D10_BAND_BITS]] md5-derived
    * ±1 hyperplane sign bits per band → candidates share a (band, 12-bit
    * key) equi-join shuffle key → exact cosine verify of candidates only →
    * greedy min-id keep/drop verdict per row (d7's apply shape; chained
    * clusters are d6's job). Expected collision rate for uncorrelated
    * pairs is 2⁻¹² per band (×12 bands ≈ 0.3% of the pair space verified);
    * a dup at cos ≥ 0.99 misses a band with p ≈ 0.43 and all 12 with
    * p ≈ 10⁻⁵, and the planted dups here (cos ≈ 0.99999) with p ≈ 10⁻²¹.
    *
    * The base corpus's max pairwise cosine is 0.513 (measured, both
    * scales) — real cos-0.9 dups don't exist in random-ish embeddings, so
    * the query PLANTS them: every [[D10_DUP_EVERY]]th vector gets one copy
    * (id + [[D10_DUP_OFFSET]]) with each coordinate scaled by a md5-derived
    * factor in [1±0.005] — the same deterministic construction in both
    * engines, so the oracle checks the full pipeline including recall on
    * the planted pairs and the keep/drop verdicts of all 10% planted +
    * 100% original rows.
    *
    * Scale shape: augmentation and the 144 sign bits are one map stage
    * (no shuffle); bands explode 12× (narrow rows: id + band + int key);
    * candidates come from the banded self equi-join; verify joins fetch
    * two vectors per CANDIDATE, not per pair. At 100 TB the band join
    * shuffles 12 narrow rows per vector and the verify cost tracks the
    * (tiny) candidate count — the d3 MinHash shape applied to dense
    * vectors.
    */
  val d10EmbeddingNearDup: Q = Q.sql(
    "d10_dedup_embedding_lsh",
    s"Bucketed high-threshold embedding dedup: $D10_BANDS×$D10_BAND_BITS-bit sign-LSH bands, exact verify at cos >= $D10_T, keep/drop verdicts.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |aug AS MATERIALIZED (
       |  SELECT vec_id, v FROM e
       |  UNION ALL
       |  SELECT vec_id + $D10_DUP_OFFSET AS vec_id,
       |         list_transform(range(1, len(v) + 1), i -> v[i] *
       |           (1 + (('0x' || substring(md5('d10e:' || vec_id || ':' || i), 1, 6))::BIGINT
       |                 % 1000 - 500) / 100000.0)) AS v
       |  FROM e WHERE vec_id % $D10_DUP_EVERY = 0),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM aug),
       |pl AS (SELECT $d10PlanesSql AS m),
       |bit AS (
       |  SELECT vec_id, p.p AS p,
       |         CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * m[p.p + 1][i])), (x, y) -> x + y) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM n CROSS JOIN pl
       |  CROSS JOIN (SELECT UNNEST(range(${D10_BANDS * D10_BAND_BITS})) AS p) p),
       |bands AS MATERIALIZED (
       |  SELECT vec_id, p // $D10_BAND_BITS AS band, SUM(bit << (p % $D10_BAND_BITS)) AS bkey
       |  FROM bit GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |ver AS MATERIALIZED (
       |  -- MATERIALIZED with the threshold applied INSIDE: un-hinted, the
       |  -- two consumers each re-ran the candidate×vector verify join
       |  -- (the >70 GB sf10 wall — wide vector rows in flight, twice);
       |  -- hinted-and-filtered it stores only the verified id pairs
       |  SELECT id_a, id_b, cos FROM (
       |    SELECT c.id_a, c.id_b,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(na.v) + 1), i -> na.v[i] * nb.v[i])), (x, y) -> x + y)
       |             / (na.nrm * nb.nrm) AS cos
       |    FROM cand c JOIN n na ON c.id_a = na.vec_id JOIN n nb ON c.id_b = nb.vec_id)
       |  WHERE cos >= $D10_T),
       |dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM ver GROUP BY id_b),
       |ab AS (SELECT id_a, COUNT(*) AS n_absorbed FROM ver GROUP BY id_a)
       |SELECT g.vec_id, d.id_b IS NULL AS kept, d.dup_of,
       |       COALESCE(ab.n_absorbed, 0) AS n_absorbed
       |FROM aug g
       |LEFT JOIN dup d ON g.vec_id = d.id_b
       |LEFT JOIN ab ON g.vec_id = ab.id_a
       |ORDER BY g.vec_id""".stripMargin) { (spark, dir) =>
    GraftExpressions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // eps(src, i) in [-0.005, +0.005): identical integer/md5 arithmetic to
    // the oracle, evaluated on the SOURCE vec_id (the select computes the
    // new id and the perturbed vector against the same input row)
    def eps(i: Column): Column =
      (conv(substring(md5(concat(lit("d10e:"), col("vec_id").cast("string"),
        lit(":"), i.cast("string"))), 1, 6), 16, 10).cast("long") % 1000 - 500) / lit(100000.0)
    val dups = e.filter(col("vec_id") % D10_DUP_EVERY === 0)
      .select((col("vec_id") + D10_DUP_OFFSET).as("vec_id"),
        transform(col("v"), (x, i0) => x * (lit(1.0) + eps(i0 + 1))).as("v"))
    // pinned: referenced by the band build and both verify branches
    val aug = Pin(e.union(dups)
      .withColumn("nrm", sqrt(dot(col("v"), col("v")))))
    // all 144 sign bits in ONE projection (the 12 per-band 12-bit integer
    // keys), exploded to (vec_id, band, bkey) — narrow band rows, no
    // vector payload crosses the band shuffle
    val bandStructs = (0 until D10_BANDS).map { b =>
      val key = (0 until D10_BAND_BITS).map { r =>
        when(dot(col("v"), d10PlaneCol(b * D10_BAND_BITS + r)) > 0, lit(1 << r))
          .otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    val bands = aug
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("vec_id"), col("x.band").as("band"), col("x.bkey").as("bkey"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val cos = cosineCol(col("na.v"), col("nb.v"), col("na.nrm"), col("nb.nrm"))
    // vec_id-keyed SHUFFLE joins, not a corpus broadcast: the normed
    // vector frame is ~1 GB+ serialized at sf100 (2M × 64 doubles) and
    // a broadcast ships it through the driver — the d3/d13 disease.
    val ver = cand
      .join(aug.as("na"), col("id_a") === col("na.vec_id"))
      .join(aug.as("nb"), col("id_b") === col("nb.vec_id"))
      .select(col("id_a"), col("id_b"), cos.as("cos"))
      .filter(col("cos") >= D10_T)
    val dup = ver.groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    val ab = ver.groupBy(col("id_a")).agg(count(lit(1)).as("n_absorbed"))
    aug.select(col("vec_id"))
      .join(dup, col("vec_id") === col("id_b"), "left")
      .join(ab, col("vec_id") === col("id_a"), "left")
      .select(col("vec_id"), col("id_b").isNull.as("kept"), col("dup_of"),
        coalesce(col("n_absorbed"), lit(0L)).as("n_absorbed"))
      .orderBy("vec_id")
  }

  /** Paragraph-granularity dedup — the C4/RefinedWeb sub-document move:
    * instead of keeping or dropping whole documents, find the PASSAGES
    * repeated across the corpus (boilerplate, licenses, navigation) and
    * report each document's share of them. Documents are chunked into
    * non-overlapping 8-word paragraphs (the corpus text is a flat word
    * stream, so a fixed-width chunk is the deterministic stand-in for a
    * newline split); a paragraph is "duplicated" when its md5 appears in
    * more than one distinct document.
    *
    * Scale shape: the chunking is pure array arithmetic inside the scan
    * (split → slice/concat_ws per index — no explode-then-regroup, whose
    * collect_list reassembly would be order-nondeterministic after a
    * shuffle); the corpus-frequency pass is one hash shuffle on the
    * paragraph hash; the join back re-shuffles on the same key. Linear in
    * corpus size, the exact-dedup (d1) cost model at paragraph
    * granularity. The paragraph frame feeds both the frequency build and
    * the join probe, so it is localCheckpoint-pinned — at 100 TB it is
    * the paragraph index you would materialize to storage once.
    */
  val d11ParagraphDedup: Q = Q.sql(
    "d11_dedup_paragraph",
    "Paragraph-level (8-word chunk) corpus dedup: per document, total and cross-document-duplicated paragraph counts.",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |para AS (
      |  SELECT doc_id,
      |         md5(array_to_string(ws[p*8+1 : p*8+8], ' ')) AS h
      |  FROM d, UNNEST(generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1)) AS t(p)),
      |freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM para GROUP BY 1)
      |SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_para,
      |       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_para,
      |       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
      |FROM para p JOIN freq f USING (h)
      |GROUP BY p.doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val paras = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, cast(ceil(size(ws) / 8.0) as int) - 1), " +
          "p -> concat_ws(' ', slice(ws, p*8+1, 8)))")).as("ptext"))
      .select(col("doc_id"), md5(col("ptext")).as("h"))
      .localCheckpoint() // feeds the frequency build AND the join probe
    val freq = paras.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    paras.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_para"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_para"))
      .select(col("doc_id"), col("n_para"), col("n_dup_para"),
        (col("n_dup_para").cast("double") / col("n_para")).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private val SUB_W = 8
  private val SUB_HOT = 16

  /** Exact duplicated-substring mining (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every doc pair sharing
    * at least one exact [[SUB_W]]-token window, with the shared-window
    * count and a containment fraction (ppm of the smaller doc's windows)
    * — the suffix-array dedup signal, re-expressed as the
    * sliding-window inverted index that distributes (a suffix array is a
    * single-machine structure; windowed hashing is what MapReduce-scale
    * dedup actually runs).
    *
    * Scale shape: per-doc fan-out is exactly n_tokens − W + 1 windows
    * (linear in corpus tokens, generated INSIDE the row — no join);
    * windows meet on an md5 equi-join. The pair mine runs only over
    * windows shared by 2..[[SUB_HOT]] docs — the hot side is dropped
    * BEFORE the self-join (boilerplate windows shared by thousands of
    * docs would otherwise go quadratic: the g3/d2 hot-key lesson applied
    * at birth), so per-window pair fan-out is capped at C(16,2) = 120.
    * The cap is semantic, mirrored in the oracle: ubiquitous substrings
    * are stop-phrases, not duplication evidence. Containment is a
    * floor-divided ppm of all-positive integers (Spark `DIV` == DuckDB
    * `//`).
    */
  val d12SubstringDedup: Q = Q.sql(
    "d12_dedup_substring",
    s"Exact duplicated $SUB_W-token substring mining: pairs sharing non-hot windows, shared count + containment ppm.",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT DISTINCT doc_id,
       |         ('0x' || substring(md5(array_to_string(list_slice(ws, i.i, i.i + $SUB_W - 1), ' ')), 1, 15))::BIGINT AS h
       |  FROM d, UNNEST(range(1, len(ws) - $SUB_W + 2)) AS i(i)),
       |nw AS (SELECT doc_id, COUNT(*) AS n_win FROM w GROUP BY doc_id),
       |ok AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $SUB_HOT),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM (SELECT w.* FROM w JOIN ok USING (h)) a
       |  JOIN (SELECT w.* FROM w JOIN ok USING (h)) b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.n_shared,
       |       na.n_win AS n_win_a, nb.n_win AS n_win_b,
       |       CAST((1000000 * p.n_shared) // LEAST(na.n_win, nb.n_win) AS BIGINT)
       |         AS contain_ppm
       |FROM pairs p
       |JOIN nw na ON p.doc_a = na.doc_id
       |JOIN nw nb ON p.doc_b = nb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    // windows generated inside the row; DISTINCT dedups a window repeating
    // within one doc. Keys are 60-bit md5 longs (DetHash contract), not
    // hex strings: the pinned frame and the self-join shuffle carry 8
    // bytes per window instead of 32 — at sf10 this pin is ~25M rows and
    // single-use pins accumulating across a session was measurable (m4,
    // SURVEY §7.12). The sequence guard matters: Spark's sequence(1, 0)
    // is DESCENDING [1, 0], not empty — a short doc would fabricate
    // windows without it.
    val wins = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        s"CASE WHEN size(ws) >= $SUB_W THEN transform(sequence(1, size(ws) - $SUB_W + 1), " +
          s"i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i, $SUB_W))), 1, 15), 16, 10) AS BIGINT)) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END")).as("h"))
      .distinct()
      .localCheckpoint() // feeds n_win, the hot filter, and both join probes
    val nWin = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_win"))
    val ok = wins.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, SUB_HOT)).select(col("h"))
    // hot windows leave BEFORE the pair self-join (see scaladoc)
    val cand = wins.join(ok, Seq("h"), "left_semi")
    val pairs = cand.select(col("h"), col("doc_id").as("doc_a"))
      .join(cand.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(nWin.select(col("doc_id").as("doc_a"), col("n_win").as("n_win_a")), "doc_a")
      .join(nWin.select(col("doc_id").as("doc_b"), col("n_win").as("n_win_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_win_a"), col("n_win_b"),
        expr("CAST((1000000 * n_shared) DIV least(n_win_a, n_win_b) AS BIGINT)")
          .as("contain_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  // the "nightly batch" slice of the corpus: a fixed 5% residue class,
  // so the increment grows proportionally with the corpus at every sf
  // (private[ops]: w22 replays the same slice through the streaming engine)
  private[ops] val D13_MOD = 20
  private[ops] val D13_RES = 7

  /** Incremental MinHash apply — the nightly-ETL move a 100 TB corpus
    * actually runs: a new batch (here the fixed 5% residue class
    * `doc_id % 20 = 7`) is deduplicated AGAINST the standing corpus
    * index without ever self-joining the corpus. The batch's band
    * hashes probe the session-persisted LSH band index ([[bandIndex]] —
    * the SAME materialized frame d3's full dedup builds), candidates
    * are exact-Jaccard verified, and each batch doc gets an
    * admit/duplicate verdict with its lowest-id corpus duplicate. The
    * p3 shape (batch-over-corpus anti-join) lifted from exact keys to
    * near-dup semantics.
    *
    * Scale shape: the index is built once per (session, corpus) and
    * reused across d3/d13 — at 100 TB it is the persisted index an
    * ingest pipeline refreshes per epoch; the nightly apply is then
    * linear in the BATCH: one equi-join on (band, bh) against the
    * index, one verify join over candidates only, one batch-keyed
    * rollup. No corpus self-join anywhere in the incremental path.
    */
  val d13IncrementalMinHash: Q = Q.sql(
    "d13_incremental_minhash",
    s"Incremental LSH apply: batch (doc_id % $D13_MOD = $D13_RES) probes the persisted band index; exact-Jaccard verdicts per batch doc.",
    s"""WITH $bandsSqlCtes,
       |idx AS (SELECT * FROM bands WHERE doc_id % $D13_MOD <> $D13_RES),
       |bat AS (SELECT * FROM bands WHERE doc_id % $D13_MOD = $D13_RES),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS new_doc, i.doc_id AS corpus_doc
       |  FROM bat b JOIN idx i ON b.band = i.band AND b.bh = i.bh),
       |ver AS (
       |  SELECT c.new_doc, c.corpus_doc,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
       |  FROM cand c
       |  JOIN sh sa ON c.new_doc = sa.doc_id
       |  JOIN sh sb ON c.corpus_doc = sb.doc_id),
       |roll AS (
       |  SELECT new_doc, COUNT(*) AS n_candidates,
       |         COUNT(CASE WHEN j >= 0.7 THEN 1 END) AS n_dups,
       |         MIN(CASE WHEN j >= 0.7 THEN corpus_doc END) AS dup_of
       |  FROM ver GROUP BY 1)
       |SELECT b.doc_id, COALESCE(r.n_candidates, 0) AS n_candidates,
       |       COALESCE(r.n_dups, 0) AS n_dups, r.dup_of AS dup_of,
       |       CASE WHEN COALESCE(r.n_dups, 0) = 0 THEN 1 ELSE 0 END AS admit
       |FROM (SELECT doc_id FROM sh WHERE doc_id % $D13_MOD = $D13_RES AND len(s) > 0) b
       |LEFT JOIN roll r ON b.doc_id = r.new_doc
       |ORDER BY b.doc_id""".stripMargin) { (spark, dir) =>
    val bands = bandIndex(spark, dir)
    val idx = bands.filter(col("doc_id") % D13_MOD =!= D13_RES)
    val bat = bands.filter(col("doc_id") % D13_MOD === D13_RES)
    val cand = bat.as("b").join(idx.as("i"),
        col("b.band") === col("i.band") && col("b.bh") === col("i.bh"))
      .select(col("b.doc_id").as("new_doc"), col("i.doc_id").as("corpus_doc"))
      .distinct()
    val docs = shingledDocs(spark, dir)
    // verify joins are doc_id-keyed SHUFFLE joins: both sides carry
    // corpus-fraction shingle frames (the 5% batch slice and the full
    // corpus), and a broadcast of either serializes it through the
    // driver — measured FAILING at sf100 (spark.driver.maxResultSize:
    // the corpus shingle frame is ~8 GB serialized at 5M docs). The
    // planner's shuffle join moves each array exactly once, keyed on
    // doc_id, at every scale; candidates only, never corpus×corpus.
    val nCommon = GraftExpressions.intersectCount(col("sa.s"), col("sb.s"))
    val j = nCommon.cast("double") /
      (size(col("sa.s")) + size(col("sb.s")) - nCommon)
    val ver = cand
      .join(docs.filter(col("doc_id") % D13_MOD === D13_RES).as("sa"),
        col("new_doc") === col("sa.doc_id"))
      .join(docs.as("sb"), col("corpus_doc") === col("sb.doc_id"))
      .select(col("new_doc"), col("corpus_doc"), j.as("j"))
    val roll = ver.groupBy(col("new_doc")).agg(
      count(lit(1)).as("n_candidates"),
      count(when(col("j") >= 0.7, lit(1))).as("n_dups"),
      min(when(col("j") >= 0.7, col("corpus_doc"))).as("dup_of"))
    docs.filter(col("doc_id") % D13_MOD === D13_RES).select(col("doc_id"))
      .join(roll, col("doc_id") === col("new_doc"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        when(coalesce(col("n_dups"), lit(0L)) === 0, lit(1)).otherwise(lit(0))
          .as("admit"))
      .orderBy("doc_id")
  }

  // the "retire" slice of the STANDING corpus: a fixed quarter residue
  // class of index docs deleted in one maintenance pass (a license-class
  // expiry / bulk takedown — the deletion half of index maintenance that
  // d13's insert-only apply doesn't cover). A quarter (not 5%) so the
  // affected-probe set is non-trivial at gate scale; disjoint from the
  // batch class by construction (batch ids are ≡ 7 mod 20 ⇒ ≡ 3 mod 4).
  private[ops] val D14_MOD = 4
  private[ops] val D14_RES = 1

  /** Retire + re-probe — DELETION maintenance for the dedup index, the
    * other half of the d13 lifecycle: a corpus residue class is retired
    * (license expiry, GDPR, takedown) and the query re-verdicts ONLY the
    * batch probes the deletion can affect — those with at least one
    * retired candidate — against the index minus the retired docs,
    * emitting old-vs-new verdicts. Because deletion can only REMOVE
    * candidates, `n_dups` can only fall and an admit can only flip
    * 0 → 1: retiring a doc RESURRECTS the batch docs it had suppressed
    * (the un-dedup effect a real takedown pass must surface, or the
    * corpus silently loses retained coverage).
    *
    * Scale shape: the touch set is |affected| ≈ |retired| × band fan-in,
    * NOT the corpus — affected probes come from one filter over the same
    * (band, bh) candidate join d13 runs, the exact-Jaccard verify runs
    * once over the affected docs' candidates only (both rolls read ONE
    * pinned verify frame; the new roll is a filter of it, so retire
    * and keep verdicts cannot drift), and nothing rescans or re-signs
    * the corpus: the band index and shingle frame are the same
    * session-persisted artifacts d3/d13 share. At 100 TB this is the
    * nightly takedown pass: linear in the retired set, zero index
    * rebuild.
    */
  val d14RetireReprobe: Q = Q.sql(
    "d14_retire_reprobe",
    s"Deletion maintenance: retire corpus docs (doc_id % $D14_MOD = $D14_RES) from the band index; re-verdict only affected batch probes (admits can only resurrect).",
    s"""WITH $bandsSqlCtes,
       |idx AS (SELECT * FROM bands WHERE doc_id % $D13_MOD <> $D13_RES),
       |bat AS (SELECT * FROM bands WHERE doc_id % $D13_MOD = $D13_RES),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS new_doc, i.doc_id AS corpus_doc
       |  FROM bat b JOIN idx i ON b.band = i.band AND b.bh = i.bh),
       |aff AS (SELECT DISTINCT new_doc FROM cand
       |        WHERE corpus_doc % $D14_MOD = $D14_RES),
       |ver AS (
       |  SELECT c.new_doc, c.corpus_doc,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
       |  FROM cand c
       |  JOIN aff a ON c.new_doc = a.new_doc
       |  JOIN sh sa ON c.new_doc = sa.doc_id
       |  JOIN sh sb ON c.corpus_doc = sb.doc_id),
       |old_roll AS (
       |  SELECT new_doc, COUNT(*) AS n_candidates,
       |         COUNT(CASE WHEN j >= 0.7 THEN 1 END) AS n_dups,
       |         MIN(CASE WHEN j >= 0.7 THEN corpus_doc END) AS dup_of
       |  FROM ver GROUP BY 1),
       |new_roll AS (
       |  SELECT new_doc, COUNT(*) AS n_candidates,
       |         COUNT(CASE WHEN j >= 0.7 THEN 1 END) AS n_dups,
       |         MIN(CASE WHEN j >= 0.7 THEN corpus_doc END) AS dup_of
       |  FROM ver WHERE corpus_doc % $D14_MOD <> $D14_RES GROUP BY 1)
       |SELECT o.new_doc AS doc_id,
       |       CAST(o.n_candidates AS BIGINT) AS old_n_candidates,
       |       CAST(o.n_dups AS BIGINT) AS old_n_dups,
       |       o.dup_of AS old_dup_of,
       |       CASE WHEN o.n_dups = 0 THEN 1 ELSE 0 END AS old_admit,
       |       CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS new_n_candidates,
       |       CAST(COALESCE(n.n_dups, 0) AS BIGINT) AS new_n_dups,
       |       n.dup_of AS new_dup_of,
       |       CASE WHEN COALESCE(n.n_dups, 0) = 0 THEN 1 ELSE 0 END AS new_admit,
       |       CASE WHEN o.n_dups > 0 AND COALESCE(n.n_dups, 0) = 0
       |            THEN 1 ELSE 0 END AS resurrected
       |FROM old_roll o LEFT JOIN new_roll n ON o.new_doc = n.new_doc
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val bands = bandIndex(spark, dir)
    val idx = bands.filter(col("doc_id") % D13_MOD =!= D13_RES)
    val bat = bands.filter(col("doc_id") % D13_MOD === D13_RES)
    val cand = bat.as("b").join(idx.as("i"),
        col("b.band") === col("i.band") && col("b.bh") === col("i.bh"))
      .select(col("b.doc_id").as("new_doc"), col("i.doc_id").as("corpus_doc"))
      .distinct()
      .localCheckpoint() // feeds the affected filter AND the verify join
    val aff = cand.filter(col("corpus_doc") % D14_MOD === D14_RES)
      .select(col("new_doc")).distinct()
    val docs = shingledDocs(spark, dir)
    // verify cost is ∝ the AFFECTED docs' candidates (semi-join prunes
    // BEFORE the exact-Jaccard join); shuffle joins as in d13 — a
    // broadcast of a corpus-fraction shingle frame fails at sf100
    // (driver maxResultSize), see d13
    val nCommon = GraftExpressions.intersectCount(col("sa.s"), col("sb.s"))
    val j = nCommon.cast("double") /
      (size(col("sa.s")) + size(col("sb.s")) - nCommon)
    val ver = cand
      .join(aff, Seq("new_doc"), "left_semi")
      .join(docs.filter(col("doc_id") % D13_MOD === D13_RES).as("sa"),
        col("new_doc") === col("sa.doc_id"))
      .join(docs.as("sb"), col("corpus_doc") === col("sb.doc_id"))
      .select(col("new_doc"), col("corpus_doc"), j.as("j"))
      .localCheckpoint() // ONE verify pass; both rolls read it
    def roll(df: DataFrame): DataFrame = df.groupBy(col("new_doc")).agg(
      count(lit(1)).as("n_candidates"),
      count(when(col("j") >= 0.7, lit(1))).as("n_dups"),
      min(when(col("j") >= 0.7, col("corpus_doc"))).as("dup_of"))
    val oldR = roll(ver)
    val newR = roll(ver.filter(col("corpus_doc") % D14_MOD =!= D14_RES))
    oldR.as("o").join(newR.as("n"),
        col("o.new_doc") === col("n.new_doc"), "left_outer")
      .select(col("o.new_doc").as("doc_id"),
        col("o.n_candidates").as("old_n_candidates"),
        col("o.n_dups").as("old_n_dups"),
        col("o.dup_of").as("old_dup_of"),
        when(col("o.n_dups") === 0, lit(1)).otherwise(lit(0)).as("old_admit"),
        coalesce(col("n.n_candidates"), lit(0L)).as("new_n_candidates"),
        coalesce(col("n.n_dups"), lit(0L)).as("new_n_dups"),
        col("n.dup_of").as("new_dup_of"),
        when(coalesce(col("n.n_dups"), lit(0L)) === 0, lit(1)).otherwise(lit(0))
          .as("new_admit"),
        when(col("o.n_dups") > 0 && coalesce(col("n.n_dups"), lit(0L)) === 0,
          lit(1)).otherwise(lit(0)).as("resurrected"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(d1Exact, d2NgramJaccard, d3MinHashLsh, d4SimHash,
    d5EmbeddingCosine, d6DedupClusters, d7DedupApply, d8Containment,
    d9SemanticDedup, d10EmbeddingNearDup, d11ParagraphDedup,
    d12SubstringDedup, d13IncrementalMinHash, d14RetireReprobe)
}
