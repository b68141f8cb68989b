package graft.ops

import graft.{Q, Tables}
import graft.functions.DetHash.md5Hex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * s1 is the exact baseline: brute-force cosine top-k for a probe set —
  * a broadcast of the probes against a single scan of the corpus, so it
  * scales to any corpus size that one pass can read (the probe side, not
  * the corpus, is the thing that must stay small).
  *
  * s2 is the scale path: deterministic random-hyperplane LSH buckets the
  * corpus once (map stage), and each probe only scans its own bucket —
  * the 100 TB shape where the bucketing shuffle key replaces the cross
  * join. Hyperplane weights are md5-derived integers computed at plan
  * build time and inlined into both the Spark plan and the oracle SQL, so
  * both engines use bit-identical planes.
  */
object Similarity {

  private val DIMS = 64
  private val PLANES = 4
  private val TOP_K = 10
  private val BUCKET_K = 5

  /** plane p, dim d → integer weight in [-500, 499], md5-derived. */
  private def planeWeight(p: Int, d: Int): Double =
    (java.lang.Long.parseLong(md5Hex(s"hp-$p-$d").substring(0, 8), 16) % 1000L - 500L).toDouble

  private val planes: Seq[Seq[Double]] =
    (0 until PLANES).map(p => (0 until DIMS).map(d => planeWeight(p, d)))

  /** Exact top-k: probes (vec_id < 10) broadcast against the corpus, rank
    * by cosine. One corpus scan; rank via a window partitioned by probe.
    */
  val s1AnnBruteForce: Q = Q.sql(
    "s1_ann_bruteforce",
    s"Exact cosine top-$TOP_K neighbors for 10 probe vectors (broadcast probes).",
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |           / (p.nrm * c.nrm) AS cos
       |  FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, neighbor_label, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, neighbor_id, neighbor_label, ROUND(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TOP_K ORDER BY probe_id, rank""".stripMargin) { (spark, dir) =>
    val n = Dedup.normedVectors(spark, dir)
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(n, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label"), round(col("cos"), 6).as("cosine"))
      .orderBy("probe_id", "rank")
  }

  private def planeSqlArray(p: Int): String =
    planes(p).map(w => s"CAST($w AS DOUBLE)").mkString("[", ", ", "]")

  private def planeCol(p: Int) =
    array(planes(p).map(w => lit(w)): _*)

  /** The extended plane inventory for s5's scale-adaptive buckets — same
    * md5 derivation, same indices, so planes 0–3 are bit-identical to
    * [[planes]].
    */
  private[ops] val planesWide: Seq[Seq[Double]] =
    (0 until 12).map(p => (0 until DIMS).map(d => planeWeight(p, d)))

  private def planeSqlArrayWide(p: Int): String =
    planesWide(p).map(w => s"CAST($w AS DOUBLE)").mkString("[", ", ", "]")

  private def planeColWide(p: Int) =
    array(planesWide(p).map(w => lit(w)): _*)

  /** LSH-bucketed ANN: 4 random hyperplanes → 16 buckets; probes search
    * only their own bucket. The corpus is bucketed in one map stage and
    * the probe⋈bucket join is an equi-join on the bucket id — the shape
    * that survives a 1000-executor corpus where s1's broadcast-vs-scan
    * still reads everything per probe set.
    */
  val s2AnnLsh: Q = Q.sql(
    "s2_ann_lsh",
    s"Hyperplane-LSH bucketed ANN: top-$BUCKET_K in-bucket neighbors per probe.",
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm,
       |         ${(0 until PLANES).map(p =>
            s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               |           list_transform(range(1, len(v) + 1), i -> v[i] * (${planeSqlArray(p)})[i])), (x, y) -> x + y) > 0
               |      THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")} AS bucket
       |  FROM e),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, p.bucket, c.vec_id AS neighbor_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |           / (p.nrm * c.nrm) AS cos
       |  FROM n p JOIN n c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 10),
       |ranked AS (
       |  SELECT probe_id, bucket, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT probe_id, bucket, rank, neighbor_id, ROUND(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $BUCKET_K ORDER BY probe_id, rank""".stripMargin) { (spark, dir) =>
    val n0 = Dedup.normedVectors(spark, dir)
    val bucket = signBucketCol(col("v"), PLANES, planeCol)
    val n = n0.withColumn("bucket", bucket)
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("bucket"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(n.drop("bucket").withColumn("bucket2", bucket),
        col("bucket") === col("bucket2") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("bucket"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BUCKET_K)
      .select(col("probe_id"), col("bucket"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("probe_id", "rank")
  }

  /** IVF cell count for the FIXED-PROBE demo queries (s3/s8/s12): their
    * probe set is 10 vectors regardless of corpus size, so their
    * candidate fan is 10·(n/[[N_CELLS]]) — LINEAR in the corpus — and
    * the tiny fixed constant (mirrored verbatim in their oracle SQL) is
    * sound at any scale. The queries whose PROBE COUNT grows with the
    * corpus (s21 and the w23 streaming apply: every batch-residue vector
    * probes) are the ones a fixed grid turns quadratic —
    * n/20 probes × n/(8·2^planes) occupancy — and they size their bucket
    * width with the corpus instead ([[annPlanes]]). Post-mortem of the
    * round-13 w23 sf100 outlier (4159.6s vs batch s21's 15.7s on the
    * same data): the 265× gap between the twins was the REFINE ORDER
    * (w23 exact-cosine'd every banded candidate in-stream where s21
    * pruned to top-K by integer dot first — fixed round 14); the
    * remaining shared cost was this quadratic fan (s21 scanned ~1.5B
    * candidate pairs at sf100), fixed by the derived plane count.
    */
  private val N_CELLS = 8
  private val IVF_K = 5

  /** IVF-style ANN: the corpus is partitioned into Voronoi cells around
    * deterministic centroids (the first [[N_CELLS]] vectors — a real
    * build would k-means these), each vector assigned to its
    * max-cosine centroid; probes search only their own cell (nprobe=1).
    * Cell assignment is one broadcast pass; the probe⋈cell join is an
    * equi-join on the cell id — like s2 but with data-adaptive regions
    * instead of fixed hyperplanes. Oracle replicates the assignment
    * arithmetic exactly.
    */
  val s3AnnIvf: Q = Q.sql(
    "s3_ann_ivf",
    s"IVF-cell ANN ($N_CELLS Voronoi cells, nprobe=1): top-$IVF_K in-cell neighbors per probe.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $N_CELLS),
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
       |scored AS (
       |  SELECT p.vec_id AS probe_id, pc.cell, c.vec_id AS neighbor_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |           / (p.nrm * c.nrm) AS cos
       |  FROM n p JOIN cells pc ON p.vec_id = pc.vec_id
       |  JOIN cells cc ON pc.cell = cc.cell AND cc.vec_id <> p.vec_id
       |  JOIN n c ON c.vec_id = cc.vec_id
       |  WHERE p.vec_id < 10),
       |ranked AS (
       |  SELECT probe_id, cell, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT probe_id, cell, rank, neighbor_id, ROUND(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $IVF_K ORDER BY probe_id, rank""".stripMargin) { (spark, dir) =>
    val n = Dedup.normedVectors(spark, dir)
    val cent = n.filter(col("vec_id") < N_CELLS)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assignW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val cells = n.crossJoin(broadcast(cent))
      .withColumn("ccos", Dedup.cosineCol(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rn", row_number().over(assignW))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val withCell = n.join(cells, "vec_id")
    val probes = withCell.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("cell"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes)
      .join(withCell.withColumnRenamed("cell", "cell2"),
        col("cell") === col("cell2") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cell"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= IVF_K)
      .select(col("probe_id"), col("cell"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("probe_id", "rank")
  }

  /** Per-label mean embedding — the centroid-training step an IVF index
    * (s3) needs, and the class-prototype computation embedding pipelines
    * run constantly. Output is flat (label, pos, centroid) rows: scalar
    * columns hash cleanly, and it is the layout the next groupBy consumes.
    *
    * Determinism: double summation is order-sensitive, and a distributed
    * partial aggregate adds in shuffle order. Each component is quantized
    * once — `floor(x · 1e7)` as a long; the IEEE multiply and floor are
    * bit-identical in both engines — then summed in exact integer
    * arithmetic, so the result is row-order-independent and the centroid
    * carries ~1e-7 quantization (far below any embedding's signal). One
    * shuffle on (label, pos) with map-side partials; the dim-way fan-out
    * via posexplode is a map stage. (Decimal casts are NOT equivalent:
    * double→DECIMAL rounding at the last place differs across engines.)
    */
  val s4LabelCentroids: Q = Q.sql(
    "s4_label_centroids",
    "Per-label mean embedding (order-independent quantized sum), flat (label, pos, centroid) layout.",
    """WITH e AS (
      |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (
      |  SELECT label, u.p AS pos, u.x AS x
      |  FROM (SELECT label,
      |          UNNEST(list_transform(range(0, len(v)),
      |            i -> struct_pack(p := i, x := v[i + 1]))) AS u
      |        FROM e))
      |SELECT label, pos,
      |       CAST(SUM(CAST(FLOOR(x * 10000000.0) AS BIGINT)) AS DOUBLE)
      |         / 10000000.0 / COUNT(*) AS centroid
      |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin) { (spark, dir) =>
    graft.Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(floor(col("x") * lit(1.0e7))).cast("double") /
        lit(1.0e7) / count(lit(1))).as("centroid"))
      .orderBy("label", "pos")
  }

  /** k-NN JOIN: top-3 cosine neighbours for EVERY vector (s1 ranks a
    * small probe set; this is the whole-corpus retrieval workload),
    * bucket-constrained by the same md5-derived hyperplane LSH as s2 —
    * the 100 TB shape, where the candidate space is one equi-join on
    * the bucket id instead of the quadratic pair space (≈ 1/2^planes of
    * all pairs). Within the bucket the top-3 is exact, and the oracle
    * replicates the identical buckets (bit-identical plane weights are
    * inlined into both plans), so the check stays hash-exact even
    * though bucketing is approximate. Vectors alone in their bucket
    * emit no rows, exactly as in the oracle; ties break on neighbour
    * id for full determinism.
    */
  /** Active plane count for s5's buckets, from the corpus size: enough
    * planes that the EXPECTED bucket population sits in [32, 64), so the
    * in-bucket self-join volume stays LINEAR in n instead of n²/2^planes
    * (the sf10 soak measured the fixed-4-plane variant at 128× cost for
    * 10× data — textbook quadratic). Integer bit-length arithmetic
    * (the t15 trick), identical in both engines — no floating log2
    * boundary. Clamped to [4, [[S5_MAX_PLANES]]]; past the cap the
    * bucket width is the knob a bigger deployment raises (each extra
    * plane halves bucket population).
    */
  private def s5Planes(n: Long): Int =
    math.min(S5_MAX_PLANES,
      math.max(PLANES, java.lang.Long.toBinaryString(n / 32).length))

  private[ops] val S5_MAX_PLANES = 12

  val s5KnnJoin: Q = Q.sql(
    "s5_knn_join",
    "Bucket-constrained k-NN join: top-3 in-bucket cosine neighbours per vector (bucket width scales with n).",
    s"""WITH np AS (
       |  SELECT LEAST($S5_MAX_PLANES, GREATEST($PLANES,
       |           LENGTH(PRINTF('%b', (SELECT COUNT(*) FROM embeddings) // 32)))) AS np),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm,
       |         ${(0 until 12).map(p =>
            s"""CASE WHEN $p < np.np AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               |           list_transform(range(1, len(v) + 1), i -> v[i] * (${planeSqlArrayWide(p)})[i])), (x, y) -> x + y) > 0
               |      THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")} AS bucket
       |  FROM e CROSS JOIN np),
       |scored AS (
       |  SELECT a.vec_id AS vec_id, a.bucket, b.vec_id AS nbr_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])), (x, y) -> x + y)
       |           / (a.nrm * b.nrm) AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT vec_id, bucket, nbr_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
       |  FROM scored)
       |SELECT vec_id, bucket, nbr_id, ROUND(cos, 6) AS cosine, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val n0 = Dedup.normedVectors(spark, dir)
    // the cached corpus frame makes this count a metadata-cheap job; the
    // resulting plane count is inlined into the plan (the oracle derives
    // the same integer from COUNT(*))
    val activePlanes = s5Planes(n0.count())
    val bucket = signBucketCol(col("v"), activePlanes, planeColWide)
    val n = n0.withColumn("bucket", bucket)
    val cos = Dedup.cosineCol(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
    n.as("a").join(n.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("nbr_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))))
      .filter(col("rnk") <= 3)
      .select(col("vec_id"), col("bucket"), col("nbr_id"),
        round(col("cos"), 6).as("cosine"), col("rnk"))
      .orderBy("vec_id", "rnk")
  }

  /** Scalar int8 quantization of embeddings — the storage/serving
    * compression step every vector index runs (per-vector min-max
    * affine code: q = floor((x−lo)/(hi−lo)·255 + 0.5)). Emits a
    * position-weighted integer checksum of the codes (pins the exact
    * code vector, not just its error) plus mean/max reconstruction
    * error via the s4 fixed-point trick (`floor(err·1e7)` longs sum
    * order-independently; every IEEE op in the chain is bit-identical
    * across engines — see [[s4LabelCentroids]]). Map stage + one
    * vec_id-keyed aggregation with map-side partials; at 100 TB the
    * codes column (dim bytes/vector vs 4·dim) is what you'd persist.
    */
  val s6Quantize: Q = Q.sql(
    "s6_embedding_quantize",
    "Int8 min-max quantization: code checksum + mean/max reconstruction error per vector.",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM e),
      |x AS (
      |  SELECT vec_id, lo, hi, u.p AS pos, u.x AS x
      |  FROM (SELECT vec_id, lo, hi,
      |          UNNEST(list_transform(range(0, len(v)),
      |            i -> struct_pack(p := i, x := v[i + 1]))) AS u
      |        FROM mm)),
      |q AS (
      |  SELECT vec_id, pos, x, lo, hi,
      |    CASE WHEN hi = lo THEN 0
      |         ELSE CAST(LEAST(255.0, FLOOR((x - lo) / (hi - lo) * 255.0 + 0.5)) AS BIGINT)
      |    END AS qv
      |  FROM x),
      |r AS (
      |  SELECT vec_id, pos, qv,
      |    ABS(x - (lo + qv * (hi - lo) / 255.0)) AS err
      |  FROM q)
      |SELECT vec_id,
      |  CAST(SUM(qv * (pos + 1)) AS BIGINT) AS code_checksum,
      |  CAST(SUM(CAST(FLOOR(err * 10000000.0) AS BIGINT)) AS DOUBLE)
      |    / 10000000.0 / COUNT(*) AS mean_abs_err,
      |  CAST(MAX(CAST(FLOOR(err * 10000000.0) AS BIGINT)) AS DOUBLE)
      |    / 10000000.0 AS max_abs_err
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val mm = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
    val x = mm.select(col("vec_id"), col("lo"), col("hi"),
      posexplode(col("v")).as(Seq("pos", "x")))
    // identical op-for-op arithmetic to the oracle: ((x-lo)/(hi-lo))*255+0.5,
    // floored; dequant lo + q*(hi-lo)/255 — each step one correctly-rounded
    // IEEE double op, so both engines produce the same bits
    val qv = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(lit(255L),
        floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 255.0 + 0.5)))
    val r = x.withColumn("qv", qv)
      .withColumn("err",
        abs(col("x") - (col("lo") + col("qv") * (col("hi") - col("lo")) / 255.0)))
    r.groupBy(col("vec_id"))
      .agg(sum(col("qv") * (col("pos") + 1)).as("code_checksum"),
        (sum(floor(col("err") * 1.0e7)).cast("double") / 1.0e7 / count(lit(1)))
          .as("mean_abs_err"),
        (max(floor(col("err") * 1.0e7)).cast("double") / 1.0e7).as("max_abs_err"))
      .orderBy("vec_id")
  }

  private val MIPS_K = 5

  /** Maximum-inner-product search (MIPS) — retrieval with UNNORMALIZED
    * embeddings, where the score is the raw dot product (magnitude
    * matters: popularity-weighted item embeddings, unscaled retrieval
    * heads). Exact top-[[MIPS_K]] per probe here, plus the
    * norm-augmentation witness that reduces MIPS to cosine ANN
    * (Bachrach et al., RecSys'14 / Neyshabur & Srebro, ICML'15): with
    * M² = max‖x‖², augment corpus x → [x, √(M²−‖x‖²)] and probe
    * q → [q, 0]; every augmented corpus vector then has norm exactly M,
    * so augmented-cosine = ⟨q,x⟩/(‖q‖·M) — a per-probe monotone map of
    * the dot product. The emitted `aug_cosine` column IS that value;
    * because it orders identically to `dot`, the same LSH/IVF bucketing
    * of s2/s3 applied to augmented vectors is the sub-linear MIPS path
    * at 100 TB, with zero new machinery. OpsSpec asserts the rank
    * equivalence on the full output.
    *
    * Determinism: dot via the codegen'd left-to-right kernel (oracle
    * folds the same order); M² is a global MAX (order-independent);
    * √ is a single correctly-rounded IEEE op in both engines.
    */
  val s7Mips: Q = Q.sql(
    "s7_mips",
    s"Exact MIPS top-$MIPS_K per probe by raw dot product, with the norm-augmentation cosine witness.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y) AS n2
       |  FROM e),
       |mx AS (SELECT MAX(n2) AS m2 FROM n),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y) AS dot,
       |         sqrt(p.n2) AS pnrm, m2
       |  FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
       |  CROSS JOIN mx),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, dot,
       |         dot / (pnrm * sqrt(m2)) AS aug_cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, neighbor_id, ROUND(dot, 6) AS dot,
       |       ROUND(aug_cos, 6) AS aug_cosine
       |FROM ranked WHERE rank <= $MIPS_K ORDER BY probe_id, rank""".stripMargin) { (spark, dir) =>
    val n = Dedup.normedVectors(spark, dir)
      .select(col("vec_id"), col("v"),
        graft.functions.GraftExpressions.dot(col("v"), col("v")).as("n2"))
    val mx = n.agg(max(col("n2")).as("m2"))
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("n2").as("pn2"))
    val dotc = graft.functions.GraftExpressions.dot(col("pv"), col("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("dot").desc, col("neighbor_id"))
    broadcast(probes).join(n, col("vec_id") =!= col("probe_id"))
      .crossJoin(broadcast(mx))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        dotc.as("dot"), (sqrt(col("pn2")) * sqrt(col("m2"))).as("denom"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MIPS_K)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("dot"), 6).as("dot"),
        round(col("dot") / col("denom"), 6).as("aug_cosine"))
      .orderBy("probe_id", "rank")
  }

  private val NPROBE = 2
  private val RERANK_K = 10

  /** Two-stage retrieval — the production ANN serving shape: a cheap IVF
    * shortlist (probe the [[NPROBE]] nearest of [[N_CELLS]] cells) feeds
    * an EXACT cosine rerank that returns the final top-[[RERANK_K]], and
    * every result row carries a ground-truth witness flag (`in_exact`)
    * saying whether the exact brute-force top-[[RERANK_K]] also contains
    * it — the per-probe recall@k is one aggregation away, which is how a
    * real index's quality is monitored (on sampled probes) without ever
    * trusting the index.
    *
    * 100 TB shape: stage 1 touches centroids only (broadcast — the
    * index's coarse quantizer is tiny by construction); stage 2's FLOPs
    * are bounded by the shortlist (nprobe/N_CELLS of the corpus instead
    * of all of it), streamed through one equi-join on the cell id. The
    * witness join is gate/sample-only — production samples probes, it
    * never brute-forces the full corpus.
    *
    * Multi-probe matters: nprobe=1 (s3) misses true neighbors whose cell
    * boundary falls between probe and neighbor; probing the 2 nearest
    * cells is the standard recall/cost dial. A corpus vector belongs to
    * exactly one cell (rn=1), so the shortlist needs no dedup.
    */
  val s8AnnRerank: Q = Q.sql(
    "s8_ann_rerank",
    s"Two-stage ANN: IVF shortlist (nprobe=$NPROBE of $N_CELLS cells) + exact rerank top-$RERANK_K with ground-truth witness flag.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $N_CELLS),
       |assigned AS (
       |  SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |  FROM (
       |    SELECT n.vec_id, cent.cent_id,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i])), (x, y) -> x + y)
       |             / (n.nrm * cent.cnrm) AS cos
       |    FROM n CROSS JOIN cent)),
       |corpus_cell AS (SELECT vec_id, cent_id AS cell FROM assigned WHERE rn = 1),
       |probe_cell AS (
       |  SELECT vec_id, cent_id AS cell FROM assigned
       |  WHERE rn <= $NPROBE AND vec_id < 10),
       |short AS (
       |  SELECT p.vec_id AS probe_id, cc.vec_id AS neighbor_id
       |  FROM probe_cell p JOIN corpus_cell cc
       |    ON p.cell = cc.cell AND cc.vec_id <> p.vec_id),
       |rr AS (
       |  SELECT s.probe_id, s.neighbor_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |           / (p.nrm * c.nrm) AS cos
       |  FROM short s JOIN n p ON s.probe_id = p.vec_id
       |               JOIN n c ON s.neighbor_id = c.vec_id),
       |reranked AS (
       |  SELECT probe_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM rr),
       |exact AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |               / (p.nrm * c.nrm) DESC, c.vec_id) AS rnk
       |    FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
       |  WHERE rnk <= $RERANK_K)
       |SELECT r.probe_id, r.rnk, r.neighbor_id, ROUND(r.cos, 6) AS cosine,
       |       CASE WHEN x.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_exact
       |FROM reranked r
       |LEFT JOIN exact x ON r.probe_id = x.probe_id AND r.neighbor_id = x.neighbor_id
       |WHERE r.rnk <= $RERANK_K
       |ORDER BY r.probe_id, r.rnk""".stripMargin) { (spark, dir) =>
    val n = Dedup.normedVectors(spark, dir)
    val cent = n.filter(col("vec_id") < N_CELLS)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assignW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val assigned = n.crossJoin(broadcast(cent))
      .withColumn("ccos", Dedup.cosineCol(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rn", row_number().over(assignW))
      .select(col("vec_id"), col("cent_id").as("cell"), col("rn"))
    val corpusCell = assigned.filter(col("rn") === 1)
      .join(n, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
    val probeCell = assigned.filter(col("rn") <= NPROBE && col("vec_id") < 10)
      .join(n, "vec_id")
      .select(col("vec_id").as("probe_id"), col("cell").as("pcell"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val reranked = broadcast(probeCell)
      .join(corpusCell, col("pcell") === col("cell") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= RERANK_K)
    // ground-truth witness: the exact brute-force top-k (s1's shape),
    // joined back as a flag — gate/sample-only work by design
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val exact = broadcast(probes)
      .join(n, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= RERANK_K)
      .select(col("probe_id").as("xp"), col("neighbor_id").as("xn"))
    reranked
      .join(broadcast(exact),
        col("probe_id") === col("xp") && col("neighbor_id") === col("xn"), "left")
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"),
        when(col("xn").isNull, 0).otherwise(1).as("in_exact"))
      .orderBy("probe_id", "rnk")
  }

  private val RETRIEVE_K = 3

  /** End-to-end retrieval — the composed query a RAG / nearest-example
    * pipeline actually runs, crossing both modality tables: probe
    * DOCUMENTS (doc_id < 10) → their embeddings (vec_id = doc_id) →
    * hyperplane-LSH in-bucket neighbors (s2's buckets, bit-identical
    * planes) → top-[[RETRIEVE_K]] by exact cosine → joined BACK to the
    * documents table for the neighbor's language and a text fingerprint.
    *
    * Composition is the point: embeddings never leave the bucket
    * equi-join, the documents table contributes only the two narrow
    * columns the output needs (column pruning reaches both scans), and
    * the final text join touches just probe·k rows — at 100 TB the
    * corpus text is petabytes the retrieval never drags through the
    * similarity plan.
    */
  val s9RetrievalE2e: Q = Q.sql(
    "s9_retrieval_e2e",
    s"Cross-table retrieval: probe docs → LSH-bucket ANN top-$RETRIEVE_K → neighbor docs with lang + fingerprint.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm,
       |         ${(0 until PLANES).map(p =>
            s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               |           list_transform(range(1, len(v) + 1), i -> v[i] * (${planeSqlArray(p)})[i])), (x, y) -> x + y) > 0
               |      THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")} AS bucket
       |  FROM e),
       |scored AS (
       |  SELECT p.vec_id AS probe_doc_id, c.vec_id AS neighbor_doc_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |           / (p.nrm * c.nrm) AS cos
       |  FROM n p JOIN n c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 10),
       |ranked AS (
       |  SELECT probe_doc_id, neighbor_doc_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_doc_id ORDER BY cos DESC, neighbor_doc_id) AS rnk
       |  FROM scored)
       |SELECT r.probe_doc_id, r.rnk, r.neighbor_doc_id, ROUND(r.cos, 6) AS cosine,
       |       nd.lang AS neighbor_lang,
       |       CASE WHEN nd.lang = pd.lang THEN 1 ELSE 0 END AS same_lang,
       |       md5(nd.text) AS neighbor_md5
       |FROM ranked r
       |JOIN documents pd ON r.probe_doc_id = pd.doc_id
       |JOIN documents nd ON r.neighbor_doc_id = nd.doc_id
       |WHERE r.rnk <= $RETRIEVE_K
       |ORDER BY r.probe_doc_id, r.rnk""".stripMargin) { (spark, dir) =>
    val n0 = Dedup.normedVectors(spark, dir)
    val bucket = signBucketCol(col("v"), PLANES, planeCol)
    val n = n0.withColumn("bucket", bucket)
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_doc_id"), col("bucket"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_doc_id")).orderBy(col("cos").desc, col("neighbor_doc_id"))
    val ranked = broadcast(probes)
      .join(n.drop("bucket").withColumn("bucket2", bucket),
        col("bucket") === col("bucket2") && col("vec_id") =!= col("probe_doc_id"))
      .select(col("probe_doc_id"), col("vec_id").as("neighbor_doc_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= RETRIEVE_K)
    val docs = Tables.documents(spark, dir)
    ranked
      .join(broadcast(docs.select(col("doc_id").as("pd_id"), col("lang").as("probe_lang"))),
        col("probe_doc_id") === col("pd_id"))
      .join(docs.select(col("doc_id").as("nd_id"), col("lang").as("neighbor_lang"),
          md5(col("text").cast("binary")).as("neighbor_md5")),
        col("neighbor_doc_id") === col("nd_id"))
      .select(col("probe_doc_id"), col("rnk"), col("neighbor_doc_id"),
        round(col("cos"), 6).as("cosine"), col("neighbor_lang"),
        when(col("neighbor_lang") === col("probe_lang"), 1).otherwise(0).as("same_lang"),
        col("neighbor_md5"))
      .orderBy("probe_doc_id", "rnk")
  }

  private val PQ_M = 8        // subspaces
  private val PQ_SUB = DIMS / PQ_M
  private val PQ_CODES = 16   // codewords per subspace

  /** codeword component: subspace m, codeword k, dim d → [-0.5, 0.499],
    * md5-derived (matches the embedding value range), inlined into both
    * the Spark plan and the oracle SQL so the codebooks are bit-identical.
    */
  private def pqWeight(m: Int, k: Int, d: Int): Double =
    (java.lang.Long.parseLong(md5Hex(s"pq-$m-$k-$d").substring(0, 8), 16) % 1000L - 500L) / 1000.0

  private def pqCodebook(m: Int): Seq[Seq[Double]] =
    (0 until PQ_CODES).map(k => (0 until PQ_SUB).map(d => pqWeight(m, k, d)))

  private def pqCbSql(m: Int): String =
    pqCodebook(m).map(_.map(w => s"CAST($w AS DOUBLE)").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  private def pqCbCol(m: Int) =
    array(pqCodebook(m).map(cw => array(cw.map(lit): _*)): _*)

  /** Subspace-m codebook as the `array<struct<cell, cv>>` shape the
    * codegen'd [[graft.functions.GraftExpressions.ArgMinCell]] kernel
    * consumes — cell = 0-based codeword index, ascending. A constant
    * literal (folded once at optimization), so the per-row work is one
    * primitive argmin loop instead of the interpreted
    * `transform(cb, cw => aggregate(zip_with(...)))` distance build
    * (~4 nodes × [[PQ_CODES]] × [[PQ_SUB]] interpreted per subspace per
    * row — the s14/s20 assign disease, §7.18). Selection is identical:
    * strict-min-keep-first over cells ascending IS
    * `list_position(d, list_aggregate(d, 'min'))` (first minimum), and
    * the per-codeword fold is the same fixed-order squared-L2.
    */
  private def pqCentsCol(m: Int) =
    array(pqCodebook(m).zipWithIndex.map { case (cw, k) =>
      struct(lit(k.toLong).as("cell"), array(cw.map(lit): _*).as("cv"))
    }: _*)

  /** Product quantization — the compression step behind every billion-
    * vector ANN index (IVF-PQ): the 64-dim vector is split into
    * [[PQ_M]] subvectors, each assigned to the nearest of [[PQ_CODES]]
    * codewords by squared L2 (argmin ties → lowest code, identical
    * first-min semantics in both engines), packing the vector into one
    * [[PQ_M]]×4-bit BIGINT code plus its reconstruction error. A real
    * build k-means-trains the codebooks; here they are md5-derived so
    * the oracle replicates them bit-for-bit.
    *
    * Scale shape: pure map stage — one scan, [[PQ_M]] codegen'd
    * [[graft.functions.GraftExpressions.ArgMinCell]] argmin kernels per
    * row (round 14: previously an interpreted
    * `transform(cb, cw => aggregate(zip_with(...)))` distance build —
    * ~4 nodes × 16 codes × 8 dims × 8 subspaces per row outside
    * whole-stage codegen), no shuffle at all (the trailing orderBy is
    * oracle determinism only). This is the shape that encodes 100 TB of
    * embeddings in one pass.
    */
  val s10PqEncode: Q = Q.sql(
    "s10_pq_encode",
    s"Product quantization: ${PQ_M}x${PQ_SUB}-dim subspaces, $PQ_CODES codes each, packed code + reconstruction error.",
    {
      def distsSql(m: Int): String =
        s"""list_transform(${pqCbSql(m)}, cw -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(range(1, ${PQ_SUB + 1}), i -> (v[${m * PQ_SUB} + i] - cw[i]) * (v[${m * PQ_SUB} + i] - cw[i]))), (x, y) -> x + y))""".stripMargin
      val dcols = (0 until PQ_M).map(m => s"${distsSql(m)} AS d$m").mkString(",\n")
      val code = (0 until PQ_M)
        .map(m => s"CAST(list_position(d$m, list_aggregate(d$m, 'min')) - 1 AS BIGINT) * ${math.pow(16, m).toLong}")
        .mkString(" + ")
      val err = (0 until PQ_M).map(m => s"list_aggregate(d$m, 'min')").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label, $dcols FROM e)
         |SELECT vec_id, label, CAST($code AS BIGINT) AS pq_code,
         |       ROUND($err, 6) AS recon_err
         |FROM q ORDER BY vec_id""".stripMargin
    }) { (spark, dir) =>
    // per-subspace (min dist, argmin code) on the codegen'd ArgMinCell
    // kernel: .cell IS list_position(d, min(d)) - 1 (first minimum) and
    // .dist IS list_aggregate(d, 'min') — same fixed-order L2 fold, so
    // the packed code and the reconstruction error are bit-identical to
    // the interpreted distance-array build this replaces
    def aCol(m: Int) = graft.functions.GraftExpressions.argminCell(
      slice(col("v"), m * PQ_SUB + 1, PQ_SUB), pqCentsCol(m))
    val withA = (0 until PQ_M).foldLeft(
      Dedup.normedVectors(spark, dir).select(col("vec_id"), col("label"), col("v"))) {
      (df, m) => df.withColumn(s"a$m", aCol(m))
    }
    val code = (0 until PQ_M)
      .map(m => col(s"a$m").getField("cell") * lit(math.pow(16, m).toLong))
      .reduce(_ + _)
    val err = (0 until PQ_M).map(m => col(s"a$m").getField("dist")).reduce(_ + _)
    withA
      .select(col("vec_id"), col("label"), code.cast("bigint").as("pq_code"),
        round(err, 6).as("recon_err"))
      .orderBy("vec_id")
  }

  /** ANN quality evaluation: recall@k of the hyperplane-LSH index (s2's
    * in-bucket candidates) against exact brute-force ground truth (s1's
    * ranking), for k = 1..[[BUCKET_K]], averaged over the probe set —
    * the evaluation harness every approximate index ships with, run as
    * a query so the index's quality contract is itself oracle-checked.
    * Recall is an exact integer ratio (hit counts over probes·k), so
    * both engines agree to the last bit before the final rounding.
    *
    * Scale shape: both rankings come from the same one-scan shapes as
    * s1/s2 (broadcast probes; bucket equi-join); the hit join matches
    * (probe, neighbor) pairs at equal or better rank, and the per-k
    * fan-out is a [[BUCKET_K]]-row broadcast — nothing scales worse
    * than the underlying searches.
    */
  val s11RecallCurve: Q = Q.sql(
    "s11_ann_recall",
    s"Recall@k (k=1..$BUCKET_K) of hyperplane-LSH ANN vs exact brute-force ground truth.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm,
       |         ${(0 until PLANES).map(p =>
            s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               |           list_transform(range(1, len(v) + 1), i -> v[i] * (${planeSqlArray(p)})[i])), (x, y) -> x + y) > 0
               |      THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")} AS bucket
       |  FROM e),
       |exact AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |             / (p.nrm * c.nrm) DESC, c.vec_id) AS rank
       |  FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
       |lsh AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |             / (p.nrm * c.nrm) DESC, c.vec_id) AS rank
       |  FROM n p JOIN n c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 10),
       |ks AS (SELECT UNNEST(range(1, $BUCKET_K + 1)) AS k),
       |hits AS (
       |  SELECT ks.k, COUNT(*) AS n_hits
       |  FROM exact ex
       |  JOIN lsh ON lsh.probe_id = ex.probe_id
       |          AND lsh.neighbor_id = ex.neighbor_id
       |  CROSS JOIN ks
       |  WHERE ex.rank <= ks.k AND lsh.rank <= ks.k
       |  GROUP BY ks.k),
       |np AS (SELECT COUNT(DISTINCT probe_id) AS n_probes FROM exact)
       |SELECT ks.k AS k, np.n_probes, COALESCE(h.n_hits, 0) AS n_hits,
       |       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / (np.n_probes * ks.k), 6) AS recall
       |FROM ks LEFT JOIN hits h ON ks.k = h.k CROSS JOIN np
       |ORDER BY ks.k""".stripMargin) { (spark, dir) =>
    val n0 = Dedup.normedVectors(spark, dir)
    val bucket = signBucketCol(col("v"), PLANES, planeCol)
    val n = n0.withColumn("bucket", bucket)
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("bucket").as("pbucket"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val exact = broadcast(probes.drop("pbucket"))
      .join(n.drop("bucket"), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .localCheckpoint() // consumed by the hit join AND the probe count
    val lsh = broadcast(probes)
      .join(n, col("pbucket") === col("bucket") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .select(col("probe_id").as("l_probe"), col("neighbor_id").as("l_neighbor"),
        col("rank").as("l_rank"))
    val ks = spark.range(1, BUCKET_K + 1).select(col("id").as("k"))
    val np = exact.agg(countDistinct(col("probe_id")).as("n_probes"))
    val hits = exact.join(lsh,
        col("probe_id") === col("l_probe") && col("neighbor_id") === col("l_neighbor"))
      .crossJoin(broadcast(ks))
      .filter(col("rank") <= col("k") && col("l_rank") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_hits"))
    ks.join(hits, Seq("k"), "left")
      .crossJoin(broadcast(np))
      .select(col("k"), col("n_probes"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("n_probes") * col("k")), 6).as("recall"))
      .orderBy("k")
  }

  private val ADC_SHORTLIST = 20

  /** IVF-PQ end-to-end search — the index layout behind every
    * billion-vector ANN deployment (Faiss IVFPQ): s3's Voronoi cells
    * give the COARSE level (probes scan one cell, nprobe=1), s10's
    * product-quantization codes give the IN-CELL level (candidates are
    * scored from their 8×4-bit codes via an asymmetric-distance table,
    * never their raw vectors), and only the [[ADC_SHORTLIST]] best ADC
    * candidates are reranked with exact cosine to emit top-[[IVF_K]].
    *
    * Scale shape: the corpus pass (cell assignment + PQ digits) is one
    * map stage against an 8-row broadcast centroid table; the search is
    * an equi-join on the cell id against a broadcast probe table whose
    * payload per probe is the 8×16 ADC distance table (1 KB) — at 100 TB
    * the raw vectors never move after indexing, which is the entire
    * point of PQ. ADC sums per-subspace doubles in fixed m-order, so
    * both engines compute bit-identical scores; ranks tie-break on
    * vec_id.
    */
  val s12IvfPq: Q = Q.sql(
    "s12_ivfpq",
    s"IVF-PQ search: $N_CELLS Voronoi cells, ${PQ_M}x4-bit PQ codes, ADC shortlist $ADC_SHORTLIST, exact rerank top-$IVF_K.",
    {
      def distsSql(m: Int): String =
        s"""list_transform(${pqCbSql(m)}, cw -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(range(1, ${PQ_SUB + 1}), i -> (v[${m * PQ_SUB} + i] - cw[i]) * (v[${m * PQ_SUB} + i] - cw[i]))), (x, y) -> x + y))""".stripMargin
      val dcols = (0 until PQ_M).map(m => s"${distsSql(m)} AS d$m").mkString(",\n")
      val digits = (0 until PQ_M)
        .map(m => s"list_position(d$m, list_aggregate(d$m, 'min')) AS g$m")
        .mkString(", ")
      val adc = (0 until PQ_M).map(m => s"p.d$m[c.g$m]").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
         |  FROM e),
         |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $N_CELLS),
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
         |q AS (SELECT vec_id, $dcols FROM e),
         |codes AS (SELECT vec_id, $digits FROM q),
         |shortlist AS (
         |  SELECT p.vec_id AS probe_id, pc.cell, c.vec_id AS neighbor_id,
         |         $adc AS adc,
         |         ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |           ORDER BY $adc ASC, c.vec_id) AS adc_rank
         |  FROM q p
         |  JOIN cells pc ON p.vec_id = pc.vec_id
         |  JOIN cells cc ON pc.cell = cc.cell AND cc.vec_id <> p.vec_id
         |  JOIN codes c ON c.vec_id = cc.vec_id
         |  WHERE p.vec_id < 10),
         |rerank AS (
         |  SELECT s.probe_id, s.cell, s.neighbor_id, s.adc,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
         |           / (p.nrm * c.nrm) AS cos
         |  FROM shortlist s
         |  JOIN n p ON p.vec_id = s.probe_id
         |  JOIN n c ON c.vec_id = s.neighbor_id
         |  WHERE s.adc_rank <= $ADC_SHORTLIST),
         |ranked AS (
         |  SELECT probe_id, cell, neighbor_id, adc, cos,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rerank)
         |SELECT probe_id, cell, rank, neighbor_id,
         |       ROUND(cos, 6) AS cosine, ROUND(adc, 6) AS adc_dist
         |FROM ranked WHERE rank <= $IVF_K ORDER BY probe_id, rank""".stripMargin
    }) { (spark, dir) =>
    val n = Dedup.normedVectors(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    // coarse level: Voronoi cell per vector (s3's assignment, verbatim)
    val cent = n.filter(col("vec_id") < N_CELLS)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assignW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val cells = n.crossJoin(broadcast(cent))
      .withColumn("ccos", Dedup.cosineCol(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rn", row_number().over(assignW))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    // in-cell level: per-subspace distance arrays (probes keep the full
    // ADC table; candidates keep only their argmin digit)
    def distsCol(m: Int) =
      transform(pqCbCol(m), cw =>
        aggregate(zip_with(slice(col("v"), m * PQ_SUB + 1, PQ_SUB), cw,
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
    // candidates only ever need their argmin DIGIT, not the 16-distance
    // array: the codegen'd ArgMinCell kernel assigns codes for the full
    // corpus (cell + 1 IS list_position(d, min(d)) — first minimum, same
    // fixed-order L2 fold), and the interpreted per-codeword distance
    // build now runs only for the 10 probe rows whose ADC lookup tables
    // genuinely need all 16 distances per subspace
    val codes = n.select(col("vec_id") +:
      (0 until PQ_M).map(m =>
        (graft.functions.GraftExpressions.argminCell(
          slice(col("v"), m * PQ_SUB + 1, PQ_SUB), pqCentsCol(m))
          .getField("cell") + 1).as(s"g$m")): _*)
    val probes = n.filter(col("vec_id") < 10).join(cells, "vec_id")
      .select(col("vec_id").as("probe_id") +: col("cell") +:
        (0 until PQ_M).map(m => distsCol(m).as(s"pd$m")): _*)
    val adc = (0 until PQ_M)
      .map(m => element_at(col(s"pd$m"), col(s"g$m").cast("int")))
      .reduce(_ + _)
    val adcW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("adc").asc, col("neighbor_id"))
    val shortlist = broadcast(probes)
      .join(cells.withColumnRenamed("cell", "cell2")
          .withColumnRenamed("vec_id", "neighbor_id"),
        col("cell") === col("cell2") && col("neighbor_id") =!= col("probe_id"))
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .withColumn("adc", adc)
      .withColumn("adc_rank", row_number().over(adcW))
      .filter(col("adc_rank") <= ADC_SHORTLIST)
      .select(col("probe_id"), col("cell"), col("neighbor_id"), col("adc"))
    // exact rerank of the ADC shortlist only
    val cos = Dedup.cosineCol(col("pv"), col("cv2"), col("pnrm"), col("cnrm2"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(n.select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("nrm").as("pnrm"))), "probe_id")
      .join(n.select(col("vec_id").as("neighbor_id"),
        col("v").as("cv2"), col("nrm").as("cnrm2")), "neighbor_id")
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= IVF_K)
      .select(col("probe_id"), col("cell"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), round(col("adc"), 6).as("adc_dist"))
      .orderBy("probe_id", "rank")
  }

  private val RRF_K0 = 60      // the standard RRF dampening constant
  private val RRF_LIST = 20    // per-modality candidate list length
  private val RRF_OUT = 10     // fused neighbors emitted per probe

  /** Hybrid retrieval with Reciprocal Rank Fusion — the two-tower RAG
    * retrieval shape: a LEXICAL ranked list (rarity-weighted term overlap
    * through an inverted index, the BM25 family with the idf log replaced
    * by exact integer weights `n_docs div df` so no libm seam enters the
    * ranking) and a VECTOR ranked list (exact cosine, broadcast probes —
    * [[s1AnnBruteForce]]'s shape), fused per candidate by
    * `Σ 1/(60+rank)` over the lists that retrieved it.
    *
    * The probe ids address both towers (`vec_id` and `doc_id` share the
    * id space — the convention [[s9RetrievalE2e]] established), so a
    * candidate can surface from either modality alone; the full-outer
    * fuse keeps it with one COALESCEd contribution per missing list.
    *
    * Determinism: ranks are integers with (score DESC, id ASC) total
    * orders; the fused score is a sum of exactly two IEEE doubles of the
    * form 1/(60+r) computed in a fixed order — bit-identical across
    * engines (no multi-way float reduction anywhere).
    *
    * Scale shape: the lexical tower is an equi-join of the (tiny) probe
    * term list against the corpus inverted index with a 5%-df rarity cut
    * (stopword terms contribute ~zero discrimination at w ≤ 20 anyway and
    * their posting lists are exactly the ones that explode at 100 TB),
    * then a (probe, cand) hash aggregate; the vector tower is one corpus
    * scan against broadcast probes. Both lists are top-[[RRF_LIST]]
    * window-pruned before the fuse, so the fuse joins 10×20-row frames —
    * kilobytes regardless of corpus size.
    */
  val s13HybridRrf: Q = Q.sql(
    "s13_hybrid_rrf",
    s"Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion (top-$RRF_OUT of two top-$RRF_LIST lists).",
    s"""WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |ptok AS (
       |  SELECT DISTINCT doc_id AS probe_id, t.term
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
       |  WHERE doc_id < 10 AND t.term <> ''),
       |ctok AS (
       |  SELECT DISTINCT doc_id, t.term
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
       |  WHERE t.term <> ''),
       |df AS (SELECT term, COUNT(*) AS df FROM ctok GROUP BY 1),
       |rare AS (
       |  SELECT p.probe_id, p.term, nd.n_docs // d.df AS w
       |  FROM ptok p JOIN df d ON p.term = d.term CROSS JOIN nd
       |  WHERE d.df * 20 <= nd.n_docs),
       |lex AS (
       |  SELECT r.probe_id, c.doc_id AS cand_id, SUM(r.w) AS score
       |  FROM rare r JOIN ctok c ON r.term = c.term AND c.doc_id <> r.probe_id
       |  GROUP BY 1, 2),
       |lexr AS (
       |  SELECT probe_id, cand_id,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id
       |           ORDER BY score DESC, cand_id) AS lex_rank
       |  FROM lex QUALIFY lex_rank <= $RRF_LIST),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |vecr AS (
       |  SELECT probe_id, cand_id,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id
       |           ORDER BY cos DESC, cand_id) AS vec_rank
       |  FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |             / (p.nrm * c.nrm) AS cos
       |    FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
       |  QUALIFY vec_rank <= $RRF_LIST),
       |fused AS (
       |  SELECT COALESCE(v.probe_id, l.probe_id) AS probe_id,
       |         COALESCE(v.cand_id, l.cand_id) AS cand_id,
       |         v.vec_rank, l.lex_rank,
       |         COALESCE(1.0 / ($RRF_K0 + v.vec_rank), 0)
       |           + COALESCE(1.0 / ($RRF_K0 + l.lex_rank), 0) AS rrf
       |  FROM vecr v FULL OUTER JOIN lexr l
       |    ON v.probe_id = l.probe_id AND v.cand_id = l.cand_id)
       |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id,
       |       CAST(vec_rank AS BIGINT) AS vec_rank,
       |       CAST(lex_rank AS BIGINT) AS lex_rank,
       |       ROUND(rrf, 6) AS rrf_score
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |           ORDER BY rrf DESC, cand_id) AS rnk
       |  FROM fused)
       |WHERE rnk <= $RRF_OUT ORDER BY probe_id, rnk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val words = split(col("text"), " ")
    val ctok = docs.select(col("doc_id"), explode(words).as("term"))
      .filter(col("term") =!= "").distinct()
    val ptok = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"), explode(words).as("term"))
      .filter(col("term") =!= "").distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // rare: probe terms surviving the 5%-df cut, with integer weights.
    // Probe side is tiny → broadcast; df flows from the inverted index.
    val dfT = ctok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val rare = broadcast(ptok.crossJoin(broadcast(nDocs)))
      .join(dfT, "term")
      .filter(col("df") * 20 <= col("n_docs"))
      .select(col("probe_id"), col("term"), expr("n_docs div df").as("w"))
    val lexW = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id"))
    val lexr = broadcast(rare)
      .join(ctok.withColumnRenamed("doc_id", "cand_id"), "term")
      .filter(col("cand_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("cand_id")).agg(sum(col("w")).as("score"))
      .withColumn("lex_rank", row_number().over(lexW))
      .filter(col("lex_rank") <= RRF_LIST)
      .select(col("probe_id"), col("cand_id"), col("lex_rank"))
    val n = Dedup.normedVectors(spark, dir)
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm"))
    val vecW = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val vecr = broadcast(probes).join(n, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"), cos.as("cos"))
      .withColumn("vec_rank", row_number().over(vecW))
      .filter(col("vec_rank") <= RRF_LIST)
      .select(col("probe_id"), col("cand_id"), col("vec_rank"))
    val fused = vecr.withColumnRenamed("probe_id", "vp")
      .withColumnRenamed("cand_id", "vc")
      .join(lexr.withColumnRenamed("probe_id", "lp")
          .withColumnRenamed("cand_id", "lc"),
        col("vp") === col("lp") && col("vc") === col("lc"), "full_outer")
      .select(coalesce(col("vp"), col("lp")).as("probe_id"),
        coalesce(col("vc"), col("lc")).as("cand_id"),
        col("vec_rank"), col("lex_rank"),
        (coalesce(lit(1.0) / (lit(RRF_K0) + col("vec_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RRF_K0) + col("lex_rank")), lit(0.0))).as("rrf"))
    val outW = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("cand_id"))
    fused.withColumn("rnk", row_number().over(outW).cast("bigint"))
      .filter(col("rnk") <= RRF_OUT)
      .select(col("probe_id"), col("rnk"), col("cand_id"),
        col("vec_rank").cast("bigint").as("vec_rank"),
        col("lex_rank").cast("bigint").as("lex_rank"),
        round(col("rrf"), 6).as("rrf_score"))
      .orderBy("probe_id", "rnk")
  }

  private val BQ_K = 5       // neighbors per probe in the hamming search

  /** BINARY quantization + Hamming search — the signature layout modern
    * vector stores scan first (binary quantization / sign sketches):
    * each 64-dim float vector compresses to its 64 SIGN BITS, packed
    * into two BIGINT words (16 bytes, 32× smaller than the quantized
    * arrays of s6/s10 and 64× smaller than float32), and the probe scan
    * ranks candidates by Hamming distance = two XORs + two popcounts per
    * candidate — pure integer arithmetic, no multiply at all. The exact
    * cosine of each returned pair rides along as the agreement witness
    * (the s8 pattern): sign-bit Hamming approximates angle, and the
    * witness column shows how well, pair by pair.
    *
    * Differs from d4 (SimHash over text shingle sets) and s2 (LSH
    * bucketing): here the EMBEDDING's own signs are the code — no
    * projection planes — and the search is a full exact ranking under
    * the Hamming metric, the first-stage scan a binary-quantized index
    * runs before float rerank.
    *
    * Scale shape: signature build is one map-side aggregate per vector
    * (the posexplode + shift-sum mirrors the oracle bit-for-bit); the
    * search is broadcast-probes × corpus — 16 bytes per corpus row
    * streamed through codegen'd integer ops; the cosine witness joins
    * only the ≤ probes·k result rows back to the vectors.
    */
  val s15BinaryQuant: Q = Q.sql(
    "s15_binary_quant",
    s"Sign-bit binary quantization (64 bits -> 2 words): Hamming top-$BQ_K per probe + exact-cosine witness.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (
       |  SELECT vec_id, u.p AS pos, u.x AS x
       |  FROM (SELECT vec_id, UNNEST(list_transform(range(0, len(v)),
       |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
       |        FROM e)),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN x > 0 AND pos < 32
       |                  THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN x > 0 AND pos >= 32
       |                  THEN CAST(1 AS BIGINT) << (pos - 32) ELSE 0 END) AS BIGINT) AS hi
       |  FROM x GROUP BY 1),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, hamming,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id
       |           ORDER BY hamming, neighbor_id) AS rank
       |  FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |           CAST(bit_count(xor(p.lo, c.lo))
       |              + bit_count(xor(p.hi, c.hi)) AS BIGINT) AS hamming
       |    FROM sig p JOIN sig c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e)
       |SELECT r.probe_id, CAST(r.rank AS BIGINT) AS rank, r.neighbor_id, r.hamming,
       |       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(p.v) + 1), i -> p.v[i] * c.v[i])), (x, y) -> x + y)
       |         / (p.nrm * c.nrm), 6) AS cosine
       |FROM ranked r
       |JOIN n p ON r.probe_id = p.vec_id
       |JOIN n c ON r.neighbor_id = c.vec_id
       |WHERE r.rank <= $BQ_K
       |ORDER BY r.probe_id, r.rank""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sig = e
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("x") > 0 && col("pos") < 32,
          expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(0L))
          .cast("bigint").as("lo"),
        sum(when(col("x") > 0 && col("pos") >= 32,
          expr("shiftleft(CAST(1 AS BIGINT), pos - 32)")).otherwise(0L))
          .cast("bigint").as("hi"))
    val probes = sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("lo").as("plo"), col("hi").as("phi"))
    val hamming = (bit_count(col("plo").bitwiseXOR(col("lo")))
      + bit_count(col("phi").bitwiseXOR(col("hi")))).cast("bigint")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val ranked = broadcast(probes)
      .join(sig, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        hamming.as("hamming"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= BQ_K)
    val n = Dedup.normedVectors(spark, dir)
    val cos = Dedup.cosineCol(col("pv"), col("nv"), col("pnrm"), col("nnrm"))
    ranked
      .join(n.select(col("vec_id").as("pid"), col("v").as("pv"), col("nrm").as("pnrm")),
        col("probe_id") === col("pid"))
      .join(n.select(col("vec_id").as("nid"), col("v").as("nv"), col("nrm").as("nnrm")),
        col("neighbor_id") === col("nid"))
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("hamming"),
        round(cos, 6).as("cosine"))
      .orderBy("probe_id", "rank")
  }

  private val KM_K = 8       // cells (matches s3/s12's coarse level)
  private val KM_ROUNDS = 3  // Lloyd iterations (driver-unrolled)

  /** One Lloyd assignment round in DuckDB SQL: every vector to its
    * min-squared-L2 centroid from the array'd centroid CTE `arr`,
    * ties to the lower cell id. The distance is a left fold in index
    * order — bit-identical to Spark's `aggregate(zip_with(...))`.
    */
  private def kmAssignSql(arr: String): String =
    s"""  SELECT vec_id, v, cell, dist FROM (
       |    SELECT vec_id, v, cell, dist,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM (SELECT e.vec_id, e.v, a.cell,
       |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              list_transform(range(1, len(e.v) + 1),
       |                i -> (e.v[i] - a.cv[i]) * (e.v[i] - a.cv[i]))), (x, y) -> x + y) AS dist
       |          FROM e CROSS JOIN $arr a))
       |  WHERE rn = 1""".stripMargin

  /** One Lloyd round r in DuckDB SQL: array the previous centroids,
    * assign, and re-estimate each (cell, pos) mean with the s4
    * quantized-exact sum (empty cells keep their previous centroid).
    */
  private def kmRoundSql(r: Int): String =
    s"""a$r AS (SELECT cell, list(c ORDER BY pos) AS cv FROM c${r - 1} GROUP BY cell),
       |g$r AS (
       |${kmAssignSql(s"a$r")}),
       |s$r AS (
       |  SELECT cell, u.p AS pos,
       |         SUM(CAST(FLOOR(u.x * 10000000.0) AS BIGINT)) AS sq, COUNT(*) AS cnt
       |  FROM (SELECT cell, UNNEST(list_transform(range(0, len(v)),
       |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
       |        FROM g$r)
       |  GROUP BY 1, 2),
       |c$r AS (
       |  SELECT p.cell, p.pos,
       |         COALESCE(CAST(s.sq AS DOUBLE) / 10000000.0 / s.cnt, p.c) AS c
       |  FROM c${r - 1} p LEFT JOIN s$r s ON p.cell = s.cell AND p.pos = s.pos)""".stripMargin

  private val kmCache = Pin.Shared.memo[String, DataFrame]

  /** Per-cell centroid ARRAYS from the flat (cell, pos, c) frame —
    * sort_array on (pos, c) structs reassembles index order
    * deterministically after any shuffle.
    */
  private def kmCentArr(c: DataFrame): DataFrame =
    c.groupBy(col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** One Lloyd ASSIGNMENT of the given (vec_id, v) frame against the
    * given flat centroid frame: every vector to its min-squared-L2 cell,
    * fixed-order index-fold distance, ties to the lower cell id — the
    * deterministic assignment the trainer (s14), the trained index (s16)
    * and the incremental apply (s21, batch side) all run. Returns
    * (vec_id, v, cell, dist).
    */
  private def kmAssignOf(e: DataFrame, c: DataFrame): DataFrame = {
    // One-row sorted codebook, broadcast; per-row argmin fold. The old
    // shape (crossJoin all KC centroid rows + row_number window) expanded
    // n -> n*KC rows THROUGH AN EXCHANGE per Lloyd round; the fold keeps
    // the frame at n rows and needs no shuffle at all.
    graft.functions.GraftExpressions.register(e.sparkSession)
    val cb = kmCentArr(c)
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
    e.crossJoin(broadcast(cb))
      .withColumn("a", assignStructExpr(col("v"), col("cents")))
      .select(col("vec_id"), col("v"),
        col("a.cell").as("cell"), col("a.dist").as("dist"))
  }

  /** [[kmAssignOf]] over the full embeddings table. */
  private def kmAssign(spark: SparkSession, dir: String, c: DataFrame): DataFrame =
    kmAssignOf(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")), c)

  /** Trained coarse-quantizer centroids — the [[KM_ROUNDS]]-round Lloyd
    * loop, factored out of s14 and session-cached so TRAINING RUNS ONCE
    * per (session, dataset) and both consumers (s14's training report,
    * s16's trained index+search) read the same checkpointed frame. At
    * 100 TB the trained codebook is a build ARTIFACT consumed by every
    * downstream indexing job, not a per-query recomputation. Returns the
    * flat (cell, pos, c) layout.
    */
  private[ops] def trainedCentroids(spark: SparkSession, dir: String): DataFrame =
    kmCache(spark, dir) {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val init = e.filter(col("vec_id") < KM_K)
        .select(col("vec_id").as("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos").cast("bigint").as("pos"), col("x").as("c"))
      Rounds(spark, init, KM_ROUNDS, aqe = true) { (cent, _) =>
        val sums = kmAssign(spark, dir, cent)
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("cell"), col("pos").cast("bigint").as("pos"), col("x"))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(floor(col("x") * lit(1.0e7))).as("sq"), count(lit(1)).as("cnt"))
        cent.join(sums, Seq("cell", "pos"), "left")
          .select(col("cell"), col("pos"),
            coalesce(col("sq").cast("double") / lit(1.0e7) / col("cnt"), col("c")).as("c"))
      }
    }

  /** Lloyd's k-means TRAINING — the index-build step every coarse
    * quantizer in this family assumes: s3/s8/s12 partition around
    * "deterministic centroids (a real build would k-means these)" and
    * d9's SemDeDup prunes per cell. This operator IS that build:
    * [[KM_ROUNDS]] driver-unrolled rounds of assign → re-estimate over
    * the full corpus, init = the first [[KM_K]] vectors (s3's exact
    * seed set, so the trained cells refine the cells the searchers use).
    * The loop itself lives in [[trainedCentroids]] (session-cached);
    * [[s16TrainedIvf]] consumes the same artifact — the train→index→
    * search composition.
    *
    * Determinism (the reason textbook k-means is NOT reproducible
    * across engines): (a) init is fixed, not sampled; (b) the squared-L2
    * distance is a fixed-order index fold, bit-identical in both
    * engines; (c) assignment ties break on cell id; (d) the centroid
    * update — the one place a float SUM over a shuffle would inject
    * reduction-order noise — uses [[s4LabelCentroids]]'s quantized-exact
    * trick: `floor(x·1e7)` longs summed in exact integer arithmetic,
    * divided back in one fixed-order double expression. Empty cells
    * deterministically keep their previous centroid.
    *
    * Scale shape: per round, ONE corpus map stage against an 8-row
    * broadcast centroid table (no shuffle) + one (cell, pos) hash
    * aggregate with map-side partials (K·DIMS = 512 groups — constant,
    * data-independent). The rounds run through [[Rounds]] with AQE on:
    * the centroid frame is checkpointed per round so round r+1's lineage
    * doesn't replay round r's corpus pass. At 100 TB this is Lloyd's
    * exactly as a cluster runs it: linear passes, centroids always
    * broadcast, never collected.
    * Output: flat (cell, pos, centroid) + per-cell member count and
    * quantized inertia — the layout s3's assignment step consumes.
    */
  val s14KmeansTrain: Q = Q.sql(
    "s14_kmeans_train",
    s"Lloyd k-means centroid training ($KM_K cells, $KM_ROUNDS rounds, quantized-exact updates): flat centroids + cell sizes + inertia.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cell, u.p AS pos, u.x AS c
       |  FROM (SELECT vec_id, UNNEST(list_transform(range(0, len(v)),
       |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
       |        FROM e WHERE vec_id < $KM_K)),
       |${(1 to KM_ROUNDS).map(kmRoundSql).mkString(",\n")},
       |af AS (SELECT cell, list(c ORDER BY pos) AS cv FROM c$KM_ROUNDS GROUP BY cell),
       |gf AS (
       |${kmAssignSql("af")}),
       |st AS (
       |  SELECT cell, COUNT(*) AS n_members,
       |         SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS inertia_q
       |  FROM gf GROUP BY 1)
       |SELECT c.cell, c.pos, c.c AS centroid,
       |       COALESCE(st.n_members, 0) AS n_members,
       |       CAST(COALESCE(st.inertia_q, 0) AS BIGINT) AS inertia_q
       |FROM c$KM_ROUNDS c LEFT JOIN st ON c.cell = st.cell
       |ORDER BY c.cell, c.pos""".stripMargin) { (spark, dir) =>
    val cent = trainedCentroids(spark, dir)
    val stats = kmAssign(spark, dir, cent)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("dist") * lit(1.0e6))).as("inertia_q"))
    cent.join(broadcast(stats), Seq("cell"), "left")
      .select(col("cell"), col("pos"), col("c").as("centroid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"))
      .orderBy("cell", "pos")
  }

  /** IVF search over the TRAINED quantizer — the composition that closes
    * the train→index→search loop: [[trainedCentroids]] (s14's Lloyd
    * artifact, session-cached) is the coarse codebook, the INDEX pass
    * assigns every corpus vector to its trained cell (one linear map
    * stage against the broadcast K×64 codebook — [[kmAssign]], the same
    * deterministic min-L2/tie-low rule training used), and the SEARCH
    * joins probes to candidates on the cell id with an exact-cosine
    * in-cell rank. s3/s12 seed their cells from raw vectors; this
    * operator proves the engine runs the pipeline a real 100 TB vector
    * store builds — train on the corpus, broadcast the trained codebook,
    * one indexing pass, then every query is a cell-equi-join instead of
    * a corpus scan. Cell sizes ride along as the balance witness (Lloyd
    * rounds visibly rebalance them vs s3's seed cells).
    *
    * Scale shape: training is [[KM_ROUNDS]] linear passes (constant
    * 512-group aggregate each); indexing is one linear pass; the search
    * probe side is broadcast and the in-cell candidate set is corpus/K
    * on average — no stage is quadratic and nothing but the codebook is
    * ever collected or broadcast.
    */
  val s16TrainedIvf: Q = Q.sql(
    "s16_trained_ivf",
    s"Train→index→search composition: IVF over s14's trained centroids ($KM_K cells), exact-cosine in-cell top-$IVF_K with cell-size witness.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cell, u.p AS pos, u.x AS c
       |  FROM (SELECT vec_id, UNNEST(list_transform(range(0, len(v)),
       |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
       |        FROM e WHERE vec_id < $KM_K)),
       |${(1 to KM_ROUNDS).map(kmRoundSql).mkString(",\n")},
       |af AS (SELECT cell, list(c ORDER BY pos) AS cv FROM c$KM_ROUNDS GROUP BY cell),
       |cells AS MATERIALIZED (
       |${kmAssignSql("af")}),
       |sz AS (SELECT cell, COUNT(*) AS cell_size FROM cells GROUP BY cell),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |cand AS (
       |  SELECT p.vec_id AS probe_id, p.cell, c.vec_id AS neighbor_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(pn.v) + 1), i -> pn.v[i] * cn.v[i])), (x, y) -> x + y)
       |           / (pn.nrm * cn.nrm) AS cos
       |  FROM cells p
       |  JOIN cells c ON p.cell = c.cell AND c.vec_id <> p.vec_id
       |  JOIN n pn ON pn.vec_id = p.vec_id
       |  JOIN n cn ON cn.vec_id = c.vec_id
       |  WHERE p.vec_id < 10),
       |ranked AS (
       |  SELECT probe_id, cell, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM cand)
       |SELECT r.probe_id, r.cell, sz.cell_size, r.rank, r.neighbor_id,
       |       ROUND(r.cos, 6) AS cosine
       |FROM ranked r JOIN sz ON r.cell = sz.cell
       |WHERE r.rank <= $IVF_K
       |ORDER BY probe_id, rank""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    // INDEX: one linear corpus pass against the trained broadcast codebook;
    // pinned because probes, candidates, and sizes all read it
    val cells = kmAssign(spark, dir, trainedCentroids(spark, dir))
      .select(col("vec_id"), col("cell"))
      .localCheckpoint()
    val sz = cells.groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
    val n = Dedup.normedVectors(spark, dir)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probes = cells.filter(col("vec_id") < 10)
      .join(n, "vec_id")
      .select(col("vec_id").as("probe_id"), col("cell"),
        col("v").as("pv"), col("nrm").as("pnrm"))
    val cos = Dedup.cosineCol(col("pv"), col("nv"), col("pnrm"), col("nnrm"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes)
      .join(cells.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .join(n.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nnrm")), "neighbor_id")
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= IVF_K)
      .join(broadcast(sz), Seq("cell"))
      .select(col("probe_id"), col("cell"), col("cell_size"), col("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("probe_id", "rank")
  }

  private val MMR_POOL = 20   // per-probe exact-cosine candidate pool
  private val MMR_OUT = 5     // diversified picks emitted per probe
  private val MMR_LAMBDA = 0.7

  /** Maximal Marginal Relevance rerank — the diversity-aware retrieval
    * step a RAG/training-data sampler runs AFTER similarity search so
    * the k results aren't k near-copies of each other:
    * greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s), i.e.
    * relevance to the probe discounted by similarity to what is already
    * selected. [[MMR_OUT]] driver-unrolled greedy rounds over a
    * per-probe pool of the [[MMR_POOL]] exact-cosine nearest (s1's
    * shape), both mirrored CTE-for-round in the oracle.
    *
    * Determinism: every cosine is the fixed-order index fold; the score
    * is exactly two IEEE multiplies and one subtract in fixed order; the
    * in-round max-over-selected is a true max (order-independent); every
    * argmax tie-breaks on candidate id. No float accumulates across
    * rounds — each round's scores recompute from exact inputs.
    *
    * Scale shape: the one corpus-sized stage is the pool build
    * (broadcast probes against a single scan + per-probe top-k window);
    * every greedy round joins the ≤probes×[[MMR_POOL]] pool against the
    * ≤probes×round selected set — kilobytes regardless of corpus size,
    * which is why MMR is always run AFTER candidate generation, never
    * on the corpus. The rounds run through [[Rounds]] with AQE on, as
    * the session has it.
    */
  val s17MmrDiversify: Q = Q.sql(
    "s17_mmr_diversify",
    s"MMR diversity rerank (λ=$MMR_LAMBDA): greedy top-$MMR_OUT from a $MMR_POOL-candidate exact-cosine pool per probe.",
    {
      def cosSql(av: String, an: String, bv: String, bn: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(range(1, len($av) + 1), i -> $av[i] * $bv[i])), (x, y) -> x + y)
           |      / ($an * $bn)""".stripMargin
      val rounds = (2 to MMR_OUT).map { k =>
        s"""pen$k AS (
           |  SELECT c.probe_id, c.cand_id, c.rel,
           |         MAX(${cosSql("c.cv", "c.cnrm", "sv.cv", "sv.cnrm")}) AS mpen
           |  FROM cand c
           |  JOIN sel${k - 1} s ON s.probe_id = c.probe_id
           |  JOIN cand sv ON sv.probe_id = s.probe_id AND sv.cand_id = s.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
           |                    WHERE x.probe_id = c.probe_id AND x.cand_id = c.cand_id)
           |  GROUP BY 1, 2, 3),
           |pick$k AS (
           |  SELECT probe_id, cand_id, $k AS pick, rel, score FROM (
           |    SELECT probe_id, cand_id, rel,
           |           $MMR_LAMBDA * rel - ${1 - MMR_LAMBDA} * mpen AS score,
           |           ROW_NUMBER() OVER (PARTITION BY probe_id
           |             ORDER BY $MMR_LAMBDA * rel - ${1 - MMR_LAMBDA} * mpen DESC, cand_id) AS rn
           |    FROM pen$k)
           |  WHERE rn = 1),
           |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS MATERIALIZED (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
         |  FROM e),
         |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n WHERE vec_id < 10),
         |cand AS MATERIALIZED (
         |  SELECT probe_id, cand_id, rel, cv, cnrm FROM (
         |    SELECT p.probe_id, c.vec_id AS cand_id,
         |           ${cosSql("p.pv", "p.pnrm", "c.v", "c.nrm")} AS rel,
         |           c.v AS cv, c.nrm AS cnrm,
         |           ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
         |             ${cosSql("p.pv", "p.pnrm", "c.v", "c.nrm")} DESC, c.vec_id) AS rn
         |    FROM p JOIN n c ON c.vec_id <> p.probe_id)
         |  WHERE rn <= $MMR_POOL),
         |sel1 AS (
         |  SELECT probe_id, cand_id, 1 AS pick, rel, $MMR_LAMBDA * rel AS score FROM (
         |    SELECT probe_id, cand_id, rel,
         |           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS rn
         |    FROM cand)
         |  WHERE rn = 1),
         |$rounds
         |SELECT probe_id, CAST(pick AS BIGINT) AS pick, cand_id AS neighbor_id,
         |       ROUND(rel, 6) AS relevance, ROUND(score, 6) AS mmr_score
         |FROM sel$MMR_OUT
         |ORDER BY probe_id, pick""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val n = Dedup.normedVectors(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val relCos = Dedup.cosineCol(col("pv"), col("cv"), col("pnrm"), col("cnrm"))
    val poolW = Window.partitionBy(col("probe_id")).orderBy(col("rel").desc, col("cand_id"))
    // the ONLY corpus-sized stage; pinned — every greedy round reads it
    val cand = broadcast(probes)
      .join(n.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cnrm")),
        col("cand_id") =!= col("probe_id"))
      .withColumn("rel", relCos)
      .withColumn("rn", row_number().over(poolW))
      .filter(col("rn") <= MMR_POOL)
      .select(col("probe_id"), col("cand_id"), col("rel"), col("cv"), col("cnrm"))
      .localCheckpoint()
    val pickW = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("cand_id"))
    val first = cand
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("cand_id"), lit(1L).as("pick"), col("rel"),
        (lit(MMR_LAMBDA) * col("rel")).as("score"))
    val pairCos = Dedup.cosineCol(col("cv"), col("sv"), col("cnrm"), col("snrm"))
    // round r picks the (r+1)-th neighbor
    Rounds(spark, first, MMR_OUT - 1, aqe = true) { (sel, r) =>
      val selV = sel.join(cand.select(col("probe_id").as("sp"),
          col("cand_id").as("sc"), col("cv").as("sv"), col("cnrm").as("snrm")),
        col("probe_id") === col("sp") && col("cand_id") === col("sc"))
        .select(col("probe_id").as("jp"), col("cand_id").as("jc"),
          col("sv"), col("snrm"))
      val pen = cand
        .join(broadcast(sel.select(col("probe_id").as("xp"), col("cand_id").as("xc"))),
          col("probe_id") === col("xp") && col("cand_id") === col("xc"), "left_anti")
        .join(broadcast(selV), col("probe_id") === col("jp"))
        .withColumn("pc", pairCos)
        .groupBy(col("probe_id"), col("cand_id"), col("rel"))
        .agg(max(col("pc")).as("mpen"))
      val pick = pen
        .withColumn("score",
          lit(MMR_LAMBDA) * col("rel") - lit(1 - MMR_LAMBDA) * col("mpen"))
        .withColumn("rn", row_number().over(pickW))
        .filter(col("rn") === 1)
        .select(col("probe_id"), col("cand_id"), lit(r + 1L).as("pick"),
          col("rel"), col("score"))
      sel.union(pick)
    }
      .select(col("probe_id"), col("pick"), col("cand_id").as("neighbor_id"),
        round(col("rel"), 6).as("relevance"), round(col("score"), 6).as("mmr_score"))
      .orderBy("probe_id", "pick")
  }

  private val S18_NPROBE = 2

  /** Multi-probe IVF search — the recall knob every production IVF
    * deployment turns: search the [[S18_NPROBE]] nearest TRAINED cells per
    * probe instead of one, at [[S18_NPROBE]]× candidate cost and constant
    * index. Each result row carries `in_exact` (membership in the
    * brute-force exact top-[[IVF_K]], computed in the same query as the
    * recall witness) — the per-row form of s11's recall curve, now over
    * the trained quantizer, so the A/B against s16 (nprobe=1, same
    * codebook) directly shows what the second probe recovers. At 100 TB
    * nprobe is THE latency/recall dial: candidates scale as
    * nprobe·corpus/K while the index and codebook are unchanged.
    *
    * Scale shape: probe→cell assignment is a ≤K-row broadcast
    * cross-product per probe (top-[[S18_NPROBE]] window); candidates meet on
    * a cell equi-join against the one-pass trained index; the exact
    * witness is the s1 broadcast-probe corpus scan — fine for 10 probes,
    * and exactly the evaluation job a real pipeline runs on a sampled
    * probe set to calibrate nprobe. Corpus vectors live in exactly one
    * cell (rn=1 index), so multi-probe candidates need no dedup.
    */
  val s18MultiProbe: Q = Q.sql(
    "s18_multiprobe_ivf",
    s"Multi-probe IVF (nprobe=$S18_NPROBE) over s14's trained cells: top-$IVF_K with per-row exact-recall witness.",
    {
      def cosSql(av: String, an: String, bv: String, bn: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |           list_transform(range(1, len($av) + 1), i -> $av[i] * $bv[i])), (x, y) -> x + y)
           |           / ($an * $bn)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cell, u.p AS pos, u.x AS c
         |  FROM (SELECT vec_id, UNNEST(list_transform(range(0, len(v)),
         |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
         |        FROM e WHERE vec_id < $KM_K)),
         |${(1 to KM_ROUNDS).map(kmRoundSql).mkString(",\n")},
         |af AS (SELECT cell, list(c ORDER BY pos) AS cv FROM c$KM_ROUNDS GROUP BY cell),
         |cells AS MATERIALIZED (
         |${kmAssignSql("af")}),
         |n AS MATERIALIZED (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
         |  FROM e),
         |pc AS (
         |  SELECT probe_id, cell, rn AS probe_rank FROM (
         |    SELECT e.vec_id AS probe_id, a.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |               list_transform(range(1, len(e.v) + 1),
         |                 i -> (e.v[i] - a.cv[i]) * (e.v[i] - a.cv[i]))), (x, y) -> x + y),
         |             a.cell) AS rn
         |    FROM e CROSS JOIN af a WHERE e.vec_id < 10)
         |  WHERE rn <= $S18_NPROBE),
         |cand AS (
         |  SELECT pc.probe_id, pc.cell, pc.probe_rank, c.vec_id AS neighbor_id,
         |         ${cosSql("pn.v", "pn.nrm", "cn.v", "cn.nrm")} AS cos
         |  FROM pc
         |  JOIN cells c ON c.cell = pc.cell AND c.vec_id <> pc.probe_id
         |  JOIN n pn ON pn.vec_id = pc.probe_id
         |  JOIN n cn ON cn.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT probe_id, cell, probe_rank, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM cand),
         |exact AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
         |             ${cosSql("p.v", "p.nrm", "c.v", "c.nrm")} DESC, c.vec_id) AS rank
         |    FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |  WHERE rank <= $IVF_K)
         |SELECT r.probe_id, r.rank, r.probe_rank, r.cell, r.neighbor_id,
         |       ROUND(r.cos, 6) AS cosine,
         |       CAST(CASE WHEN ex.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
         |FROM ranked r
         |LEFT JOIN exact ex ON ex.probe_id = r.probe_id AND ex.neighbor_id = r.neighbor_id
         |WHERE r.rank <= $IVF_K
         |ORDER BY r.probe_id, r.rank""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cent = trainedCentroids(spark, dir)
    val cells = kmAssign(spark, dir, cent)
      .select(col("vec_id"), col("cell"))
      .localCheckpoint()
    val n = Dedup.normedVectors(spark, dir)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probes = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    // probe → its S18_NPROBE nearest trained cells (broadcast K-row codebook)
    val cellDist = aggregate(
      zip_with(col("pv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, z) => acc + z)
    val wp = Window.partitionBy(col("probe_id")).orderBy(col("cdist"), col("cell"))
    val probeCells = probes
      .crossJoin(broadcast(kmCentArr(cent)))
      .withColumn("cdist", cellDist)
      .withColumn("probe_rank", row_number().over(wp).cast("bigint"))
      .filter(col("probe_rank") <= S18_NPROBE)
      .select(col("probe_id"), col("pv"), col("pnrm"), col("cell"), col("probe_rank"))
    val cos = Dedup.cosineCol(col("pv"), col("nv"), col("pnrm"), col("nnrm"))
    val wr = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val approx = broadcast(probeCells)
      .join(cells.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .join(n.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nnrm")), "neighbor_id")
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(wr).cast("bigint"))
      .filter(col("rank") <= IVF_K)
    // exact brute-force witness (s1 shape): same probes, full corpus
    val we = Window.partitionBy(col("probe_id")).orderBy(col("ecos").desc, col("neighbor_id"))
    val exact = broadcast(probes)
      .join(n, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm")).as("ecos"))
      .withColumn("erank", row_number().over(we))
      .filter(col("erank") <= IVF_K)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
    approx
      .join(broadcast(exact), Seq("probe_id", "neighbor_id"), "left_outer")
      .select(col("probe_id"), col("rank"), col("probe_rank"), col("cell"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"),
        coalesce(col("hit"), lit(0L)).as("in_exact"))
      .orderBy("probe_id", "rank")
  }

  private val SQ_K = 5

  /** SQ8 search — top-[[SQ_K]] by EXACT INTEGER dot product over globally
    * scalar-quantized codes: the quantizer is per-DIMENSION min/max over
    * the corpus (a trained, [[DIMS]]-pair artifact — unlike s6's
    * per-vector codes, global dims make code dot products comparable
    * ACROSS vectors, which is what an SQ8 index actually scans), codes
    * are the s6 affine rule, and the scan score Σ qᵖ·qᶜ is a BIGINT —
    * so the candidate ranking is bit-exact in any engine, the property
    * float ANN scores never have. Each row carries the exact-cosine
    * recompute and the `in_exact` top-[[SQ_K]] witness (s18's recall
    * contract), measuring what 8-bit scoring loses.
    *
    * Scale shape: the quantizer trains in one pass (per-dim min/max are
    * order-independent map-side partials), broadcasts as one row, and
    * encoding is a map stage — codes are 64 B/vector vs 256 B float32,
    * the 4× scan-bandwidth win SQ8 deployments buy. Probes broadcast
    * against one linear code scan (the s1 shape at 1/4 bandwidth);
    * integer MACs beat float FMAs on SIMD scan throughput.
    */
  val s19Sq8Search: Q = Q.sql(
    "s19_sq8_search",
    s"SQ8 integer-dot top-$SQ_K per probe over per-dimension min-max codes, with exact-cosine recall witness.",
    {
      def cosSql(av: String, an: String, bv: String, bn: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |           list_transform(range(1, len($av) + 1), i -> $av[i] * $bv[i])), (x, y) -> x + y)
           |           / ($an * $bn)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |st AS (
         |  SELECT i.i AS pos, MIN(v[i.i]) AS lo, MAX(v[i.i]) AS hi
         |  FROM e, UNNEST(range(1, $DIMS + 1)) AS i(i) GROUP BY 1),
         |sa AS (SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi FROM st),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, list_transform(range(1, $DIMS + 1), i ->
         |    CASE WHEN sa.hi[i] = sa.lo[i] THEN CAST(0 AS BIGINT)
         |         ELSE CAST(LEAST(255.0, FLOOR((v[i] - sa.lo[i]) / (sa.hi[i] - sa.lo[i]) * 255.0 + 0.5)) AS BIGINT)
         |    END) AS q
         |  FROM e, sa),
         |n AS MATERIALIZED (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
         |  FROM e),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(1, $DIMS + 1), i -> p.q[i] * c.q[i])), (x, y) -> x + y) AS dotq
         |  FROM codes p JOIN codes c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, dotq,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dotq DESC, neighbor_id) AS rank
         |  FROM scored),
         |exact AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
         |             ${cosSql("p.v", "p.nrm", "c.v", "c.nrm")} DESC, c.vec_id) AS rank
         |    FROM n p JOIN n c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |  WHERE rank <= $SQ_K)
         |SELECT r.probe_id, r.rank, r.neighbor_id, r.dotq,
         |       ROUND(${cosSql("pn.v", "pn.nrm", "cn.v", "cn.nrm")}, 6) AS cosine,
         |       CAST(CASE WHEN ex.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
         |FROM ranked r
         |JOIN n pn ON pn.vec_id = r.probe_id
         |JOIN n cn ON cn.vec_id = r.neighbor_id
         |LEFT JOIN exact ex ON ex.probe_id = r.probe_id AND ex.neighbor_id = r.neighbor_id
         |WHERE r.rank <= $SQ_K
         |ORDER BY r.probe_id, r.rank""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExpressions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // trained quantizer: global per-dimension lo/hi, one pass, one row
    val statsArr = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mn")))).as("los"),
        sort_array(collect_list(struct(col("pos"), col("mx")))).as("his"))
      .select(transform(col("los"), s => s("mn")).as("lo"),
        transform(col("his"), s => s("mx")).as("hi"))
    // s6's affine rule against the GLOBAL dims (Spark subscripts are
    // 0-based where DuckDB's are 1-based — the transform index i aligns)
    val codes = e.crossJoin(broadcast(statsArr))
      .select(col("vec_id"), expr(
        "transform(v, (x, i) -> CASE WHEN hi[i] = lo[i] THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(least(CAST(255.0 AS DOUBLE), floor((x - lo[i]) / (hi[i] - lo[i]) * 255.0 + 0.5)) AS BIGINT) END)")
        .as("q"))
      .localCheckpoint() // probe side and scan side share one encode
    val pq = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"))
    // codegen'd integer-dot kernel (GraftExpressions.DotProductL) — the
    // interpreted aggregate∘zip_with HOF chain costs per-element
    // expression dispatch on the scan's hot loop
    val dotq = graft.functions.GraftExpressions.dotl(col("pq"), col("q"))
    val wr = Window.partitionBy(col("probe_id")).orderBy(col("dotq").desc, col("neighbor_id"))
    val n = Dedup.normedVectors(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val probesN = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val we = Window.partitionBy(col("probe_id")).orderBy(col("ecos").desc, col("neighbor_id"))
    val exact = broadcast(probesN)
      .join(n, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosineCol(col("pv"), col("v"), col("pnrm"), col("nrm")).as("ecos"))
      .withColumn("erank", row_number().over(we))
      .filter(col("erank") <= SQ_K)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
    broadcast(pq)
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"), dotq.as("dotq"))
      .withColumn("rank", row_number().over(wr).cast("bigint"))
      .filter(col("rank") <= SQ_K)
      .join(broadcast(probesN), "probe_id")
      .join(n.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nnrm")), "neighbor_id")
      .join(broadcast(exact), Seq("probe_id", "neighbor_id"), "left_outer")
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("dotq"),
        round(Dedup.cosineCol(col("pv"), col("nv"), col("pnrm"), col("nnrm")), 6)
          .as("cosine"),
        coalesce(col("hit"), lit(0L)).as("in_exact"))
      .orderBy("probe_id", "rank")
  }

  // PQ_M / PQ_SUB are s10's subspace geometry — s20 trains codebooks for
  // exactly the layout s10/s12 encode against
  private val PQ_KC = 16    // centroids per subspace (4-bit codes)
  private val PQ_ROUNDS = 2 // Lloyd iterations per subspace (driver-unrolled)

  /** One Lloyd assignment round over SUBVECTORS in DuckDB SQL: every
    * (vector, subspace) to its min-squared-L2 cell from the array'd
    * per-subspace codebook CTE `arr`, ties to the lower cell id —
    * [[kmAssignSql]] with the subspace as an extra key.
    */
  private def pqAssignSql(arr: String): String =
    s"""  SELECT vec_id, sub, sv, cell, dist FROM (
       |    SELECT vec_id, sub, sv, cell, dist,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn
       |    FROM (SELECT x.vec_id, x.sub, x.sv, a.cell,
       |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              list_transform(range(1, len(x.sv) + 1),
       |                i -> (x.sv[i] - a.cv[i]) * (x.sv[i] - a.cv[i]))), (x, y) -> x + y) AS dist
       |          FROM sv x JOIN $arr a ON x.sub = a.sub))
       |  WHERE rn = 1""".stripMargin

  /** One per-subspace Lloyd round r in DuckDB SQL — [[kmRoundSql]] keyed
    * by (sub, cell, pos); empty cells keep their previous centroid.
    */
  private def pqRoundSql(r: Int): String =
    s"""a$r AS (SELECT sub, cell, list(c ORDER BY pos) AS cv FROM p${r - 1} GROUP BY sub, cell),
       |g$r AS (
       |${pqAssignSql(s"a$r")}),
       |s$r AS (
       |  SELECT sub, cell, u.p AS pos,
       |         SUM(CAST(FLOOR(u.x * 10000000.0) AS BIGINT)) AS sq, COUNT(*) AS cnt
       |  FROM (SELECT sub, cell, UNNEST(list_transform(range(0, len(sv)),
       |          i -> struct_pack(p := i, x := sv[i + 1]))) AS u
       |        FROM g$r)
       |  GROUP BY 1, 2, 3),
       |p$r AS (
       |  SELECT p.sub, p.cell, p.pos,
       |         COALESCE(CAST(s.sq AS DOUBLE) / 10000000.0 / s.cnt, p.c) AS c
       |  FROM p${r - 1} p LEFT JOIN s$r s
       |    ON p.sub = s.sub AND p.cell = s.cell AND p.pos = s.pos)""".stripMargin

  /** PQ codebook TRAINING — the step s10/s12 presuppose (their codebooks
    * derive from raw vectors), closing product quantization's train leg
    * the way s16 closed IVF's: [[PQ_ROUNDS]] bit-reproducible Lloyd
    * rounds run INDEPENDENTLY in each of the [[PQ_M]] 8-dim subspaces
    * (one dataflow — the subspace is just a key column, so all M
    * trainings ride the same shuffles), k=[[PQ_KC]] centroids per
    * subspace = 4-bit codes, init = the first [[PQ_KC]] vectors'
    * subvectors (the s3/s14 seeding convention). Output: the flat
    * (sub, cell, pos) codebook plus per-(sub, cell) membership and
    * quantized inertia — the artifact + the training-quality witness
    * (sub-quantizer balance) an index build logs.
    *
    * Determinism: the s14 contract per subspace — fixed-order fold
    * distances, tie-to-lower-cell argmin, quantized-exact mean updates
    * (Σ floor(x·1e7) longs / count), empty cells hold. At 100 TB each
    * round is one linear pass with a (M·K·[[PQ_SUB]])-group map-side
    * partial aggregate — codebook training costs the same as M=1 coarse
    * training because the subspace rides the existing shuffle key.
    */
  val s20PqTrain: Q = Q.sql(
    "s20_pq_train",
    s"PQ codebook training: $PQ_M-subspace × $PQ_KC-centroid Lloyd ($PQ_ROUNDS rounds, quantized-exact), codebook + membership + inertia.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, s.s AS sub, v[s.s * $PQ_SUB + 1 : s.s * $PQ_SUB + $PQ_SUB] AS sv
       |  FROM e, UNNEST(range(0, $PQ_M)) AS s(s)),
       |p0 AS (
       |  SELECT sub, vec_id AS cell, u.p AS pos, u.x AS c
       |  FROM (SELECT vec_id, sub, UNNEST(list_transform(range(0, len(sv)),
       |          i -> struct_pack(p := i, x := sv[i + 1]))) AS u
       |        FROM sv WHERE vec_id < $PQ_KC)),
       |${(1 to PQ_ROUNDS).map(pqRoundSql).mkString(",\n")},
       |af AS (SELECT sub, cell, list(c ORDER BY pos) AS cv FROM p$PQ_ROUNDS GROUP BY sub, cell),
       |gf AS (
       |${pqAssignSql("af")}),
       |st AS (
       |  SELECT sub, cell, COUNT(*) AS n_members,
       |         SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS inertia_q
       |  FROM gf GROUP BY 1, 2)
       |SELECT p.sub, p.cell, p.pos, p.c AS centroid,
       |       COALESCE(st.n_members, 0) AS n_members,
       |       CAST(COALESCE(st.inertia_q, 0) AS BIGINT) AS inertia_q
       |FROM p$PQ_ROUNDS p LEFT JOIN st ON p.sub = st.sub AND p.cell = st.cell
       |ORDER BY p.sub, p.cell, p.pos""".stripMargin) { (spark, dir) =>
    graft.functions.GraftExpressions.register(spark)
    val sv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PQ_M - 1}), " +
          s"s -> struct(CAST(s AS BIGINT) AS sub, slice(v, s * $PQ_SUB + 1, $PQ_SUB) AS sv))")).as("u"))
      .select(col("vec_id"), col("u.sub").as("sub"), col("u.sv").as("sv"))
      .localCheckpoint() // every round re-reads the subvector frame
    def centArr(c: DataFrame): DataFrame =
      c.groupBy(col("sub"), col("cell"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cv"))
    // Per-sub sorted codebook (M rows, broadcast) + per-row argmin fold:
    // the sv frame stays n*M rows end to end. The old shape joined every
    // (row, cell) pair (n*M*KC rows) and shuffled them all through a
    // (vec_id, sub) window to keep one — a xKC expansion per Lloyd round.
    def assign(c: DataFrame): DataFrame = sv
      .join(broadcast(centArr(c)
        .groupBy(col("sub"))
        .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))), "sub")
      .withColumn("a", assignStructExpr(col("sv"), col("cents")))
      .select(col("vec_id"), col("sub"), col("sv"),
        col("a.cell").as("cell"), col("a.dist").as("dist"))
    val init = sv.filter(col("vec_id") < PQ_KC)
      .select(col("sub"), col("vec_id").as("cell"),
        posexplode(col("sv")).as(Seq("pos", "c")))
    val cent = Rounds(spark, init, PQ_ROUNDS, aqe = true) { (prev, _) =>
      val s = assign(prev)
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(floor(col("x") * lit(1.0e7))).as("sq"), count(lit(1)).as("cnt"))
      prev.join(s, Seq("sub", "cell", "pos"), "left")
        .select(col("sub"), col("cell"), col("pos"),
          coalesce(col("sq").cast("double") / 1.0e7 / col("cnt"), col("c")).as("c"))
    }
    val stats = assign(cent)
      .groupBy(col("sub"), col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("dist") * lit(1.0e6))).as("inertia_q"))
    cent.join(broadcast(stats), Seq("sub", "cell"), "left")
      .select(col("sub"), col("cell"), col("pos"), col("c").as("centroid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"))
      .orderBy("sub", "cell", "pos")
  }

  // the "nightly vector batch": the d13 residue convention, lifted to the
  // embeddings table — a fixed 5% slice that grows with the corpus
  // private[ops]: w23 (the streaming twin) reuses s21's ORACLE verbatim,
  // so its stream plan must reference these same constants — a local
  // hardcode there could silently drift the stream==batch contract
  private[ops] val S21_MOD = 20
  private[ops] val S21_RES = 7
  private[ops] val S21_K = 5       // SQ8 shortlist refined exactly per probe
  private[ops] val S21_DUP = 0.98  // exact-cosine near-dup admit threshold

  /** Derived plane count for the ANN index's in-cell bucket — the s5
    * occupancy-constant rule applied to the (cell × bucket) grid: with
    * [[KM_K]] (= 8) trained cells absorbing 3 bits, `np =
    * bitlength(n div 256)` planes keep the EXPECTED (cell, bucket)
    * population near 32, so the index-probe candidate fan (s21, w23)
    * stays LINEAR in the corpus instead of n²/(KM_K·2^planes) — the
    * round-13 fixed-4-plane variant measured textbook-quadratic:
    * s21's probe stage scanned ~1.5B candidate pairs at sf100. Integer
    * bit-length arithmetic (the t15 trick), identical in both engines —
    * no floating log2 boundary; DuckDB mirrors it as
    * `LENGTH(PRINTF('%b', COUNT(*) // 256))` ([[annNpSql]]). Clamped to
    * [[[PLANES]], [[S5_MAX_PLANES]]] — at or below sf0.1 (n ≤ 2000) the
    * clamp floors at 4, so gate-scale bucket ids are bit-identical to
    * the fixed-plane era; past the 12-plane cap the cell count is the
    * knob a bigger deployment raises (train ∝√N cells on a sample).
    */
  private[ops] def annPlanes(n: Long): Int =
    math.min(S5_MAX_PLANES,
      math.max(PLANES, java.lang.Long.toBinaryString(n / 256).length))

  /** [[annPlanes]] as a DuckDB CTE — prepend to any oracle that mirrors
    * the ANN index bucket, and cross-join `np` where the bucket is built.
    */
  private[ops] def annNpSql: String =
    s"""np AS (SELECT LEAST($S5_MAX_PLANES, GREATEST($PLANES,
       |  LENGTH(PRINTF('%b', (SELECT COUNT(*) FROM embeddings) // 256)))) AS np)""".stripMargin

  /** The ANN index's sign bucket as DuckDB SQL over a vector expr — the
    * same md5-derived [[planesWide]] inventory as s5 (planes 0–3 are
    * bit-identical to s2's [[planes]]), active count from the `np` CTE
    * ([[annNpSql]]) so the bucket width scales with the corpus.
    */
  private def planeBucketSql(vexpr: String): String =
    (0 until S5_MAX_PLANES).map(p =>
      s"""CASE WHEN $p < np.np AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, len($vexpr) + 1), i -> $vexpr[i] * (${planeSqlArrayWide(p)})[i])), (x, y) -> x + y) > 0
         |      THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")

  /** A sign bucket over `np` hyperplanes as a Column: bit p is set iff
    * `v · plane(p) > 0`. The projection runs on the codegen'd
    * [[graft.functions.GraftExpressions.DotProductD]] kernel — the same
    * left-to-right index fold, bit-identical to the previous
    * `aggregate(zip_with(v, plane, *), 0.0, +)` higher-order formulation
    * (spec-pinned in GraftExpressionsSpec), which interpreted ~4
    * expression nodes per element per plane per row. Bucket assignment is
    * per-CORPUS-row in every LSH/ANN index build, so the interpretation
    * tax scaled with the full table (the s14/s20 argmin lesson, §7.18).
    * Callers all derive from [[Dedup.normedVectors]], which installs the
    * graft function registry on the session.
    */
  private[ops] def signBucketCol(v: Column, np: Int, plane: Int => Column): Column =
    (0 until np).map { p =>
      when(graft.functions.GraftExpressions.dot(v, plane(p)) > 0,
        lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The ANN index's sign bucket as a Column — same fixed-order fold,
    * `np` from [[annPlanes]] over the same corpus count the oracle uses.
    */
  private[ops] def planeBucketCol(v: Column, np: Int): Column =
    signBucketCol(v, np, planeColWide)

  /** The s21 SQ8 encode rule: s6/s19's affine min-max code with BOTH ends
    * clamped — the standing quantizer's stats are corpus-trained, so a
    * NEW vector can fall outside [lo, hi] and must clip to [0, 255]
    * (s19 trains on the full table, where only the upper clamp can fire).
    */
  private def sq8ClampedCodeSql(vexpr: String): String =
    s"""list_transform(range(1, $DIMS + 1), i ->
       |    CASE WHEN sa.hi[i] = sa.lo[i] THEN CAST(0 AS BIGINT)
       |         ELSE CAST(LEAST(255.0, GREATEST(0.0, FLOOR(($vexpr[i] - sa.lo[i]) / (sa.hi[i] - sa.lo[i]) * 255.0 + 0.5))) AS BIGINT)
       |    END)""".stripMargin

  private[ops] val sq8ClampedCodeCol: Column = expr(
    "transform(v, (x, i) -> CASE WHEN hi[i] = lo[i] THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(least(CAST(255.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), " +
      "floor((x - lo[i]) / (hi[i] - lo[i]) * 255.0 + 0.5))) AS BIGINT) END)")

  private val sq8StatsCache = Pin.Shared.checkpointed[String]
  private val annIdxCache = Pin.Shared.pinned[String, DataFrame]

  /** The standing SQ8 quantizer stats: per-dimension corpus min/max
    * (batch residue EXCLUDED — new vectors are encoded with stats that
    * never saw them), one pinned row of (lo[], hi[]) arrays.
    */
  private[ops] def sq8CorpusStats(spark: SparkSession, dir: String): DataFrame =
    sq8StatsCache(spark, dir) {
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % S21_MOD =!= S21_RES)
        .select(col("embedding").cast("array<double>").as("v"))
        .select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mn")))).as("los"),
          sort_array(collect_list(struct(col("pos"), col("mx")))).as("his"))
        .select(transform(col("los"), s => s("mn")).as("lo"),
          transform(col("his"), s => s("mx")).as("hi"))
    }

  /** The session-persisted ANN INDEX over the standing corpus (batch
    * residue excluded): `(vec_id, cell, bucket, q)` — trained IVF cell
    * ([[trainedCentroids]], s14's Lloyd artifact, min-L2/tie-low rule),
    * s2's 4-plane sign bucket as the in-cell prefilter, and the SQ8 code
    * from the corpus-trained stats. At 100 TB this is the index an
    * embedding store persists and refreshes per epoch; s21's nightly
    * apply probes it without touching the corpus again ([[Dedup.bandIndex]]
    * is the same shape for documents). A [[Pin]], as there.
    */
  private[ops] def annIndex(spark: SparkSession, dir: String): DataFrame =
    annIdxCache(spark, dir) {
      val e = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % S21_MOD =!= S21_RES)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val np = annPlanes(Dedup.normedVectors(spark, dir).count())
      val cells = kmAssignOf(e, trainedCentroids(spark, dir))
        .select(col("vec_id"), col("cell"))
      val coded = e
        .withColumn("bucket", planeBucketCol(col("v"), np).cast("long"))
        .crossJoin(broadcast(sq8CorpusStats(spark, dir)))
        .select(col("vec_id"), col("bucket"), sq8ClampedCodeCol.as("q"))
      // pinned pre-hash-partitioned and pre-sorted by the probe key
      // (cell, bucket): the cached plan's partitioning/ordering survive
      // InMemoryTableScan, so every probe — s21's batch join, w23's
      // per-micro-batch stream-static join (whose static plan re-executes
      // EVERY micro-batch), e18's ann stage — skips the index-side
      // Exchange + Sort (round 15, the w25 move).
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      cells.join(coded, "vec_id")
        .repartition(p, col("cell"), col("bucket"))
        .sortWithinPartitions("cell", "bucket")
    }

  /** The trained codebook as ONE broadcastable row —
    * `cents: array<struct<cell, cv>>` sorted by cell — the published
    * artifact a STREAMING apply joins on a constant key (w23): the
    * cell-ascending fold over this array with a strict-min comparison
    * reproduces [[kmAssignOf]]'s (min dist, tie-low-cell) rule without
    * the window streaming cannot run. Pinned: the static side of a
    * stream-static join is re-evaluated per micro-batch.
    */
  private[ops] def codebookRow(spark: SparkSession, dir: String): DataFrame =
    kmCentArr(trainedCentroids(spark, dir))
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
      .localCheckpoint()

  /** The [[kmAssignOf]] assignment as a pure per-row expression over the
    * [[codebookRow]] `cents` column and a vector column `v`: per-cell
    * distance is the identical fixed-order index fold; the cell-ascending
    * fold keeps the FIRST strict minimum, which is exactly
    * (ORDER BY dist, cell LIMIT 1). Stream-safe (no window).
    */
  private[ops] def cellOfExpr(v: Column, cents: Column): Column =
    assignStructExpr(v, cents).getField("cell")

  /** The full (dist, cell) argmin over a sorted `cents:
    * array<struct<cell, cv>>` column — [[cellOfExpr]] plus the winning
    * distance, so batch assigns ([[kmAssignOf]], s20's PQ assign) can run
    * the identical fold without a window. The cell-ascending fold with a
    * strict-min comparison IS (ORDER BY dist, cell LIMIT 1).
    *
    * Runs on the codegen'd
    * [[graft.functions.GraftExpressions.ArgMinCell]] kernel: the
    * higher-order formulation ([[assignStructExprHof]], spec-pinned
    * bit-equal) interprets ~5 expression nodes per (cell × dim) per
    * row — at sf10 that interpretation dominated the s14/s20 train cost
    * (§7.18). Callers must have the graft registry installed
    * ([[graft.functions.GraftExpressions.register]] — kmAssignOf, s20's
    * assign, and w23's stream builder all do).
    */
  private[ops] def assignStructExpr(v: Column, cents: Column): Column =
    graft.functions.GraftExpressions.argminCell(v, cents)

  /** The pre-round-14 higher-order formulation of [[assignStructExpr]] —
    * kept ONLY as the reference semantics the ArgMinCellSpec equality
    * pin compares the native kernel against (zip_with null-padding,
    * strict-min keep-first, (∞, -1) init).
    */
  private[ops] def assignStructExprHof(v: Column, cents: Column): Column = {
    val dists = transform(cents, c => struct(
      aggregate(zip_with(v, c.getField("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z).as("dist"),
      c.getField("cell").as("cell")))
    aggregate(dists,
      struct(lit(Double.PositiveInfinity).as("dist"), lit(-1L).as("cell")),
      (acc, d) => when(d.getField("dist") < acc.getField("dist"), d)
        .otherwise(acc))
  }

  /** Incremental ANN index apply — the d13 move for vectors, closing the
    * last missing incremental-maintenance shape: a new 5% batch
    * (`vec_id % `[[S21_MOD]]` = `[[S21_RES]]) is assigned to the TRAINED
    * cells (s14's session-persisted Lloyd codebook — no retrain), encoded
    * with the standing corpus quantizer stats, and scored against its
    * (cell, s2-plane-bucket) neighborhood of the session-persisted
    * [[annIndex]] via the codegen'd exact integer SQ8 dot
    * ([[graft.functions.GraftExpressions.dotl]]). The SQ8 top-[[S21_K]]
    * shortlist is refined with exact cosine, and each batch vector gets
    * a d13-style verdict: candidate count, nearest neighbor, near-dup
    * count at cosine ≥ [[S21_DUP]], admit flag.
    *
    * Scale shape: the index is built once per (session, corpus) — the
    * apply is linear in the BATCH: one (cell, bucket) equi-join against
    * the persisted index (avg fan-in corpus/(K·2^planes)), one bounded
    * window, one ≤[[S21_K]]-row-per-probe exact refine, one batch-keyed
    * rollup. No corpus self-join, no training stage, nothing collected.
    * A production store would run exactly this per ingest epoch instead
    * of re-running s14+s16 over the full corpus.
    */
  val s21IncrementalAnnApply: Q = Q.sql(
    "s21_incremental_ann_apply",
    s"Incremental ANN apply: 5% vector batch probes the persisted IVF+SQ8 index (trained cells, s2 buckets); exact-cosine verdicts per batch vector.",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$annNpSql,
       |c0 AS (
       |  SELECT vec_id AS cell, u.p AS pos, u.x AS c
       |  FROM (SELECT vec_id, UNNEST(list_transform(range(0, len(v)),
       |          i -> struct_pack(p := i, x := v[i + 1]))) AS u
       |        FROM e WHERE vec_id < $KM_K)),
       |${(1 to KM_ROUNDS).map(kmRoundSql).mkString(",\n")},
       |af AS (SELECT cell, list(c ORDER BY pos) AS cv FROM c$KM_ROUNDS GROUP BY cell),
       |cells AS MATERIALIZED (
       |${kmAssignSql("af")}),
       |st AS (
       |  SELECT i.i AS pos, MIN(v[i.i]) AS lo, MAX(v[i.i]) AS hi
       |  FROM (SELECT * FROM e WHERE vec_id % $S21_MOD <> $S21_RES) ec,
       |       UNNEST(range(1, $DIMS + 1)) AS i(i) GROUP BY 1),
       |sa AS (SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi FROM st),
       |idx AS MATERIALIZED (
       |  SELECT c.vec_id, c.cell,
       |         CAST(${planeBucketSql("c.v")} AS BIGINT) AS bucket,
       |         ${sq8ClampedCodeSql("c.v")} AS q
       |  FROM cells c, sa, np),
       |bat AS (SELECT * FROM idx WHERE vec_id % $S21_MOD = $S21_RES),
       |cor AS (SELECT * FROM idx WHERE vec_id % $S21_MOD <> $S21_RES),
       |cand AS (
       |  SELECT b.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, $DIMS + 1), i -> b.q[i] * c.q[i])), (x, y) -> x + y) AS dotq
       |  FROM bat b JOIN cor c ON b.cell = c.cell AND b.bucket = c.bucket),
       |rk AS (
       |  SELECT probe_id, neighbor_id, dotq,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dotq DESC, neighbor_id) AS rnk,
       |         COUNT(*) OVER (PARTITION BY probe_id) AS n_cand
       |  FROM cand),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(v) + 1), i -> v[i] * v[i])), (x, y) -> x + y)) AS nrm
       |  FROM e),
       |ref AS (
       |  SELECT r.probe_id, r.neighbor_id, r.n_cand,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, len(pn.v) + 1), i -> pn.v[i] * cn.v[i])), (x, y) -> x + y)
       |           / (pn.nrm * cn.nrm) AS cos
       |  FROM rk r
       |  JOIN n pn ON pn.vec_id = r.probe_id
       |  JOIN n cn ON cn.vec_id = r.neighbor_id
       |  WHERE r.rnk <= $S21_K),
       |best AS (
       |  SELECT probe_id, neighbor_id, n_cand, cos,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS brk
       |  FROM ref),
       |roll AS (
       |  SELECT probe_id, MAX(n_cand) AS n_cand,
       |         MAX(CASE WHEN brk = 1 THEN neighbor_id END) AS nn_id,
       |         MAX(CASE WHEN brk = 1 THEN cos END) AS nn_cos,
       |         COUNT(CASE WHEN cos >= $S21_DUP THEN 1 END) AS n_dups
       |  FROM best GROUP BY 1)
       |SELECT b.vec_id, b.cell, b.bucket,
       |       CAST(COALESCE(r.n_cand, 0) AS BIGINT) AS n_cand,
       |       r.nn_id, ROUND(r.nn_cos, 6) AS nn_cosine,
       |       CAST(COALESCE(r.n_dups, 0) AS BIGINT) AS n_dups,
       |       CAST(CASE WHEN COALESCE(r.n_dups, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS admit
       |FROM bat b LEFT JOIN roll r ON b.vec_id = r.probe_id
       |ORDER BY b.vec_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExpressions.register(spark)
    val idx = annIndex(spark, dir)
    // batch side: assign to the TRAINED cells (pinned codebook — no
    // retrain in this plan), bucket + encode with the standing stats;
    // pinned because the candidate probe and the verdict spine share it
    val eb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % S21_MOD === S21_RES)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val np = annPlanes(Dedup.normedVectors(spark, dir).count())
    val bat = kmAssignOf(eb, trainedCentroids(spark, dir))
      .withColumn("bucket", planeBucketCol(col("v"), np).cast("long"))
      .crossJoin(broadcast(sq8CorpusStats(spark, dir)))
      .select(col("vec_id"), col("cell"), col("bucket"), sq8ClampedCodeCol.as("q"))
      .localCheckpoint()
    val cand = bat
      .select(col("vec_id").as("probe_id"), col("cell"), col("bucket"),
        col("q").as("pq"))
      .join(idx.select(col("vec_id").as("neighbor_id"), col("cell"),
        col("bucket"), col("q")), Seq("cell", "bucket"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.functions.GraftExpressions.dotl(col("pq"), col("q")).as("dotq"))
    val wr = Window.partitionBy(col("probe_id")).orderBy(col("dotq").desc, col("neighbor_id"))
    val wc = Window.partitionBy(col("probe_id"))
    val rk = cand
      .withColumn("rnk", row_number().over(wr))
      .withColumn("n_cand", count(lit(1)).over(wc))
      .filter(col("rnk") <= S21_K)
    val n = Dedup.normedVectors(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val ref = rk
      .join(n.select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm")), "probe_id")
      .join(n.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nnrm")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), col("n_cand"),
        Dedup.cosineCol(col("pv"), col("nv"), col("pnrm"), col("nnrm")).as("cos"))
    val wb = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val roll = ref.withColumn("brk", row_number().over(wb))
      .groupBy(col("probe_id")).agg(
        max(col("n_cand")).as("n_cand"),
        max(when(col("brk") === 1, col("neighbor_id"))).as("nn_id"),
        max(when(col("brk") === 1, col("cos"))).as("nn_cos"),
        count(when(col("cos") >= S21_DUP, lit(1))).as("n_dups"))
    bat.select(col("vec_id"), col("cell"), col("bucket"))
      .join(roll, col("vec_id") === col("probe_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("bucket"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("nn_id"), round(col("nn_cos"), 6).as("nn_cosine"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(coalesce(col("n_dups"), lit(0L)) === 0, lit(1L)).otherwise(lit(0L))
          .as("admit"))
      .orderBy("vec_id")
  }

  val all: Seq[Q] = Seq(s1AnnBruteForce, s2AnnLsh, s3AnnIvf, s4LabelCentroids,
    s5KnnJoin, s6Quantize, s7Mips, s8AnnRerank, s9RetrievalE2e, s10PqEncode,
    s11RecallCurve, s12IvfPq, s13HybridRrf, s14KmeansTrain, s15BinaryQuant,
    s16TrainedIvf, s17MmrDiversify, s18MultiProbe, s19Sq8Search, s20PqTrain,
    s21IncrementalAnnApply)
}
