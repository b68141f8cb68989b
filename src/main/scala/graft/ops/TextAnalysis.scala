package graft.ops

import graft.{Q, Tables}
import graft.functions.DetHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline staples: language ID, quality scoring, token
  * statistics, and document fingerprinting.
  *
  * Everything is expression-only (whole-stage codegen, no UDFs) and
  * per-row, so it scales linearly: at 100 TB these are embarrassingly
  * parallel map stages; only the token-stats aggregate shuffles, keyed on
  * token with map-side partial aggregation.
  */
object TextAnalysis {

  private[ops] val words: Column = split(col("text"), " ")

  private[ops] def stopHits(w: Column, langWords: Seq[String]): Column =
    size(filter(w, t => t.isInCollection(langWords)))

  private[ops] val enStops = Seq("the", "a", "and", "of", "to", "in", "is")
  private val deStops = Seq("der", "die", "das", "und", "ist", "ein")
  private val esStops = Seq("el", "la", "de", "que", "y", "en")
  private val frStops = Seq("le", "la", "et", "les", "des", "un")

  private[ops] def inList(ws: Seq[String]): String = ws.map("'" + _ + "'").mkString("(", ",", ")")

  /** t1's language decision as a reusable column (argmax with fixed
    * precedence over the per-language stopword scores; CJK short-circuit).
    */
  private[ops] def predLangCol(w: Column, text: Column): Column = {
    val sEn = stopHits(w, enStops); val sDe = stopHits(w, deStops)
    val sEs = stopHits(w, esStops); val sFr = stopHits(w, frStops)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
      .when(sDe >= sEs && sDe >= sFr, "de")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
  }

  /** t1's decision in DuckDB SQL over a split-array column `w` and raw
    * `text` — textually the same scores the Spark column computes.
    */
  private[ops] def predLangSql(w: String, text: String): String =
    s"""CASE WHEN regexp_matches($text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |     WHEN len(list_filter($w, t -> t IN ${inList(enStops)})) >= len(list_filter($w, t -> t IN ${inList(deStops)}))
       |      AND len(list_filter($w, t -> t IN ${inList(enStops)})) >= len(list_filter($w, t -> t IN ${inList(esStops)}))
       |      AND len(list_filter($w, t -> t IN ${inList(enStops)})) >= len(list_filter($w, t -> t IN ${inList(frStops)})) THEN 'en'
       |     WHEN len(list_filter($w, t -> t IN ${inList(deStops)})) >= len(list_filter($w, t -> t IN ${inList(esStops)}))
       |      AND len(list_filter($w, t -> t IN ${inList(deStops)})) >= len(list_filter($w, t -> t IN ${inList(frStops)})) THEN 'de'
       |     WHEN len(list_filter($w, t -> t IN ${inList(esStops)})) >= len(list_filter($w, t -> t IN ${inList(frStops)})) THEN 'es'
       |     ELSE 'fr' END""".stripMargin

  /** t2's quality score as a reusable column (same weights/rounding). */
  private[ops] def qualityCol(w: Column): Column = {
    val nTokens = size(w)
    round(
      lit(0.4) * least(nTokens.cast("double") / 100.0, lit(1.0))
        + lit(0.3) * (size(array_distinct(w)).cast("double") / nTokens)
        + lit(0.3) * least(stopHits(w, enStops).cast("double") / nTokens / 0.4, lit(1.0)),
      6)
  }

  /** t2's quality score in DuckDB SQL over a split-array column `w`. */
  private[ops] def qualitySql(w: String): String =
    s"""ROUND(
       |  0.4 * LEAST(CAST(len($w) AS DOUBLE) / 100.0, 1.0)
       |+ 0.3 * (CAST(len(list_distinct($w)) AS DOUBLE) / len($w))
       |+ 0.3 * LEAST(CAST(len(list_filter($w, t -> t IN ${inList(enStops)})) AS DOUBLE) / len($w) / 0.4, 1.0), 6)""".stripMargin

  /** Stopword-profile language ID. A real corpus would use char-n-gram
    * profiles; the deterministic stopword-count heuristic keeps the same
    * shape (per-language score → argmax with fixed precedence) while
    * remaining bit-reproducible in any engine. CJK codepoints short-curcuit
    * to 'zh'.
    */
  val t1LangId: Q = Q.sql(
    "t1_langid",
    "Heuristic language ID: per-language stopword scores → argmax.",
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(string_split(text, ' '), t -> t IN ${inList(enStops)})) AS s_en,
       |    len(list_filter(string_split(text, ' '), t -> t IN ${inList(deStops)})) AS s_de,
       |    len(list_filter(string_split(text, ' '), t -> t IN ${inList(esStops)})) AS s_es,
       |    len(list_filter(string_split(text, ' '), t -> t IN ${inList(frStops)})) AS s_fr,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 1 ELSE 0 END AS s_zh
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  s_en, s_de, s_es, s_fr
       |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val zh = when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), 1).otherwise(0)
    Tables.documents(spark, dir)
      // split once; the per-language scores share the materialized array
      // (CollapseProject won't inline a non-cheap alias used 4×)
      .select(col("doc_id"), col("lang"), col("text"), words.as("w"))
      .select(col("doc_id"), col("lang"),
        stopHits(col("w"), enStops).as("s_en"), stopHits(col("w"), deStops).as("s_de"),
        stopHits(col("w"), esStops).as("s_es"), stopHits(col("w"), frStops).as("s_fr"),
        zh.as("s_zh"))
      .select(col("doc_id"), col("lang"),
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr").as("pred_lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token count, distinct-token ratio, stopword ratio,
    * mean word length — combined into a bounded [0,1] score. Pure per-row
    * double arithmetic (deterministic), no reduction.
    */
  val t2Quality: Q = Q.sql(
    "t2_quality",
    "Per-document quality score from length/diversity/stopword signals.",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
       |    len(list_filter(string_split(text, ' '), t -> t IN ${inList(enStops)})) AS n_stop,
       |    LENGTH(text) AS n_chars
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_distinct, n_stop, n_chars,
       |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |  ROUND(
       |    0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |  + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
       |  + 0.3 * LEAST(CAST(n_stop AS DOUBLE) / n_tokens / 0.4, 1.0), 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      // split once; all three token metrics share the materialized array
      .select(col("doc_id"), col("text"), words.as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"),
        stopHits(col("w"), enStops).as("n_stop"),
        length(col("text")).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_stop"), col("n_chars"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        round(
          lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
            + lit(0.3) * (col("n_distinct").cast("double") / col("n_tokens"))
            + lit(0.3) * least(col("n_stop").cast("double") / col("n_tokens") / 0.4, lit(1.0)),
          6).as("quality"))
      .orderBy("doc_id")
  }

  /** Corpus token statistics: explode → count + doc-frequency → top 50.
    * The shuffle key is the token; partial aggregation means shuffle
    * volume ~ vocabulary size per partition, not corpus size. Final top-k
    * is TakeOrderedAndProject (no global sort).
    */
  val t3TokenStats: Q = Q.sql(
    "t3_token_stats",
    "Top-50 corpus tokens by frequency with doc-frequency.",
    """SELECT t.token, COUNT(*) AS n, COUNT(DISTINCT t.doc_id) AS doc_freq
      |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents) t
      |GROUP BY t.token ORDER BY n DESC, token LIMIT 50""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  /** Document fingerprint: left-fold polynomial rolling hash over md5
    * token hashes, mod 2^31-1. The 28-bit token hash keeps
    * `acc*1000003 + h` inside exact long range, so the fold is
    * bit-identical in any engine that folds left (DuckDB list_reduce).
    * Per-row only — a 100 TB corpus fingerprints in one map stage.
    */
  val t4Fingerprint: Q = Q.sql(
    "t4_fingerprint",
    "Order-sensitive rolling-hash document fingerprint (md5-derived, engine-portable).",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        t -> ('0x' || substring(md5(t), 1, 7))::BIGINT)),
      |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        aggregate(
          transform(words, t => DetHash.md5Long28(t)),
          lit(0L),
          (acc, h) => (acc * lit(1000003L) + h) % lit(2147483647L)
        ).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** BPE-ish subword tokenization via regex: alpha runs, digit runs, and
    * single punctuation marks become separate tokens (the pre-tokenizer
    * shape real BPE vocabularies assume). Per-doc counts plus a corpus
    * histogram bucket — regex kept to the portable subset (char classes,
    * `+`) so Java regex and DuckDB's RE2 agree.
    */
  val t5BpeTokens: Q = Q.sql(
    "t5_bpe_tokens",
    "Regex pre-tokenizer (alpha/digit/punct runs): per-doc token & subword counts.",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_tokens,
      |  len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS bpe_distinct,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS subword_ratio
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    val bpe = regexp_extract_all(col("text"), lit(pat), lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words).as("ws_tokens"),
        size(bpe).as("bpe_tokens"),
        size(array_distinct(bpe)).as("bpe_distinct"),
        (size(bpe).cast("double") / size(words)).as("subword_ratio"))
      .orderBy("doc_id")
  }

  /** Per-language heavy hitters via a custom mergeable Aggregator
    * ([[graft.functions.TopTokens]]): per-partition token-count maps
    * merged across executors, finished as the deterministic top-3 — the
    * user-defined-aggregate shape (partial state + merge) that at 100 TB
    * becomes a SpaceSaving/CMS sketch with bounded state. The oracle
    * computes the same answer relationally (group → rank → string_agg).
    */
  val t6HeavyHitters: Q = Q.sql(
    "t6_heavy_hitters",
    "Top-3 tokens per language via a custom mergeable Aggregator.",
    """WITH tok AS (SELECT lang, UNNEST(string_split(text, ' ')) AS t FROM documents),
      |c AS (SELECT lang, t, COUNT(*) AS n FROM tok GROUP BY 1, 2),
      |r AS (SELECT lang, t, n,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, t) AS rn
      |      FROM c)
      |SELECT lang, string_agg(t, ',' ORDER BY rn) AS top_tokens
      |FROM r WHERE rn <= 3 GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val topTokens = udaf(graft.functions.TopTokens(3), org.apache.spark.sql.Encoders.STRING)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(words).as("token"))
      .groupBy(col("lang"))
      .agg(topTokens(col("token")).as("top_tokens"))
      .orderBy("lang")
  }

  /** Canonical text normalization — the cleanup pass that runs before
    * any dedup/tokenize step: lowercase, strip everything but [a-z0-9 ],
    * collapse runs of spaces, trim. Emits the normalized content key
    * (md5) and before/after sizes. Pure map stage; regexes stay in the
    * Java∩RE2 portable subset.
    */
  val t7Normalize: Q = Q.sql(
    "t7_normalize",
    "Text normalization (lowercase, punctuation strip, whitespace collapse) + content key.",
    """WITH n AS (
      |  SELECT doc_id, LENGTH(text) AS raw_chars,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id, raw_chars, LENGTH(norm) AS norm_chars,
      |       len(string_split(norm, ' ')) AS norm_tokens,
      |       md5(norm) AS content_key
      |FROM n ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("raw_chars"), norm.as("norm"))
      .select(col("doc_id"), col("raw_chars"), length(col("norm")).as("norm_chars"),
        size(split(col("norm"), " ")).as("norm_tokens"),
        md5(col("norm")).as("content_key"))
      .orderBy("doc_id")
  }

  /** Most-distinctive term per document: argmax of term frequency
    * normalized by corpus document frequency — the TF-IDF shape with the
    * idf log replaced by a plain 1/df weight, keeping every score an
    * exact rational (integer tf ÷ integer df) so both engines agree
    * bit-for-bit; a log idf would ride on libm ulp differences. Two
    * shuffles: (doc, term) tf aggregation and the term-keyed df join;
    * the per-doc argmax is a window over each doc's own terms.
    */
  val t8DistinctiveTerms: Q = Q.sql(
    "t8_distinctive_terms",
    "Per-doc most distinctive term by df-normalized term frequency (exact-rational TF/DF).",
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT t.doc_id, t.term, t.tf, d.df,
      |         CAST(t.tf AS DOUBLE) / d.df AS score
      |  FROM tf t JOIN df d ON t.term = d.term),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, score,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, ROUND(score, 6) AS score
      |FROM ranked WHERE rnk = 1 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df falls out of tf (one row per (doc, term)) — no distinct
    // aggregation pass, and the partial aggregates stay tiny
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  /** Repetition signals — the within-document duplication screen (the
    * "repeated lines/paragraphs" family of quality filters, over words
    * here since the corpus is single-line): distinct-word ratio and the
    * modal word's share. A low distinct ratio or a high top-word share
    * flags boilerplate/spam. Exact integer counting + one final double
    * division per stat; two doc-keyed shuffles with map-side partials.
    */
  val t9Repetition: Q = Q.sql(
    "t9_repetition",
    "Within-doc repetition: distinct-word ratio and modal-word share.",
    """WITH u AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT doc_id, word, COUNT(*) AS cnt FROM u GROUP BY 1, 2),
      |s AS (SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS n_distinct, MAX(cnt) AS maxc
      |      FROM c GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  ROUND(CAST(n_distinct AS DOUBLE) / n, 6) AS distinct_ratio,
      |  ROUND(CAST(maxc AS DOUBLE) / n, 6) AS top_word_ratio
      |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("maxc"))
      .select(col("doc_id"), col("n").as("n_words"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n"), 6).as("distinct_ratio"),
        round(col("maxc").cast("double") / col("n"), 6).as("top_word_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus-commonness score — the unigram-LM fluency screen with the
    * log replaced by exact rationals (a `ln` would ride on libm ulp
    * differences between engines, see [[t8DistinctiveTerms]]): per doc,
    * the mean corpus frequency of its tokens (Σ cf(w) over positions,
    * divided by n_tokens·N at the very end) plus the rarest token's
    * corpus count and the hapax share. Low mean frequency or many hapax
    * tokens flags gibberish; everything is integer arithmetic until ONE
    * final double division. The corpus frequency table is vocab-sized —
    * an explicit broadcast joined into the token stream (at 100 TB the
    * vocab of a cleaned corpus still fits executors comfortably; a
    * truly unbounded key space would switch to a shuffle join on the
    * token key, same semantics).
    */
  val t10Commonness: Q = Q.sql(
    "t10_commonness",
    "Per-doc mean corpus token frequency, rarest-token count, hapax share (exact-rational unigram score).",
    """WITH u AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |f AS (SELECT word, COUNT(*) AS cf FROM u GROUP BY 1),
      |n AS (SELECT SUM(cf) AS total FROM f),
      |j AS (SELECT u.doc_id, f.cf FROM u JOIN f ON u.word = f.word),
      |d AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(cf) AS sum_cf,
      |             MIN(cf) AS min_cf,
      |             SUM(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS n_hapax
      |      FROM j GROUP BY 1)
      |SELECT doc_id, n_tokens, CAST(min_cf AS BIGINT) AS min_cf,
      |  CAST(n_hapax AS BIGINT) AS n_hapax,
      |  ROUND(CAST(sum_cf AS DOUBLE) / (n_tokens * (SELECT total FROM n)), 9)
      |    AS mean_freq
      |FROM d ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val u = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("word"))
    val f = u.groupBy(col("word")).agg(count(lit(1)).as("cf"))
    val total = f.agg(sum(col("cf")).as("total"))
    u.join(broadcast(f), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("sum_cf"),
        min(col("cf")).as("min_cf"),
        sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("min_cf"), col("n_hapax"),
        round(col("sum_cf").cast("double") / (col("n_tokens") * col("total")), 9)
          .as("mean_freq"))
      .orderBy("doc_id")
  }

  /** Sparse TF-IDF cosine similarity over an inverted term index — the
    * IR-style near-match complement to d2's shingle Jaccard. The term
    * unit is the word TRIGRAM and each doc is represented by its K=5
    * most distinctive terms (tf/df weight, the [[t8DistinctiveTerms]]
    * scoring with a deterministic tiebreak). Both choices are what keep
    * the term-keyed pair join skew-safe: corpus-hot terms are by
    * construction never distinctive, and the trigram space is vocab³ so
    * posting lists stay short even on a small-vocabulary corpus
    * (measured at sf0.1: max posting list 6 with trigrams vs 208 with
    * bigrams vs ~500 with unigrams — unigrams made the pair join
    * quadratic and 26s). Weights are quantized to integers
    * (`floor(1e6·tf/df)`), so dot products and norms are EXACT integer
    * sums (order-independent, engine-portable); the only floating ops
    * are the final sqrt/division — each a single correctly-rounded IEEE
    * op. Shuffles: tf agg, df agg, term-keyed pair join, pair agg — all
    * equi-keyed with map-side partials.
    */
  private val tfidfCache = Pin.Shared.pinned[String, org.apache.spark.sql.DataFrame]

  /** The per-doc top-5 distinctive-trigram index (doc_id, tk, w):
    * persisted once per (session, dataset) — the t11 plan references it
    * four times (both pair-join sides + both norm joins) and an
    * unpersisted subtree re-runs tokenize/tf/df/window per reference.
    * Terms travel as md5-derived 60-bit keys from the first shuffle on:
    * narrow rows, and the oracle computes the IDENTICAL key, so a
    * (cosmically unlikely) 60-bit collision merges the same two terms in
    * both engines — parity is unconditional. The tf frame is scratch
    * (pinned during the build, released after).
    */
  private def tfidfTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      trigrams: Column): org.apache.spark.sql.DataFrame =
    tfidfCache(spark, dir) {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), words.as("w"))
        .select(col("doc_id"), explode(trigrams).as("term"))
        .select(col("doc_id"), graft.functions.DetHash.md5Long60(col("term")).as("tk"))
      // df AND the weight join both read tf — pinned for the build only;
      // the top-k frame is counted while tf is still pinned
      Pin.during(tok.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))) { tf =>
        val df = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
        val score = col("tf").cast("double") / col("df")
        val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("tk"))
        Pin(tf.join(df, "tk")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("tk"),
            floor(lit(1000000.0) * score).as("w")))
      }
    }

  val t11TfidfCosine: Q = Q.sql(
    "t11_tfidf_cosine",
    "Top-5-distinctive-trigram TF-IDF cosine >= 0.5 pairs (integer-exact sparse dot products).",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(
      |      UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)])
      |    ), 1, 15))::BIGINT AS tk
      |  FROM w),
      |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY 1),
      |wq AS (
      |  SELECT t.doc_id, t.tk,
      |         CAST(FLOOR(1000000.0 * (CAST(t.tf AS DOUBLE) / d.df)) AS BIGINT) AS w,
      |         ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |           ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.tk) AS rnk
      |  FROM tf t JOIN df d ON t.tk = d.tk),
      |topk AS (SELECT doc_id, tk, w FROM wq WHERE rnk <= 5),
      |nrm AS (SELECT doc_id, SUM(w * w) AS n2 FROM topk GROUP BY 1),
      |dot AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dp
      |  FROM topk a JOIN topk b ON a.tk = b.tk AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d.doc_a, d.doc_b,
      |  ROUND(CAST(d.dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
      |FROM dot d
      |JOIN nrm na ON d.doc_a = na.doc_id
      |JOIN nrm nb ON d.doc_b = nb.doc_id
      |WHERE CAST(d.dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    // non-distinct trigram stream (TF needs multiplicity, so this is the
    // raw 3-gram window, not the distinct-shingle kernel). The words
    // array MUST be materialized as its own column first: element_at on
    // the raw split() expression inside the lambda re-runs the split per
    // trigram element (measured 6s for 260k trigrams at sf0.1 vs ~1s
    // materialized). Guard short docs — sequence(1, 0) counts DOWN.
    val wcol = col("w")
    val trigrams = when(size(wcol) >= 3,
      transform(sequence(lit(1), size(wcol) - 2), i =>
        concat_ws(" ", element_at(wcol, i), element_at(wcol, i + 1),
          element_at(wcol, i + 2))))
      .otherwise(array().cast("array<string>"))
    val topk = tfidfTopK(spark, dir, trigrams)
    val nrm = topk.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("n2"))
    val dot = topk.as("a").join(topk.as("b"),
        col("a.tk") === col("b.tk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dp"))
    val cos = col("dp").cast("double") /
      (sqrt(col("na.n2").cast("double")) * sqrt(col("nb.n2").cast("double")))
    dot
      .join(nrm.as("na"), col("doc_a") === col("na.doc_id"))
      .join(nrm.as("nb"), col("doc_b") === col("nb.doc_id"))
      .filter(cos >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(cos, 6).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  private val CHUNK = 32
  private val STRIDE = 24

  /** Overlapping token chunking — the RAG / context-window prep step:
    * every doc fans out to [[CHUNK]]-token chunks at stride [[STRIDE]]
    * (8-token overlap). Pure map-side explode — no shuffle at all; at
    * 100 TB this is an embarrassingly parallel scan whose output feeds
    * the embedding stage. Chunk text is emitted as an md5 checksum so
    * the gate compares content without hauling full text through the
    * comparator.
    */
  val t12Chunk: Q = Q.sql(
    "t12_chunk",
    s"Overlapping $CHUNK-token chunks at stride $STRIDE (RAG/context-window prep), md5 per chunk.",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |c AS (SELECT doc_id, len(w) AS n, w,
       |             UNNEST(range(1, len(w) + 1, $STRIDE)) AS start FROM w)
       |SELECT doc_id, CAST((start - 1) // $STRIDE AS BIGINT) AS chunk_idx,
       |  CAST(LEAST($CHUNK, n - start + 1) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(w, start, start + ${CHUNK - 1}), ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"), col("n"), col("w"),
        explode(sequence(lit(1), col("n"), lit(STRIDE))).as("start"))
      .select(col("doc_id"),
        expr(s"cast((start - 1) div $STRIDE as bigint)").as("chunk_idx"),
        least(lit(CHUNK), col("n") - col("start") + 1).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("start"), lit(CHUNK)))
          .cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Email / phone patterns shared by the Spark impl and the DuckDB
    * oracle — restricted to syntax Java regex and RE2 interpret
    * identically (character classes, bounded repetition; no lookaround,
    * no backrefs).
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** PII detection + redaction — the scrubbing pass every training corpus
    * needs. The bundled corpus is synthetic word-salad with no natural
    * PII, so contact strings are INJECTED deterministically from
    * (doc_id, source) inside the query on BOTH engines — honest about
    * the data, while the machinery under test (count + redact regexes,
    * Java vs RE2 parity, replace-all semantics) is exactly what runs on a
    * real corpus. Per-row map stage; nothing shuffles.
    */
  val t13PiiRedact: Q = Q.sql(
    "t13_pii_redact",
    "PII scrub: count + redact emails/phones (deterministically injected contacts; Java-vs-RE2-parity patterns).",
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 3 <> 0
       |         THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@' || source || '.net'
       |         ELSE ' no contact' END ||
       |    CASE WHEN doc_id % 5 = 0
       |         THEN ' cc admin.' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END ||
       |    CASE WHEN doc_id % 2 = 0
       |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    AS s
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(s, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(s, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(s, '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM synth ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val synth = concat(col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" reach user"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".net"))).otherwise(" no contact"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" cc admin."), col("doc_id").cast("string"),
          lit("@example.org"))).otherwise(""),
      when(col("doc_id") % 2 === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(""))
    Tables.documents(spark, dir)
      .select(col("doc_id"), synth.as("s"))
      .select(col("doc_id"),
        regexp_count(col("s"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("s"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("s"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")).cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Corpus drift detection — total-variation distance between the token
    * distributions of two corpus halves (even vs odd doc_id — in
    * production, yesterday's crawl vs today's). Emitted per token as the
    * INTEGER numerator |c_even·N_odd − c_odd·N_even| (TV distance =
    * Σ numer / (2·N_even·N_odd)), so every value is exact cross-engine
    * integer arithmetic — no floating-point KL/PSI drift. Shape: one
    * token-keyed partial-aggregating shuffle + a broadcast of the two
    * scalar totals; at 100 TB the token vocabulary is the small side by
    * construction.
    */
  val dp2Drift: Q = Q.sql(
    "dp2_drift",
    "Token-distribution drift between even/odd doc halves: integer-exact TV numerators per token.",
    """WITH tok AS (
      |  SELECT doc_id % 2 AS half, UNNEST(string_split(text, ' ')) AS t FROM documents),
      |c AS (
      |  SELECT t AS token,
      |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_even,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_odd
      |  FROM tok GROUP BY t),
      |n AS (SELECT CAST(SUM(c_even) AS BIGINT) AS n_even,
      |             CAST(SUM(c_odd) AS BIGINT) AS n_odd FROM c)
      |SELECT c.token, c.c_even, c.c_odd,
      |  CAST(abs(c.c_even * n.n_odd - c.c_odd * n.n_even) AS BIGINT) AS tv_num,
      |  n.n_even, n.n_odd
      |FROM c, n ORDER BY tv_num DESC, token""".stripMargin) { (spark, dir) =>
    val tok = Tables.documents(spark, dir)
      .select((col("doc_id") % 2).as("half"), explode(words).as("t"))
    val c = tok.groupBy(col("t").as("token"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c_even"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c_odd"))
    val n = c.agg(sum("c_even").as("n_even"), sum("c_odd").as("n_odd"))
    c.crossJoin(broadcast(n))
      .select(col("token"), col("c_even"), col("c_odd"),
        abs(col("c_even") * col("n_odd") - col("c_odd") * col("n_even")).as("tv_num"),
        col("n_even"), col("n_odd"))
      .orderBy(col("tv_num").desc, col("token"))
  }

  /** Per-document bigram predictability against the corpus bigram
    * model — the cheap language-model-ish signal a curation pipeline
    * uses before any neural scorer: documents whose word transitions are
    * corpus-typical (high mean bigram frequency, few hapax transitions)
    * read as fluent/templated; documents full of corpus-unique
    * transitions are either novel or garbled. Two shuffles at any
    * scale: one to build the corpus bigram count table (map-side
    * partials over exploded bigram instances), one to join it back to
    * the instances and re-aggregate per doc. The count table is the
    * n-gram LM table of the corpus; at 100 TB you'd materialize it once
    * and reuse it across scoring runs.
    *
    * Determinism: every emitted number is an integer count or a single
    * division of two integer sums (rounded) — no double reductions, so
    * partitioned and single-threaded evaluation agree exactly.
    */
  val t14BigramStats: Q = Q.sql(
    "t14_bigram_stats",
    "Per-doc bigram predictability vs the corpus bigram table: counts, hapax transitions, mean frequency.",
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS bg
      |  FROM w WHERE len(w) >= 2),
      |ex AS (SELECT doc_id, UNNEST(bg) AS bg FROM b),
      |cnt AS (SELECT bg, COUNT(*) AS c FROM ex GROUP BY bg)
      |SELECT e.doc_id,
      |       COUNT(*) AS n_bigrams,
      |       COUNT(DISTINCT e.bg) AS n_distinct_bigrams,
      |       CAST(SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |       ROUND(CAST(SUM(c.c) AS DOUBLE) / COUNT(*), 6) AS mean_bigram_freq
      |FROM ex e JOIN cnt c ON e.bg = c.bg
      |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin) { (spark, dir) =>
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        slice(col("w"), lit(1), size(col("w")) - 1),
        (x, i) => concat(x, lit(" "), element_at(col("w"), i + 2)))).as("bg"))
      .localCheckpoint() // count build and join probe share ONE explode pass
    val cnt = ex.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    ex.join(cnt, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_distinct_bigrams"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        round(sum(col("c")).cast("double") / count(lit(1)), 6).as("mean_bigram_freq"))
      .orderBy("doc_id")
  }

  /** Zipf profile of the corpus vocabulary: terms ranked globally by
    * frequency, then aggregated per log2-rank bucket (bucket k holds
    * ranks [2^k, 2^(k+1))) — the rank-frequency curve every corpus
    * health check plots, in a form both engines compute EXACTLY: the
    * bucket comes from the rank's binary-string length, never from a
    * floating log2 (log2(2^k) can land a hair under k and floor to the
    * wrong bucket on one engine).
    *
    * Scale shape: the global rank over the TERM table (vocabulary ≪
    * corpus, but still millions of rows at 100 TB) uses the c6
    * two-phase pattern — range-partition on the rank key, local
    * row_number, O(#partitions) offset window — then one aggregate on
    * the bucket. No single-task window anywhere.
    */
  val t15Zipf: Q = Q.sql(
    "t15_zipf",
    "Zipf rank-frequency profile: per log2-rank bucket term counts and frequency mass.",
    """WITH t AS (
      |  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents),
      |f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY term),
      |r AS (
      |  SELECT term, freq,
      |         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      |  FROM f)
      |SELECT CAST(LENGTH(PRINTF('%b', rank)) - 1 AS BIGINT) AS bucket,
      |       COUNT(*) AS n_terms,
      |       CAST(SUM(freq) AS BIGINT) AS total_freq,
      |       MIN(freq) AS min_freq, MAX(freq) AS max_freq
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val f = Tables.documents(spark, dir)
      .select(explode(words).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    // two-phase global rank (see c6): range-partition on the rank key,
    // number locally, add cumulative partition offsets
    val local = f
      .repartitionByRange(col("freq").desc, col("term"))
      .withColumn("pid", spark_partition_id())
      .withColumn("local_rn", row_number().over(
        Window.partitionBy("pid").orderBy(col("freq").desc, col("term"))))
      // pinned against double materialization of the sampled range
      // exchange (see Caliper.c6AttemptSeq)
      .localCheckpoint()
    val offsets = local.groupBy("pid")
      .agg(max("local_rn").as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .withColumn("rank", col("offset") + col("local_rn"))
      // floor(log2(rank)) as binary-string length, integer-exact
      .withColumn("bucket", (length(bin(col("rank"))) - 1).cast("bigint"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("freq")).as("total_freq"),
        min(col("freq")).as("min_freq"), max(col("freq")).as("max_freq"))
      .orderBy("bucket")
  }

  private val BOILER_DF = 5

  /** Cross-document boilerplate profile — the CCNet/RefinedWeb-style
    * screen for template text: a 3-shingle appearing in ≥ [[BOILER_DF]]
    * distinct documents is boilerplate (nav bars, license footers,
    * scraped chrome), and each document reports what fraction of its
    * distinct shingles is boilerplate. Counts are integer-exact; the
    * ratio is one double division + round(6) per document.
    *
    * Distributed shape: reuses the session-persisted shingle index
    * ([[Dedup.shingledDocs]] — the same frame d2/d3/d8/p4 share), so the
    * corpus is NOT re-shingled. Shingle document frequency is one
    * aggregate keyed on the shingle (per-doc lists are distinct, so
    * COUNT(*) = distinct docs — no count-distinct state), the df join
    * back to postings reuses that exchange's partitioning, and the
    * per-doc rollup shuffles on doc_id. At 100 TB the postings frame is
    * the cost, exactly as in the dedup family, and the shingle key would
    * be xxhash64-narrowed as d2's prefix index already does.
    */
  val t16Boilerplate: Q = Q.sql(
    "t16_boilerplate",
    s"Cross-document boilerplate: shingles in >= $BOILER_DF docs, per-doc boilerplate fraction.",
    s"""WITH ${Dedup.shinglesSqlCteWith("", "")},
       |ex AS (SELECT doc_id, UNNEST(s) AS g FROM sh WHERE len(s) > 0),
       |df AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
       |per AS (
       |  SELECT e.doc_id,
       |         COUNT(*) AS n_shingles,
       |         SUM(CASE WHEN d.df >= $BOILER_DF THEN 1 ELSE 0 END) AS n_boiler
       |  FROM ex e JOIN df d ON e.g = d.g GROUP BY e.doc_id)
       |SELECT doc_id, n_shingles, CAST(n_boiler AS BIGINT) AS n_boiler,
       |       ROUND(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_ratio
       |FROM per ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val ex = Dedup.shingledDocs(spark, dir)
      .select(col("doc_id"), explode(col("s")).as("g"))
    val dfreq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= BOILER_DF, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Close the tokenizer-training loop: APPLY the merge table p12 mined
    * ([[Curation.bpeMergeFrame]], the top-40 adjacent char pairs) back to
    * the corpus and measure what the merges bought. Tokenization contract
    * (identical in both engines): each lowercase-alpha word starts as
    * character tokens; one greedy left-to-right pass fuses each
    * non-overlapping adjacent pair found in the merge table (after a
    * fusion the scan resumes past the fused pair — exactly one trainer
    * application round). Emits per-doc char-token and post-merge token
    * counts plus the compression ratio vs the character baseline.
    *
    * Distributed shape: the merge table is 40 rows → collected into ONE
    * broadcast row and cross-joined (a map-side array lookup, no shuffle);
    * the greedy pass is a per-word `aggregate` fold over codegen'd
    * higher-order functions (no UDF); ONE shuffle aggregates per-doc
    * counts. The oracle replicates the fold with DuckDB's `list_reduce`
    * over the same struct state, so greedy tie-behavior is oracle-checked,
    * not just row counts.
    */
  val t17BpeApply: Q = Q.sql(
    "t17_bpe_apply",
    s"Apply p12's top-${Curation.BPE_TOP} BPE merges: per-doc token counts + compression vs char baseline.",
    s"""WITH ${Curation.bpeRankedCte},
       |mg AS (SELECT list(pair) AS mp FROM bpe_ranked WHERE rnk <= ${Curation.BPE_TOP}),
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |  FROM documents),
       |wm AS (
       |  SELECT doc_id, length(w) AS n_chars,
       |         (list_reduce(list_prepend({'m': 0, 'c': 0},
       |            list_transform(range(1, greatest(length(w), 2)), i ->
       |              {'m': CASE WHEN list_contains(mg.mp, substr(w, CAST(i AS INTEGER), 2))
       |                    THEN 1 ELSE 0 END, 'c': 0})),
       |            (s, x) -> {'m': s.m + CASE WHEN x.m = 1 AND s.c = 0 THEN 1 ELSE 0 END,
       |                       'c': CASE WHEN x.m = 1 AND s.c = 0 THEN 1 ELSE 0 END})).m AS n_merges
       |  FROM dw CROSS JOIN mg
       |  WHERE length(w) >= 1),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(n_chars) AS BIGINT) AS n_char_tokens,
       |         CAST(SUM(n_merges) AS BIGINT) AS n_merges
       |  FROM wm GROUP BY doc_id)
       |SELECT d.doc_id,
       |       COALESCE(a.n_char_tokens, 0) AS n_char_tokens,
       |       COALESCE(a.n_char_tokens, 0) - COALESCE(a.n_merges, 0) AS n_bpe_tokens,
       |       COALESCE(a.n_merges, 0) AS n_merges,
       |       CASE WHEN COALESCE(a.n_char_tokens, 0) - COALESCE(a.n_merges, 0) > 0
       |            THEN ROUND(CAST(COALESCE(a.n_char_tokens, 0) AS DOUBLE)
       |                       / (COALESCE(a.n_char_tokens, 0) - COALESCE(a.n_merges, 0)), 6)
       |            END AS compression
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val mp = Curation.bpeMergeFrame(spark, dir)
      .agg(collect_list(col("pair")).as("mp"))
    val dw = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 1)
    // greedy one-pass merge fold, struct state (m = merges so far, c = the
    // previous position was consumed by a fusion) — mirrors the oracle's
    // list_reduce exactly; `greatest(len, 2)` (same guard in the SQL)
    // keeps the position sequence ascending for 1-char words, whose lone
    // "pair" is 1 char — never in the 2-char merge table, so it
    // contributes 0 in both engines
    val matchArr = transform(
      sequence(lit(1), greatest(length(col("w")), lit(2)) - 1),
      i => when(array_contains(col("mp"), col("w").substr(i, lit(2))), 1).otherwise(0))
    val folded = aggregate(matchArr, struct(lit(0).as("m"), lit(0).as("c")),
      (s, x) => struct(
        (s.getField("m") + when(x === 1 && s.getField("c") === 0, 1).otherwise(0)).as("m"),
        when(x === 1 && s.getField("c") === 0, 1).otherwise(0).as("c")),
      s => s.getField("m"))
    val agg0 = dw.crossJoin(broadcast(mp))
      .select(col("doc_id"), length(col("w")).as("n_chars"), folded.as("n_merges"))
      .groupBy("doc_id")
      .agg(sum("n_chars").as("n_char_tokens"), sum("n_merges").as("n_merges"))
    val nChar = coalesce(col("n_char_tokens"), lit(0L))
    val nMerges = coalesce(col("n_merges"), lit(0L))
    val nBpe = nChar - nMerges
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(agg0, Seq("doc_id"), "left")
      .select(col("doc_id"), nChar.as("n_char_tokens"), nBpe.as("n_bpe_tokens"),
        nMerges.as("n_merges"),
        when(nBpe > 0, round(nChar.cast("double") / nBpe, 6)).as("compression"))
      .orderBy("doc_id")
  }

  /** Perplexity-style quality scoring — the standard LLM-curation filter
    * (score each document under a corpus language model; outliers are
    * boilerplate, gibberish, or wrong-language): per-doc cross-entropy
    * under the corpus word-bigram LM with add-one smoothing,
    * P(w2|w1) = (c(w1 w2)+1) / (c1(w1)+V). Composes t14's bigram mining
    * into an actual scoring pass.
    *
    * Engine-exact log arithmetic: ln() differs between libm and the JVM
    * in the last ulp, so logs are never summed as raw doubles. Both
    * numerator and denominator of every probability are INTEGERS, so the
    * per-bigram log-prob is quantized per integer —
    * floor(ln(n)·1e6) as BIGINT — and the doc sum is exact integer
    * arithmetic: Σq(c1+V) − Σq(c+1), divided once at the end. A
    * last-ulp ln disagreement only matters if ln(n)·1e6 sits within
    * ~1e-10 of an integer for some count n in the corpus — checked by
    * the gate itself.
    *
    * Scale shape: bigram and prefix count tables shuffle on their own
    * keys (at 100 TB an LM count table is far too big to broadcast —
    * the score pass is two shuffle equi-joins keyed on bg/w1); V rides
    * a broadcast scalar; one final per-doc aggregate.
    */
  val t18Perplexity: Q = Q.sql(
    "t18_perplexity",
    "Per-doc cross-entropy (integer micro-nats) under the corpus add-one bigram LM.",
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS bg
      |  FROM w WHERE len(w) >= 2),
      |e2 AS (
      |  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1
      |  FROM (SELECT doc_id, UNNEST(bg) AS bg FROM b)),
      |cnt AS (SELECT bg, COUNT(*) AS c FROM e2 GROUP BY bg),
      |uni AS (SELECT w1, COUNT(*) AS c1 FROM e2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT t) AS v
      |      FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)),
      |sc AS (
      |  SELECT e.doc_id,
      |         CAST(FLOOR(ln(u.c1 + v.v) * 1000000.0) AS BIGINT)
      |           - CAST(FLOOR(ln(c.c + 1) * 1000000.0) AS BIGINT) AS q
      |  FROM e2 e JOIN cnt c USING (bg) JOIN uni u USING (w1) CROSS JOIN v),
      |agg AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS qs FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(a.n, 0) AS n_bigrams,
      |       a.qs AS q_total,
      |       CASE WHEN a.n > 0 THEN a.qs // a.n END AS ce_micronats
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        slice(col("w"), lit(1), size(col("w")) - 1),
        (x, i) => concat(x, lit(" "), element_at(col("w"), i + 2)))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cnt = ex.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val uni = ex.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = Tables.documents(spark, dir)
      .select(explode(words).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    def qlog(x: Column): Column = floor(log(x.cast("double")) * 1e6).cast("long")
    val agg0 = ex.join(cnt, "bg").join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), (qlog(col("c1") + col("v")) - qlog(col("c") + 1)).as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qs"))
    // the score stays in exact integers end-to-end (micro-nats per
    // bigram): a rounded-double score hit an exact .5 boundary at 6dp
    // during the sf1 sweep, where the engines' ROUND disagree — integer
    // floor-division has no such seam
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(agg0, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n_bigrams"),
        col("qs").as("q_total"),
        when(col("n") > 0, expr("qs div n")).as("ce_micronats"))
      .orderBy("doc_id")
  }

  private val CLF_BUCKETS = 4096
  private val CLF_WRANGE = 2001 // weights in [-1000, 1000]

  /** Hashed-feature linear classifier scoring — the model-based quality
    * filter every LLM corpus pipeline runs (fastText-style: hash each
    * word bigram into a fixed feature table, sum the weights, threshold).
    * The "trained" weight table is a deterministic function of the
    * feature bucket (md5-derived, [[CLF_BUCKETS]] buckets, integer
    * weights in ±([[CLF_WRANGE]]−1)/2) so both engines hold byte-identical
    * parameters without shipping a model file; scoring is the real
    * inference dataflow — tokenize → hash → table lookup → integer
    * accumulate — and at 100 TB it is one embarrassingly parallel map
    * stage (the weight "table" rides inside the expression; a learned
    * table would be a broadcast join on the bucket id, same shape as
    * t17's merge-table join).
    *
    * Integer score accumulation (no float reduction) keeps the verdict
    * bit-identical across engines; docs with <2 words keep score 0 and
    * pass — the production default of not filtering on absent evidence.
    */
  val t19ClassifierScore: Q = Q.sql(
    "t19_classifier_score",
    "Hashed-bigram linear classifier quality score per document (integer weights, keep/drop verdict).",
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |         ('0x' || substring(md5(ws[i.i] || '_' || ws[i.i + 1]), 1, 7))::BIGINT
       |           % $CLF_BUCKETS AS h
       |  FROM w, UNNEST(range(1, len(ws))) AS i(i)),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_features,
       |         SUM(h % $CLF_WRANGE - ${(CLF_WRANGE - 1) / 2}) AS score
       |  FROM bg GROUP BY doc_id)
       |SELECT d.doc_id,
       |       COALESCE(sc.n_features, 0) AS n_features,
       |       CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
       |       CASE WHEN COALESCE(sc.score, 0) >= 0 THEN 'keep' ELSE 'drop' END
       |         AS verdict
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val ws = split(lower(col("text")), " ")
    val bigrams = when(size(col("ws")) >= 2,
      expr("transform(sequence(0, size(ws) - 2), " +
        "i -> concat(element_at(ws, i + 1), '_', element_at(ws, i + 2)))"))
      .otherwise(array().cast("array<string>"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), explode_outer(bigrams).as("bg"))
      .select(col("doc_id"),
        when(col("bg").isNotNull,
          pmod(DetHash.md5Long28(col("bg")), lit(CLF_BUCKETS))).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_features"),
        coalesce(sum(col("h") % CLF_WRANGE - (CLF_WRANGE - 1) / 2), lit(0L))
          .as("score"))
    scored.select(col("doc_id"), col("n_features"), col("score"),
        when(col("score") >= 0, "keep").otherwise("drop").as("verdict"))
      .orderBy("doc_id")
  }

  /** Gopher-style rule-bundle quality gate (Rae et al. 2021's repetition/
    * length/symbol filters, adapted to the fixture vocabulary): five
    * named boolean rules — token-count window, mean-word-length window,
    * distinct-token ratio, stopword presence, single-token dominance —
    * each reported individually plus the conjunction, so a curation run
    * can audit WHICH rule dropped a document (the practical difference
    * from t2's scalar score). Every rule compares integers via
    * cross-multiplication (`7·n ≤ 2·Σlen ≤ 9·n` instead of a double mean
    * in [3.5,4.5]) — zero float arithmetic, so the verdicts are
    * bit-identical in any engine. Per-row map stage over the corpus
    * (array ops inside whole-stage codegen, no explode, no shuffle
    * before the gate sort): at 100 TB this is embarrassingly parallel,
    * the same shape as the reference's row-local parse/filter passes
    * (`etl.js:50-79`). max_tf is O(distinct·n) per row on a ≤1k-token
    * doc — bounded work per row, never a join.
    */
  /** t20's five-rule stat frame (doc_id, n_tokens, sum_len, n_distinct,
    * n_stop, max_tf) — one split, all rule inputs off the shared array.
    * Shared by t20's report and p15's gate stage so the two cannot drift.
    */
  private[ops] def gopherStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        aggregate(col("w"), lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        stopHits(col("w"), enStops).cast("long").as("n_stop"),
        array_max(transform(array_distinct(col("w")),
          t => size(filter(col("w"), x => x === t)))).cast("long").as("max_tf"))

  /** The five t20 rule predicates, in t20's emission order, over
    * [[gopherStats]] columns — all-integer arithmetic, engine-exact.
    */
  private[ops] def gopherRules: Seq[Column] = Seq(
    col("n_tokens").between(30L, 1000L),
    lit(7L) * col("n_tokens") <= lit(2L) * col("sum_len") &&
      lit(2L) * col("sum_len") <= lit(9L) * col("n_tokens"),
    lit(2L) * col("n_distinct") >= col("n_tokens"),
    col("n_stop") >= 2L,
    lit(8L) * col("max_tf") <= col("n_tokens"))

  val t20GopherRules: Q = Q.sql(
    "t20_gopher_rules",
    "Gopher-style 5-rule quality gate: per-rule booleans + conjunction, all-integer arithmetic.",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    string_split(text, ' ') AS w
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sum_len,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(w, t -> t IN ${inList(enStops)})) AS BIGINT) AS n_stop,
       |    CAST(list_max(list_transform(list_distinct(w),
       |      t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS max_tf
       |  FROM m)
       |SELECT doc_id, n_tokens, sum_len, n_distinct, n_stop, max_tf,
       |  CAST(CASE WHEN n_tokens BETWEEN 30 AND 1000 THEN 1 ELSE 0 END AS BIGINT) AS r_len,
       |  CAST(CASE WHEN 7 * n_tokens <= 2 * sum_len AND 2 * sum_len <= 9 * n_tokens THEN 1 ELSE 0 END AS BIGINT) AS r_mean_len,
       |  CAST(CASE WHEN 2 * n_distinct >= n_tokens THEN 1 ELSE 0 END AS BIGINT) AS r_distinct,
       |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
       |  CAST(CASE WHEN 8 * max_tf <= n_tokens THEN 1 ELSE 0 END AS BIGINT) AS r_dominance,
       |  CAST(CASE WHEN n_tokens BETWEEN 30 AND 1000
       |         AND 7 * n_tokens <= 2 * sum_len AND 2 * sum_len <= 9 * n_tokens
       |         AND 2 * n_distinct >= n_tokens
       |         AND n_stop >= 2
       |         AND 8 * max_tf <= n_tokens THEN 1 ELSE 0 END AS BIGINT) AS passes
       |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    val stats = gopherStats(spark, dir)
    val Seq(rLen, rMean, rDistinct, rStop, rDom) = gopherRules
    stats.select(col("doc_id"), col("n_tokens"), col("sum_len"),
        col("n_distinct"), col("n_stop"), col("max_tf"),
        flag(rLen).as("r_len"), flag(rMean).as("r_mean_len"),
        flag(rDistinct).as("r_distinct"), flag(rStop).as("r_stop"),
        flag(rDom).as("r_dominance"),
        flag(rLen && rMean && rDistinct && rStop && rDom).as("passes"))
      .orderBy("doc_id")
  }

  /** Pseudo-sentence length for readability when the corpus has no
    * sentence punctuation (the fixture is period-free): a fixed 16-token
    * segmentation, the convention a token-stream readability pass uses.
    */
  private val SENT_LEN = 16

  /** Readability scoring (Flesch–Kincaid grade, Gunning-fog inputs) with
    * engine-exact integer arithmetic — the document-difficulty feature a
    * curriculum/quality pipeline computes per doc (t2 scores surface
    * quality; this scores LINGUISTIC complexity). Syllables are
    * approximated as maximal vowel runs (`[aeiou]+` non-overlapping
    * matches, min 1/word — the standard heuristic); complex words have
    * ≥3 runs; sentences are fixed [[SENT_LEN]]-token segments (corpus
    * has no punctuation — documented convention, identical both sides).
    * Every reported ratio is a floor-divided ppm of all-positive
    * integers and the FK grade is a sum of two floor-divided micro-unit
    * terms minus an integer constant — no float division anywhere, so
    * the scores are bit-identical in any engine (the dp13 rule).
    *
    * Scale shape: pure per-row map stage (regexp + array fold inside
    * whole-stage codegen), no shuffle before the gate sort —
    * embarrassingly parallel at 100 TB like the reference's row-local
    * passes.
    */
  val t21Readability: Q = Q.sql(
    "t21_readability",
    "Flesch-Kincaid readability per doc: vowel-run syllables, 16-token pseudo-sentences, all-integer ppm/micro scores.",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_tokens,
       |    CAST((len(ws) + ${SENT_LEN - 1}) // $SENT_LEN AS BIGINT) AS n_sent,
       |    CAST(list_sum(list_transform(ws,
       |      t -> GREATEST(1, len(regexp_extract_all(t, '[aeiou]+'))))) AS BIGINT) AS n_syll,
       |    CAST(len(list_filter(ws,
       |      t -> len(regexp_extract_all(t, '[aeiou]+')) >= 3)) AS BIGINT) AS n_complex
       |  FROM d)
       |SELECT doc_id, n_tokens, n_sent, n_syll, n_complex,
       |  CAST((1000000 * n_tokens) // n_sent AS BIGINT) AS asl_ppm,
       |  CAST((1000000 * n_syll) // n_tokens AS BIGINT) AS spw_ppm,
       |  CAST((1000000 * n_complex) // n_tokens AS BIGINT) AS complex_ppm,
       |  CAST((390000 * n_tokens) // n_sent
       |       + (11800000 * n_syll) // n_tokens - 15590000 AS BIGINT) AS fk_micro
       |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val syl = (t: Column) =>
      greatest(lit(1), size(regexp_extract_all(t, lit("[aeiou]+"), lit(0))))
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        aggregate(col("ws"), lit(0L), (acc, t) => acc + syl(t)).as("n_syll"),
        size(filter(col("ws"),
          t => size(regexp_extract_all(t, lit("[aeiou]+"), lit(0))) >= 3))
          .cast("long").as("n_complex"))
      // ceil via (n + L - 1) DIV L on integers — a double division would
      // round, not floor, at the cast
      .withColumn("n_sent", expr(s"(n_tokens + ${SENT_LEN - 1}) DIV $SENT_LEN"))
    stats.select(col("doc_id"), col("n_tokens"), col("n_sent"),
        col("n_syll"), col("n_complex"),
        expr("(1000000 * n_tokens) DIV n_sent").as("asl_ppm"),
        expr("(1000000 * n_syll) DIV n_tokens").as("spw_ppm"),
        expr("(1000000 * n_complex) DIV n_tokens").as("complex_ppm"),
        expr("(390000 * n_tokens) DIV n_sent" +
          " + (11800000 * n_syll) DIV n_tokens - 15590000").as("fk_micro"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(t1LangId, t2Quality, t3TokenStats, t4Fingerprint,
    t5BpeTokens, t6HeavyHitters, t7Normalize, t8DistinctiveTerms,
    t9Repetition, t10Commonness, t11TfidfCosine, t12Chunk, t13PiiRedact,
    t14BigramStats, t15Zipf, t16Boilerplate, t17BpeApply, t18Perplexity,
    dp2Drift, t19ClassifierScore, t20GopherRules, t21Readability)
}
