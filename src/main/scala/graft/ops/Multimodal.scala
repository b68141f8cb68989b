package graft.ops

import graft.{Q, Tables}
import graft.functions.DetHash
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata structs; decode /
  * feature-extraction runs batched per partition (`mapPartitions` on a
  * typed Dataset — the Scala analog of arrow-batched pandas UDFs).
  *
  * The codec path is REAL: image assets are genuine BMP files encoded
  * and decoded with `javax.imageio` (pure JVM, headless-safe), video
  * assets are containers of concatenated BMP frames split by the BMP
  * header's little-endian size field, audio assets are raw 8-bit PCM.
  * Payload CONTENT is deterministic (pixel/sample values are closed-form
  * in doc_id/position), so the DuckDB oracles derive expected dimensions,
  * byte sizes, and channel sums from the formulas alone — a decoder that
  * returned garbage would hash-mismatch every gate row, which makes the
  * gate a true encode→decode roundtrip proof, not a schema check.
  */
object Multimodal {

  /** Typed media row: payload + metadata struct. */
  final case class MediaMeta(mediaType: String, nBytes: Long, width: Int,
      height: Int, frames: Int)
  final case class MediaAsset(doc_id: Long, content: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(doc_id: Long, mediaType: String, nBytes: Long,
      meanByte: Double, featureDim: Int)
  final case class ImageStats(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)
  final case class FrameMean(doc_id: Long, frame_idx: Long, frame_mean: Double)

  // ---- deterministic payload geometry (the oracles replicate these) ----

  private def ceil4(x: Int): Int = (x + 3) / 4 * 4
  private val BMP_HEADER = 54

  /** ImageIO's 24-bit BI_RGB BMP size: 54-byte header + 4-aligned rows
    * (verified against the JDK encoder for a grid of w×h).
    */
  private[ops] def bmpSize(w: Int, h: Int): Int = BMP_HEADER + h * ceil4(3 * w)

  private[ops] def imageW(id: Long): Int = 8 + (id % 16).toInt
  private[ops] def imageH(id: Long): Int = 8 + (id % 8).toInt
  private[ops] val VF_SIDE = 8
  private[ops] val VF_BYTES: Int = bmpSize(VF_SIDE, VF_SIDE)

  // pixel / sample formulas — mirrored verbatim in the oracle SQL
  private def imgRgb(id: Long)(x: Int, y: Int): Int = {
    val r = ((id + 7L * x + 13L * y) % 256).toInt
    val g = ((3L * id + 5L * x + 11L * y) % 256).toInt
    val b = ((id + x.toLong * y) % 256).toInt
    (r << 16) | (g << 8) | b
  }
  private def vidRgb(id: Long, f: Int)(x: Int, y: Int): Int = {
    val r = ((id + f + 7L * x + 13L * y) % 256).toInt
    val g = ((3L * id + 2L * f + 5L * x + 11L * y) % 256).toInt
    val b = ((id + f + x.toLong * y) % 256).toInt
    (r << 16) | (g << 8) | b
  }
  private def audioLen(nChars: Long): Int = 64 + (nChars % 64).toInt
  private def audioSample(id: Long, i: Int): Int = ((id * 31 + i * 17L) % 256).toInt

  /** Canonical 24-bit BI_RGB BMP writer (54-byte header, bottom-up BGR
    * rows padded to 4) — byte-layout-identical to the JDK encoder's
    * output and ~10× faster than going through the ImageIO plugin per
    * asset (measured: the encode pass dominated the staged-asset build
    * at sf1). Decode stays `ImageIO.read` — the real-codec claim the
    * m3/m4/m7 gates verify is about the READ path, and they fail on any
    * layout slip here.
    */
  private def encodeBmp(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = ceil4(3 * w)
    val size = BMP_HEADER + h * rowBytes
    val b = new Array[Byte](size)
    def put32(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >>> 24).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    put32(2, size); put32(10, BMP_HEADER)
    put32(14, 40) // BITMAPINFOHEADER
    put32(18, w); put32(22, h)
    put16(26, 1) // planes
    put16(28, 24) // bpp
    put32(30, 0) // BI_RGB
    put32(34, h * rowBytes)
    var y = 0
    while (y < h) {
      val rowOff = BMP_HEADER + (h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val p = rgb(x, y)
        val o = rowOff + 3 * x
        b(o) = (p & 0xff).toByte
        b(o + 1) = ((p >> 8) & 0xff).toByte
        b(o + 2) = ((p >> 16) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    b
  }

  /** One BMP ImageReader per executor thread: `ImageIO.read` scans the
    * reader registry, allocates a fresh reader AND (with the default
    * `useCache=true`) backs the input stream with a TEMP FILE on disk —
    * per call. For this family's tiny frames (8–32 px sides) that setup
    * dominated the decode: m4 at sf100 spends ~80µs per `ImageIO.read`
    * against ~[w·h·0.1µs] of pixel work. Reusing the reader with an
    * in-memory stream is still the real ImageIO BMP codec — same reader
    * class, same `read(0)` entry point `ImageIO.read` itself calls, so
    * decoded values are bit-identical (m7's exact channel-sum oracle and
    * m10's diff hashes guard that).
    */
  private val bmpReaderTl = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("bmp")
      require(it.hasNext, "no ImageIO BMP reader installed")
      it.next()
    }
  }

  private def decodeBmp(bytes: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
    val r = bmpReaderTl.get()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes, off, len))
    try { r.setInput(iis); r.read(0) } finally { iis.close() }
  }

  /** The decoded image's pixels as ONE bulk sRGB int array (row-major,
    * `getRGB(0,0,w,h,null,0,w)` — specified identical values to per-pixel
    * `getRGB(x,y)`, minus the per-call bounds/color-model dispatch that
    * made full-image walks ~4× slower).
    */
  private def rgbAll(img: java.awt.image.BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  /** Split a video container: each member is a BMP whose length sits in
    * the standard little-endian size field at offset 2 — real container
    * parsing, no out-of-band frame table.
    */
  private def frameOffsets(content: Array[Byte]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var off = 0
    while (off < content.length) {
      require(content(off) == 'B' && content(off + 1) == 'M', s"not a BMP member at $off")
      val len = (content(off + 2) & 0xff) | ((content(off + 3) & 0xff) << 8) |
        ((content(off + 4) & 0xff) << 16) | ((content(off + 5) & 0xff) << 24)
      out += ((off, len))
      off += len
    }
    out.result()
  }

  private val assetsCache = Pin.Shared.pinned[String, Dataset[MediaAsset]]

  /** documents → binary assets with typed metadata (the ingest edge: in
    * production `content` would come off object storage). Image payloads
    * are real ImageIO-encoded BMPs, video payloads concatenate one BMP
    * per frame, audio payloads are raw 8-bit PCM — all with closed-form
    * content the oracles re-derive. Persisted once per (session,
    * dataset): four gate queries (m1/m3/m4/m7) read the asset table, and
    * the ImageIO encode pass is by far its dominant cost — at 100 TB
    * this is the staged media table every consumer reads, written once.
    */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] =
    assetsCache(spark, dir)(assetsFrom(Tables.documents(spark, dir)))

  /** Asset construction over an arbitrary (possibly pre-filtered)
    * documents frame. Filters that can be expressed on the source
    * columns belong BEFORE this map: the typed encode copies each
    * payload, and nothing pushes below an object-serialization boundary.
    */
  def assetsFrom(docs: org.apache.spark.sql.DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { batch =>
        batch.map { case (id, nChars) =>
          id % 3 match {
            case 0 =>
              val (w, h) = (imageW(id), imageH(id))
              val content = encodeBmp(w, h, imgRgb(id))
              MediaAsset(id, content, MediaMeta("image", content.length.toLong, w, h, 1))
            case 1 =>
              val n = audioLen(nChars)
              val content = Array.tabulate(n)(i => audioSample(id, i).toByte)
              MediaAsset(id, content, MediaMeta("audio", n.toLong, n, 1, 1))
            case _ =>
              val frames = (nChars % 24).toInt + 1
              val bos = new java.io.ByteArrayOutputStream()
              var f = 0
              while (f < frames) {
                bos.write(encodeBmp(VF_SIDE, VF_SIDE, vidRgb(id, f)))
                f += 1
              }
              val content = bos.toByteArray
              MediaAsset(id, content,
                MediaMeta("video", content.length.toLong, VF_SIDE, VF_SIDE, frames))
          }
        }
      }
  }

  /** Partition-batched decode / feature-extract — the REAL codec path:
    * images and video frames go through `ImageIO.read`, audio through
    * the raw-PCM parse. Per-asset mean sample value (channel values for
    * raster types, 8-bit samples for audio) + the channel count as the
    * feature dim.
    */
  def decode(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      // per-partition setup (codec init) happens here, once
      batch.map { a =>
        a.meta.mediaType match {
          case "image" =>
            val img = decodeBmp(a.content, 0, a.content.length)
            val (w, h) = (img.getWidth, img.getHeight)
            val px = rgbAll(img)
            var sum = 0L
            var i = 0
            while (i < px.length) {
              val p = px(i)
              sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              i += 1
            }
            MediaFeatures(a.doc_id, "image", a.meta.nBytes,
              sum.toDouble / (3.0 * w * h), featureDim = 3)
          case "audio" =>
            val sum = a.content.foldLeft(0L)((s, b) => s + (b & 0xff))
            MediaFeatures(a.doc_id, "audio", a.meta.nBytes,
              sum.toDouble / a.content.length, featureDim = 1)
          case _ =>
            var sum = 0L
            var px = 0L
            frameOffsets(a.content).foreach { case (off, len) =>
              val img = decodeBmp(a.content, off, len)
              val arr = rgbAll(img)
              var i = 0
              while (i < arr.length) {
                val p = arr(i)
                sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                i += 1
              }
              px += arr.length.toLong
            }
            MediaFeatures(a.doc_id, "video", a.meta.nBytes,
              sum.toDouble / (3.0 * px), featureDim = 3)
        }
      }
    }
  }

  /** Resize image assets to fit `maxSide`, for real: decode, scale with
    * deterministic nearest-neighbor sampling, re-encode. Non-image
    * payloads pass through untouched (a production pipeline resizes
    * frames at decode time).
    */
  def resize(assets: Dataset[MediaAsset], maxSide: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.map { a =>
        val scale = maxSide.toDouble / math.max(a.meta.width, a.meta.height)
        if (a.meta.mediaType != "image" || scale >= 1.0) a
        else {
          val img = decodeBmp(a.content, 0, a.content.length)
          val tw = math.max(1, (a.meta.width * scale).toInt)
          val th = math.max(1, (a.meta.height * scale).toInt)
          val content = encodeBmp(tw, th, (x, y) =>
            img.getRGB(x * a.meta.width / tw, y * a.meta.height / th))
          MediaAsset(a.doc_id, content,
            a.meta.copy(nBytes = content.length.toLong, width = tw, height = th))
        }
      }
    }
  }

  /** Frame sampling for video assets, decode included: every k-th frame
    * is split out of the container and ImageIO-decoded; emits the
    * frame's mean channel value. Non-video assets yield no rows.
    */
  def sampleFrames(assets: Dataset[MediaAsset], everyK: Int): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .filter(_.meta.mediaType == "video")
      .mapPartitions { batch =>
        batch.flatMap { a =>
          frameOffsets(a.content).zipWithIndex.collect {
            case ((off, len), idx) if idx % everyK == 0 =>
              val img = decodeBmp(a.content, off, len)
              val arr = rgbAll(img)
              var sum = 0L
              var i = 0
              while (i < arr.length) {
                val p = arr(i)
                sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                i += 1
              }
              FrameMean(a.doc_id, idx.toLong,
                sum.toDouble / (3.0 * arr.length))
          }
        }
      }
      .toDF()
  }

  /** Oracle-checked ingest gate: the REAL encoded payloads' metadata.
    * `n_bytes` is `octet_length` of the actual ImageIO/PCM/container
    * bytes; the oracle re-derives every value closed-form (the BMP size
    * formula included), so an encoder drift of a single byte fails the
    * gate. Map stage over the typed encode; nothing shuffles.
    */
  val m1Meta: Q = Q.sql(
    "m1_multimodal_meta",
    "Real encoded-payload metadata: octet length (BMP/PCM/container formulas), dims, frames.",
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image'
       |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  CASE WHEN doc_id % 3 = 0
       |         THEN 54 + (8 + doc_id % 8) * ((3 * (8 + doc_id % 16) + 3) // 4 * 4)
       |       WHEN doc_id % 3 = 1 THEN 64 + n_chars % 64
       |       ELSE (n_chars % 24 + 1) * $VF_BYTES END AS n_bytes,
       |  CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 16
       |       WHEN doc_id % 3 = 1 THEN 64 + n_chars % 64
       |       ELSE $VF_SIDE END AS width,
       |  CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 8
       |       WHEN doc_id % 3 = 1 THEN 1 ELSE $VF_SIDE END AS height,
       |  CASE WHEN doc_id % 3 = 2 THEN n_chars % 24 + 1 ELSE 1 END AS frames
       |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    assets(spark, dir).toDF()
      .select(col("doc_id"),
        col("meta.mediaType").as("media_type"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.frames").cast("long").as("frames"))
      .orderBy("doc_id")
  }

  /** Byte-level payload statistics — the honest (codec-free) half of
    * media feature extraction: a byte histogram per asset yields the
    * distinct-byte count, the modal byte frequency, and the index of
    * coincidence (Σ c·(c−1) / n·(n−1) — high for structured/text
    * payloads, ~1/256 for compressed/encrypted ones), the standard
    * cheap screen for "is this blob already compressed". All integer
    * counting plus one exact-rational division per stat, so every engine
    * agrees bit-for-bit; two shuffles, both keyed on doc_id.
    */
  val m2PayloadStats: Q = Q.sql(
    "m2_payload_stats",
    "Byte-histogram payload stats: distinct bytes, modal ratio, index of coincidence.",
    """WITH b AS (
      |  SELECT doc_id, UNNEST(regexp_extract_all(hex(encode(text)), '[0-9A-F]{2}')) AS byte
      |  FROM documents WHERE length(text) > 0),
      |c AS (SELECT doc_id, byte, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
      |s AS (SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS distinct_bytes,
      |             MAX(cnt) AS maxc, SUM(cnt * (cnt - 1)) AS coll
      |      FROM c GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, distinct_bytes,
      |  ROUND(CAST(maxc AS DOUBLE) / n, 6) AS max_byte_ratio,
      |  CASE WHEN n > 1 THEN ROUND(CAST(coll AS DOUBLE) / (n * (n - 1)), 6)
      |       ELSE CAST(0.0 AS DOUBLE) END AS ioc
      |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.functions.GraftExpressions.register(spark)
    Tables.documents(spark, dir)
      // empty/null docs are excluded on BOTH sides: the oracle's
      // hex/UNNEST formulation drops them implicitly (no bytes, no rows)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.byteHist(col("text").cast("binary")).as("h"))
      .select(col("doc_id"), col("h.n").as("n_bytes"),
        col("h.distinct").as("distinct_bytes"),
        round(col("h.maxc").cast("double") / col("h.n"), 6).as("max_byte_ratio"),
        when(col("h.n") > 1,
          round(col("h.coll").cast("double") / (col("h.n") * (col("h.n") - 1)), 6))
          .otherwise(lit(0.0)).as("ioc"))
      .orderBy("doc_id")
  }

  /** Per-media-type rollup of DECODED features through the typed path:
    * `assets → mapPartitions decode (real codecs) → groupByKey(mediaType)
    * → custom typed Aggregator` — the object-serialized Dataset surface
    * under the oracle gate (m1/m7 gate the encode, this gates
    * `KeyValueGroupedDataset.agg` with mergeable partial state OVER the
    * decoded pixels/samples). The oracle re-derives every asset's mean
    * channel/sample value from the closed-form payload formulas, so the
    * whole encode→ImageIO-decode→aggregate chain is pinned end-to-end.
    * Mean-of-means uses the s4 fixed-point quantization — exact integer
    * partials, one final division.
    */
  val m4TypedRollup: Q = Q.sql(
    "m4_typed_feature_rollup",
    "Typed-Aggregator rollup of ImageIO-decoded features per media type (count, bytes, mean channel value).",
    s"""WITH px AS (
       |  SELECT doc_id,
       |    SUM((doc_id + 7 * x.x + 13 * y.y) % 256
       |        + (3 * doc_id + 5 * x.x + 11 * y.y) % 256
       |        + (doc_id + x.x * y.y) % 256) AS s,
       |    COUNT(*) AS npx
       |  FROM documents,
       |       UNNEST(range(0, 8 + doc_id % 16)) AS x(x),
       |       UNNEST(range(0, 8 + doc_id % 8)) AS y(y)
       |  WHERE doc_id % 3 = 0 GROUP BY doc_id),
       |au AS (
       |  SELECT doc_id, SUM((doc_id * 31 + i.i * 17) % 256) AS s, COUNT(*) AS n
       |  FROM documents, UNNEST(range(0, 64 + n_chars % 64)) AS i(i)
       |  WHERE doc_id % 3 = 1 GROUP BY doc_id),
       |vx AS (
       |  SELECT doc_id,
       |    SUM((doc_id + f.f + 7 * x.x + 13 * y.y) % 256
       |        + (3 * doc_id + 2 * f.f + 5 * x.x + 11 * y.y) % 256
       |        + (doc_id + f.f + x.x * y.y) % 256) AS s,
       |    COUNT(*) AS npx
       |  FROM documents,
       |       UNNEST(range(0, n_chars % 24 + 1)) AS f(f),
       |       UNNEST(range(0, $VF_SIDE)) AS x(x),
       |       UNNEST(range(0, $VF_SIDE)) AS y(y)
       |  WHERE doc_id % 3 = 2 GROUP BY doc_id),
       |feat AS (
       |  SELECT d.doc_id, 'image' AS media_type,
       |         54 + (8 + d.doc_id % 8) * ((3 * (8 + d.doc_id % 16) + 3) // 4 * 4) AS n_bytes,
       |         CAST(p.s AS DOUBLE) / (3 * p.npx) AS mean_val
       |  FROM documents d JOIN px p USING (doc_id)
       |  UNION ALL
       |  SELECT d.doc_id, 'audio', 64 + d.n_chars % 64, CAST(a.s AS DOUBLE) / a.n
       |  FROM documents d JOIN au a USING (doc_id)
       |  UNION ALL
       |  SELECT d.doc_id, 'video', (d.n_chars % 24 + 1) * $VF_BYTES,
       |         CAST(v.s AS DOUBLE) / (3 * v.npx)
       |  FROM documents d JOIN vx v USING (doc_id))
       |SELECT media_type, COUNT(*) AS n_assets,
       |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       |  CAST(SUM(CAST(FLOOR(mean_val * 10000000.0) AS BIGINT)) AS DOUBLE)
       |    / 10000000.0 / COUNT(*) AS mean_mean_byte
       |FROM feat GROUP BY 1 ORDER BY media_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    decode(assets(spark, dir))
      .groupByKey(_.mediaType)
      .agg(graft.functions.FeatureRollup().toColumn.name("r"))
      .select(col("key").as("media_type"),
        col("r._1").as("n_assets"), col("r._2").as("sum_bytes"),
        col("r._3").as("mean_mean_byte"))
      .orderBy("media_type")
  }

  /** Frame sampling under the gate: every 4th frame of each video asset
    * is split out of the real container (BMP size fields) and
    * ImageIO-decoded; the emitted per-frame mean channel value is
    * oracle-checked against the closed-form pixel formula — a decode
    * that read the wrong frame, or bytes instead of pixels, fails the
    * hash. The video predicate is applied to the SOURCE frame, before
    * the typed asset map copies any payload bytes — nothing pushes
    * below an object-serialization boundary on its own.
    */
  val m3FrameSample: Q = Q.sql(
    "m3_frame_sample",
    "Every-4th-frame sampling of video assets, ImageIO-decoded: per-frame mean channel value.",
    s"""WITH fr AS (
       |  SELECT doc_id, f.f AS frame_idx,
       |    SUM((doc_id + f.f + 7 * x.x + 13 * y.y) % 256
       |        + (3 * doc_id + 2 * f.f + 5 * x.x + 11 * y.y) % 256
       |        + (doc_id + f.f + x.x * y.y) % 256) AS s
       |  FROM documents,
       |       UNNEST(range(0, n_chars % 24 + 1)) AS f(f),
       |       UNNEST(range(0, $VF_SIDE)) AS x(x),
       |       UNNEST(range(0, $VF_SIDE)) AS y(y)
       |  WHERE doc_id % 3 = 2 AND f.f % 4 = 0
       |  GROUP BY 1, 2)
       |SELECT doc_id, frame_idx,
       |       CAST(s AS DOUBLE) / ${3 * VF_SIDE * VF_SIDE} AS frame_mean
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (spark, dir) =>
    // reads the persisted asset table (sampleFrames keeps only videos);
    // the mediaType filter runs on cached typed rows, not a re-encode
    sampleFrames(assets(spark, dir), everyK = 4)
      .select(col("doc_id"), col("frame_idx"), col("frame_mean"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The image-decode gate: per-asset decoded dimensions and EXACT
    * per-channel pixel sums out of `ImageIO.read`, hash-compared to the
    * oracle's closed-form sums — the strongest single-query statement
    * that the codec path really decodes what the encoder wrote (any
    * channel swap, row-padding slip, or off-by-one fails). Pure
    * mapPartitions over the image subset; no shuffle.
    */
  val m7ImageDecode: Q = Q.sql(
    "m7_image_decode",
    "ImageIO decode roundtrip: per-image dims + exact RGB channel sums vs closed-form oracle.",
    """SELECT doc_id,
      |  8 + doc_id % 16 AS width,
      |  8 + doc_id % 8 AS height,
      |  CAST(SUM((doc_id + 7 * x.x + 13 * y.y) % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((3 * doc_id + 5 * x.x + 11 * y.y) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((doc_id + x.x * y.y) % 256) AS BIGINT) AS sum_b
      |FROM documents,
      |     UNNEST(range(0, 8 + doc_id % 16)) AS x(x),
      |     UNNEST(range(0, 8 + doc_id % 8)) AS y(y)
      |WHERE doc_id % 3 = 0
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    assets(spark, dir)
      .filter(_.meta.mediaType == "image")
      .mapPartitions { batch =>
        batch.map { a =>
          val img = decodeBmp(a.content, 0, a.content.length)
          val arr = rgbAll(img)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < arr.length) {
            val p = arr(i)
            sr += (p >> 16) & 0xff
            sg += (p >> 8) & 0xff
            sb += p & 0xff
            i += 1
          }
          ImageStats(a.doc_id, img.getWidth, img.getHeight, sr, sg, sb)
        }
      }
      .toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id")
  }

  private val SHARD_BYTES = 4096
  private val SHARDS = 8

  /** WebDataset-style shard manifest — the multimodal batch-construction
    * step: assets are deterministically shuffled (md5 order — training
    * wants decorrelated neighbors), split across [[SHARDS]] hash shards,
    * and packed into [[SHARD_BYTES]]-byte archive members with byte
    * offsets. Byte-budget twin of `p6_sequence_pack`'s token budget: one
    * shuffle on the shard key + a per-shard cumulative-sum window; shard
    * count is the free parallelism knob at 100 TB (shards are
    * independent by construction), and the emitted (pack_id, offset)
    * pairs ARE the tar-member layout a writer needs.
    */
  /** Shared oracle CTE chain for the m5 shard/pack assignment — m15's
    * loader schedule derives from the same `c` frame, so the two oracles
    * cannot drift.
    */
  private val packSqlCtes: String =
    s"""a AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % $SHARDS AS shard,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, n_bytes,
       |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS seq,
       |    SUM(n_bytes) OVER (PARTITION BY shard ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM a)""".stripMargin

  val m5ShardPack: Q = Q.sql(
    "m5_shard_pack",
    s"Shard manifest: md5-shuffled assets packed into $SHARD_BYTES-byte members across $SHARDS shards.",
    s"""WITH $packSqlCtes
       |SELECT doc_id, shard, CAST(seq AS BIGINT) AS seq,
       |  CAST(n_bytes AS BIGINT) AS n_bytes,
       |  CAST((cum - n_bytes) // $SHARD_BYTES AS BIGINT) AS pack_id,
       |  CAST((cum - n_bytes) % $SHARD_BYTES AS BIGINT) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    shardPacked(spark, dir).orderBy("doc_id")
  }

  /** m5's shard/pack assignment frame (doc_id, shard, seq, n_bytes,
    * pack_id, pack_offset), unordered — m5 emits it per asset; m15
    * rolls it up to the pack level for the loader-order schedule.
    */
  private def shardPacked(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        pmod(DetHash.md5Long28(col("doc_id").cast("string")), lit(SHARDS)).as("shard"),
        DetHash.md5Long60(col("doc_id").cast("string")).as("h"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    a.withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n_bytes"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("shard"), col("seq"), col("n_bytes"),
        expr(s"cast((cum - n_bytes) div $SHARD_BYTES as bigint)").as("pack_id"),
        pmod(col("cum") - col("n_bytes"), lit(SHARD_BYTES.toLong)).as("pack_offset"))
  }

  private val SIG_PLANES = 16
  private[ops] val SIG_BANDS = 2
  private[ops] val SIG_HAMMING_MAX = 1

  /** Payload-signature near-dup: a CENTERED SimHash over each asset's
    * BYTE histogram — the codec-free analog of a perceptual hash.
    * Projection weights are md5-derived integers computed IN-QUERY from
    * the (plane, byte) label, so both engines build bit-identical
    * codebooks with no literal tables.
    *
    * Centering is what makes the signature informative: same-language
    * text has a nearly CONSTANT byte distribution, so raw sign bits
    * agree corpus-wide (measured: 60% of all pairs landed within
    * hamming 1 of each other). Each plane's bit is therefore the sign
    * of the doc's projection relative to the corpus-average direction:
    * bit_p = [T·dot_p − n_doc·G_p > 0] with T = total corpus bytes and
    * G_p = Σ_docs dot_p — all-integer (DECIMAL(38,0) products, exact in
    * both engines), splitting each plane ~50/50 across the corpus so
    * only genuinely similar payloads collide.
    *
    * Scale shape: histogram → signature is a map-side fan-out through a
    * broadcast 16×256 weight table + one (doc, plane) aggregate; the
    * 17-value global frame (16 plane sums + total bytes) broadcasts
    * back; candidate pairs meet on a BAND equi-join ([[SIG_BANDS]]
    * 8-bit bands — pigeonhole-lossless for hamming ≤
    * [[SIG_HAMMING_MAX]]), then exact hamming verifies. The d4 SimHash
    * shape applied to binary payloads instead of token streams.
    */
  private val payloadDotsCache = Pin.Shared.pinned[String, DataFrame]

  /** Per-(doc, plane) SimHash projections over payload byte histograms —
    * m6's signature kernel, session-persisted and shared with m16's
    * incremental apply: one-pass byte histogram (≤256 narrow rows per
    * doc — vs the hex-split explode this replaced: one 2-char string row
    * per payload BYTE, measured 11.2s → ~1s at sf1) joined against the
    * broadcast md5-derived 16×256 (plane, byte) weight table; `n_doc`
    * rides the same aggregate for free (each byte contributes once per
    * group, so SUM(cnt) = doc length on every plane). Returns
    * (doc_id, p, dot, n_doc). At 100 TB this is the projection table a
    * payload-dedup pipeline materializes once per corpus snapshot.
    */
  private[ops] def payloadDots(spark: SparkSession, dir: String): DataFrame =
    payloadDotsCache(spark, dir) {
      graft.functions.GraftExpressions.register(spark)
      val c = Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          posexplode(graft.functions.GraftExpressions.byteHistArr(
            col("text").cast("binary"))).as(Seq("bidx", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("doc_id"), format_string("%02X", col("bidx")).as("byte"),
          col("cnt"))
      c.join(broadcast(planeWeights(spark)), col("byte") === col("wbyte"))
        .groupBy(col("doc_id"), col("p"))
        .agg(sum(col("cnt") * col("w")).as("dot"), sum(col("cnt")).as("n_doc"))
    }

  /** The md5-derived SIG_PLANES×256 (plane, byte-hex, weight) table —
    * one definition for [[payloadDots]] (the batch projection) and
    * [[signArtifactRow]] (w25's per-row streaming fold), so the two
    * cannot drift.
    */
  private def planeWeights(spark: SparkSession): DataFrame = {
    val planes = spark.range(SIG_PLANES).select(col("id").cast("int").as("p"))
    val allBytes = spark.range(256)
      .select(format_string("%02X", col("id")).as("wbyte"))
    planes.crossJoin(allBytes)
      .select(col("p"), col("wbyte"),
        (DetHash.md5Long28(concat(lit("pw-"), col("p").cast("string"),
          lit("-"), col("wbyte"))) % 1000 - 500).as("w"))
  }

  /** Sign the (doc, plane) projections against the given 16-row center
    * frame (p, gp, tot): bit p set iff dot·tot − n_doc·gp > 0 (the
    * mean-centered comparison, exact in decimal128 internally). One
    * definition for m6's full-corpus center and m16's standing-corpus
    * center, so the two cannot drift. Returns (doc_id, sig).
    */
  private def signFrame(dots: DataFrame, g: DataFrame): DataFrame = {
    val centered = expr(
      "cast(dot as decimal(38,0)) * tot - cast(n_doc as decimal(38,0)) * gp")
    dots
      .join(broadcast(g.withColumnRenamed("p", "gp_p")), col("p") === col("gp_p"))
      .withColumn("bit", when(centered > 0, expr("shiftleft(1L, p)")).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("sig"))
  }

  /** m6's signed corpus frame — [[signFrame]] against the FULL-corpus
    * center (vs m16's standing-corpus center). Factored out so the spec
    * can brute-force the hamming pairs over exactly this frame.
    */
  private[ops] def m6SigFrame(spark: SparkSession, dir: String): DataFrame = {
    val dots = payloadDots(spark, dir)
    // corpus-center frame: 16 rows (plane sum + total bytes), broadcast
    val g = dots.groupBy(col("p"))
      .agg(sum(col("dot")).as("gp"), sum(col("n_doc")).as("tot"))
    signFrame(dots, g)
  }

  val m6PayloadSig: Q = Q.sql(
    "m6_payload_signature",
    s"Centered byte-histogram SimHash ($SIG_PLANES planes): near-dup payload pairs at hamming <= $SIG_HAMMING_MAX via banded join.",
    s"""WITH b AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(hex(encode(text)), '[0-9A-F]{2}')) AS byte
       |  FROM documents WHERE length(text) > 0),
       |c AS MATERIALIZED (SELECT doc_id, byte, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |pw AS (
       |  SELECT p.p, bb.byte,
       |         ('0x' || substring(md5('pw-' || p.p || '-' || bb.byte), 1, 7))::BIGINT % 1000 - 500 AS w
       |  FROM (SELECT UNNEST(range($SIG_PLANES)) AS p) p
       |  CROSS JOIN (SELECT DISTINCT byte FROM c) bb),
       |dots AS (
       |  SELECT c.doc_id, pw.p, SUM(c.cnt * pw.w) AS dot, SUM(c.cnt) AS n_doc
       |  FROM c JOIN pw ON c.byte = pw.byte GROUP BY 1, 2),
       |g AS (SELECT p, SUM(dot) AS gp, SUM(n_doc) AS tot FROM dots GROUP BY p),
       |sig AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CAST(SUM(CASE WHEN CAST(d.dot AS HUGEINT) * g.tot
       |                            - CAST(d.n_doc AS HUGEINT) * g.gp > 0
       |                       THEN 1 << d.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM dots d
       |  JOIN g ON d.p = g.p
       |  GROUP BY d.doc_id)
       |SELECT doc_a, doc_b, sig_a, sig_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.sig AS sig_a, b.sig AS sig_b,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b
       |    ON a.sig % 256 = b.sig % 256 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id, a.sig, b.sig,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT)
       |  FROM sig a JOIN sig b
       |    ON a.sig // 256 = b.sig // 256 AND a.doc_id < b.doc_id
       |   AND a.sig % 256 <> b.sig % 256)
       |WHERE hamming <= $SIG_HAMMING_MAX
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val sig = m6SigFrame(spark, dir)
      .localCheckpoint() // 3 consumers below (2 band sides + the verify join)
    // the pair mine runs at SIGNATURE level first (round 15): the banded
    // candidate join + hamming verify depend only on the two sig values,
    // so mine the ≤2^SIG_PLANES DISTINCT signatures — two band
    // equi-joins, branches DISJOINT exactly as before (band k>0 requires
    // every earlier band to differ, so a sig pair survives exactly one
    // branch and the union needs no distinct) — and only then attach doc
    // ids. The old doc-level join generated ~n²/2^8 candidate rows per
    // band to keep ~none (ham<=1 keeps <=17 of 65536 sig partners);
    // sig-level mining caps the candidate stream at 2^(2·SIG_PLANES-8)
    // group pairs regardless of corpus size, and the surviving pair
    // table (≤17·2^SIG_PLANES rows) broadcasts into one attach join, so
    // exactly one shuffle of the corpus (on sig_b) remains (guide §2.3
    // "shuffle keys and metadata" / §8 "decide with small rows").
    val sv = sig.select(col("sig")).distinct()
    val sigPairs = (0 until SIG_BANDS).map { band =>
      val bandA = if (band == 0) col("sig_a") % 256 else expr("sig_a div 256")
      val bandB = if (band == 0) col("sig_b") % 256 else expr("sig_b div 256")
      val disjoint =
        if (band == 0) lit(true) else expr("sig_a % 256 <> sig_b % 256")
      sv.select(col("sig").as("sig_a"))
        .join(sv.select(col("sig").as("sig_b")), bandA === bandB && disjoint)
        .withColumn("hamming",
          bit_count(expr("sig_a ^ sig_b")).cast("bigint"))
        .filter(col("hamming") <= SIG_HAMMING_MAX)
    }.reduce(_ union _)
    // attach: docs of sig_a via broadcast (≤17 partners per sig), docs
    // of sig_b via the one remaining corpus shuffle; a<b dedups the
    // unordered sig pair exactly as the old doc-level join condition did
    sig.select(col("doc_id").as("doc_a"), col("sig").as("sa"))
      .join(broadcast(sigPairs), col("sa") === col("sig_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        col("sb") === col("sig_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"),
        col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Perceptual-hash image dedup — the dedup family applied to DECODED
    * pixels: the classic aHash (average hash). Each image is decoded
    * (ImageIO), nearest-neighbor-sampled to an 8×8 grid, each cell's
    * channel-sum compared to the image mean — the comparison is the
    * EXACT integer `g·64 > Σg` (no division), so both engines agree
    * bit-for-bit — and the 64 bits pack into two 32-bit halves (two
    * BIGINT columns; a single 64-bit pack would overflow the sign bit).
    * Equal-hash images form duplicate clusters; min doc_id is canonical.
    * This is what image dedup at 100 TB actually runs (exact-pHash
    * bucketing first, hamming-tolerant banding only within buckets).
    *
    * Scale shape: decode+hash is a map stage over the persisted asset
    * table; ONE shuffle groups by the 64-bit hash; the verdict join is
    * hash-keyed. The deterministic mod-gradient payloads make structured
    * collisions expected (images whose ids agree mod the channel
    * formulas' period hash identically) — the oracle re-derives every
    * hash closed-form, so cluster membership is fully checked.
    */
  val m8ImageAHash: Q = Q.sql(
    "m8_image_ahash",
    "aHash perceptual dedup of decoded images: 8x8 mean-hash clusters, canonical min doc_id.",
    """WITH img AS (
      |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, (y.y * 8 + x.x) AS i,
      |    ((doc_id + 7 * ((x.x * w) // 8) + 13 * ((y.y * h) // 8)) % 256
      |     + (3 * doc_id + 5 * ((x.x * w) // 8) + 11 * ((y.y * h) // 8)) % 256
      |     + (doc_id + ((x.x * w) // 8) * ((y.y * h) // 8)) % 256) AS g
      |  FROM img, UNNEST(range(0, 8)) AS x(x), UNNEST(range(0, 8)) AS y(y)),
      |tot AS (SELECT doc_id, SUM(g) AS tot FROM px GROUP BY doc_id),
      |hash AS (
      |  SELECT p.doc_id,
      |    CAST(SUM(CASE WHEN p.g * 64 > t.tot AND p.i >= 32
      |                  THEN CAST(1 AS BIGINT) << (p.i - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN p.g * 64 > t.tot AND p.i < 32
      |                  THEN CAST(1 AS BIGINT) << p.i ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM px p JOIN tot t USING (doc_id) GROUP BY p.doc_id),
      |cl AS (SELECT ahash_hi, ahash_lo, COUNT(*) AS cluster_size,
      |              MIN(doc_id) AS canonical
      |       FROM hash GROUP BY 1, 2)
      |SELECT h.doc_id, h.ahash_hi, h.ahash_lo, c.cluster_size,
      |       h.doc_id = c.canonical AS kept
      |FROM hash h JOIN cl c USING (ahash_hi, ahash_lo)
      |ORDER BY h.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val hashed = assets(spark, dir)
      .filter(_.meta.mediaType == "image")
      .mapPartitions { batch =>
        batch.map { a =>
          val img = decodeBmp(a.content, 0, a.content.length)
          val (w, h) = (img.getWidth, img.getHeight)
          val g = new Array[Long](64)
          var tot = 0L
          var i = 0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val p = img.getRGB(x * w / 8, y * h / 8)
              val s = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
              g(i) = s; tot += s; i += 1; x += 1
            }
            y += 1
          }
          var hi = 0L
          var lo = 0L
          i = 0
          while (i < 64) {
            if (g(i) * 64L > tot) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          (a.doc_id, hi, lo)
        }
      }
      .toDF("doc_id", "ahash_hi", "ahash_lo")
    val clusters = hashed.groupBy("ahash_hi", "ahash_lo")
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("canonical"))
    hashed.join(clusters, Seq("ahash_hi", "ahash_lo"))
      .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"),
        col("cluster_size"), (col("doc_id") === col("canonical")).as("kept"))
      .orderBy("doc_id")
  }

  private val AE_WIN = 16
  private val AE_LOUD = 90000L

  /** Windowed audio energy — the VAD/silence-trim primitive of an audio
    * training pipeline (drop silent segments, shard by activity): each
    * 8-bit PCM payload is parsed from its REAL bytes, split into
    * [[AE_WIN]]-sample frames (trailing partial frame dropped, the
    * fixed-hop convention), and per-frame energy computed as the integer
    * sum of squared 128-centered samples — exact Long arithmetic, so the
    * per-asset rollup (frame count, total/max energy, loud-frame count
    * at the [[AE_LOUD]] threshold) is bit-identical across engines.
    *
    * The audio predicate (`doc_id % 3 = 1`) is applied to the SOURCE
    * frame before [[assetsFrom]] encodes any payload — the filter a
    * production job pushes into the object-store listing — and the
    * per-frame fan-out happens inside one `flatMap` partition pass
    * (window arithmetic over a byte array; no shuffle until the
    * per-asset aggregate, which carries 4–7 rows per asset). The oracle
    * recomputes energies from the closed-form sample model the payload
    * writer commits to — a decode that misaligned windows, dropped the
    * 128 centering, or read signed bytes fails the hash.
    */
  val m9AudioEnergy: Q = Q.sql(
    "m9_audio_energy",
    s"Windowed PCM energy per audio asset: $AE_WIN-sample frames, integer sum-of-squares, loud-frame count.",
    s"""WITH au AS (
       |  SELECT doc_id, 64 + n_chars % 64 AS n FROM documents
       |  WHERE doc_id % 3 = 1),
       |fe AS (
       |  SELECT doc_id, w.w,
       |         SUM(((doc_id * 31 + (w.w * $AE_WIN + i.i) * 17) % 256 - 128)
       |           * ((doc_id * 31 + (w.w * $AE_WIN + i.i) * 17) % 256 - 128)) AS e
       |  FROM au,
       |       UNNEST(range(0, n // $AE_WIN)) AS w(w),
       |       UNNEST(range(0, $AE_WIN)) AS i(i)
       |  GROUP BY doc_id, w.w)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |       CAST(SUM(e) AS BIGINT) AS total_energy,
       |       CAST(MAX(e) AS BIGINT) AS max_frame_energy,
       |       CAST(SUM(CASE WHEN e > $AE_LOUD THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_loud
       |FROM fe GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    assetsFrom(Tables.documents(spark, dir).filter(col("doc_id") % 3 === 1))
      .flatMap { a =>
        val n = a.content.length
        (0 until n / AE_WIN).map { w =>
          var e = 0L
          var i = 0
          while (i < AE_WIN) {
            val s = (a.content(w * AE_WIN + i) & 0xff) - 128
            e += s.toLong * s
            i += 1
          }
          (a.doc_id, e)
        }
      }
      .toDF("doc_id", "e")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("e")).as("total_energy"),
        max(col("e")).as("max_frame_energy"),
        sum(when(col("e") > AE_LOUD, 1L).otherwise(0L)).as("n_loud"))
      .orderBy("doc_id")
  }

  final case class FrameDiff(doc_id: Long, frame_idx: Long, diff_sum: Long,
      is_cut: Long)

  /** Scene-cut threshold: a frame is a cut when its mean per-pixel-channel
    * absolute delta vs the previous frame exceeds 2.5 — compared as the
    * exact integer inequality `2·Σ|Δ| > 5·3·side²` (no float mean).
    */
  private val SC_NUM = 5L * 3 * VF_SIDE * VF_SIDE

  /** Scene-cut detection over DECODED video frames — the
    * frame-delta segmentation step a video-training pipeline runs before
    * sampling clips (PySceneDetect's content detector, made exact): each
    * consecutive frame pair's summed absolute per-pixel-channel delta,
    * and a cut verdict from an integer threshold compare. The Spark side
    * really decodes: BMP-container frame offsets → ImageIO per frame →
    * pixel loop over BOTH frames of each pair (the decode path m3/m7
    * gate, now differenced) — any codec drift shifts `diff_sum` and
    * fails the hash. The oracle re-derives every delta closed-form from
    * the generator model.
    *
    * Scale shape: pure mapPartitions over the persisted asset table (one
    * decode pass per video, frames walked sequentially — state is two
    * frames, not the video); no shuffle anywhere. The integer cut test
    * `2·Σ|Δ| > 5·3·side²` keeps the verdict engine-exact — a float mean
    * would put near-threshold frames on the seam.
    */
  /** Oracle CTE chain for the closed-form frame-delta model — ONE Scala
    * fragment shared by m10 (raw report) and m12 (scene rollup) so the
    * generator model cannot drift between their oracles.
    */
  private def frameDiffCtesSql: String =
    s"""d AS (
       |  SELECT doc_id, n_chars % 24 + 1 AS nf FROM documents WHERE doc_id % 3 = 2),
       |diff AS (
       |  SELECT d.doc_id, f.f AS frame_idx,
       |         SUM(ABS((d.doc_id + f.f + 7 * x.x + 13 * y.y) % 256
       |               - (d.doc_id + f.f - 1 + 7 * x.x + 13 * y.y) % 256)
       |           + ABS((3 * d.doc_id + 2 * f.f + 5 * x.x + 11 * y.y) % 256
       |               - (3 * d.doc_id + 2 * f.f - 2 + 5 * x.x + 11 * y.y) % 256)
       |           + ABS((d.doc_id + f.f + x.x * y.y) % 256
       |               - (d.doc_id + f.f - 1 + x.x * y.y) % 256)) AS diff_sum
       |  FROM d,
       |       UNNEST(range(1, nf)) AS f(f),
       |       UNNEST(range(0, $VF_SIDE)) AS x(x),
       |       UNNEST(range(0, $VF_SIDE)) AS y(y)
       |  GROUP BY 1, 2)""".stripMargin

  val m10SceneCut: Q = Q.sql(
    "m10_scene_cut",
    "Scene-cut detection: per consecutive decoded frame pair, exact abs-delta sum + integer-threshold cut verdict.",
    s"""WITH $frameDiffCtesSql
       |SELECT doc_id, frame_idx, CAST(diff_sum AS BIGINT) AS diff_sum,
       |       CAST(CASE WHEN 2 * diff_sum > $SC_NUM THEN 1 ELSE 0 END AS BIGINT) AS is_cut
       |FROM diff ORDER BY doc_id, frame_idx""".stripMargin) { (spark, dir) =>
    frameDiffs(spark, dir).orderBy("doc_id", "frame_idx")
  }

  private val frameDiffCache = Pin.Shared.checkpointed[String]

  /** m10's per-consecutive-frame delta frame, DECODED ONCE per (session,
    * dataset): the real ImageIO per-frame decode dominates this family's
    * cost, so the raw report (m10) and the scene segmentation (m12)
    * share one decode pass through a localCheckpoint pin. Single-frame
    * videos produce no diff row on either engine (no consecutive pair),
    * mirrored by the oracle's `range(1, nf)`.
    */
  private[ops] def frameDiffs(spark: SparkSession, dir: String): DataFrame =
    frameDiffCache(spark, dir) {
      import spark.implicits._
      assets(spark, dir)
        .filter(_.meta.mediaType == "video")
        .mapPartitions { batch =>
          batch.flatMap { a =>
            // one bulk pixel extraction per frame (each frame is read as
            // BOTH prev and cur of consecutive pairs, so per-pixel getRGB
            // paid the dispatch tax twice per frame)
            val frames = frameOffsets(a.content).map { case (off, len) =>
              rgbAll(decodeBmp(a.content, off, len))
            }
            frames.sliding(2).zipWithIndex.collect {
              case (Seq(prev, cur), i) =>
                var s = 0L
                var j = 0
                while (j < cur.length) {
                  val p = prev(j); val c = cur(j)
                  s += math.abs(((c >> 16) & 0xff) - ((p >> 16) & 0xff))
                  s += math.abs(((c >> 8) & 0xff) - ((p >> 8) & 0xff))
                  s += math.abs((c & 0xff) - (p & 0xff))
                  j += 1
                }
                FrameDiff(a.doc_id, (i + 1).toLong, s,
                  if (2 * s > SC_NUM) 1L else 0L)
            }
          }
        }
        .toDF()
    }

  private val PATCH = 4

  final case class PatchStats(doc_id: Long, patch_row: Long, patch_col: Long,
      token_idx: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** ViT-style patchify over DECODED images — the vision-transformer
    * preprocessing step between decode and embed: each image is cropped
    * to whole [[PATCH]]×[[PATCH]] patches (crop-to-multiple, the
    * edge-pixel convention a resize-free pipeline uses), each patch gets
    * its row-major TOKEN INDEX — the position id the transformer
    * consumes — and exact per-patch RGB channel sums (the integer
    * sufficient statistic for per-patch normalization). The decode is
    * the real ImageIO path (m7's roundtrip contract), so the oracle's
    * closed-form pixel re-derivation proves decode + grid arithmetic
    * together; a patch offset or crop slip shifts every sum.
    *
    * Scale shape: one mapPartitions pass over the staged asset table
    * (batched decode, m1's argument) with a bounded fan-out of
    * (w/4)·(h/4) ≤ 15 rows per image; no shuffle at all until the gate's
    * ORDER BY. At 100 TB the patch frame is written partition-parallel
    * next to the shard manifest (m5) — patchify is embarrassingly
    * parallel and the only cost that matters is decode locality, which
    * the asset-partition alignment preserves.
    */
  val m11PatchGrid: Q = Q.sql(
    "m11_patch_grid",
    s"ViT patchify: ${PATCH}x$PATCH crop-to-multiple patch grid over decoded images, row-major token ids + exact per-patch RGB sums.",
    s"""SELECT doc_id,
       |  pr.pr AS patch_row, pc.pc AS patch_col,
       |  pr.pr * ((8 + doc_id % 16) // $PATCH) + pc.pc AS token_idx,
       |  CAST(SUM((doc_id + 7 * ($PATCH * pc.pc + dx.dx) + 13 * ($PATCH * pr.pr + dy.dy)) % 256) AS BIGINT) AS sum_r,
       |  CAST(SUM((3 * doc_id + 5 * ($PATCH * pc.pc + dx.dx) + 11 * ($PATCH * pr.pr + dy.dy)) % 256) AS BIGINT) AS sum_g,
       |  CAST(SUM((doc_id + ($PATCH * pc.pc + dx.dx) * ($PATCH * pr.pr + dy.dy)) % 256) AS BIGINT) AS sum_b
       |FROM documents,
       |     UNNEST(range(0, (8 + doc_id % 8) // $PATCH)) AS pr(pr),
       |     UNNEST(range(0, (8 + doc_id % 16) // $PATCH)) AS pc(pc),
       |     UNNEST(range(0, $PATCH)) AS dx(dx),
       |     UNNEST(range(0, $PATCH)) AS dy(dy)
       |WHERE doc_id % 3 = 0
       |GROUP BY doc_id, pr.pr, pc.pc
       |ORDER BY doc_id, patch_row, patch_col""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    assets(spark, dir)
      .filter(_.meta.mediaType == "image")
      .mapPartitions { batch =>
        batch.flatMap { a =>
          val img = decodeBmp(a.content, 0, a.content.length)
          val cols = img.getWidth / PATCH
          val rows = img.getHeight / PATCH
          for {
            pr <- (0 until rows).iterator
            pc <- 0 until cols
          } yield {
            var (sr, sg, sb) = (0L, 0L, 0L)
            var dy = 0
            while (dy < PATCH) {
              var dx = 0
              while (dx < PATCH) {
                val p = img.getRGB(PATCH * pc + dx, PATCH * pr + dy)
                sr += (p >> 16) & 0xff
                sg += (p >> 8) & 0xff
                sb += p & 0xff
                dx += 1
              }
              dy += 1
            }
            PatchStats(a.doc_id, pr.toLong, pc.toLong,
              pr.toLong * cols + pc, sr, sg, sb)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "patch_row", "patch_col")
  }

  /** Scene segmentation — m10's cut verdicts rolled into per-scene
    * statistics (frame count, summed intra-scene delta, frame span): the
    * shot table a video-training pipeline samples clips from (one clip
    * per scene, PySceneDetect's `detect`→`split` composition). Scene id
    * is the running count of cuts at-or-before each frame (a cut frame
    * STARTS its scene, so its entry delta belongs to the new scene);
    * frame 0 has no delta row and is folded into scene 0's count/span
    * closed-form. Single-frame videos have no frame pair and thus no
    * scene row on either engine (the m10 contract).
    *
    * Scale shape: reads the SHARED decoded delta frame ([[frameDiffs]] —
    * one ImageIO pass feeds m10 and m12), then one per-video running-sum
    * window and one (video, scene) aggregate: frames-per-video is
    * bounded (≤24), so the window partition is tiny and the rollup is
    * map-side-combinable — linear in corpus frames at 100 TB.
    */
  val m12SceneStats: Q = Q.sql(
    "m12_scene_stats",
    "Per-scene rollup over m10's cut verdicts: frame count, summed delta, frame span per (video, scene).",
    s"""WITH $frameDiffCtesSql,
       |sc AS (
       |  SELECT doc_id, frame_idx, diff_sum,
       |         SUM(CASE WHEN 2 * diff_sum > $SC_NUM THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY frame_idx) AS scene_id
       |  FROM diff)
       |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
       |       CAST(COUNT(*) + CASE WHEN scene_id = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_frames,
       |       CAST(SUM(diff_sum) AS BIGINT) AS sum_diff,
       |       CAST(CASE WHEN scene_id = 0 THEN 0 ELSE MIN(frame_idx) END AS BIGINT) AS first_frame,
       |       CAST(MAX(frame_idx) AS BIGINT) AS last_frame
       |FROM sc GROUP BY doc_id, scene_id
       |ORDER BY doc_id, scene_id""".stripMargin) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    frameDiffs(spark, dir)
      .withColumn("scene_id", sum(col("is_cut")).over(w))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(
        (count(lit(1)) + when(col("scene_id") === 0, 1L).otherwise(0L)).as("n_frames"),
        sum(col("diff_sum")).as("sum_diff"),
        when(col("scene_id") === 0, 0L).otherwise(min(col("frame_idx"))).as("first_frame"),
        max(col("frame_idx")).as("last_frame"))
      .orderBy("doc_id", "scene_id")
  }

  /** Silence trim — the audio preprocessing step between decode and
    * feature extraction (sox/ffmpeg `silenceremove`, VAD's crude
    * cousin): per asset, the longest quiet run at each END (frame
    * energy ≤ [[AE_LOUD]], m9's exact integer energies) and the kept
    * span's frame count + summed energy. Assets that never get loud
    * trim to zero. Everything derives from the decoded PCM inside one
    * row — frames are collected in index order and the runs computed
    * with array folds, so the verdicts are exact integers both engines
    * reproduce from the closed-form sample model.
    *
    * Scale shape: the per-frame fan-out happens in the m9 flatMap pass;
    * the per-asset rollup is one groupBy(doc_id) carrying ≤ 8 frames per
    * asset (sort_array reassembles order after the shuffle) — linear,
    * and the array arithmetic is per-row bounded.
    */
  val m13SilenceTrim: Q = Q.sql(
    "m13_silence_trim",
    s"Leading/trailing quiet-run trim per audio asset (frame energy <= $AE_LOUD): spans + kept-frame energy.",
    s"""WITH au AS (
       |  SELECT doc_id, 64 + n_chars % 64 AS n FROM documents
       |  WHERE doc_id % 3 = 1),
       |fe AS (
       |  SELECT doc_id, w.w,
       |         SUM(((doc_id * 31 + (w.w * $AE_WIN + i.i) * 17) % 256 - 128)
       |           * ((doc_id * 31 + (w.w * $AE_WIN + i.i) * 17) % 256 - 128)) AS e
       |  FROM au,
       |       UNNEST(range(0, n // $AE_WIN)) AS w(w),
       |       UNNEST(range(0, $AE_WIN)) AS i(i)
       |  GROUP BY doc_id, w.w),
       |arr AS (SELECT doc_id, list(e ORDER BY w) AS es FROM fe GROUP BY doc_id),
       |calc AS (
       |  SELECT doc_id, CAST(len(es) AS BIGINT) AS n_frames,
       |    CAST(COALESCE(NULLIF(list_position(list_transform(es, x -> x > $AE_LOUD), true), 0),
       |                  len(es) + 1) - 1 AS BIGINT) AS lead_quiet,
       |    CAST(COALESCE(NULLIF(list_position(list_transform(list_reverse(es), x -> x > $AE_LOUD), true), 0),
       |                  len(es) + 1) - 1 AS BIGINT) AS trail_quiet,
       |    es
       |  FROM arr)
       |SELECT doc_id, n_frames, lead_quiet, trail_quiet,
       |  CASE WHEN lead_quiet >= n_frames THEN 0
       |       ELSE n_frames - lead_quiet - trail_quiet END AS kept_frames,
       |  CAST(CASE WHEN lead_quiet >= n_frames THEN 0
       |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |              es[lead_quiet + 1 : n_frames - trail_quiet]), (x, y) -> x + y)
       |  END AS BIGINT) AS kept_energy
       |FROM calc ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val frames = assetsFrom(Tables.documents(spark, dir).filter(col("doc_id") % 3 === 1))
      .flatMap { a =>
        val n = a.content.length
        (0 until n / AE_WIN).map { w =>
          var e = 0L
          var i = 0
          while (i < AE_WIN) {
            val s = (a.content(w * AE_WIN + i) & 0xff) - 128
            e += s.toLong * s
            i += 1
          }
          (a.doc_id, w.toLong, e)
        }
      }
      .toDF("doc_id", "w", "e")
    val arr = frames.groupBy(col("doc_id"))
      .agg(transform(sort_array(collect_list(struct(col("w"), col("e")))),
        s => s.getField("e")).as("es"))
    // array_position returns 0 when absent (DuckDB returns NULL) — both
    // normalize to n+1 so "never loud" trims the whole asset
    def firstLoud(es: org.apache.spark.sql.Column) = {
      val p = array_position(transform(es, x => x > AE_LOUD), true)
      when(p === 0, size(es) + 1).otherwise(p)
    }
    val calc = arr.select(col("doc_id"),
        size(col("es")).cast("long").as("n_frames"),
        (firstLoud(col("es")) - 1).cast("long").as("lead_quiet"),
        (firstLoud(reverse(col("es"))) - 1).cast("long").as("trail_quiet"),
        col("es"))
    calc.select(col("doc_id"), col("n_frames"), col("lead_quiet"), col("trail_quiet"),
        when(col("lead_quiet") >= col("n_frames"), 0L)
          .otherwise(col("n_frames") - col("lead_quiet") - col("trail_quiet"))
          .as("kept_frames"),
        when(col("lead_quiet") >= col("n_frames"), 0L)
          .otherwise(aggregate(
            expr("slice(es, CAST(lead_quiet + 1 AS INT), CAST(n_frames - lead_quiet - trail_quiet AS INT))"),
            lit(0L), (acc, x) => acc + x))
          .as("kept_energy"))
      .orderBy("doc_id")
  }

  private val CM_BINS = 64 // must equal the embeddings dim (exact dot)
  private val CM_PAGE = 50 // docs per synthetic "source page"
  private val CM_K = 3

  /** Cross-modal pair mining — the CLIP-style image↔text candidate step
    * a multimodal training pipeline runs: every decoded image is paired
    * with the text embeddings from its own SOURCE PAGE (the shared key;
    * here `doc_id DIV 50` — in a crawl corpus, the page the image was
    * scraped from), scored by an EXACT integer dot product between a
    * 64-bin pixel feature folded from the real ImageIO decode and the
    * int8-style quantized text embedding (`floor(x·1000)` — one
    * correctly-rounded IEEE multiply, bit-identical across engines).
    * Top-[[CM_K]] texts per image by (dot DESC, txt_id) survive. This
    * composes the m-family's decode surface with the s-family's vector
    * scoring through one equi-join — the one LLM-pipeline shape the
    * registry didn't yet exercise.
    *
    * Scale shape: candidates come from a PAGE equi-join (broadcastable
    * at gate scale, co-partitioned shuffle at 100 TB), never an
    * all-pairs product; per-page fan-out is bounded by the page size
    * (≤ 50·50/3 pairs), so the mine is linear in corpus pages. The
    * feature fold is one pass over decoded pixels inside the typed
    * decode stage; the dot product is the codegen'd
    * [[graft.functions.GraftExpressions.DotProductL]] kernel; the
    * top-k is a bounded per-image window.
    *
    * Oracle: re-derives the pixel feature closed-form from the BMP
    * payload formulas (bin = (3x+5y+c) mod 64 over channel values) with
    * a zero-filled 64-bin frame — a decoder slip on either axis shifts
    * bins and hash-mismatches every row.
    */
  val m14CrossModalPairs: Q = Q.sql(
    "m14_crossmodal_pairs",
    s"CLIP-style page-keyed image↔text pair mine: top-$CM_K captions per image by exact integer dot(pixel-fold, quantized embedding).",
    s"""WITH imgs AS (
       |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |pxc AS (
       |  SELECT doc_id, (x.x * 3 + y.y * 5 + c.c) % $CM_BINS AS bin,
       |         CASE c.c WHEN 0 THEN (doc_id + 7 * x.x + 13 * y.y) % 256
       |                  WHEN 1 THEN (3 * doc_id + 5 * x.x + 11 * y.y) % 256
       |                  ELSE (doc_id + x.x * y.y) % 256 END AS v
       |  FROM imgs,
       |       UNNEST(range(0, w)) AS x(x),
       |       UNNEST(range(0, h)) AS y(y),
       |       UNNEST(range(0, 3)) AS c(c)),
       |fb AS (SELECT doc_id, bin, SUM(v) AS fv FROM pxc GROUP BY 1, 2),
       |ivec AS (
       |  SELECT i.doc_id, i.doc_id // $CM_PAGE AS page,
       |         list(COALESCE(fb.fv, 0) ORDER BY b.bin) AS iv
       |  FROM imgs i
       |  CROSS JOIN (SELECT UNNEST(range($CM_BINS)) AS bin) b
       |  LEFT JOIN fb ON fb.doc_id = i.doc_id AND fb.bin = b.bin
       |  GROUP BY i.doc_id),
       |tq AS (
       |  SELECT vec_id, vec_id // $CM_PAGE AS page,
       |         list_transform(embedding::DOUBLE[],
       |                        x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id % 3 <> 0),
       |pairs AS (
       |  SELECT i.doc_id AS img_id, t.vec_id AS txt_id, i.page,
       |         CAST(list_sum(list_transform(range(1, $CM_BINS + 1),
       |                                      k -> i.iv[k] * t.qv[k])) AS BIGINT) AS dot
       |  FROM ivec i JOIN tq t ON i.page = t.page),
       |rk AS (
       |  SELECT img_id, txt_id, page, dot,
       |         ROW_NUMBER() OVER (PARTITION BY img_id
       |                            ORDER BY dot DESC, txt_id) AS rnk
       |  FROM pairs)
       |SELECT img_id, txt_id, CAST(page AS BIGINT) AS page, dot,
       |       CAST(rnk AS BIGINT) AS rnk
       |FROM rk WHERE rnk <= $CM_K ORDER BY img_id, rnk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    graft.functions.GraftExpressions.register(spark)
    val ivec = assets(spark, dir)
      .filter(_.meta.mediaType == "image")
      .mapPartitions { batch =>
        batch.map { a =>
          val img = decodeBmp(a.content, 0, a.content.length)
          val bins = new Array[Long](CM_BINS)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              val base = x * 3 + y * 5
              bins(base % CM_BINS) += (p >> 16) & 0xff
              bins((base + 1) % CM_BINS) += (p >> 8) & 0xff
              bins((base + 2) % CM_BINS) += p & 0xff
              x += 1
            }
            y += 1
          }
          (a.doc_id, a.doc_id / CM_PAGE, bins)
        }
      }
      .toDF("img_id", "page", "iv")
    val tq = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("txt_id"),
        expr(s"CAST(vec_id DIV $CM_PAGE AS BIGINT)").as("page"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * 1000.0).cast("long")).as("qv"))
    val pairs = ivec.join(tq, "page")
      .select(col("img_id"), col("txt_id"), col("page"),
        graft.functions.GraftExpressions.dotl(col("iv"), col("qv")).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("img_id")).orderBy(col("dot").desc, col("txt_id"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= CM_K)
      .select(col("img_id"), col("txt_id"), col("page"), col("dot"), col("rnk"))
      .orderBy("img_id", "rnk")
  }

  private val LO_EPOCHS = 3
  private val LO_WORKERS = 8

  /** Deterministic epoch dataloader schedule over m5's pack manifest —
    * the seeded per-epoch shuffle every distributed trainer runs: for
    * each of [[LO_EPOCHS]] epochs, packs are ordered by an md5 tape
    * keyed on (epoch, shard, pack_id), dealt round-robin to
    * [[LO_WORKERS]] workers, and each worker's running byte total is
    * emitted (the loader-balance audit — a skewed tail means stragglers
    * at step time). The md5 tape is the dp14/g8 hash-as-random-tape
    * contract, so both engines and every re-run produce the identical
    * schedule: reproducible data order is what makes a training run
    * replayable at all.
    *
    * Scale shape: one pack-level rollup of the m5 assignment (map-side
    * partial), then E copies of the pack manifest through two windows
    * (global rank per epoch, running sum per worker). The manifest is
    * corpus_bytes / [[SHARD_BYTES]] rows — metadata-scale, not
    * data-scale: at 100 TB with 64 MB packs that is ~1.6M rows; the
    * windows sort the MANIFEST, never the corpus.
    */
  val m15LoaderOrder: Q = Q.sql(
    "m15_loader_order",
    s"Deterministic $LO_EPOCHS-epoch, $LO_WORKERS-worker pack read schedule over m5's manifest: md5-shuffled rank, round-robin worker, running worker bytes.",
    s"""WITH $packSqlCtes,
       |packs AS (
       |  SELECT shard, CAST((cum - n_bytes) // $SHARD_BYTES AS BIGINT) AS pack_id,
       |         COUNT(*) AS n_assets,
       |         CAST(SUM(n_bytes) AS BIGINT) AS pack_bytes
       |  FROM c GROUP BY 1, 2),
       |sched AS (
       |  SELECT e.e AS epoch, shard, pack_id, n_assets, pack_bytes,
       |    ROW_NUMBER() OVER (PARTITION BY e.e ORDER BY
       |      ('0x' || substring(md5(CAST(e.e AS VARCHAR) || ':' ||
       |         CAST(shard AS VARCHAR) || ':' || CAST(pack_id AS VARCHAR)), 1, 15))::BIGINT,
       |      shard, pack_id) AS rnk
       |  FROM packs CROSS JOIN (SELECT UNNEST(range($LO_EPOCHS)) AS e) e)
       |SELECT epoch, shard, pack_id, n_assets, pack_bytes,
       |  CAST(rnk AS BIGINT) AS rnk,
       |  CAST((rnk - 1) % $LO_WORKERS AS BIGINT) AS worker,
       |  CAST((rnk - 1) // $LO_WORKERS AS BIGINT) AS worker_seq,
       |  CAST(SUM(pack_bytes) OVER (PARTITION BY epoch, (rnk - 1) % $LO_WORKERS
       |    ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS worker_cum_bytes
       |FROM sched ORDER BY epoch, rnk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val packs = shardPacked(spark, dir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_assets"), sum(col("n_bytes")).as("pack_bytes"))
    val sched = packs
      .crossJoin(broadcast(spark.range(LO_EPOCHS).select(col("id").as("epoch"))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("epoch")).orderBy(
          DetHash.md5Long60(concat_ws(":", col("epoch"), col("shard"), col("pack_id"))),
          col("shard"), col("pack_id"))).cast("long"))
      .withColumn("worker", pmod(col("rnk") - 1, lit(LO_WORKERS.toLong)))
    sched
      .withColumn("worker_seq", expr(s"cast((rnk - 1) div $LO_WORKERS as bigint)"))
      .withColumn("worker_cum_bytes", sum(col("pack_bytes")).over(
        Window.partitionBy(col("epoch"), col("worker")).orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("epoch"), col("shard"), col("pack_id"), col("n_assets"),
        col("pack_bytes"), col("rnk"), col("worker"), col("worker_seq"),
        col("worker_cum_bytes"))
      .orderBy("epoch", "rnk")
  }

  // the "nightly asset ingest" slice: the d13/s21 residue convention on
  // the documents-as-payloads table. private[ops]: w25 (the streaming
  // twin) reuses m16's oracle verbatim and must slice with these same
  // constants (the S21/w23 anti-drift rule)
  private[ops] val M16_MOD = 20
  private[ops] val M16_RES = 7

  private val sigCenterCache = Pin.Shared.checkpointed[String]
  private val sigIdxCache = Pin.Shared.pinned[String, DataFrame]

  /** The STANDING SimHash center: per-plane projection sums over the
    * corpus only (batch residue EXCLUDED) — the quantizer statistic the
    * standing index was signed with; new payloads sign against it
    * without re-centering (the s21 corpus-stats argument, for bytes).
    * 16 rows, pinned.
    */
  private[ops] def sigCenter(spark: SparkSession, dir: String): DataFrame =
    sigCenterCache(spark, dir) {
      payloadDots(spark, dir)
        .filter(col("doc_id") % M16_MOD =!= M16_RES)
        .groupBy(col("p"))
        .agg(sum(col("dot")).as("gp"), sum(col("n_doc")).as("tot"))
    }

  /** The session-persisted payload-signature INDEX over the standing
    * corpus: (doc_id, sig) signed against [[sigCenter]] — the published
    * artifact m16's nightly apply probes band-wise ([[Dedup.bandIndex]] /
    * [[Similarity.annIndex]] for payload bytes).
    */
  private[ops] def payloadSigIndex(spark: SparkSession, dir: String): DataFrame =
    sigIdxCache(spark, dir) {
      signFrame(
        payloadDots(spark, dir).filter(col("doc_id") % M16_MOD =!= M16_RES),
        sigCenter(spark, dir))
    }

  private val sigGroupCache = Pin.Shared.pinned[String, DataFrame]

  /** [[payloadSigIndex]] collapsed to its distinct signature values:
    * `(sig_b, cnt, min_doc)` — at most 2^SIG_PLANES = 65536 rows
    * REGARDLESS of corpus size. Hamming distance depends only on the
    * signature pair, and m16/w25's verdicts consume band candidates only
    * through the per-new-doc rollup {COUNT(*), COUNT(ham<=max),
    * MIN(corpus_doc | ham<=max)}, every term of which is exactly
    * reconstructible from per-signature (cnt, min_doc):
    * n_candidates = Σ cnt, n_dups = Σ cnt·[ham<=max],
    * dup_of = MIN(min_doc | ham<=max) (hamming is constant within a
    * signature group, so the group-gated min of per-group mins IS the
    * candidate-level min). The band probes therefore fan out to at most
    * 2·2^(SIG_PLANES-8) = 512 group rows per new payload — CONSTANT in
    * corpus size — instead of ~n/2^8 candidate rows per band (the
    * candidate stream was ~4.6·10⁹ rows per micro-batch at sf100), and
    * the whole static side fits one broadcast, so the stream-static /
    * batch probes carry no shuffle at all (guide §2.3 "shuffle keys and
    * metadata instead of payloads" / §8 "decide with small rows").
    * A [[Pin]], like [[payloadSigIndex]].
    */
  private[ops] def payloadSigGroups(
      spark: SparkSession, dir: String): DataFrame =
    sigGroupCache(spark, dir) {
      payloadSigIndex(spark, dir)
        .groupBy(col("sig").as("sig_b"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc"))
    }

  private val signArtCache = Pin.Shared.checkpointed[String]

  /** The PUBLISHED signing artifact as ONE broadcastable row — `art:
    * array<struct<p, bitv, gp, tot, wv>>` sorted by plane, where `wv` is
    * the plane's 256 byte weights in byte order and (gp, tot) is the
    * STANDING center. The w25 streaming apply joins this on a constant
    * key and folds it per-row ([[sigOfExpr]]) — the codebookRow move
    * (s21/w23), for payload SimHash. Pinned: the static side of a
    * stream-static join is re-evaluated per micro-batch.
    */
  private[ops] def signArtifactRow(spark: SparkSession, dir: String): DataFrame = {
    signArtCache(spark, dir) {
      val wv = planeWeights(spark)
        .groupBy(col("p"))
        .agg(transform(sort_array(collect_list(struct(col("wbyte"), col("w")))),
          s => s.getField("w")).as("wv"))
      sigCenter(spark, dir).join(wv, "p")
        .agg(sort_array(collect_list(struct(col("p"),
          expr("shiftleft(1L, p)").as("bitv"),
          col("gp"), col("tot"), col("wv")))).as("art"))
    }
  }

  /** [[signFrame]] as a pure per-row expression over a PRE-COMPUTED
    * 256-cell byte histogram (+ its total) and the [[signArtifactRow]]
    * `art` column: each plane's projection is one codegen'd exact
    * integer dot over the histogram, and the centered sign test is the
    * identical decimal(38,0) comparison — stream-safe (no per-(doc,
    * plane) aggregate, no shuffle at all).
    *
    * `hist`/`nDoc` MUST be bound attributes of a prior projection, not
    * inline expressions (round 15): expressions nested inside a
    * higher-order-function lambda are not common-subexpression-
    * eliminated, so an inline `byteHistArr(bin)` here was re-evaluated
    * TWICE PER PLANE per row (once in the dot, once in the n_doc fold)
    * — 2×SIG_PLANES full passes over the payload bytes instead of one.
    * Keeping them as attributes of a separate projection also blocks
    * CollapseProject from re-inlining them (non-cheap expressions
    * referenced more than once are not collapsed).
    */
  private[ops] def sigOfExpr(hist: org.apache.spark.sql.Column,
      nDoc: org.apache.spark.sql.Column,
      art: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(art, lit(0L), (acc, pl) => {
      // codegen'd exact integer dot (DotProductL) for the 256-cell
      // histogram × plane-weight projection — long addition is exact, so
      // this is bit-identical to the interpreted zip_with/aggregate fold
      // it replaces; the outer per-plane fold stays interpreted but runs
      // SIG_BITS times per row, not SIG_BITS × 256
      val dot = graft.functions.GraftExpressions.dotl(hist, pl.getField("wv"))
      val centered = dot.cast("decimal(38,0)") * pl.getField("tot") -
        nDoc.cast("decimal(38,0)") * pl.getField("gp")
      acc + when(centered > 0, pl.getField("bitv")).otherwise(lit(0L))
    })

  /** Incremental payload apply — the d13/s21/g11 maintenance move for
    * the multimodal family: a new payload batch (the fixed 5% residue
    * `doc_id % `[[M16_MOD]]` = `[[M16_RES]]) is SimHash-signed against
    * the STANDING center (no re-centering) and probes the
    * session-persisted signature index through m6's two disjoint 8-bit
    * band joins; every banded candidate is exact-verified by two-long
    * bit_count, and each new payload gets the d13-style verdict:
    * candidate count, near-dup count at hamming ≤ [[SIG_HAMMING_MAX]],
    * lowest-id standing duplicate, admit flag.
    *
    * Scale shape: the projection table, center and index are built once
    * per (session, corpus); the apply is linear in the BATCH — one
    * histogram pass over new payloads, two band equi-joins against the
    * persisted index (avg fan-in corpus/256 per band), one batch-keyed
    * rollup. No corpus self-join in the incremental path; with this the
    * maintenance shape exists for all four content families (documents,
    * vectors, graphs, payloads).
    */
  val m16IncrementalPayloads: Q = Q.sql(
    "m16_incremental_payloads",
    s"Incremental payload apply: new-payload batch (doc_id % $M16_MOD = $M16_RES) signs against the standing SimHash center and probes the persisted band index; hamming verdicts per new payload.",
    s"""WITH b AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(hex(encode(text)), '[0-9A-F]{2}')) AS byte
       |  FROM documents WHERE length(text) > 0),
       |c AS MATERIALIZED (SELECT doc_id, byte, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |pw AS (
       |  SELECT p.p, bb.byte,
       |         ('0x' || substring(md5('pw-' || p.p || '-' || bb.byte), 1, 7))::BIGINT % 1000 - 500 AS w
       |  FROM (SELECT UNNEST(range($SIG_PLANES)) AS p) p
       |  CROSS JOIN (SELECT DISTINCT byte FROM c) bb),
       |dots AS MATERIALIZED (
       |  SELECT c.doc_id, pw.p, SUM(c.cnt * pw.w) AS dot, SUM(c.cnt) AS n_doc
       |  FROM c JOIN pw ON c.byte = pw.byte GROUP BY 1, 2),
       |g AS (
       |  SELECT p, SUM(dot) AS gp, SUM(n_doc) AS tot FROM dots
       |  WHERE doc_id % $M16_MOD <> $M16_RES GROUP BY p),
       |sig AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CAST(SUM(CASE WHEN CAST(d.dot AS HUGEINT) * g.tot
       |                            - CAST(d.n_doc AS HUGEINT) * g.gp > 0
       |                       THEN 1 << d.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM dots d
       |  JOIN g ON d.p = g.p
       |  GROUP BY d.doc_id),
       |bat AS (SELECT * FROM sig WHERE doc_id % $M16_MOD = $M16_RES),
       |cor AS (SELECT * FROM sig WHERE doc_id % $M16_MOD <> $M16_RES),
       |cand AS MATERIALIZED (
       |  SELECT b.doc_id AS new_doc, c.doc_id AS corpus_doc,
       |         CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS hamming
       |  FROM bat b JOIN cor c ON b.sig % 256 = c.sig % 256
       |  UNION ALL
       |  SELECT b.doc_id, c.doc_id, CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT)
       |  FROM bat b JOIN cor c ON b.sig // 256 = c.sig // 256
       |   AND b.sig % 256 <> c.sig % 256),
       |roll AS (
       |  SELECT new_doc, COUNT(*) AS n_candidates,
       |         COUNT(CASE WHEN hamming <= $SIG_HAMMING_MAX THEN 1 END) AS n_dups,
       |         MIN(CASE WHEN hamming <= $SIG_HAMMING_MAX THEN corpus_doc END) AS dup_of
       |  FROM cand GROUP BY 1)
       |SELECT b.doc_id, b.sig,
       |       CAST(COALESCE(r.n_candidates, 0) AS BIGINT) AS n_candidates,
       |       CAST(COALESCE(r.n_dups, 0) AS BIGINT) AS n_dups,
       |       r.dup_of,
       |       CAST(CASE WHEN COALESCE(r.n_dups, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS admit
       |FROM bat b LEFT JOIN roll r ON b.doc_id = r.new_doc
       |ORDER BY b.doc_id""".stripMargin) { (spark, dir) =>
    val grp = payloadSigGroups(spark, dir)
    // batch side: sign the new payloads against the STANDING center;
    // pinned (two band probes + the verdict spine share it)
    val bat = signFrame(
      payloadDots(spark, dir).filter(col("doc_id") % M16_MOD === M16_RES),
      sigCenter(spark, dir))
      .localCheckpoint()
    // m6's two disjoint band joins, batch-vs-GROUPED-index (see
    // payloadSigGroups: candidates collapse exactly to signature groups
    // because the rollup below is count/min arithmetic over hamming,
    // which is constant within a group); candidates are NOT
    // hamming-filtered — n_candidates is the probe-volume witness,
    // n_dups the verified set
    val cand = (0 until SIG_BANDS).map { band =>
      val bandCol = if (band == 0) col("sig") % 256 else expr("sig div 256")
      val bandColB =
        if (band == 0) col("sig_b") % 256 else expr("sig_b div 256")
      val l = bat.select(col("doc_id").as("new_doc"), col("sig").as("sig_a"),
        bandCol.as("band"))
      val r = grp.select(col("sig_b"), col("cnt"), col("min_doc"),
        bandColB.as("band2"))
      val disjoint =
        if (band == 0) lit(true) else expr("sig_a % 256 <> sig_b % 256")
      l.join(broadcast(r), col("band") === col("band2") && disjoint)
        .select(col("new_doc"), col("cnt"), col("min_doc"),
          bit_count(expr("sig_a ^ sig_b")).cast("bigint").as("hamming"))
    }.reduce(_ union _)
    val roll = cand.groupBy(col("new_doc")).agg(
      sum(col("cnt")).as("n_candidates"),
      sum(when(col("hamming") <= SIG_HAMMING_MAX, col("cnt"))
        .otherwise(lit(0L))).as("n_dups"),
      min(when(col("hamming") <= SIG_HAMMING_MAX, col("min_doc"))).as("dup_of"))
    bat.select(col("doc_id"), col("sig"))
      .join(roll, col("doc_id") === col("new_doc"), "left_outer")
      .select(col("doc_id"), col("sig"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        when(coalesce(col("n_dups"), lit(0L)) === 0, lit(1L)).otherwise(lit(0L))
          .as("admit"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(m1Meta, m2PayloadStats, m3FrameSample, m4TypedRollup,
    m5ShardPack, m6PayloadSig, m7ImageDecode, m8ImageAHash, m9AudioEnergy,
    m10SceneCut, m11PatchGrid, m12SceneStats, m13SilenceTrim,
    m14CrossModalPairs, m15LoaderOrder, m16IncrementalPayloads)
}
