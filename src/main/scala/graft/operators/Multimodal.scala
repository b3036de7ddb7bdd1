package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops.pinLineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (builder-prompt LLM surface): media as
  * opaque BINARY columns with typed metadata, a decode/feature-extract
  * stage, and frame sampling.
  *
  * Since r9 the decode and resize kernels are REAL pure-JVM image
  * code, not stubs: [[Bmp.encode]] builds a valid 24-bpp uncompressed
  * BMP (file header, BITMAPINFOHEADER, bottom-up rows, 4-byte stride
  * padding) deterministically from each document's bytes, and
  * [[Bmp.decode]] genuinely parses it back — magic, offsets, signed
  * height, padding. The oracle replays the GENERATION rule from the
  * text, so a hash match proves the decoder exactly inverts the
  * container layout (the roundtrip trick the crypto family uses); the
  * position-weighted checksum makes row order and un-flipping
  * observable, which mean/min/max alone would not. Compressed codecs
  * (JPEG/PNG/audio) stay out of scope — the container ships none —
  * but they'd slot into the same mapPartitions kernel unchanged.
  *
  * `q_multimodal_features` / `q_multimodal_frames` intentionally stay
  * on the RAW opaque payload (byte-level metadata and frame slicing
  * need no decode — that's their point).
  *
  * Scale notes: media bytes never shuffle — every query is a per-row
  * map over the scan (frame sampling explodes ≤4 rows before any agg),
  * and the BMP encode→decode fuses into one stage, so pixel buffers
  * live only inside a task. mapPartitions iterates lazily, so one
  * partition holds one decoded image at a time, not the partition's
  * media.
  */
object Multimodal extends QueryModule {

  /** Synthesized media table: documents.text bytes stand in for an
    * opaque media payload, with typed metadata derived per row.
    */
  private[operators] def media(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        struct(
          (col("n_chars") % 640).cast("int").as("width"),
          ((col("n_chars") * 7) % 480).cast("int").as("height"),
          when(col("lang") === "en", "png").otherwise("jpeg").as("format"))
          .as("meta"))

  /** Metadata + cheap byte-level features, no decode. */
  val multimodalFeatures: Q = (spark, dir) => {
    media(spark, dir)
      .select(col("doc_id"),
        octet_length(col("media")).as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.format").as("format"),
        lower(hex(substring(col("media"), 1, 8))).as("head_hex"))
      .orderBy("doc_id")
  }

  /** Frame sampling: n_frames = n_bytes % 4 + 1 fixed-stride samples,
    * each an 8-byte slice of the payload — explode + per-row slicing,
    * the plan shape of real video frame extraction.
    */
  val multimodalFrames: Q = (spark, dir) => {
    media(spark, dir)
      .withColumn("frame_id",
        explode(sequence(lit(0), octet_length(col("media")) % 4)))
      .select(col("doc_id"), col("frame_id"),
        lower(hex(expr("substring(media, frame_id * 8 + 1, 8)")))
          .as("frame_hex"))
      .orderBy("doc_id", "frame_id")
  }

  /** REAL image decode + feature extraction through typed
    * mapPartitions: each document's bytes are encoded into a valid
    * 24-bpp BMP ([[Bmp.build]] — tiny dims derived from n_chars,
    * pixels cycled from the text bytes), then [[Bmp.decode]] parses
    * the container back and computes pixel features: dims, mean
    * channel value, channel min/max, and a position-weighted checksum
    * over the TOP-DOWN row-major pixel stream — BMP stores rows
    * bottom-up with padded strides, so the checksum only matches the
    * oracle's generation-order replay if the parser un-flips and
    * de-pads correctly.
    */
  val multimodalDecode: Q = (spark, dir) => {
    MediaDecode.decodeFeatures(media(spark, dir))
      .select(col("doc_id"), col("width"), col("height"),
        col("n_pixels"),
        Norm.r4tie(col("mean_rgb")).as("mean_rgb"),
        col("min_byte"), col("max_byte"), col("checksum"))
      .orderBy("doc_id")
  }

  /** REAL nearest-neighbor 2× downscale through the same kernel path:
    * decode the BMP, keep pixels at even (x, y), RE-ENCODE the result
    * as a BMP and decode it again for the emitted stats — so the
    * checksum proves the full decode→scale→encode→decode loop, not
    * just the sampling arithmetic.
    */
  val multimodalResize: Q = (spark, dir) => {
    MediaDecode.resizeHalf(media(spark, dir))
      .orderBy("doc_id")
  }

  /** REAL audio decode through the [[Wav]] PCM codec — RIFF container
    * roundtrip proven by the oracle's generation-rule replay (RMS,
    * peak, zero crossings, position-weighted checksum).
    */
  val multimodalAudio: Q = (spark, dir) => {
    MediaDecode.audioFeatures(media(spark, dir))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        Norm.r4tie(col("rms")).as("rms"),
        col("peak"), col("n_zero_cross"), col("checksum"))
      .orderBy("doc_id")
  }

  /** REAL video-container walk + per-frame decode + frame sampling
    * (stride 2) through the [[Bmp]] codec — each frame's extent read
    * from its own header, not the synthesis rule, so a hash match
    * proves the container parse end-to-end.
    */
  val multimodalVideo: Q = (spark, dir) => {
    MediaDecode.videoFrameFeatures(media(spark, dir))
      .select(col("doc_id"), col("frame_id"), col("width"),
        col("height"),
        Norm.r4tie(col("mean_rgb")).as("mean_rgb"), col("checksum"))
      .orderBy("doc_id", "frame_id")
  }

  /** Perceptual-hash image near-duplication — the image-side analogue
    * of the text MinHash family: every payload is encoded/decoded
    * through the REAL BMP codec, dHash'd on a 9×8 nearest-neighbor
    * grayscale grid (64 gradient bits), and near-dup pairs surface via
    * LSH BANDING on the hash (4×16-bit bands; a pair is a candidate
    * iff some band matches exactly) with exact Hamming distance
    * (bit_count of XORed bands, in-plan) deciding ≤12. This is the
    * scale-correct image-dedup design: no all-pairs distance pass
    * exists anywhere — candidates come from band-bucket equi-joins
    * with an enforced bucket cap (`maxBucket`, the maxDf discipline).
    *
    * Scale: decode is per-row `mapPartitions` (no Catalyst expression
    * decodes BMPs); everything after is hash-partitioned joins on
    * 16-bit band values carrying only (doc_id, band) pairs.
    */
  val multimodalPhash: Q = (spark, dir) => {
    val maxBucket = 64
    val h = pinLineage(MediaDecode.phashBands(media(spark, dir)))
    val bands = h.select(col("doc_id"), explode(map(
        lit(0), col("b0"), lit(1), col("b1"),
        lit(2), col("b2"), lit(3), col("b3"))))
      .toDF("doc_id", "j", "v")
    // enforced bucket cap: a degenerate band value (flat images) is
    // the n² bomb of banded LSH; both engines drop the same buckets
    val ok = bands.groupBy("j", "v")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select("j", "v")
    val capped = bands.join(ok, Seq("j", "v"))
    val cand = capped.alias("x").join(capped.alias("y"),
        col("x.j") === col("y.j") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val h1 = h.select(col("doc_id").as("d1"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val h2 = h.select(col("doc_id").as("d2"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(h1, "d1").join(h2, "d2")
      .withColumn("hamming",
        expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter(col("hamming") <= 12)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(50)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Audio near-duplication by energy-envelope fingerprint — groups
    * tracks whose loudness contour matches exactly (15 gradient bits
    * over 16 frames; see [[MediaDecode.audioFingerprint]]): per doc
    * its fingerprint, the size of its contour class, and a dup flag.
    * The class-size join is a broadcast-friendly rollup over ≤2¹⁵
    * distinct fingerprints — no pair expansion at any scale.
    */
  val multimodalAudioFp: Q = (spark, dir) => {
    val f = pinLineage(MediaDecode.audioFingerprint(media(spark, dir)))
    val classes = f.groupBy("fp").agg(count(lit(1)).as("class_n"))
    f.join(broadcast(classes), "fp")
      .select(col("doc_id"), col("fp"), col("class_n"),
        (col("class_n") > 1L).as("is_dup"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_multimodal_audio_fp" -> multimodalAudioFp,
    "q_multimodal_phash" -> multimodalPhash,
    "q_multimodal_features" -> multimodalFeatures,
    "q_multimodal_frames" -> multimodalFrames,
    "q_multimodal_decode" -> multimodalDecode,
    "q_multimodal_resize" -> multimodalResize,
    "q_multimodal_audio" -> multimodalAudio,
    "q_multimodal_video" -> multimodalVideo,
  )

  val oracle: Map[String, String] = Map(
    "q_multimodal_audio_fp" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               200 + (length(text) * 3) % 100 AS n
        FROM documents),
      s AS (
        SELECT doc_id, n, k,
               (unicode(substring(text, CAST(k % L AS INT) + 1, 1))
                 - 64) * 256 AS v
        FROM dims, LATERAL unnest(generate_series(0, n - 1)) AS g(k)),
      e AS (
        SELECT doc_id, CAST((k * 16) // n AS INT) AS f,
               CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS en
        FROM s GROUP BY 1, 2),
      fp0 AS (
        SELECT a.doc_id,
               CAST(sum(CASE WHEN b.en > a.en THEN 1 << a.f ELSE 0 END)
                 AS BIGINT) AS fp
        FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        WHERE a.f < 15 GROUP BY 1),
      cls AS (SELECT fp, CAST(count(*) AS BIGINT) AS class_n
              FROM fp0 GROUP BY fp)
      SELECT f.doc_id, f.fp, c.class_n, c.class_n > 1 AS is_dup
      FROM fp0 f JOIN cls c USING (fp) ORDER BY doc_id""",
    "q_multimodal_phash" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               (length(text) % 8) + 4 AS w,
               CAST((length(text) * 7) % 6 AS INT) + 3 AS h
        FROM documents),
      g AS (
        SELECT doc_id, gx, gy,
               ((gy * h // 8) * w + (gx * w // 9)) AS p, text, L
        FROM dims,
          LATERAL unnest(generate_series(0, 8)) AS a(gx),
          LATERAL unnest(generate_series(0, 7)) AS b(gy)),
      gs AS (
        SELECT doc_id, gx, gy,
            unicode(substring(text, CAST((p * 3 + 0) % L AS INT) + 1, 1))
          + unicode(substring(text, CAST((p * 3 + 1) % L AS INT) + 1, 1))
          + unicode(substring(text, CAST((p * 3 + 2) % L AS INT) + 1, 1))
            AS gsum
        FROM g),
      bits AS (
        SELECT a.doc_id, (a.gy * 8 + a.gx) AS i,
               CASE WHEN b.gsum > a.gsum THEN 1 ELSE 0 END AS bit
        FROM gs a JOIN gs b ON a.doc_id = b.doc_id
          AND b.gy = a.gy AND b.gx = a.gx + 1
        WHERE a.gx < 8),
      bands AS (
        SELECT doc_id, i // 16 AS j,
               CAST(sum(bit * (1 << (i % 16))) AS BIGINT) AS v
        FROM bits GROUP BY 1, 2),
      ok AS (
        SELECT j, v FROM bands GROUP BY j, v HAVING count(*) <= 64),
      capped AS (
        SELECT b.doc_id, b.j, b.v FROM bands b JOIN ok USING (j, v)),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM capped x JOIN capped y
          ON x.j = y.j AND x.v = y.v AND x.doc_id < y.doc_id),
      hsh AS (
        SELECT doc_id,
               max(CASE WHEN j = 0 THEN v END) AS b0,
               max(CASE WHEN j = 1 THEN v END) AS b1,
               max(CASE WHEN j = 2 THEN v END) AS b2,
               max(CASE WHEN j = 3 THEN v END) AS b3
        FROM bands GROUP BY doc_id),
      ham AS (
        SELECT d1, d2,
               CAST(bit_count(xor(h1.b0, h2.b0))
                  + bit_count(xor(h1.b1, h2.b1))
                  + bit_count(xor(h1.b2, h2.b2))
                  + bit_count(xor(h1.b3, h2.b3)) AS BIGINT) AS hamming
        FROM cand JOIN hsh h1 ON h1.doc_id = d1
                  JOIN hsh h2 ON h2.doc_id = d2)
      SELECT d1, d2, hamming FROM ham WHERE hamming <= 12
      ORDER BY hamming, d1, d2 LIMIT 50""",
    "q_multimodal_features" -> """
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             CAST(n_chars % 640 AS INT) AS width,
             CAST((n_chars * 7) % 480 AS INT) AS height,
             CASE WHEN lang = 'en' THEN 'png' ELSE 'jpeg' END AS format,
             lower(substring(hex(encode(text)), 1, 16)) AS head_hex
      FROM documents
      ORDER BY doc_id""",
    "q_multimodal_frames" -> """
      SELECT doc_id, CAST(fid AS INT) AS frame_id,
             lower(substring(hex(encode(text)), CAST(fid AS INT) * 16 + 1, 16))
               AS frame_hex
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, octet_length(encode(text)) % 4))
                     AS fid
            FROM documents)
      ORDER BY doc_id, frame_id""",
    "q_multimodal_audio" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               200 + (length(text) * 3) % 100 AS n
        FROM documents),
      s AS (
        SELECT doc_id, L, n, k,
               (unicode(substring(text, CAST(k % L AS INT) + 1, 1))
                - 64) * 256 AS v
        FROM dims, LATERAL unnest(generate_series(0, n - 1)) AS g(k)),
      zc AS (
        SELECT doc_id, k, v,
               lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
        FROM s)
      SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
             CAST(max(k) + 1 AS INT) AS n_samples,
             floor(sqrt(CAST(sum(CAST(v AS BIGINT) * v) AS DOUBLE)
                        / (max(k) + 1)) * 10000 + 0.5) / 10000 AS rms,
             CAST(max(abs(v)) AS INT) AS peak,
             CAST(sum(CASE WHEN pv IS NOT NULL
                           AND CAST(v AS BIGINT) * pv < 0
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_cross,
             CAST(sum((k + 1) * CAST(v AS BIGINT)) AS BIGINT) AS checksum
      FROM zc GROUP BY doc_id ORDER BY doc_id""",
    "q_multimodal_video" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               (length(text) % 8) + 4 AS w,
               CAST((length(text) * 7) % 6 AS INT) + 3 AS h,
               2 + (length(text) % 4) AS nf
        FROM documents),
      fr AS (
        SELECT doc_id, text, L, w, h, f
        FROM dims, LATERAL unnest(generate_series(0, nf - 1)) AS g(f)
        WHERE f % 2 = 0),
      ch AS (
        SELECT doc_id, w, h, f, k,
               unicode(substring(text,
                 CAST((k + 7 * f) % L AS INT) + 1, 1)) AS v
        FROM fr,
          LATERAL unnest(generate_series(0, 3 * w * h - 1)) AS g(k))
      SELECT doc_id, CAST(f AS INT) AS frame_id,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             floor(CAST(sum(v) AS DOUBLE) / count(*) * 10000 + 0.5)
               / 10000 AS mean_rgb,
             CAST(sum((k + 1) * v) % 1000000007 AS BIGINT) AS checksum
      FROM ch GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_id""",
    "q_multimodal_resize" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               (length(text) % 8) + 4 AS w,
               CAST((length(text) * 7) % 6 AS INT) + 3 AS h
        FROM documents),
      d2 AS (
        SELECT doc_id, text, L, w, h,
               (w + 1) // 2 AS w2, (h + 1) // 2 AS h2
        FROM dims),
      ch AS (
        SELECT doc_id, L, w2, h2, k2,
               unicode(substring(text,
                 CAST((((k2 // 3 // w2 * 2) * w + (k2 // 3 % w2) * 2) * 3
                       + k2 % 3) % L AS INT) + 1, 1)) AS v
        FROM d2,
          LATERAL unnest(generate_series(0, 3 * w2 * h2 - 1)) AS g(k2))
      SELECT doc_id, CAST(w2 AS INT) AS width_out,
             CAST(h2 AS INT) AS height_out,
             CAST(54 + ((w2 * 3 + 3) // 4 * 4) * h2 AS INT) AS n_bytes_bmp,
             CAST(sum((k2 + 1) * v) % 1000000007 AS BIGINT) AS checksum
      FROM ch GROUP BY doc_id, w2, h2 ORDER BY doc_id""",
    "q_multimodal_decode" -> """
      WITH dims AS (
        SELECT doc_id, text, length(text) AS L,
               (length(text) % 8) + 4 AS w,
               CAST((length(text) * 7) % 6 AS INT) + 3 AS h
        FROM documents),
      ch AS (
        SELECT doc_id, L, w, h, k,
               unicode(substring(text, CAST(k % L AS INT) + 1, 1)) AS v
        FROM dims,
          LATERAL unnest(generate_series(0, 3 * w * h - 1)) AS g(k)),
      agg AS (
        SELECT doc_id, w, h,
               CAST(w * h AS INT) AS n_pixels,
               CAST(sum(v) AS BIGINT) AS s, count(*) AS n3,
               CAST(min(v) AS INT) AS min_byte,
               CAST(max(v) AS INT) AS max_byte,
               CAST(sum((k + 1) * v) % 1000000007 AS BIGINT) AS checksum
        FROM ch GROUP BY doc_id, w, h)
      SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             n_pixels,
             floor(CAST(s AS DOUBLE) / n3 * 10000 + 0.5) / 10000
               AS mean_rgb,
             min_byte, max_byte, checksum
      FROM agg ORDER BY doc_id""",
  )
}

/** Minimal REAL 24-bpp uncompressed BMP codec — pure JVM, no codec
  * libraries. Encode writes the standard 14-byte file header +
  * 40-byte BITMAPINFOHEADER + bottom-up pixel rows padded to 4-byte
  * strides; decode parses all of that back (magic, pixel-data offset,
  * signed height for bottom-up vs top-down, stride padding) and
  * yields the pixel channels in TOP-DOWN row-major order. Any BMP
  * viewer opens the encoded bytes; any 24-bpp uncompressed BMP
  * decodes — the pair is a real codec, merely a small one.
  */
object Bmp {

  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def getInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Encode `channels` (top-down row-major, 3 values/pixel, 0–255)
    * into a 24-bpp bottom-up BMP.
    */
  def encode(w: Int, h: Int, channels: Array[Int]): Array[Byte] = {
    require(channels.length == 3 * w * h, "channel count != 3*w*h")
    val stride = ((w * 3) + 3) / 4 * 4
    val size = 54 + stride * h
    val out = new Array[Byte](size)
    out(0) = 'B'; out(1) = 'M'
    putInt(out, 2, size)
    putInt(out, 10, 54) // pixel-data offset
    putInt(out, 14, 40) // BITMAPINFOHEADER
    putInt(out, 18, w)
    putInt(out, 22, h) // positive => bottom-up
    out(26) = 1 // planes
    out(28) = 24 // bpp
    // compression 0, sizes/resolutions 0 — already zeroed
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * stride // bottom-up
      var x = 0
      while (x < w) {
        val c = (y * w + x) * 3
        // BMP stores BGR; channels are (c0, c1, c2) = (B, G, R)
        out(rowOff + x * 3) = channels(c).toByte
        out(rowOff + x * 3 + 1) = channels(c + 1).toByte
        out(rowOff + x * 3 + 2) = channels(c + 2).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode a 24-bpp uncompressed BMP → (w, h, channels top-down
    * row-major). Throws on anything that isn't one — a corrupt
    * container must fail loudly, not yield wrong features.
    */
  def decode(bmp: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bmp.length >= 54 && bmp(0) == 'B' && bmp(1) == 'M',
      "not a BMP")
    val off = getInt(bmp, 10)
    val w = getInt(bmp, 18)
    val hRaw = getInt(bmp, 22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require((bmp(28) & 0xff) == 24, "not 24-bpp")
    require(getInt(bmp, 30) == 0, "compressed BMP unsupported")
    val stride = ((w * 3) + 3) / 4 * 4
    require(bmp.length >= off + stride * h, "truncated pixel data")
    val out = new Array[Int](3 * w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (bottomUp) h - 1 - y else y
      val rowOff = off + srcRow * stride
      var x = 0
      while (x < w) {
        val c = (y * w + x) * 3
        out(c) = bmp(rowOff + x * 3) & 0xff
        out(c + 1) = bmp(rowOff + x * 3 + 1) & 0xff
        out(c + 2) = bmp(rowOff + x * 3 + 2) & 0xff
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Deterministic image synthesis from a document payload: dims from
    * the byte length (w ∈ [4, 11], h ∈ [3, 8]), channel k = payload
    * byte (k mod len) — the rule the DuckDB oracle replays.
    */
  def build(payload: Array[Byte]): Array[Byte] = {
    val len = payload.length
    require(len > 0, "empty payload")
    val w = (len % 8) + 4
    val h = ((len.toLong * 7) % 6).toInt + 3
    val channels = Array.tabulate(3 * w * h)(k => payload(k % len) & 0xff)
    encode(w, h, channels)
  }
}

/** Minimal REAL 16-bit mono PCM WAV codec — pure JVM. Encode writes a
  * standard RIFF container (RIFF/WAVE header, `fmt ` chunk with PCM
  * format tag, `data` chunk); decode walks the chunk list (skipping
  * unknown chunks, as the RIFF spec requires), validates the format
  * tag / bit depth / channel count, and yields the signed 16-bit
  * samples. Any audio tool opens the encoded bytes.
  */
object Wav {

  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def putShort(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  private def getInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def getShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putInt(out, 4, 36 + dataLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putInt(out, 16, 16) // fmt chunk size
    putShort(out, 20, 1) // PCM
    putShort(out, 22, 1) // mono
    putInt(out, 24, sampleRate)
    putInt(out, 28, sampleRate * 2) // byte rate
    putShort(out, 32, 2) // block align
    putShort(out, 34, 16) // bits/sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putInt(out, 40, dataLen)
    var i = 0
    while (i < samples.length) {
      putShort(out, 44 + i * 2, samples(i) & 0xffff); i += 1
    }
    out
  }

  /** Decode a 16-bit mono PCM WAV → (sampleRate, samples). Walks the
    * chunk list per the RIFF spec, so containers with extra chunks
    * (LIST, fact, …) still decode; throws on anything that is not
    * 16-bit mono PCM.
    */
  def decode(wav: Array[Byte]): (Int, Array[Short]) = {
    require(wav.length >= 44 && wav(0) == 'R' && wav(1) == 'I' &&
      wav(2) == 'F' && wav(3) == 'F' && wav(8) == 'W' &&
      wav(9) == 'A' && wav(10) == 'V' && wav(11) == 'E', "not a WAV")
    var off = 12
    var rate = -1
    var samples: Array[Short] = null
    while (off + 8 <= wav.length) {
      val id = new String(wav, off, 4, "US-ASCII")
      val len = getInt(wav, off + 4)
      // A corrupt/hostile length field must fail loudly, not wedge the
      // task: len < 0 would stop `off` advancing (infinite loop), and
      // an oversized len would read past the buffer in the fmt branch.
      require(len >= 0 && off + 8 + len <= wav.length,
        s"corrupt RIFF chunk '$id': len=$len at off=$off of ${wav.length}")
      if (id == "fmt ") {
        require(len >= 16, s"fmt chunk too short: $len")
        require(getShort(wav, off + 8) == 1, "not PCM")
        require(getShort(wav, off + 10) == 1, "not mono")
        rate = getInt(wav, off + 12)
        require(getShort(wav, off + 22) == 16, "not 16-bit")
      } else if (id == "data") {
        require(rate > 0, "data chunk before fmt")
        require(off + 8 + len <= wav.length, "truncated data chunk")
        samples = new Array[Short](len / 2)
        var i = 0
        while (i < samples.length) {
          samples(i) = getShort(wav, off + 8 + i * 2).toShort; i += 1
        }
      }
      off += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    require(samples != null, "no data chunk")
    (rate, samples)
  }

  /** Deterministic audio synthesis from a document payload: sample k
    * = (byte(k mod len) − 64)·256 (signed 16-bit), count 200 + 3·len
    * mod 100, rate 8000 — the rule the DuckDB oracle replays.
    */
  def build(payload: Array[Byte]): Array[Byte] = {
    val len = payload.length
    require(len > 0, "empty payload")
    val n = 200 + (len * 3) % 100
    val samples = Array.tabulate(n)(k =>
      (((payload(k % len) & 0xff) - 64) * 256).toShort)
    encode(8000, samples)
  }
}

/** The decode/resize kernels over [[Bmp]] through typed mapPartitions
  * — the imperative per-partition escape hatch a real codec needs.
  */
object MediaDecode {
  import org.apache.spark.sql.{Encoder, Encoders, Row}
  import org.apache.spark.sql.types._

  private val MOD = 1000000007L

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_pixels", IntegerType, nullable = false),
    StructField("mean_rgb", DoubleType, nullable = false),
    StructField("min_byte", IntegerType, nullable = false),
    StructField("max_byte", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  private def stats(w: Int, h: Int, channels: Array[Int])
      : (Int, Double, Int, Int, Long) = {
    var i = 0; var sum = 0L; var mn = 255; var mx = 0; var ck = 0L
    while (i < channels.length) {
      val v = channels(i)
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      ck = (ck + (i + 1).toLong * v) % MOD
      i += 1
    }
    (w * h, sum.toDouble / channels.length, mn, mx, ck)
  }

  /** Encode each payload as a BMP, parse it back, emit pixel stats.
    * Raw (unrounded) mean — tie-proof rounding is applied engine-side
    * (Norm.r4tie) so it matches the oracle's floor form.
    */
  def decodeFeatures(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(outSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.map { r =>
        val bmp = Bmp.build(r.getAs[Array[Byte]]("media"))
        val (w, h, channels) = Bmp.decode(bmp)
        val (np, mean, mn, mx, ck) = stats(w, h, channels)
        Row(r.getLong(0), w, h, np, mean, mn, mx, ck)
      }
    }(enc)
  }

  private val phashSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("b0", LongType, nullable = false),
    StructField("b1", LongType, nullable = false),
    StructField("b2", LongType, nullable = false),
    StructField("b3", LongType, nullable = false)))

  /** dHash perceptual hash through the real BMP codec: decode, sample
    * a 9×8 grayscale grid by nearest neighbor (sx = gx·w/9, sy =
    * gy·h/8 — integer division, so tiny images upsample
    * deterministically), set bit i = gy·8+gx iff gray(gx+1,gy) >
    * gray(gx,gy) (gray = B+G+R sum; dividing by 3 cannot change a
    * comparison), packed as four 16-bit bands for LSH banding.
    */
  def phashBands(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(phashSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.map { r =>
        val bmp = Bmp.build(r.getAs[Array[Byte]]("media"))
        val (w, h, ch) = Bmp.decode(bmp)
        val g = new Array[Int](8 * 9)
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 9) {
            val p = (gy * h / 8) * w + (gx * w / 9)
            g(gy * 9 + gx) = ch(3 * p) + ch(3 * p + 1) + ch(3 * p + 2)
            gx += 1
          }
          gy += 1
        }
        val bands = new Array[Long](4)
        var i = 0
        while (i < 64) {
          val bx = i % 8
          val by = i / 8
          if (g(by * 9 + bx + 1) > g(by * 9 + bx))
            bands(i / 16) |= (1L << (i % 16))
          i += 1
        }
        Row(r.getLong(0), bands(0), bands(1), bands(2), bands(3))
      }
    }(enc)
  }

  private val audioFpSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("fp", LongType, nullable = false)))

  /** Energy-envelope audio fingerprint through the real WAV codec —
    * the audio analogue of [[phashBands]]: decode, split the sample
    * stream into 16 frames (frame of sample k = k·16/n, integer
    * division — SQL-replicable without a frame-size remainder case),
    * per-frame energy Σv² as exact BIGINT, bit i = energy(i+1) >
    * energy(i) → a 15-bit envelope-shape fingerprint. Same-fp docs
    * share their loudness CONTOUR (gradient coding is amplitude-scale
    * robust the way dHash is brightness-robust).
    */
  def audioFingerprint(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(audioFpSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.map { r =>
        val (_, s) = Wav.decode(Wav.build(r.getAs[Array[Byte]]("media")))
        val e = new Array[Long](16)
        var k = 0
        while (k < s.length) {
          val v = s(k).toLong
          e(((k.toLong * 16) / s.length).toInt) += v * v
          k += 1
        }
        var fp = 0L
        var i = 0
        while (i < 15) {
          if (e(i + 1) > e(i)) fp |= (1L << i)
          i += 1
        }
        Row(r.getLong(0), fp)
      }
    }(enc)
  }

  private val resizeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width_out", IntegerType, nullable = false),
    StructField("height_out", IntegerType, nullable = false),
    StructField("n_bytes_bmp", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  private val audioSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("n_zero_cross", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** Encode each payload as a PCM WAV, parse the RIFF container back,
    * emit audio features: RMS energy, peak amplitude, zero-crossing
    * count (the audio-quality screen: silence ≈ zero RMS, clipping ≈
    * peak at full scale, noise ≈ high crossing rate) and a
    * position-weighted checksum proving sample order. Raw RMS —
    * rounding applied engine-side.
    */
  def audioFeatures(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(audioSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.map { r =>
        val (rate, s) = Wav.decode(Wav.build(r.getAs[Array[Byte]]("media")))
        var i = 0; var ss = 0L; var peak = 0; var zc = 0L; var ck = 0L
        while (i < s.length) {
          val v = s(i).toInt
          ss += v.toLong * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && v.toLong * s(i - 1) < 0) zc += 1
          ck += (i + 1).toLong * v
          i += 1
        }
        Row(r.getLong(0), rate, s.length,
          math.sqrt(ss.toDouble / s.length), peak, zc, ck)
      }
    }(enc)
  }

  private val videoSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_id", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_rgb", DoubleType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** Synthesize a multi-frame "video" (GVID magic + frame count +
    * concatenated BMPs, frame f's pixels shifted 7·f into the
    * payload), parse the container by walking each embedded BMP's own
    * file-size field, decode every SAMPLED frame (stride 2 — the
    * frame-sampling stage of a real video pipeline) through the
    * [[Bmp]] codec, and emit per-frame pixel features.
    */
  def videoFrameFeatures(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(videoSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]]("media")
        val len = payload.length
        val w = (len % 8) + 4
        val h = ((len.toLong * 7) % 6).toInt + 3
        val nFrames = 2 + (len % 4)
        // container: 'GVID' + LE frame count + frames
        val frames = (0 until nFrames).map { f =>
          Bmp.encode(w, h, Array.tabulate(3 * w * h)(k =>
            payload((k + 7 * f) % len) & 0xff))
        }
        val video = Array[Byte]('G', 'V', 'I', 'D',
          (nFrames & 0xff).toByte, ((nFrames >> 8) & 0xff).toByte,
          ((nFrames >> 16) & 0xff).toByte,
          ((nFrames >> 24) & 0xff).toByte) ++ frames.flatten
        // REAL container walk: each frame's length comes from its own
        // BMP file-size header field, not from the synthesis rule
        require(video(0) == 'G' && video(1) == 'V' &&
          video(2) == 'I' && video(3) == 'D', "not a GVID container")
        val n = (video(4) & 0xff) | ((video(5) & 0xff) << 8) |
          ((video(6) & 0xff) << 16) | ((video(7) & 0xff) << 24)
        var off = 8
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var f = 0
        while (f < n) {
          require(video(off) == 'B' && video(off + 1) == 'M',
            s"frame $f is not a BMP")
          val sz = (video(off + 2) & 0xff) |
            ((video(off + 3) & 0xff) << 8) |
            ((video(off + 4) & 0xff) << 16) |
            ((video(off + 5) & 0xff) << 24)
          if (f % 2 == 0) { // frame sampling: every 2nd frame
            val (fw, fh, channels) =
              Bmp.decode(java.util.Arrays.copyOfRange(video, off, off + sz))
            var i = 0; var sum = 0L; var ck = 0L
            while (i < channels.length) {
              sum += channels(i)
              ck = (ck + (i + 1).toLong * channels(i)) % MOD
              i += 1
            }
            out += Row(r.getLong(0), f, fw, fh,
              sum.toDouble / channels.length, ck)
          }
          off += sz
          f += 1
        }
        out
      }
    }(enc)
  }

  /** Nearest-neighbor 2× downscale: decode → keep even-(x, y) pixels
    * → re-encode → decode AGAIN and checksum, so the emitted numbers
    * prove the full codec loop.
    */
  def resizeHalf(mediaDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc: Encoder[Row] = Encoders.row(resizeSchema)
    mediaDf.select("doc_id", "media").mapPartitions { it =>
      it.map { r =>
        val (w, h, channels) =
          Bmp.decode(Bmp.build(r.getAs[Array[Byte]]("media")))
        val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
        val scaled = Array.tabulate(3 * w2 * h2) { k =>
          val c = k % 3; val p = k / 3
          val x = (p % w2) * 2; val y = (p / w2) * 2
          channels((y * w + x) * 3 + c)
        }
        val reEncoded = Bmp.encode(w2, h2, scaled)
        val (w3, h3, back) = Bmp.decode(reEncoded)
        var i = 0; var ck = 0L
        while (i < back.length) {
          ck = (ck + (i + 1).toLong * back(i)) % MOD; i += 1
        }
        Row(r.getLong(0), w3, h3, reEncoded.length, ck)
      }
    }(enc)
  }
}
