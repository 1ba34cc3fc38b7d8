package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal (image/audio/video) columns as opaque `binary` payloads
  * with typed metadata — the training-data-pipeline pattern where media
  * bytes ride through Spark untouched and only cheap, schema-declared
  * operations (catalog stats, frame slicing, feature extraction,
  * resize bookkeeping) run distributed.
  *
  * == Real decode ==
  * [[Codec]] is a REAL pure-JDK codec stack, no fakes:
  *  - images: PNG, encoded/decoded with `javax.imageio.ImageIO`;
  *  - audio: WAV (16-bit mono PCM), via `javax.sound.sampled.AudioSystem`;
  *  - video: a length-prefixed container of PNG frames (`GFV1`), each
  *    frame decoded with ImageIO.
  * The media fixture ([[mediaFixture]]) generates genuine payloads whose
  * parameters (dims, sample rate, frame count) and CONTENT (pixel and
  * PCM values) follow closed-form formulas of `doc_id` — so the DuckDB
  * oracle can predict every decoded fact without owning a codec, and the
  * m03 gate hash-checks that the real decode round-trips bit-exact
  * (dims, rates, frame counts, and the sum over all decoded pixels /
  * samples).
  *
  * == Media fixture ==
  * There is no binary table in the driver corpus, so two derived media
  * tables exist: [[mediaCatalog]] (payload = UTF-8 text bytes; drives
  * the binary-plumbing gates m01/m02/m05 where the oracle must slice
  * identical bytes) and [[mediaFixture]] (payload = real PNG/WAV/framed
  * container; drives the decode gates m03/m04). Both are deterministic
  * functions of `documents`.
  *
  * Scale notes (100 TB of media):
  *  - Payloads never enter a wide exchange carrying query state:
  *    catalog stats aggregate scalar facts (length/hash), frame
  *    sampling slices within the row, features reduce bytes →
  *    fixed-dim vectors. The only wide exchange carries 64-double
  *    vectors.
  *  - `decodeBatched` repartitions by media_id so decode parallelism is
  *    payload-balanced, then processes fixed-size batches to bound peak
  *    memory per task (batch bytes ≈ batchSize × max payload). Decoder
  *    setup (ImageIO plugin lookup, no disk cache) is amortized per
  *    JVM, not per row.
  */
object Media {

  // ---------------------------------------------------------------------------
  // Media catalog (binary + typed metadata)
  // ---------------------------------------------------------------------------

  val kinds = Seq("image", "audio", "video")

  /** Opaque-payload media table derived from documents: binary content
    * plus the typed metadata struct a real ingest would carry. */
  def mediaCatalog(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(kinds.map(lit): _*),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "utf-8").as("content"),
      struct(
        length(encode(col("text"), "utf-8")).as("n_bytes"),
        col("source").as("origin"),
        col("lang").as("lang_hint")).as("meta"))

  /** Decoded-media facts: dims / rate / frame count plus `luma`, the
    * sum of every decoded 8-bit pixel (images, all video frames) or
    * signed 16-bit PCM sample (audio) — the content proof that the
    * decode actually touched the payload, not just its header. */
  final case class Decoded(media_id: Long, kind: String, width: Int,
                           height: Int, sample_rate: Int, n_frames: Int,
                           luma: Long)

  /** Raw row shape for the typed decode path. */
  final case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  // ---------------------------------------------------------------------------
  // Real pure-JDK codec (ImageIO PNG, javax.sound WAV, framed-PNG video)
  // ---------------------------------------------------------------------------

  object Codec {
    // no temp-file cache inside executor tasks
    ImageIO.setUseCache(false)

    /** Container magic for the framed-PNG video format. */
    val VideoMagic = 0x47465631 // "GFV1"

    // -- fixture parameter formulas -----------------------------------------
    // Mirrored literally in m03Sql so DuckDB predicts every decoded fact.
    def imageW(id: Long): Int = 8 + (id % 24).toInt
    def imageH(id: Long): Int = 8 + ((id * 7) % 24).toInt
    def audioRate(id: Long): Int = 8000 + 1000 * (id % 5).toInt
    def audioSamples(id: Long): Int = 64 + (id % 192).toInt
    def videoFrames(id: Long): Int = 1 + (id % 8).toInt
    def videoW(id: Long): Int = 16 + (id % 8).toInt
    def videoH(id: Long): Int = 16 + ((id * 3) % 8).toInt
    /** Gray value of pixel (x,y) of frame f — 0..255. */
    def pixel(id: Long, frame: Int, x: Int, y: Int): Int =
      ((id * 31 + frame * 17 + x * 7 + y * 13) % 256).toInt
    /** Signed 16-bit PCM sample i — in [-2048, 2047]. */
    def pcmSample(id: Long, i: Int): Short =
      (((id * 31 + i * 7) % 4096) - 2048).toShort

    // -- encode -------------------------------------------------------------

    /** One grayscale PNG frame with formula pixels. */
    def encodePng(id: Long, frame: Int, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, pixel(id, frame, x, y)); x += 1 }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 16-bit mono PCM WAV with formula samples. */
    def encodeWav(id: Long): Array[Byte] = {
      val n = audioSamples(id)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = pcmSample(id, i)
        pcm(2 * i) = (v & 0xff).toByte          // little-endian
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(audioRate(id).toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** `GFV1` container: magic, frame count, then length-prefixed PNGs. */
    def encodeVideo(id: Long): Array[Byte] = {
      val (w, h, nf) = (videoW(id), videoH(id), videoFrames(id))
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(VideoMagic)
      out.writeInt(nf)
      var f = 0
      while (f < nf) {
        val png = encodePng(id, f, w, h)
        out.writeInt(png.length)
        out.write(png)
        f += 1
      }
      out.flush()
      bos.toByteArray
    }

    def encode(id: Long, kind: String): Array[Byte] = kind match {
      case "image" => encodePng(id, 0, imageW(id), imageH(id))
      case "audio" => encodeWav(id)
      case "video" => encodeVideo(id)
      case other   => throw new IllegalArgumentException(s"unknown kind $other")
    }

    // -- decode -------------------------------------------------------------

    /** Real WAV decode to the raw signed 16-bit PCM samples. */
    def decodePcm(content: Array[Byte]): Array[Short] = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(content))
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected 16-bit mono PCM, got $fmt")
        val n = ais.getFrameLength.toInt
        val buf = ais.readAllBytes()
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { // little-endian signed shorts
          out(i) = ((buf(2 * i + 1) << 8) | (buf(2 * i) & 0xff)).toShort
          i += 1
        }
        out
      } finally ais.close()
    }

    private def lumaSum(img: BufferedImage): Long = {
      val raster = img.getRaster
      var s = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { s += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      s
    }

    /** Real decode: ImageIO for PNG, AudioSystem for WAV, container
      * parse + per-frame ImageIO for video. Every reported fact comes
      * from the payload bytes. */
    def decode(m: MediaRow): Decoded = m.kind match {
      case "image" =>
        val img = ImageIO.read(new ByteArrayInputStream(m.content))
        require(img != null, s"media ${m.media_id}: not a decodable image")
        Decoded(m.media_id, m.kind, img.getWidth, img.getHeight, 0, 1, lumaSum(img))

      case "audio" =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(m.content))
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
            s"media ${m.media_id}: expected 16-bit mono PCM, got $fmt")
          val n = ais.getFrameLength.toInt
          val buf = ais.readAllBytes()
          var s = 0L
          var i = 0
          while (i < n) { // reassemble little-endian signed shorts
            s += ((buf(2 * i + 1) << 8) | (buf(2 * i) & 0xff)).toShort
            i += 1
          }
          Decoded(m.media_id, m.kind, 0, 0, fmt.getSampleRate.toInt, n, s)
        } finally ais.close()

      case "video" =>
        val in = new DataInputStream(new ByteArrayInputStream(m.content))
        require(in.readInt() == VideoMagic, s"media ${m.media_id}: bad video magic")
        val nf = in.readInt()
        var (w, h) = (0, 0)
        var luma = 0L
        var f = 0
        while (f < nf) {
          val frame = new Array[Byte](in.readInt())
          in.readFully(frame)
          val img = ImageIO.read(new ByteArrayInputStream(frame))
          require(img != null, s"media ${m.media_id}: frame $f not decodable")
          if (f == 0) { w = img.getWidth; h = img.getHeight }
          luma += lumaSum(img)
          f += 1
        }
        Decoded(m.media_id, m.kind, w, h, 0, nf, luma)

      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }

    /** Per-consecutive-frame-pair (Σ|Δpixel|, w·h) from the REAL
      * container decode — the scene-cut signal. Emits one entry per
      * adjacent frame pair; single-frame videos emit none. */
    def frameDeltaSums(content: Array[Byte]): Seq[(Long, Long)] = {
      val in = new DataInputStream(new ByteArrayInputStream(content))
      require(in.readInt() == VideoMagic, "bad video magic")
      val nf = in.readInt()
      var prev: BufferedImage = null
      val out = Seq.newBuilder[(Long, Long)]
      var f = 0
      while (f < nf) {
        val frame = new Array[Byte](in.readInt())
        in.readFully(frame)
        val img = ImageIO.read(new ByteArrayInputStream(frame))
        require(img != null, s"frame $f not decodable")
        if (prev != null) {
          val (w, h) = (img.getWidth, img.getHeight)
          val ra = prev.getRaster
          val rb = img.getRaster
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              s += math.abs(rb.getSample(x, y, 0) - ra.getSample(x, y, 0))
              x += 1
            }
            y += 1
          }
          out += ((s, w.toLong * h))
        }
        prev = img
        f += 1
      }
      out.result()
    }

    /** 8×8 block-mean grayscale features in [0,1] from a decoded
      * image — a real pixel-space embedding (tiny stand-in for a learned
      * extractor; the plumbing and geometry are what the pipeline needs). */
    def blockMeans(img: BufferedImage): Array[Double] = {
      val grid = 8
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val out = new Array[Double](grid * grid)
      var gy = 0
      while (gy < grid) {
        val y0 = gy * h / grid; val y1 = math.max(y0 + 1, (gy + 1) * h / grid)
        var gx = 0
        while (gx < grid) {
          val x0 = gx * w / grid; val x1 = math.max(x0 + 1, (gx + 1) * w / grid)
          var s = 0L
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) { s += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          val n = (math.min(x1, w) - x0).max(1) * (math.min(y1, h) - y0).max(1)
          out(gy * grid + gx) = s.toDouble / n / 255.0
          gx += 1
        }
        gy += 1
      }
      out
    }
  }

  /** Real-payload media fixture: genuine PNG / WAV / framed-PNG-container
    * payloads, generated distributed (one typed map over doc ids, no
    * driver involvement) and deterministically — both the payload
    * parameters and contents are closed-form in `doc_id`. */
  def mediaFixture(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    // spread (round 15): everything downstream of the fixture is the
    // typed encode/decode mapPartitions pipeline (ImageIO/WAV/container
    // parse per asset) — pure per-row CPU that pipelines on THESE
    // partitions with no exchange in between, so an unsplittable
    // one-row-group doc scan would run every decode on one core
    // (measured: m07/m08/m09's two ~1.2 s single-task jobs each).
    graft.ScalePolicy.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        val kind = kinds((id % 3).toInt)
        MediaRow(id, kind, Codec.encode(id, kind))
      }
    }
  }

  // ---------------------------------------------------------------------------
  // Batched decode (the mapInPandas-shaped plumbing)
  // ---------------------------------------------------------------------------

  /** Decode in fixed-size batches with payload-balanced partitioning:
    * the structural twin of a Python `mapInPandas(decode_fn, schema)` —
    * an iterator of batches in, an iterator of decoded batches out,
    * nothing materialized beyond one batch per task. */
  def decodeBatched(media: Dataset[MediaRow], numPartitions: Int = 32,
                    batchSize: Int = 256): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media
      .repartition(numPartitions, col("media_id"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // a real codec amortizes per-batch setup (decoder init, native
          // buffers) here — that is why the batch boundary exists
          batch.map(Codec.decode)
        }
      }
  }

  // ---------------------------------------------------------------------------
  // Column-level media ops (pure Spark, no codec involved)
  // ---------------------------------------------------------------------------

  /** Fixed fake frame stride (bytes per "frame" of opaque payload). */
  val FrameSize = 64

  /** Frame offsets 0, FrameSize, 2·FrameSize … for a payload. */
  private def frameOffsets(content: Column): Column =
    sequence(lit(0), length(content) - 1, lit(FrameSize))

  /** One row per sampled frame: (frame_no, byte_off, frame bytes). The
    * slice happens inside the row — payload bytes never shuffle.
    * Empty payloads contribute no frames (sequence(0, -1) would throw;
    * the DuckDB oracle's range(0, 0) is likewise empty). */
  def sampleFrames(media: DataFrame, everyKth: Int = 1): DataFrame =
    media
      .filter(length(col("content")) > 0)
      .select(col("media_id"), col("content"),
        posexplode(frameOffsets(col("content"))).as(Seq("frame_no", "byte_off")))
      .filter(col("frame_no") % everyKth === 0)
      .select(
        col("media_id"), col("frame_no"), col("byte_off"),
        substring(col("content"), col("byte_off") + 1, lit(FrameSize)).as("frame"))

  /** Payload-cap "resize" on the opaque catalog: the metadata
    * bookkeeping (new dims, new byte count) and payload truncation
    * shape the plumbing needs to carry. (A pixel-space resize would
    * decode via [[Codec]] and re-encode inside [[decodeBatched]].) */
  def resizeTo(media: DataFrame, maxBytes: Int): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      substring(col("content"), 1, maxBytes).as("content"),
      least(length(col("content")), lit(maxBytes)).as("n_bytes"))

  /** REAL pixel-space resize: decode the PNG, nearest-neighbor resample
    * to `targetW`×`targetH`, re-encode. The sample mapping is the
    * closed-form floor((dst·src)/target) on each axis — deliberately
    * hand-rolled instead of Graphics2D's affine scaler, whose rounding
    * is implementation-defined: this way the resized pixel values are
    * exactly predictable by the oracle (m06 hash-checks the full
    * decode→resample→re-encode→decode round trip). Runs inside the same
    * mapPartitions shape as [[decodeBatched]]; payloads shrink, never
    * shuffle mid-operator. */
  def resizePixels(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val img = ImageIO.read(new ByteArrayInputStream(m.content))
        require(img != null, s"media ${m.media_id}: not a decodable image")
        val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_BYTE_GRAY)
        val (src, dst) = (img.getRaster, out.getRaster)
        var y = 0
        while (y < targetH) {
          var x = 0
          while (x < targetW) {
            dst.setSample(x, y, 0,
              src.getSample(x * img.getWidth / targetW, y * img.getHeight / targetH, 0))
            x += 1
          }
          y += 1
        }
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        MediaRow(m.media_id, m.kind, bos.toByteArray)
      }
    }
  }

  /** Decode image payloads and emit real pixel-space embeddings
    * (`vec_id`, `embedding`) compatible with the Similarity stack. */
  def imageFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val img = ImageIO.read(new ByteArrayInputStream(m.content))
        require(img != null, s"media ${m.media_id}: not a decodable image")
        (m.media_id, Codec.blockMeans(img))
      }
    }.toDF("vec_id", "embedding")
  }

  // ---------------------------------------------------------------------------
  // Gate queries
  // ---------------------------------------------------------------------------

  /** m01 — catalog profile per kind: the binary-column bookkeeping
    * (count, bytes, payload checksum) both engines can compute. */
  def m01MediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaCatalog(Tables.documents(spark, dir))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("media_count"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        max(col("meta.n_bytes")).as("max_bytes"))
      .orderBy(col("kind"))

  val m01Sql: String =
    """SELECT CASE (doc_id % 3 + 1) WHEN 1 THEN 'image'
      |                             WHEN 2 THEN 'audio'
      |                             ELSE 'video' END AS kind,
      |  COUNT(*) AS media_count,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(MAX(octet_length(encode(text))) AS INTEGER) AS max_bytes
      |FROM documents
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** m02 — frame sampling over video payloads: per-media frame count +
    * md5 of the first frame (proves the byte slicing is identical). */
  def m02FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val video = mediaCatalog(Tables.documents(spark, dir))
      .filter(col("kind") === "video")
    sampleFrames(video)
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("frame_count"),
        sum(length(col("frame"))).as("frame_bytes"),
        max(when(col("frame_no") === 0, md5(col("frame")))).as("first_frame_md5"))
      .orderBy(col("media_id"))
  }

  // DuckDB cannot substring a BLOB; the corpus is all-ASCII (asserted
  // by the oracle itself via the octet_length guard), so VARCHAR
  // slicing is byte-identical and md5 agrees with Spark's md5(binary).
  val m02Sql: String =
    s"""WITH video AS (
       |  SELECT doc_id AS media_id, text AS content
       |  FROM documents WHERE doc_id % 3 + 1 = 3
       |    AND octet_length(encode(text)) = length(text)),
       |frames AS (
       |  SELECT media_id,
       |         CAST(o.o AS INT) AS byte_off,
       |         substring(content, CAST(o.o AS INT) + 1, $FrameSize) AS frame
       |  FROM video
       |  CROSS JOIN LATERAL (SELECT unnest(range(0, length(content),
       |                                          $FrameSize)) AS o) o)
       |SELECT media_id, COUNT(*) AS frame_count,
       |  CAST(SUM(length(frame)) AS BIGINT) AS frame_bytes,
       |  MAX(CASE WHEN byte_off = 0 THEN md5(frame) END) AS first_frame_md5
       |FROM frames
       |GROUP BY media_id
       |ORDER BY media_id""".stripMargin

  /** m03 — REAL batched decode profile, hash-gated: per kind, the count,
    * decoded dims / sample rates / frame counts, and the sum over every
    * decoded pixel (images, all video frames) / PCM sample (audio). The
    * oracle computes the same facts from the fixture formulas — a
    * mismatch anywhere means the codec did not round-trip the payload. */
  def m03DecodeProfile(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFixture(Tables.documents(spark, dir))
    decodeBatched(media).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("media_count"),
        sum(col("width")).as("total_width"),
        sum(col("height")).as("total_height"),
        sum(col("sample_rate")).as("total_rate"),
        sum(col("n_frames")).as("total_frames"),
        sum(col("luma")).as("total_luma"))
      .orderBy(col("kind"))
  }

  val m03Sql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id % 3 AS r FROM documents),
      |img AS (SELECT id, 8 + id % 24 AS w, 8 + (id * 7) % 24 AS h
      |        FROM ids WHERE r = 0),
      |aud AS (SELECT id, 8000 + 1000 * (id % 5) AS rate, 64 + id % 192 AS ns
      |        FROM ids WHERE r = 1),
      |vid AS (SELECT id, 16 + id % 8 AS w, 16 + (id * 3) % 8 AS h,
      |               1 + id % 8 AS nf
      |        FROM ids WHERE r = 2),
      |img_luma AS (
      |  SELECT i.id, SUM((i.id * 31 + x.x * 7 + y.y * 13) % 256) AS luma
      |  FROM img i
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, i.w)) AS x) x
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, i.h)) AS y) y
      |  GROUP BY i.id),
      |aud_luma AS (
      |  SELECT a.id, SUM((a.id * 31 + s.i * 7) % 4096 - 2048) AS luma
      |  FROM aud a
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, a.ns)) AS i) s
      |  GROUP BY a.id),
      |vid_luma AS (
      |  SELECT v.id,
      |         SUM((v.id * 31 + f.f * 17 + x.x * 7 + y.y * 13) % 256) AS luma
      |  FROM vid v
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, v.nf)) AS f) f
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, v.w)) AS x) x
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, v.h)) AS y) y
      |  GROUP BY v.id),
      |per_media AS (
      |  SELECT 'image' AS kind, i.w AS width, i.h AS height,
      |         0 AS rate, 1 AS nf, l.luma
      |  FROM img i JOIN img_luma l ON i.id = l.id
      |  UNION ALL
      |  SELECT 'audio', 0, 0, a.rate, a.ns, l.luma
      |  FROM aud a JOIN aud_luma l ON a.id = l.id
      |  UNION ALL
      |  SELECT 'video', v.w, v.h, 0, v.nf, l.luma
      |  FROM vid v JOIN vid_luma l ON v.id = l.id)
      |SELECT kind, COUNT(*) AS media_count,
      |  CAST(SUM(width) AS BIGINT) AS total_width,
      |  CAST(SUM(height) AS BIGINT) AS total_height,
      |  CAST(SUM(rate) AS BIGINT) AS total_rate,
      |  CAST(SUM(nf) AS BIGINT) AS total_frames,
      |  CAST(SUM(luma) AS BIGINT) AS total_luma
      |FROM per_media
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** m05 — resize bookkeeping profile: per kind, how many payloads the
    * resize touched, total bytes after, and a payload checksum proving
    * the truncation slices identical bytes in both engines. The ASCII
    * guard mirrors m02's: DuckDB substring is character-based, so the
    * oracle is byte-exact only over single-byte text (the whole corpus,
    * asserted by the guard itself). */
  def m05ResizeProfile(spark: SparkSession, dir: String): DataFrame = {
    val maxBytes = 100
    // same ASCII guard as the m02 oracle (byte length == char length),
    // applied on BOTH sides so the character-based DuckDB substring and
    // the byte-based Spark slice see the same rows
    val asciiDocs = Tables.documents(spark, dir)
      .filter(length(encode(col("text"), "utf-8")) === length(col("text")))
    resizeTo(mediaCatalog(asciiDocs), maxBytes)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("media_count"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(when(col("n_bytes") === maxBytes, 1).otherwise(0)).as("capped_count"),
        max(md5(col("content"))).as("max_md5"))
      .orderBy(col("kind"))
  }

  val m05Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |         CASE (doc_id % 3 + 1) WHEN 1 THEN 'image'
      |                               WHEN 2 THEN 'audio'
      |                               ELSE 'video' END AS kind,
      |         text AS content
      |  FROM documents
      |  WHERE octet_length(encode(text)) = length(text)),
      |r AS (SELECT kind, substring(content, 1, 100) AS rc,
      |             CAST(least(length(content), 100) AS INT) AS n_bytes
      |      FROM media)
      |SELECT kind, COUNT(*) AS media_count,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(SUM(CASE WHEN n_bytes = 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS capped_count,
      |  MAX(md5(rc)) AS max_md5
      |FROM r
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** m04 — REAL pixel features routed into the similarity stack: decode
    * the first 50 PNG payloads, extract block-mean embeddings, nearest
    * neighbor per image. HASH-GATED (round 11): the fixture pixels are
    * closed-form in doc_id (the m03/m06/m07 discipline), so the oracle
    * re-derives every 8×8 block mean from the formulas — exact integer
    * sum over the block, ONE double division by the block's pixel count
    * then by 255 (mirrored left-to-right) — and replays the cosine
    * ranking on round(cosine, 9) (the s08/s13 rank-stability
    * convention). Integer-only output; a defect anywhere in
    * decode→blockMeans→kNN breaks the hash. */
  def m04FeatureKnn(spark: SparkSession, dir: String): DataFrame = {
    val images = mediaFixture(
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 150))
    val feats = imageFeatures(images)
    Similarity.bruteForceKnn(feats, feats, 1, roundCosineTo = 9)
      .orderBy(col("query_id"))
  }

  // block bounds mirror [[Codec.blockMeans]]: x ∈ [⌊gx·w/8⌋, ⌊(gx+1)·w/8⌋)
  // (w ≥ 8 keeps every block non-empty and inside the image, so the
  // max(x0+1,·)/min(·,w) guards are inert on the fixture); the pixel
  // formula is frame 0 of [[Codec.pixel]]
  val m04Sql: String =
    s"""WITH img AS (
      |  SELECT doc_id AS id, 8 + doc_id % 24 AS w, 8 + (doc_id * 7) % 24 AS h
      |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 150),
      |blocks AS (
      |  SELECT i.id, g.gy * 8 + g.gx AS b,
      |         CAST(SUM((i.id * 31 + x.x * 7 + y.y * 13) % 256) AS DOUBLE)
      |           / (((((g.gx + 1) * i.w) // 8) - ((g.gx * i.w) // 8))
      |              * ((((g.gy + 1) * i.h) // 8) - ((g.gy * i.h) // 8)))
      |           / 255.0 AS mu
      |  FROM img i
      |  CROSS JOIN LATERAL (
      |    SELECT gx.gx, gy.gy
      |    FROM (SELECT unnest(range(0, 8)) AS gx) gx,
      |         (SELECT unnest(range(0, 8)) AS gy) gy) g
      |  CROSS JOIN LATERAL (SELECT unnest(range((g.gx * i.w) // 8,
      |                                          ((g.gx + 1) * i.w) // 8)) AS x) x
      |  CROSS JOIN LATERAL (SELECT unnest(range((g.gy * i.h) // 8,
      |                                          ((g.gy + 1) * i.h) // 8)) AS y) y
      |  GROUP BY i.id, g.gx, g.gy, i.w, i.h),
      |vecs AS (SELECT id, list(mu ORDER BY b) AS v FROM blocks GROUP BY id),
      |scored AS (
      |  SELECT a.id AS query_id, b.id AS neighbor_id,
      |         ${Similarity.sqlCosine9("a.v", "b.v")} AS cosine
      |  FROM vecs a JOIN vecs b ON a.id <> b.id)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY cosine DESC, neighbor_id) AS rk
      |      FROM scored) t
      |WHERE rk = 1
      |ORDER BY query_id""".stripMargin

  /** m06 — REAL pixel resize, hash-gated per media: every image payload
    * goes through decode → nearest-neighbor 8×8 resample → PNG
    * re-encode → second decode, and the reported dims + resized pixel
    * sum must match the oracle's closed-form prediction
    * pixel(id, 0, ⌊x·w/8⌋, ⌊y·h/8⌋). Any defect anywhere in the chain
    * (encoder, decoder, sample mapping) breaks the hash. */
  def m06PixelResize(spark: SparkSession, dir: String): DataFrame = {
    val images = mediaFixture(
      Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0))
    decodeBatched(resizePixels(images, 8, 8)).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("luma").as("resized_luma"))
      .orderBy(col("media_id"))
  }

  val m06Sql: String =
    """WITH img AS (
      |  SELECT doc_id AS id, 8 + doc_id % 24 AS w, 8 + (doc_id * 7) % 24 AS h
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT i.id AS media_id,
      |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
      |  CAST(SUM((i.id * 31 + ((x.x * i.w) // 8) * 7
      |                      + ((y.y * i.h) // 8) * 13) % 256) AS BIGINT)
      |    AS resized_luma
      |FROM img i
      |CROSS JOIN LATERAL (SELECT unnest(range(0, 8)) AS x) x
      |CROSS JOIN LATERAL (SELECT unnest(range(0, 8)) AS y) y
      |GROUP BY i.id
      |ORDER BY media_id""".stripMargin

  /** 64-bit block-mean perceptual hash of a decoded grayscale image —
    * the image near-dup signature (pHash lineage): partition the image
    * into an 8×8 grid with the inverse map b=(y·8÷h)·8+(x·8÷w), set
    * bit b iff the block's mean ≥ the image's global mean. ALL
    * arithmetic is integer — the mean comparison is the cross-product
    * sum_b·N ≥ S·cnt_b — so the hash is exactly reproducible from the
    * fixture's closed-form pixels with no float anywhere. Returned as
    * two 32-bit halves (hi = bits 32–63): a single signed 64-bit pack
    * would go negative on bit 63 and trip engine-specific overflow
    * behavior in the oracle's shift arithmetic.
    *
    * Near-dup pairing over these is d04's Hamming band join verbatim
    * (split the 64 bits into bands, equi-join on exact band matches) —
    * the signature, not the join, is what is image-specific. */
  def phash64(img: BufferedImage): (Long, Long, Int) = {
    val grid = 8
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    val sums = new Array[Long](grid * grid)
    val cnts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val b = (y * grid / h) * grid + (x * grid / w)
        sums(b) += raster.getSample(x, y, 0)
        cnts(b) += 1
        x += 1
      }
      y += 1
    }
    val total = sums.sum
    val n = w.toLong * h
    var hi = 0L; var lo = 0L; var set = 0
    var b = 0
    while (b < grid * grid) {
      if (cnts(b) > 0 && sums(b) * n >= total * cnts(b)) {
        if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
        set += 1
      }
      b += 1
    }
    (hi, lo, set)
  }

  /** Decode every image payload and sign it with [[phash64]] — the
    * shared producer of the m07 profile and the m10 pairing. */
  private def imagePhashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaFixture(Tables.documents(spark, dir))
      .filter(col("kind") === "image").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.content))
          require(img != null, s"media ${m.media_id}: not a decodable image")
          val (hi, lo, set) = phash64(img)
          (m.media_id, hi, lo, set)
        }
      }.toDF("media_id", "phash_hi", "phash_lo", "n_set")
  }

  /** m07 — perceptual hashes of every image payload, REAL decode:
    * ImageIO decodes the PNG, [[phash64]] signs the pixels, and DuckDB
    * re-derives every bit from the closed-form pixel formulas — so the
    * gate pins the whole decode→signature path bit-for-bit. Payloads
    * die inside the task; only (id, 2×32-bit halves, popcount) ever
    * moves. */
  def m07ImagePhash(spark: SparkSession, dir: String): DataFrame =
    imagePhashes(spark, dir).orderBy(col("media_id"))

  // the pixel/dim formulas and the %3 kind assignment are [[Codec]]'s
  // (mirrored like m03Sql); block index and bit rule mirror [[phash64]]
  val m07Sql: String =
    """WITH img AS (
      |  SELECT doc_id AS id,
      |         8 + (doc_id % 24) AS w,
      |         8 + ((doc_id * 7) % 24) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT id,
      |         (yy.y * 8 // h) * 8 + (xx.x * 8 // w) AS b,
      |         (id * 31 + xx.x * 7 + yy.y * 13) % 256 AS pix
      |  FROM img
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) xx
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) yy),
      |blocks AS (
      |  SELECT id, b, SUM(pix) AS sb, COUNT(*) AS cb FROM px GROUP BY 1, 2),
      |tot AS (SELECT id, SUM(sb) AS s, SUM(cb) AS n FROM blocks GROUP BY 1),
      |bits AS (
      |  SELECT bl.id, bl.b,
      |         CASE WHEN bl.sb * t.n >= t.s * bl.cb THEN 1 ELSE 0 END AS bit
      |  FROM blocks bl JOIN tot t ON bl.id = t.id)
      |SELECT id AS media_id,
      |  CAST(SUM(CASE WHEN bit = 1 AND b >= 32
      |                THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INT))
      |                ELSE 0 END) AS BIGINT) AS phash_hi,
      |  CAST(SUM(CASE WHEN bit = 1 AND b < 32
      |                THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
      |                ELSE 0 END) AS BIGINT) AS phash_lo,
      |  CAST(SUM(bit) AS INT) AS n_set
      |FROM bits
      |GROUP BY id
      |ORDER BY media_id""".stripMargin

  /** 31-bit audio energy-contour fingerprint from decoded PCM — the
    * audio near-dup signature (Shazam-lite): split the sample stream
    * into 32 equal windows by the inverse map w=(i·32÷n), take each
    * window's integer energy Σs², and set bit w−1 iff window w's
    * energy RISES over window w−1's. Pure integer end to end, so the
    * fixture's closed-form PCM predicts every bit. Pairing over the
    * fingerprints is the d04 Hamming band join, as with [[phash64]]. */
  def audioFingerprint(pcm: Array[Short]): (Long, Int) = {
    val n = pcm.length
    require(n >= 64, s"fingerprint needs >= 2 samples per window, got $n")
    val e = new Array[Long](32)
    var i = 0
    while (i < n) {
      val s = pcm(i).toLong
      e(i * 32 / n) += s * s
      i += 1
    }
    var fp = 0L; var rise = 0
    var w = 1
    while (w < 32) {
      if (e(w) > e(w - 1)) { fp |= 1L << (w - 1); rise += 1 }
      w += 1
    }
    (fp, rise)
  }

  /** Decode every WAV payload and sign it with [[audioFingerprint]] —
    * the shared producer of the m08 profile and the m11 pairing. */
  private def audioFingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaFixture(Tables.documents(spark, dir))
      .filter(col("kind") === "audio").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { m =>
          val (fp, rise) = audioFingerprint(Codec.decodePcm(m.content))
          (m.media_id, fp, rise)
        }
      }.toDF("media_id", "afp", "n_rise")
  }

  /** m08 — audio fingerprints of every WAV payload, REAL decode:
    * AudioSystem reassembles the PCM, [[audioFingerprint]] signs the
    * energy contour, DuckDB re-derives every bit from the closed-form
    * sample formulas — pinning the decode→signature path bit-for-bit.
    * Payloads die inside the task; 12 bytes per asset move. */
  def m08AudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    audioFingerprints(spark, dir).orderBy(col("media_id"))

  // sample/count formulas are [[Codec]]'s; window index and bit rule
  // mirror [[audioFingerprint]]
  val m08Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS id, 64 + (doc_id % 192) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |s AS (
      |  SELECT id, (ii.i * 32) // n AS w,
      |         ((id * 31 + ii.i * 7) % 4096) - 2048 AS v
      |  FROM a CROSS JOIN LATERAL (SELECT unnest(range(0, n)) AS i) ii),
      |e AS (SELECT id, w, SUM(v * v) AS e FROM s GROUP BY 1, 2),
      |d AS (SELECT id, w, e,
      |             lag(e) OVER (PARTITION BY id ORDER BY w) AS pe
      |      FROM e)
      |SELECT id AS media_id,
      |  CAST(COALESCE(SUM(CASE WHEN e > pe
      |                    THEN (CAST(1 AS BIGINT) << CAST(w - 1 AS INT))
      |                    END), 0) AS BIGINT) AS afp,
      |  CAST(COALESCE(SUM(CASE WHEN e > pe THEN 1 END), 0) AS INT) AS n_rise
      |FROM d
      |GROUP BY id
      |ORDER BY media_id""".stripMargin

  /** m09 — video scene-cut detection, REAL decode: every adjacent
    * frame pair's absolute-pixel-delta sum from the container parse,
    * flagged as a cut when the mean delta clears 32 gray levels (above
    * the formula corpus' ~31.7 expected inter-frame delta, so the flag
    * genuinely splits). DuckDB re-derives every delta from the
    * closed-form pixel formulas — the decode→diff path is pinned
    * bit-for-bit. Payloads die inside the task; ~25 B per frame pair
    * move. Single-frame videos emit no pairs (absent on both sides). */
  def m09SceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaFixture(Tables.documents(spark, dir))
      .filter(col("kind") === "video").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { m =>
          Codec.frameDeltaSums(m.content).zipWithIndex.map {
            case ((delta, wh), i) => (m.media_id, i + 1, delta, wh)
          }
        }
      }.toDF("media_id", "pair_no", "delta_sum", "wh")
      .select(col("media_id"), col("pair_no").cast("int").as("pair_no"),
        col("delta_sum"),
        (col("delta_sum") > lit(32L) * col("wh")).as("is_cut"))
      .orderBy(col("media_id"), col("pair_no"))
  }

  // frame/dim formulas are [[Codec]]'s; the delta re-derivation runs
  // over a (pair, x, y) lateral grid
  val m09Sql: String =
    """WITH v AS (
      |  SELECT doc_id AS id, 1 + (doc_id % 8) AS nf,
      |         16 + (doc_id % 8) AS w, 16 + ((doc_id * 3) % 8) AS h
      |  FROM documents WHERE doc_id % 3 = 2),
      |p AS (
      |  SELECT id, f.f AS f, v.w * v.h AS wh,
      |         ((id * 31 + f.f * 17 + x.x * 7 + y.y * 13) % 256) AS a,
      |         ((id * 31 + (f.f + 1) * 17 + x.x * 7 + y.y * 13) % 256) AS b
      |  FROM v
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, nf - 1)) AS f) f
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) x
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) y)
      |SELECT id AS media_id, CAST(f + 1 AS INT) AS pair_no,
      |       CAST(SUM(ABS(b - a)) AS BIGINT) AS delta_sum,
      |       SUM(ABS(b - a)) > 32 * MAX(wh) AS is_cut
      |FROM p
      |GROUP BY id, f
      |ORDER BY media_id, pair_no""".stripMargin

  // ---------------------------------------------------------------------------
  // Multimodal near-dup PAIRING (m10 image / m11 audio) — the d04
  // Hamming band join over the decoded signatures
  // ---------------------------------------------------------------------------

  /** Near-dup pairs within Hamming 3 over integer signatures —
    * [[graft.operators.Dedup.simhashPairs]]' pigeonhole band join,
    * generalized: `sig` carries (media_id, signature columns), `chunks`
    * are the 4 band values (any pair within 3 bits must agree on ≥1
    * band exactly), candidates come from the (band, chunk)
    * equi-join, and the exact Hamming re-check runs only on candidates.
    * Scale posture: the banded frame is narrow (id + signature ints),
    * the join is an equi-join whose bucket population is bounded by the
    * band width (16/8 real bits here), and only 24-byte verified pairs
    * leave — the same never-all-pairs discipline as d04. At 100 TB the
    * `maxBucketSize` hot-band cap (the d11 dial, same trade — see the
    * inline note) bounds any degenerate bucket; the gates run uncapped
    * for pigeonhole recall 1. */
  private[operators] def signatureNearDupPairs(sig: DataFrame, chunks: Seq[Column],
                                    sigCols: Seq[String],
                                    maxBucketSize: Option[Long]): DataFrame = {
    // materialized once for the self-join's two sides (the decode +
    // signing upstream is the cost, not these narrow rows)
    val banded0 = sig
      .select(col("media_id") +: sigCols.map(col) :+
        posexplode(array(chunks: _*)).as(Seq("band", "chunk")): _*)
      .localCheckpoint(true)
    // the 100 TB dial (d11's hot-bucket cap, same trade): a 16-bit band
    // has only 65k values, so at billions of assets the band join's
    // quadratic mass concentrates in hot (band, chunk) buckets — the
    // cap drops buckets past the limit from candidate generation,
    // surrendering the pigeonhole recall guarantee only inside
    // signature clusters larger than the cap (cluster-level-policy
    // territory, exactly d08/d11's contract). None (the m10/m11 gates)
    // keeps recall-1.
    val banded = maxBucketSize match {
      case None => banded0
      case Some(limit) =>
        val hot = banded0.groupBy(col("band"), col("chunk"))
          .agg(count(lit(1)).as("pop"))
          .filter(col("pop") > limit)
          .select(col("band"), col("chunk"))
        banded0.join(hot, Seq("band", "chunk"), "left_anti")
    }
    val ham = sigCols
      .map(c => bit_count(col(s"a_$c").bitwiseXOR(col(s"b_$c"))))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a") +: col("b.media_id").as("id_b") +:
        sigCols.flatMap(c =>
          Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)
      .distinct()
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** pHash near-dup pairs over any (media_id, phash_hi, phash_lo)
    * frame — the public operator m10 gates (cap: see
    * [[signatureNearDupPairs]]). */
  def phashNearDupPairs(sig: DataFrame,
                        maxBucketSize: Option[Long] = None): DataFrame = {
    val chunks = Seq(
      col("phash_lo").bitwiseAND(lit(0xFFFFL)),
      shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
      col("phash_hi").bitwiseAND(lit(0xFFFFL)),
      shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL)))
    signatureNearDupPairs(sig, chunks, Seq("phash_hi", "phash_lo"),
      maxBucketSize)
  }

  /** m10 — IMAGE near-dup pairs, hash-gated: every image's [[phash64]]
    * (m07's REAL decode→signature path) banded into 4×16-bit chunks,
    * candidates from exact band agreement, pairs kept at Hamming ≤ 3
    * (pigeonhole: 3 differing bits cannot touch all 4 bands, so recall
    * over the threshold is exactly 1). The oracle re-derives every
    * signature bit from the closed-form pixel formulas and replays the
    * same band join + integer Hamming — unlike d04's xxhash64
    * signatures this is all-integer bit arithmetic on both sides, so
    * the pairing is a hash gate, not rows-only. */
  def m10ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    phashNearDupPairs(imagePhashes(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  // ph is the m07Sql chain; bands split the 2×32-bit halves into the
  // same 4×16-bit chunks as [[m10ImageNearDup]]
  val m10Sql: String =
    """WITH img AS (
      |  SELECT doc_id AS id,
      |         8 + (doc_id % 24) AS w,
      |         8 + ((doc_id * 7) % 24) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT id,
      |         (yy.y * 8 // h) * 8 + (xx.x * 8 // w) AS b,
      |         (id * 31 + xx.x * 7 + yy.y * 13) % 256 AS pix
      |  FROM img
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) xx
      |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) yy),
      |blocks AS (
      |  SELECT id, b, SUM(pix) AS sb, COUNT(*) AS cb FROM px GROUP BY 1, 2),
      |tot AS (SELECT id, SUM(sb) AS s, SUM(cb) AS n FROM blocks GROUP BY 1),
      |bits AS (
      |  SELECT bl.id, bl.b,
      |         CASE WHEN bl.sb * t.n >= t.s * bl.cb THEN 1 ELSE 0 END AS bit
      |  FROM blocks bl JOIN tot t ON bl.id = t.id),
      |ph AS MATERIALIZED (
      |  SELECT id AS media_id,
      |    CAST(SUM(CASE WHEN bit = 1 AND b >= 32
      |                  THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INT))
      |                  ELSE 0 END) AS BIGINT) AS phash_hi,
      |    CAST(SUM(CASE WHEN bit = 1 AND b < 32
      |                  THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
      |                  ELSE 0 END) AS BIGINT) AS phash_lo
      |  FROM bits GROUP BY id),
      |banded AS MATERIALIZED (
      |  SELECT media_id, phash_hi, phash_lo, g.band,
      |         CASE g.band WHEN 0 THEN phash_lo & 65535
      |                     WHEN 1 THEN (phash_lo >> 16) & 65535
      |                     WHEN 2 THEN phash_hi & 65535
      |                     ELSE (phash_hi >> 16) & 65535 END AS chunk
      |  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g)
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
      |         CAST(bit_count(xor(a.phash_hi, b.phash_hi)) +
      |              bit_count(xor(a.phash_lo, b.phash_lo)) AS INT) AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk
      |   AND a.media_id < b.media_id) t
      |WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Audio-contour near-dup pairs over any (media_id, afp) frame —
    * the public operator m11 gates. */
  def audioNearDupPairs(sig: DataFrame,
                        maxBucketSize: Option[Long] = None): DataFrame = {
    val chunks = (0 until 4).map(k =>
      shiftright(col("afp"), 8 * k).bitwiseAND(lit(0xFFL)))
    signatureNearDupPairs(sig, chunks, Seq("afp"), maxBucketSize)
  }

  /** m11 — AUDIO near-dup pairs, hash-gated: every track's 31-bit
    * energy contour ([[audioFingerprint]], m08's REAL decode path)
    * banded into 4×8-bit chunks (the top band carries 7 real bits),
    * candidates from exact band agreement, pairs kept at Hamming ≤ 3 —
    * the same pigeonhole-exact mechanism as m10 over the audio
    * signature. All-integer on both sides → hash gate. */
  def m11AudioNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupPairs(audioFingerprints(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  // fp is the m08Sql chain; bands are the same 4×8-bit chunks
  val m11Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS id, 64 + (doc_id % 192) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |s AS (
      |  SELECT id, (ii.i * 32) // n AS w,
      |         ((id * 31 + ii.i * 7) % 4096) - 2048 AS v
      |  FROM a CROSS JOIN LATERAL (SELECT unnest(range(0, n)) AS i) ii),
      |e AS (SELECT id, w, SUM(v * v) AS e FROM s GROUP BY 1, 2),
      |d AS (SELECT id, w, e,
      |             lag(e) OVER (PARTITION BY id ORDER BY w) AS pe
      |      FROM e),
      |fp AS MATERIALIZED (
      |  SELECT id AS media_id,
      |    CAST(COALESCE(SUM(CASE WHEN e > pe
      |                      THEN (CAST(1 AS BIGINT) << CAST(w - 1 AS INT))
      |                      END), 0) AS BIGINT) AS afp
      |  FROM d GROUP BY id),
      |banded AS MATERIALIZED (
      |  SELECT media_id, afp, g.band,
      |         (afp >> (8 * g.band)) & 255 AS chunk
      |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g)
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
      |         CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk
      |   AND a.media_id < b.media_id) t
      |WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m09_scene_cuts"     -> m09SceneCuts _,
    "m01_media_stats"    -> m01MediaStats _,
    "m02_frame_sample"   -> m02FrameSample _,
    "m03_decode_profile" -> m03DecodeProfile _,
    "m04_feature_knn"    -> m04FeatureKnn _,
    "m05_resize_profile" -> m05ResizeProfile _,
    "m06_pixel_resize"   -> m06PixelResize _,
    "m07_image_phash"    -> m07ImagePhash _,
    "m08_audio_fingerprint" -> m08AudioFingerprint _,
    "m10_image_neardup"  -> m10ImageNearDup _,
    "m11_audio_neardup"  -> m11AudioNearDup _,
  )

  val oracles: Map[String, String] = Map(
    "m01_media_stats"  -> m01Sql,
    "m02_frame_sample" -> m02Sql,
    "m03_decode_profile" -> m03Sql,
    "m04_feature_knn"  -> m04Sql,
    "m05_resize_profile" -> m05Sql,
    "m06_pixel_resize" -> m06Sql,
    "m07_image_phash"  -> m07Sql,
    "m08_audio_fingerprint" -> m08Sql,
    "m09_scene_cuts"        -> m09Sql,
    "m10_image_neardup"     -> m10Sql,
    "m11_audio_neardup"     -> m11Sql,
  )
}
