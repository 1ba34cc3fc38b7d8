package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.functions._

import graft.operators.Media
import graft.operators.Media.{Codec, Decoded, MediaRow}

class MediaSpec extends SparkSpec {
  import spark.implicits._

  private def catalog = Media.mediaCatalog(Tables.documents(spark, sf))
  private def fixture = Media.mediaFixture(Tables.documents(spark, sf))

  test("mediaCatalog: binary schema contract, total kind partition") {
    val schema = catalog.schema
    assert(schema("content").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    val total = catalog.groupBy("kind").count()
      .agg(sum("count")).as[Long].head()
    assert(total == Tables.documents(spark, sf).count())
    val badKind = catalog.filter(!$"kind".isin(Media.kinds: _*)).count()
    assert(badKind == 0)
  }

  test("sampleFrames covers every payload byte exactly once at k=1") {
    val video = catalog.filter($"kind" === "video")
    val frameBytes = Media.sampleFrames(video)
      .agg(sum(length($"frame"))).as[Long].head()
    val payloadBytes = video.agg(sum(length($"content"))).as[Long].head()
    assert(frameBytes == payloadBytes,
      "k=1 frame sampling must tile the payload with no gap/overlap")
  }

  test("sampleFrames: empty payload yields zero frames, not an error") {
    val withEmpty = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array.empty[Byte]))
      .toDF("media_id", "content")
    val frames = Media.sampleFrames(withEmpty)
    assert(frames.filter($"media_id" === 2L).count() == 0)
    assert(frames.filter($"media_id" === 1L).count() == 1)
  }

  test("sampleFrames every 2nd frame keeps only even frame_no") {
    val video = catalog.filter($"kind" === "video").limit(10)
    val odd = Media.sampleFrames(video, everyKth = 2)
      .filter($"frame_no" % 2 =!= 0).count()
    assert(odd == 0)
  }

  test("resizeTo caps payloads and preserves prefixes") {
    val out = Media.resizeTo(catalog, maxBytes = 100)
    assert(out.filter(length($"content") > 100).count() == 0)
    assert(out.filter($"n_bytes" > 100).count() == 0)
    // a payload shorter than the cap is untouched
    val joined = catalog.select($"media_id", length($"content").as("orig"))
      .join(out.select($"media_id", $"n_bytes"), "media_id")
    assert(joined.filter($"orig" <= 100 && $"orig" =!= $"n_bytes").count() == 0)
  }

  // -------------------------------------------------------------------------
  // Real codec
  // -------------------------------------------------------------------------

  test("Codec decodes a known hand-built PNG and pins its dims and pixels") {
    // 3×2 grayscale image with pixels 10..60 — built directly with
    // ImageIO (not through Codec.encode), so this pins the DECODER
    // against an independent encoder.
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_BYTE_GRAY)
    val px = Seq((0, 0, 10), (1, 0, 20), (2, 0, 30), (0, 1, 40), (1, 1, 50), (2, 1, 60))
    px.foreach { case (x, y, v) => img.getRaster.setSample(x, y, 0, v) }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val d = Codec.decode(MediaRow(1L, "image", bos.toByteArray))
    assert(d == Decoded(1L, "image", 3, 2, 0, 1, 10 + 20 + 30 + 40 + 50 + 60))
  }

  test("Codec PNG round-trip matches the fixture formulas exactly") {
    for (id <- Seq(0L, 7L, 123L, 498L)) {
      val d = Codec.decode(MediaRow(id, "image", Codec.encode(id, "image")))
      val (w, h) = (Codec.imageW(id), Codec.imageH(id))
      val luma = (for (x <- 0 until w; y <- 0 until h)
        yield Codec.pixel(id, 0, x, y).toLong).sum
      assert(d == Decoded(id, "image", w, h, 0, 1, luma))
    }
  }

  test("phash64 matches an independent per-pixel recomputation") {
    for (id <- Seq(0L, 33L, 123L, 498L)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Codec.encode(id, "image")))
      val (hi, lo, set) = Media.phash64(img)
      // independent integer oracle straight from the formulas
      val (w, h) = (Codec.imageW(id), Codec.imageH(id))
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val b = (y * 8 / h) * 8 + (x * 8 / w)
        sums(b) += Codec.pixel(id, 0, x, y); cnts(b) += 1
      }
      val (s, n) = (sums.sum, w.toLong * h)
      var ehi = 0L; var elo = 0L; var eset = 0
      for (b <- 0 until 64 if cnts(b) > 0 && sums(b) * n >= s * cnts(b)) {
        if (b >= 32) ehi |= 1L << (b - 32) else elo |= 1L << b
        eset += 1
      }
      assert((hi, lo, set) == ((ehi, elo, eset)))
      assert(java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo) == set)
      // both halves stay within 32 unsigned bits (the no-sign-bit pact
      // the oracle's shift arithmetic depends on)
      assert(hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32))
    }
  }

  test("frameDeltaSums matches an independent per-pixel recomputation") {
    for (id <- Seq(2L, 5L, 23L, 497L)) { // video ids: doc_id % 3 == 2
      val got = Codec.frameDeltaSums(Codec.encode(id, "video"))
      val (w, h, nf) =
        (Codec.videoW(id), Codec.videoH(id), Codec.videoFrames(id))
      val want = (0 until nf - 1).map { f =>
        var s = 0L
        for (y <- 0 until h; x <- 0 until w)
          s += math.abs(Codec.pixel(id, f + 1, x, y) - Codec.pixel(id, f, x, y))
        (s, w.toLong * h)
      }
      assert(got == want, s"id=$id")
      assert(got.length == nf - 1)
    }
  }

  test("phash64: identical payloads sign identically, distinct ids differ") {
    def ph(id: Long) = Media.phash64(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Codec.encode(id, "image"))))
    assert(ph(42L) == ph(42L))
    // at least one of a handful of other images differs (the signature
    // is not a constant function)
    assert(Seq(3L, 6L, 9L, 12L).exists(ph(_) != ph(42L)))
  }

  test("audioFingerprint matches an independent per-sample recomputation") {
    for (id <- Seq(1L, 34L, 247L, 499L)) {
      val pcm = Codec.decodePcm(Codec.encode(id, "audio"))
      val (fp, rise) = Media.audioFingerprint(pcm)
      val n = Codec.audioSamples(id)
      assert(pcm.length == n)
      val e = new Array[Long](32)
      for (i <- 0 until n) {
        val s = Codec.pcmSample(id, i).toLong
        e(i * 32 / n) += s * s
      }
      var efp = 0L; var erise = 0
      for (w <- 1 until 32 if e(w) > e(w - 1)) {
        efp |= 1L << (w - 1); erise += 1
      }
      assert((fp, rise) == ((efp, erise)))
      assert(java.lang.Long.bitCount(fp) == rise)
      assert(fp >= 0 && fp < (1L << 31))
    }
  }

  test("Codec WAV round-trip: rate, frame count, and PCM sample sum") {
    for (id <- Seq(1L, 10L, 247L)) {
      val d = Codec.decode(MediaRow(id, "audio", Codec.encode(id, "audio")))
      val n = Codec.audioSamples(id)
      val sum = (0 until n).map(i => Codec.pcmSample(id, i).toLong).sum
      assert(d == Decoded(id, "audio", 0, 0, Codec.audioRate(id), n, sum))
      assert(sum != 0L || n == 0, "degenerate all-zero PCM would hide byte-order bugs")
    }
  }

  test("Codec video container round-trip: per-frame decode, summed luma") {
    for (id <- Seq(2L, 11L, 497L)) {
      val d = Codec.decode(MediaRow(id, "video", Codec.encode(id, "video")))
      val (w, h, nf) = (Codec.videoW(id), Codec.videoH(id), Codec.videoFrames(id))
      val luma = (for (f <- 0 until nf; x <- 0 until w; y <- 0 until h)
        yield Codec.pixel(id, f, x, y).toLong).sum
      assert(d == Decoded(id, "video", w, h, 0, nf, luma))
    }
  }

  test("Codec rejects a corrupt payload loudly instead of fabricating facts") {
    val junk = Array.fill[Byte](64)(42)
    intercept[Exception](Codec.decode(MediaRow(9L, "image", junk)))
    intercept[Exception](Codec.decode(MediaRow(9L, "video", junk)))
  }

  test("decodeBatched: one decoded row per media, batch-size independent") {
    val d1 = Media.decodeBatched(fixture, numPartitions = 7, batchSize = 3).toDF()
    val d2 = Media.decodeBatched(fixture, numPartitions = 2, batchSize = 500).toDF()
    assert(d1.count() == Tables.documents(spark, sf).count())
    // partitioning/batching must not change results (mapInPandas contract)
    assert(d1.exceptAll(d2).count() == 0 && d2.exceptAll(d1).count() == 0)
  }

  test("featureVector: fixed dim, bounded, deterministic, non-degenerate") {
    // seeded xxhash64 per dimension, scaled to [-1, 1]
    val featureVector = transform(sequence(lit(1), lit(64)), i =>
      (xxhash64($"content", i) / lit(Long.MaxValue.toDouble)).cast("double"))
    val feats = catalog.limit(50)
      .select($"media_id", featureVector.as("f"))
    val bad = feats.filter(size($"f") =!= 64).count()
    assert(bad == 0)
    val outOfRange = feats
      .select(explode($"f").as("x")).filter(abs($"x") > 1.0).count()
    assert(outOfRange == 0)
    assert(digest(feats) == digest(feats))
    // distinct payloads ⇒ distinct vectors (hash quality smoke)
    assert(feats.select($"f").distinct().count() ==
      catalog.limit(50).select($"content").distinct().count())
  }

  test("imageFeatures: real pixel embeddings — 64-dim, in [0,1], formula-checked") {
    val images = fixture.filter($"kind" === "image")
    val feats = Media.imageFeatures(images)
    assert(feats.filter(size($"embedding") =!= 64).count() == 0)
    val outOfRange = feats.select(explode($"embedding").as("x"))
      .filter($"x" < 0.0 || $"x" > 1.0).count()
    assert(outOfRange == 0)
    // pin one vector against a direct in-test computation from the raster
    val id = 3L
    val got = feats.filter($"vec_id" === id).select($"embedding")
      .as[Array[Double]].head()
    val img = ImageIO.read(new ByteArrayInputStream(Codec.encode(id, "image")))
    assert(got.sameElements(Codec.blockMeans(img)))
    // mean of all block means equals mean pixel value (partition property)
    val (w, h) = (Codec.imageW(id), Codec.imageH(id))
    val meanPx = (for (x <- 0 until w; y <- 0 until h)
      yield Codec.pixel(id, 0, x, y).toDouble).sum / (w * h) / 255.0
    // blocks are equal-sized only when grid divides dims; allow small drift
    assert(math.abs(got.sum / 64.0 - meanPx) < 0.02)
  }

  test("resizePixels: nearest-neighbor mapping is the exact floor formula") {
    val id = 6L // image kind (6 % 3 == 0)
    val ds = Seq(MediaRow(id, "image", Codec.encode(id, "image"))).toDS()
    val d = Codec.decode(Media.resizePixels(ds, 8, 8).collect().head)
    val (w, h) = (Codec.imageW(id), Codec.imageH(id))
    val expected = (for (x <- 0 until 8; y <- 0 until 8)
      yield Codec.pixel(id, 0, x * w / 8, y * h / 8).toLong).sum
    assert(d.width == 8 && d.height == 8 && d.luma == expected)
  }

  test("resizePixels to the source dims is the identity") {
    val id = 9L
    val (w, h) = (Codec.imageW(id), Codec.imageH(id))
    val ds = Seq(MediaRow(id, "image", Codec.encode(id, "image"))).toDS()
    val rt = Codec.decode(Media.resizePixels(ds, w, h).collect().head)
    assert(rt == Codec.decode(MediaRow(id, "image", Codec.encode(id, "image"))))
  }

  test("m10: pairing equals the brute-force Hamming<=3 set (4-band pigeonhole recall 1)") {
    val ph = Media.m07ImagePhash(spark, sf).localCheckpoint()
    val brute = ph.as("a").join(ph.as("b"), $"a.media_id" < $"b.media_id")
      .withColumn("hamming",
        (bit_count($"a.phash_hi".bitwiseXOR($"b.phash_hi")) +
          bit_count($"a.phash_lo".bitwiseXOR($"b.phash_lo"))).cast("int"))
      .filter($"hamming" <= 3)
      .select($"a.media_id".as("id_a"), $"b.media_id".as("id_b"), $"hamming")
    val got = Media.m10ImageNearDup(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(brute).count() == 0 && brute.exceptAll(got).count() == 0)
  }

  test("m10 mechanism: id and id+768 are planted exact dups (identical payload, Hamming 0)") {
    // pixel formula repeats mod 256 in id (768·31 ≡ 0 mod 256) and the
    // dim formulas mod 24 — so id and id+768 (both % 3 == 0: image
    // kind) encode byte-identical PNGs and must sign identically
    val a = Codec.encode(6L, "image")
    val b = Codec.encode(6L + 768L, "image")
    assert(java.util.Arrays.equals(a, b))
    val pa = Media.phash64(ImageIO.read(new ByteArrayInputStream(a)))
    val pb = Media.phash64(ImageIO.read(new ByteArrayInputStream(b)))
    assert(pa == pb)
  }

  test("m11: pairing equals the brute-force Hamming<=3 set over audio contours") {
    val fp = Media.m08AudioFingerprint(spark, sf).localCheckpoint()
    val brute = fp.as("a").join(fp.as("b"), $"a.media_id" < $"b.media_id")
      .withColumn("hamming",
        bit_count($"a.afp".bitwiseXOR($"b.afp")).cast("int"))
      .filter($"hamming" <= 3)
      .select($"a.media_id".as("id_a"), $"b.media_id".as("id_b"), $"hamming")
    val got = Media.m11AudioNearDup(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(brute).count() == 0 && brute.exceptAll(got).count() == 0)
  }

  test("m10 hot-band cap engages: capped pairs lose only over-cap signature clusters") {
    val ph = Media.m07ImagePhash(spark, sf).localCheckpoint()
    val uncapped = Media.phashNearDupPairs(ph)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // the fixture has a 47-member Hamming-0 family at the gate corpus;
    // cap below it so the dial genuinely engages
    val capped = Media.phashNearDupPairs(ph, maxBucketSize = Some(8L))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped),
      "the cap can only DROP candidate buckets, never invent pairs")
    assert(capped.size < uncapped.size, "cap did not engage on this corpus")
  }

  test("m04: every image's nearest pixel-space neighbor is itself-excluded and ranked 1") {
    val knn = Media.m04FeatureKnn(spark, sf)
    assert(knn.filter($"query_id" === $"neighbor_id").count() == 0)
    assert(knn.filter($"rk" =!= 1).count() == 0)
    assert(knn.count() == 50) // doc_ids 0,3,…,147
  }
}
