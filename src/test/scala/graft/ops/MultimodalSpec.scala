package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "an image payload"), (1L, "an audio payload"), (2L, "a video payload"),
    (3L, "another image")
  ).toDF("doc_id", "text")

  test("asMediaTable assigns round-robin media types and utf-8 payloads") {
    val got = Multimodal.asMediaTable(docs)
      .select("doc_id", "media_type").as[(Long, String)].collect().toMap
    assert(got(0L) == "image" && got(1L) == "audio" && got(2L) == "video" && got(3L) == "image")
  }

  test("extractFeatures runs the partition-local decode with stable output") {
    implicit val s = spark
    val feats = Multimodal.extractFeatures(Multimodal.asMediaTable(docs))
      .collect().sortBy(_.doc_id)
    assert(feats.length == 4)
    val f0 = feats(0)
    assert(f0.n_bytes == "an image payload".getBytes("UTF-8").length)
    assert(f0.feature.length == Multimodal.FeatureDim)
    assert(f0.width >= 16 && f0.width < 32 && f0.height >= 16 && f0.height < 32)
    // decode is deterministic: same payload -> same features
    val again = Multimodal.extractFeatures(Multimodal.asMediaTable(docs))
      .collect().sortBy(_.doc_id)
    assert(again(0).feature.sameElements(f0.feature))
  }

  private def pngBytes(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("decode reads a real PNG: true dimensions and luminance-grid features") {
    // left half black, right half white, 20x12
    val png = pngBytes(20, 12)((x, _) => if (x < 10) 0x000000 else 0xFFFFFF)
    assert(Multimodal.looksLikeImage(png))
    val (w, h, feat) = Multimodal.decode(png)
    assert(w == 20 && h == 12)
    assert(feat.length == Multimodal.FeatureDim)
    // 4x2 grid: cells 0,1 (left cols) black; cells 2,3 (right cols) white
    assert(feat(0) == 0f && feat(1) == 0f && feat(4) == 0f && feat(5) == 0f)
    assert(feat(2) == 1f && feat(3) == 1f && feat(6) == 1f && feat(7) == 1f)
  }

  test("extractFeatures routes real image payloads through ImageIO in the Spark stage") {
    implicit val s = spark
    val png = pngBytes(33, 17)((x, y) => if ((x + y) % 2 == 0) 0xFF0000 else 0x00FF00)
    val media = Seq((100L, png, "image"), (101L, "not an image".getBytes("UTF-8"), "audio"))
      .toDF("doc_id", "payload", "media_type")
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(0).width == 33 && feats(0).height == 17) // true PNG dims
    // the audio payload still takes the deterministic stub path
    val (sw, sh, sf) = Multimodal.decodeStub("not an image".getBytes("UTF-8"))
    assert(feats(1).width == sw && feats(1).height == sh)
    assert(feats(1).feature.sameElements(sf))
  }

  test("decode degrades to the stub on truncated image bytes") {
    val png = pngBytes(8, 8)((_, _) => 0xFFFFFF)
    val truncated = png.take(12) // valid signature, unreadable body
    assert(Multimodal.looksLikeImage(truncated))
    val (w, h, f) = Multimodal.decode(truncated)
    val (sw, sh, sf) = Multimodal.decodeStub(truncated)
    assert(w == sw && h == sh && f.sameElements(sf))
  }

  test("frameSample slices payloads into strided fingerprinted chunks") {
    val frames = Multimodal.frameSample(Multimodal.asMediaTable(docs))
      .filter($"doc_id" === 0)
      .select("frame_idx", "frame_bytes", "frame_md5")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // payload "an image payload" = 16 bytes, flen = 2, frames 0/2/4/6
    assert(frames.map(_._1).sameElements(Array(0L, 2L, 4L, 6L)))
    assert(frames.forall(_._2 == 2L))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("an".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(frames(0)._3 == expected) // frame 0 = bytes [0,2) = "an"
  }

  test("fitWithin shrinks preserving aspect, never upscales") {
    val df = Seq((640, 480), (100, 400), (20, 10)).toDF("w", "h")
    val (nw, nh) = Multimodal.fitWithin($"w", $"h", box = 224)
    val got = df.select($"w", nw.as("nw"), nh.as("nh"))
      .as[(Int, Int, Int)].collect().sortBy(_._1)
    assert(got.contains((640, 224, 168)))  // scale 0.35
    assert(got.contains((100, 56, 224)))   // scale 0.56
    assert(got.contains((20, 20, 10)))     // no upscale
  }

  test("mediaStats exposes byte length and md5 of the payload") {
    val r = Multimodal.mediaStats(Multimodal.asMediaTable(docs))
      .filter($"doc_id" === 0)
      .select("n_bytes", "payload_md5").as[(Long, String)].head()
    assert(r._1 == 16L)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("an image payload".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r._2 == md)
  }

  private def hamming(a: String, b: String): Int =
    a.zip(b).map { case (x, y) =>
      java.lang.Long.bitCount(java.lang.Long.parseLong(x.toString, 16) ^
        java.lang.Long.parseLong(y.toString, 16))
    }.sum

  test("averageHash64: uniform payload hashes to all-zero bits; integer rule") {
    // no chunk mean strictly exceeds the global mean when all bytes equal
    val uniform = Array.fill[Byte](640)(65)
    assert(Multimodal.averageHash64(uniform) == "0" * 16)
    // a single hot chunk flips exactly its cell's bit
    val oneHot = Array.fill[Byte](640)(65)
    for (i <- 0 until 10) oneHot(i) = 120.toByte // chunk 0 hot
    assert(Multimodal.averageHash64(oneHot) == "8" + "0" * 15)
  }

  test("averageHash64 on real PNGs: brightness-edit stays near, inverse far") {
    implicit val s = spark
    val base = pngBytes(64, 64)((x, _) => if (x < 32) 0x202020 else 0xE0E0E0)
    // same structure, slightly lighter dark half: grid bits unchanged
    val nearDup = pngBytes(64, 64)((x, _) => if (x < 32) 0x262626 else 0xE0E0E0)
    val inverse = pngBytes(64, 64)((x, _) => if (x < 32) 0xE0E0E0 else 0x202020)
    val hb = Multimodal.averageHash64(base)
    val hn = Multimodal.averageHash64(nearDup)
    val hi = Multimodal.averageHash64(inverse)
    assert(hamming(hb, hn) <= 3, s"$hb vs $hn")
    assert(hamming(hb, hi) >= 32, s"$hb vs $hi")
  }

  test("phashNearDup: banded join equals brute force, finds the constructed pair") {
    implicit val s = spark
    // payloads engineered at the byte-signal path: a base ramp, a copy
    // with one perturbed chunk (Hamming <= 3), and unrelated noise docs
    def ramp(seed: Int): Array[Byte] =
      Array.tabulate[Byte](1280)(i => (((i * 7 + seed * 131) % 191) + 32).toByte)
    val base = ramp(0)
    val tweaked = base.clone()
    for (i <- 0 until 20) tweaked(i) = (tweaked(i) + 3).toByte
    val rows = Seq((0L, base, "image"), (1L, tweaked, "image")) ++
      (2L to 9L).map(k => (k, ramp(k.toInt), "image"))
    val media = rows.toDF("doc_id", "payload", "media_type")
    val hashes = Multimodal.perceptualHash(media).collect()
      .map(h => h.doc_id -> h.phash).toMap
    val brute = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      d = hamming(hashes(a), hashes(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(brute.exists(p => p._1 == 0L && p._2 == 1L), hashes.toString)
    val banded = Multimodal.phashNearDup(media, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute, s"banded=$banded brute=$brute")
  }

  test("dctHash64: gamma edit defeats aHash but not the DCT hash") {
    // 64x64 grayscale PNG of a horizontal luminance ramp, optionally
    // gamma-edited — the brightness-nonlinearity class aHash's global-
    // mean threshold is weakest against (a monotone remap moves the
    // mean relative to mid-ramp, flipping a whole column of cells),
    // while the ramp's low-frequency DCT structure is untouched.
    def rampPng(gamma: Double): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val g = (math.pow(x / 63.0, gamma) * 255).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val orig = rampPng(1.0)
    val edited = rampPng(2.0)
    val aDist = hamming(Multimodal.averageHash64(orig), Multimodal.averageHash64(edited))
    val dDist = hamming(Multimodal.dctHash64(orig), Multimodal.dctHash64(edited))
    assert(dDist <= 3, s"DCT hash should survive the gamma edit, dist $dDist")
    assert(aDist > 3, s"aHash should miss at the banding threshold, dist $aDist")
    // and the DCT hash still separates genuinely different images
    def invPng(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val g = 255 - (x * 255 / 63)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // a genuinely different image sits clear of the near-dup band
    assert(hamming(Multimodal.dctHash64(orig), Multimodal.dctHash64(invPng())) > 3)
    // determinism: the fixed-point table is engine-stable
    assert(Multimodal.dctHash64(orig) == Multimodal.dctHash64(rampPng(1.0)))
  }

  test("nearDupFromHashes: hot-key third level stays lossless (banded = brute force)") {
    implicit val s = spark
    // 40 distinct hashes ALL sharing compound key (band0="0000",
    // subband0="000") — the key goes hot at threshold 4 and its
    // candidates route through the 9-bit-chunk refinement; the output
    // pair set must be exactly the brute-force one
    val rnd = new scala.util.Random(7)
    def hex9(): String =
      (1 to 9).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
    val bases = Seq.fill(20)("0000" + "000" + hex9()).distinct
    val planted = bases.zipWithIndex.map { case (h, i) =>
      val v = java.lang.Long.parseLong(h.substring(7), 16)
      val flipped = v ^ ((1L << (i % 9)) | (1L << ((i * 3 + 5) % 36)))
      "0000" + "000" + f"$flipped%09x"
    }
    val all = (bases ++ planted).distinct.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
    val df = all.toDF("doc_id", "phash")
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = hamming(ha, hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture must contain true near-dup pairs")
    val banded = Multimodal.nearDupFromHashes(df, maxHamming = 3,
        hotThreshold = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute,
      s"hot-path banded (${banded.size}) != brute force (${brute.size})")
    // and the default threshold (nothing hot) agrees too
    val cold = Multimodal.nearDupFromHashes(df, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(cold == brute)
  }

  test("phashNearDup rejects thresholds the banding cannot guarantee") {
    implicit val s = spark
    val media = Seq((0L, "x".getBytes("UTF-8"), "image")).toDF("doc_id", "payload", "media_type")
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDup(media, maxHamming = 4)
    }
  }

  test("keyframes: static payload keeps one frame; alternating scenes keep all") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // 64-byte frames so all 64 aHash cells are populated (one byte per
    // cell): doc 1 repeats one chunk -> hamming 0 everywhere -> frame 0
    // only; doc 2 alternates complementary low/high halves -> hamming 64
    // at every boundary -> all 8 frames kept
    val static = ("az" * 32) * 8
    val scenes = (0 until 8).map(i =>
      if (i % 2 == 0) "a" * 32 + "z" * 32 else "z" * 32 + "a" * 32).mkString
    val media = Seq((1L, static.getBytes("UTF-8"), "video"),
      (2L, scenes.getBytes("UTF-8"), "video"))
      .toDF("doc_id", "payload", "media_type")
    val got = Multimodal.keyframes(media, nFrames = 8, minHamming = 16)
      .orderBy("doc_id", "frame_idx")
      .select("doc_id", "frame_idx", "hamming_prev")
      .as[(Long, Long, Option[Long])].collect()
    val d1 = got.filter(_._1 == 1L)
    assert(d1.toSeq == Seq((1L, 0L, None)), d1.mkString(", "))
    val d2 = got.filter(_._1 == 2L)
    assert(d2.length == 8 && d2.tail.forall(_._3.contains(64L)),
      d2.mkString(", "))
  }
}
