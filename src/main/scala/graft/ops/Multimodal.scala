package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * run as partition-local batch functions (the Scala analogue of
  * mapInPandas — one JVM call per batch, amortized setup, no driver round
  * trip). Extension surface per the builder brief. IMAGE decode is REAL:
  * payloads with a PNG/JPEG/GIF/BMP signature go through the JDK's
  * `javax.imageio` (true dimensions, mean-luminance grid features).
  * Audio/video payloads — no codec ships with the JDK — fall back to the
  * DETERMINISTIC STUB, preserving the stage's schema/batching contract.
  *
  * Scale notes: binary payloads dominate row size, so (1) metadata-only
  * predicates are applied BEFORE the decode stage so parquet column
  * pruning keeps payload bytes unread for filtered rows; (2) decode is
  * mapPartitions, not a per-row UDF, so a real codec would amortize its
  * init per partition; (3) output features are fixed-width arrays —
  * shuffle-friendly regardless of input payload size.
  */
object Multimodal {

  /** Typed record entering the decode stage. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Typed record leaving the decode stage. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
                                 n_bytes: Long, width: Int, height: Int,
                                 feature: Array[Float])

  val FeatureDim = 8

  /** Decode a payload: real `javax.imageio` decode when the bytes carry an
    * image signature ImageIO can read, deterministic stub otherwise. The
    * single seam a production build extends with audio/video codecs. */
  def decode(payload: Array[Byte]): (Int, Int, Array[Float]) =
    decodeImage(payload).getOrElse(decodeStub(payload))

  /** True when the payload starts with a PNG/JPEG/GIF/BMP signature —
    * checked before handing bytes to ImageIO so arbitrary text/audio
    * payloads skip the codec probe entirely. */
  def looksLikeImage(payload: Array[Byte]): Boolean =
    payload.length >= 4 && {
      val b = payload
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M')
    }

  /** Decoded images larger than this (width*height) degrade to the stub:
    * a single adversarial payload (a tiny PNG/JPEG declaring enormous
    * dimensions — a "decompression bomb") must not allocate executor
    * memory proportional to the CLAIMED size and kill the stage. 64 MPx
    * covers every realistic training image. */
  val MaxDecodedPixels: Long = 64L * 1024 * 1024

  /** REAL image decode via the JDK's ImageIO: true width/height plus an
    * 8-dim feature = mean luminance over a 4x2 grid. DETERMINISM: pixel
    * data in, same floats out — which for LOSSLESS formats (PNG, GIF,
    * BMP) makes features replayable across platforms, but JPEG decoders
    * may produce slightly different pixels across JDK/ImageIO versions,
    * so JPEG features are deterministic only per-environment (tests pin
    * PNG fixtures for this reason). None when the bytes aren't a
    * decodable image; NonFatal throwables from truncated/corrupt files
    * degrade to None and oversized declared dimensions are rejected
    * before pixels are read, so a bad payload can never kill a 100 TB
    * decode stage. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    if (!looksLikeImage(payload)) None
    else try {
      // Read declared dimensions from the header FIRST; only then decode
      // pixels. ImageIO.read on a decompression bomb would allocate the
      // full claimed raster before any size check could run.
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val dw = reader.getWidth(0).toLong
        val dh = reader.getHeight(0).toLong
        if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodedPixels) return None
        val img = reader.read(0)
        if (img == null) return None
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Double](FeatureDim)
        val counts = new Array[Long](FeatureDim)
        var y = 0
        while (y < h) {
          val row = y * 2 / h // 2 grid rows
          var x = 0
          while (x < w) {
            val cell = row * 4 + x * 4 / w // 4 grid cols
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / (3.0 * 255.0)
            sums(cell) += lum
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        val feat = Array.tabulate(FeatureDim)(i =>
          if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
        Some((w, h, feat))
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** STUB decoder — stands in for the audio/video codecs the JDK lacks.
    * Deterministic: dimensions and features derive from the payload bytes
    * alone, so tests and oracles can replay it. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val n = payload.length
    val md = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val width = 16 + (java.lang.Byte.toUnsignedInt(md(0)) % 16)
    val height = 16 + (java.lang.Byte.toUnsignedInt(md(1)) % 16)
    val feat = Array.tabulate(FeatureDim) { i =>
      (java.lang.Byte.toUnsignedInt(md(i * 2)) * 256
        + java.lang.Byte.toUnsignedInt(md(i * 2 + 1))).toFloat / 65535f * (if (n == 0) 0f else 1f)
    }
    (width, height, feat)
  }

  /** Wrap the documents table as a media table: payload = utf-8 bytes of
    * `text` (stand-in for real image bytes), media_type round-robin. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))

  /** Partition-local batch decode: the mapInPandas-shaped stage. */
  def extractFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "payload", "media_type").as[MediaRow]
      .mapPartitions { batch =>
        // per-partition init happens here (real codec handle, model, ...)
        batch.map { r =>
          val (w, h, f) = decode(r.payload)
          MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, w, h, f)
        }
      }
  }

  /** Relational projection of the media pipeline that an external SQL
    * oracle can verify: byte length + md5 fingerprint of the payload
    * (the codegen'd part of the stage; the stub features are covered by
    * unit tests instead). */
  def mediaStats(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("media_type"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("payload_md5"))

  /** Video-style frame sampling plumbing: slice each payload into
    * `nFrames` equal byte chunks ("frames") and keep every `stride`-th —
    * one output row per sampled frame, fingerprinted. All codegen'd
    * byte/substring arithmetic (the real frame DECODE would slot in where
    * the md5 fingerprint sits); the explode multiplies rows BEFORE any
    * shuffle, so downstream stages see fixed-size frame records, never
    * whole payloads. Deterministic → oracle-checkable. */
  def frameSample(media: DataFrame, nFrames: Int = 8, stride: Int = 2): DataFrame = {
    val flen = ceil(length(col("payload")).cast("double") / nFrames).cast("int")
    media
      .withColumn("__flen", flen)
      .select(col("doc_id"), col("media_type"), posexplode(
        transform(sequence(lit(0), lit(nFrames - 1), lit(stride)),
          k => col("payload").substr(k * col("__flen") + 1, col("__flen"))))
        .as(Seq("__i", "__frame")))
      .filter(length(col("__frame")) > 0)
      .select(col("doc_id"), col("media_type"),
        (col("__i") * stride).cast("long").as("frame_idx"),
        length(col("__frame")).cast("long").as("frame_bytes"),
        md5(col("__frame")).as("frame_md5"))
  }

  /** Typed record for a carved frame (payload slice) pre-hash. */
  final case class FrameRow(doc_id: Long, media_type: String,
                            frame_idx: Long, frame: Array[Byte])

  /** Typed record leaving the per-frame hash stage. */
  final case class FrameHash(doc_id: Long, media_type: String,
                             frame_idx: Long, phash: String)

  /** Keyframe selection: carve each payload into `nFrames` chunks
    * ([[frameSample]]'s plumbing, stride 1), perceptual-hash every frame
    * ([[averageHash64]] — the integer-exact aHash), and keep frame 0
    * plus every frame whose Hamming distance from its PREDECESSOR is ≥
    * `minHamming` — the shot-boundary pass a video pipeline runs so the
    * embedding/caption stages see one frame per scene instead of 30/s
    * of near-identical ones. A real build swaps the byte-chunk carve
    * for codec frame extraction at the same mapPartitions seam; the
    * selection logic, schema, and windowing are the production shape.
    * Output: (doc_id, media_type, frame_idx, phash, hamming_prev) for
    * kept frames (hamming_prev null on frame 0).
    *
    * Determinism: aHash bits are integer cross-comparisons (no float
    * means); Hamming sums per hex nibble — bit-replayable in SQL.
    *
    * Scale: the explode happens scan-side BEFORE any shuffle; the only
    * exchange is the per-document window over nFrames rows (bounded,
    * never payload-sized — the hash already reduced each frame to 16
    * chars). */
  def keyframes(media: DataFrame, nFrames: Int = 8, minHamming: Int = 16)
               (implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(nFrames >= 2, s"keyframes: nFrames=$nFrames must be >= 2")
    require(minHamming >= 1 && minHamming <= 64,
      s"keyframes: minHamming=$minHamming out of [1, 64]")
    val flen = ceil(length(col("payload")).cast("double") / nFrames).cast("int")
    val frames = media
      .withColumn("__flen", flen)
      .select(col("doc_id"), col("media_type"), posexplode(
        transform(sequence(lit(0), lit(nFrames - 1)),
          k => col("payload").substr(k * col("__flen") + 1, col("__flen"))))
        .as(Seq("__i", "frame")))
      .filter(length(col("frame")) > 0)
      .select(col("doc_id"), col("media_type"),
        col("__i").cast("long").as("frame_idx"), col("frame"))
      .as[FrameRow]
    val hashed = frames.mapPartitions(_.map(r =>
      FrameHash(r.doc_id, r.media_type, r.frame_idx, averageHash64(r.frame))))
      .toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val dist = (0 until 16).map(j =>
      expr(s"bit_count(cast(conv(substring(phash, ${j + 1}, 1), 16, 10) as long)" +
        s" ^ cast(conv(substring(__prev, ${j + 1}, 1), 16, 10) as long))"))
      .reduce(_ + _)
    hashed.withColumn("__prev", lag(col("phash"), 1).over(w))
      .withColumn("hamming_prev",
        when(col("__prev").isNotNull, dist.cast("long")))
      .filter(col("__prev").isNull || col("hamming_prev") >= minHamming)
      .select(col("doc_id"), col("media_type"), col("frame_idx"),
        col("phash"), col("hamming_prev"))
  }

  /** Fit (width, height) inside a `box`×`box` square preserving aspect
    * ratio, never upscaling — the resize-metadata step that runs BEFORE
    * the (stubbed) pixel resize so oversized payloads can be routed to a
    * heavier executor pool by metadata alone. Pure per-row arithmetic. */
  def fitWithin(width: Column, height: Column, box: Int): (Column, Column) = {
    val scale = least(lit(box.toDouble) / width, lit(box.toDouble) / height, lit(1.0))
    (floor(width * scale).cast("int"), floor(height * scale).cast("int"))
  }

  // ---- Perceptual hashing / near-dup ------------------------------------

  /** Typed record leaving the perceptual-hash stage. `phash` is the
    * 64-bit average-hash rendered as 16 lowercase hex chars (hex keeps
    * the top bit out of sign arithmetic in engines without unsigned
    * 64-bit ints, and band extraction is a substring). */
  final case class MediaHash(doc_id: Long, media_type: String, phash: String)

  /** 64-bit average-hash ("aHash") of a payload. Real images hash the
    * 8×8 mean-luminance grid: bit_c = 1 iff cell c's mean luma exceeds
    * the whole image's mean — the classic near-dup fingerprint that
    * survives resize/re-encode/brightness-preserving edits. Non-image
    * payloads degrade to the SAME rule over the raw byte signal: 64
    * equal byte chunks, bit_c = 1 iff chunk c's mean byte value exceeds
    * the payload mean (the 1-D analogue; on text payloads local edits
    * perturb a few chunks, so near-dup documents land within small
    * Hamming distance — measured on the corpus: appended/edited
    * variants at distance 0-3 while unrelated docs sit near 32).
    *
    * DETERMINISM: every bit is decided by the INTEGER cross-comparison
    * sum_c·N > S·n_c (cell sum × total count vs total sum × cell count)
    * — no floating-point mean ever computed, so the hash replays
    * bit-for-bit in any engine (q171's oracle recomputes the byte path
    * in SQL). Bounds: byte path sum_c ≤ 255·n, n ≤ 2^31 payload bytes;
    * image path S ≤ 765·MaxDecodedPixels — both products < 2^63. */
  def averageHash64(payload: Array[Byte]): String = {
    val cells = imageCellSums(payload).getOrElse(byteCellSums(payload))
    val (sums, counts) = cells
    var total = 0L
    var n = 0L
    var c = 0
    while (c < 64) { total += sums(c); n += counts(c); c += 1 }
    val sb = new java.lang.StringBuilder(16)
    var j = 0
    while (j < 16) {
      var nib = 0
      var b = 0
      while (b < 4) {
        val i = j * 4 + b
        val bit = counts(i) > 0 && sums(i) * n > total * counts(i)
        nib = (nib << 1) | (if (bit) 1 else 0)
        b += 1
      }
      sb.append(java.lang.Integer.toHexString(nib))
      j += 1
    }
    sb.toString
  }

  /** 8×8 grid of (r+g+b) pixel sums for a decodable image — integer
    * cell sums + pixel counts, the aHash input. Same bomb guard and
    * failure degradation as [[decodeImage]]. */
  private def imageCellSums(payload: Array[Byte]): Option[(Array[Long], Array[Long])] =
    if (!looksLikeImage(payload)) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val dw = reader.getWidth(0).toLong
        val dh = reader.getHeight(0).toLong
        if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodedPixels) return None
        val img = reader.read(0)
        if (img == null) return None
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val row = y * 8 / h
          var x = 0
          while (x < w) {
            val cell = row * 8 + x * 8 / w
            val rgb = img.getRGB(x, y)
            sums(cell) += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        Some((sums, counts))
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64 equal byte chunks' (sum, count) over the raw payload — the
    * non-image fallback signal. Chunk of 1-based byte i is
    * floor((i−1)·64/n), matching the SQL replay exactly. */
  private def byteCellSums(payload: Array[Byte]): (Array[Long], Array[Long]) = {
    val n = payload.length
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val cell = (i.toLong * 64 / n).toInt
      sums(cell) += java.lang.Byte.toUnsignedInt(payload(i))
      counts(cell) += 1
      i += 1
    }
    (sums, counts)
  }

  /** Perceptual hash per media row — the partition-local batch stage
    * (same seam as [[extractFeatures]]: a real build adds codecs here). */
  def perceptualHash(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaHash] = {
    import spark.implicits._
    media.select("doc_id", "payload", "media_type").as[MediaRow]
      .mapPartitions(batch => batch.map(r =>
        MediaHash(r.doc_id, r.media_type, averageHash64(r.payload))))
  }

  // ---- DCT perceptual hash ("pHash" proper) -----------------------------

  /** Fixed-point DCT-II basis, SCALED TO INTEGERS: T_N(k)(n) =
    * round(2^12 · cos(π/N · (n + ½) · k)). An integer table makes every
    * coefficient an exact Long dot product — bit-replayable in any
    * engine (the byte-path oracle carries the same 4096 literals) —
    * and 12 fractional bits keep the worst-case 2-D accumulation
    * (32·32 cells · 3·255·256 mean · 4096² scale ≈ 3.4e18) inside
    * Int64. Sign decisions vs the coefficient median are insensitive
    * to the (common, positive) scale factor. */
  private val DctScale = 1L << 12
  private[graft] def dctTable(n: Int): Array[Array[Long]] =
    Array.tabulate(n, n)((k, x) =>
      math.round(math.cos(math.Pi / n * (x + 0.5) * k) * DctScale))
  private[graft] lazy val Dct64: Array[Array[Long]] = dctTable(64)
  private lazy val Dct32: Array[Array[Long]] = dctTable(32)

  /** 64-bit DCT hash ("pHash", Zauner 2010): keep the LOW-FREQUENCY
    * shape of the signal and drop the scale — the edit classes that
    * defeat [[averageHash64]]'s mean threshold (contrast stretch,
    * gamma, local brightness) mostly preserve low-frequency structure,
    * so the DCT bit pattern survives them. Real images: 32×32 grid of
    * integer cell means (floor(256·sum/count) — no float mean), 2-D
    * DCT via the scaled-integer basis, the top-left 8×8 coefficient
    * block row-major; bit c = coeff_c > median (lower median of the 63
    * AC coefficients — DC is excluded from the threshold exactly so
    * overall brightness cannot vote). Non-image payloads degrade to
    * the SAME rule over the 1-D byte signal: 64 chunk means, 64-point
    * DCT, bit k = C_k > median(C_1..C_63) — the q186 oracle replays
    * this path bit-for-bit from the shared integer basis table.
    *
    * DETERMINISM: integer means, integer basis, integer dot products,
    * and a median defined as the 32nd-smallest VALUE — no floating
    * point anywhere after the table is built. */
  def dctHash64(payload: Array[Byte]): String = {
    val coeffs = imageDct(payload).getOrElse(byteDct(payload))
    val ac = new Array[Long](63)
    System.arraycopy(coeffs, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val med = ac(31) // lower median of the 63 AC coefficients
    val sb = new java.lang.StringBuilder(16)
    var j = 0
    while (j < 16) {
      var nib = 0
      var b = 0
      while (b < 4) {
        nib = (nib << 1) | (if (coeffs(j * 4 + b) > med) 1 else 0)
        b += 1
      }
      sb.append(java.lang.Integer.toHexString(nib))
      j += 1
    }
    sb.toString
  }

  /** Top-left 8×8 block (row-major) of the 2-D integer DCT over the
    * 32×32 cell-mean grid of a decodable image. */
  private def imageDct(payload: Array[Byte]): Option[Array[Long]] =
    imageGridMeans(payload, 32).map { m =>
      // separable 2-D DCT: rows first (u over x), then columns (v over y)
      val rows = Array.ofDim[Long](8, 32) // R(u)(y) = Σ_x m(y*32+x)·T32(u)(x)
      var u = 0
      while (u < 8) {
        var y = 0
        while (y < 32) {
          var acc = 0L
          var x = 0
          while (x < 32) { acc += m(y * 32 + x) * Dct32(u)(x); x += 1 }
          rows(u)(y) = acc
          y += 1
        }
        u += 1
      }
      val out = new Array[Long](64)
      var v = 0
      while (v < 8) {
        var uu = 0
        while (uu < 8) {
          var acc = 0L
          var y = 0
          while (y < 32) { acc += rows(uu)(y) * Dct32(v)(y); y += 1 }
          // row-major (v = vertical frequency index first)
          out(v * 8 + uu) = acc
          uu += 1
        }
        v += 1
      }
      out
    }

  /** `grid`×`grid` integer cell means floor(256·(r+g+b sum)/count) of a
    * decodable image — same decode guard chain as [[imageCellSums]]. */
  private def imageGridMeans(payload: Array[Byte], grid: Int): Option[Array[Long]] =
    if (!looksLikeImage(payload)) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val dw = reader.getWidth(0).toLong
        val dh = reader.getHeight(0).toLong
        if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodedPixels) return None
        val img = reader.read(0)
        if (img == null) return None
        val w = img.getWidth
        val h = img.getHeight
        if (w < 1 || h < 1) return None
        val sums = new Array[Long](grid * grid)
        val counts = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val row = y * grid / h
          var x = 0
          while (x < w) {
            val cell = row * grid + x * grid / w
            val rgb = img.getRGB(x, y)
            sums(cell) += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        Some(Array.tabulate(grid * grid)(c =>
          if (counts(c) == 0) 0L else 256L * sums(c) / counts(c)))
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-point integer DCT over the byte signal's 64 chunk means —
    * the non-image fallback the SQL oracle replays. */
  private def byteDct(payload: Array[Byte]): Array[Long] = {
    val (sums, counts) = byteCellSums(payload)
    val m = Array.tabulate(64)(c =>
      if (counts(c) == 0) 0L else 256L * sums(c) / counts(c))
    Array.tabulate(64) { k =>
      var acc = 0L
      var n = 0
      while (n < 64) { acc += m(n) * Dct64(k)(n); n += 1 }
      acc
    }
  }

  /** DCT hash per media row — [[perceptualHash]]'s pHash sibling. */
  def dctHash(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaHash] = {
    import spark.implicits._
    media.select("doc_id", "payload", "media_type").as[MediaRow]
      .mapPartitions(batch => batch.map(r =>
        MediaHash(r.doc_id, r.media_type, dctHash64(r.payload))))
  }

  /** Near-duplicate media pairs by perceptual hash: every (a < b) pair
    * with Hamming(phash_a, phash_b) ≤ `maxHamming`, found WITHOUT an
    * all-pairs join and WITHOUT the hot-bucket blowup a naive band join
    * hits on real corpora. Two structural defenses, both exactness-
    * preserving (MultimodalSpec pins banded ≡ brute force):
    *
    *  1. IDENTICAL hashes collapse to one representative before any
    *     banding — duplicated corpora (the 10x stress: every doc ~10
    *     near-copies) otherwise multiply every bucket by the
    *     duplication factor and candidates by its square. Hamming-0
    *     pairs are reconstructed exactly as the within-group self-join
    *     (output-sized); cross-group pairs expand from representative
    *     pairs through two membership joins.
    *  2. Candidates join on COMPOUND keys (band_i, subband_j of the
    *     complement): a pair within Hamming ≤ 3 has ≥ 1 clean 16-bit
    *     band (pigeonhole over 4), and its 48-bit complement still
    *     carries ≤ 3 diffs, so ≥ 1 of its 4 12-bit sub-bands is also
    *     clean — the pair shares ≥ 1 of the 16 compound keys. This is
    *     multi-index Hamming search (Norouzi, Punjani & Fleet, CVPR
    *     2012): aHash bits over natural corpora are LOW-ENTROPY (a
    *     tail-of-document band like "e000" held 10,880 of 50,000 docs
    *     in the 10x stress — 118M candidates from one bucket), and the
    *     complement bits are what split such buckets.
    *
    * The exact Hamming check removes every remaining false positive.
    * Shuffle payloads: (hash, 7-hex-char compound key) rows for
    * candidates, (hash, id) rows for expansion — MinHash-topology
    * shaped. */
  def phashNearDup(media: DataFrame, maxHamming: Int = 3)
                  (implicit spark: SparkSession): DataFrame =
    nearDupFromHashes(perceptualHash(media).toDF(), maxHamming)

  /** Compound keys holding more than this many DISTINCT hashes are "hot"
    * and get a third pigeonhole level ([[nearDupFromHashes]]) before the
    * candidate self-join — the knob trading one broadcast + explode
    * against a |bucket|² candidate surface. */
  val HotKeyThreshold: Int = 1000

  /** The banded near-dup core over any (doc_id, phash) table — the aHash
    * path [[phashNearDup]] runs on it; see its scaladoc for the two
    * structural defenses and the multi-index scheme.
    *
    * THIRD pigeonhole level for hot keys: low-entropy corpora leave some
    * compound keys holding thousands of distinct hashes (a near-constant
    * aHash band), and the candidate self-join is |bucket|² — the one
    * superlinear spot in the 10× stress. Keys past `hotThreshold` are
    * refined by the REMAINING 36 bits (the 3 complement sub-bands the
    * key didn't match): ≤ 3 diffs over 4 disjoint 9-bit chunks leaves
    * ≥ 1 chunk clean, so every true pair inside a hot bucket still
    * shares ≥ 1 refined key — lossless, same argument as the first two
    * levels, with 37 bits now pinned per bucket instead of 28. Cold keys
    * keep the plain two-level join. */
  def nearDupFromHashes(hashed: DataFrame, maxHamming: Int,
                        hotThreshold: Int = HotKeyThreshold): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming out of [0,3]: the 4-band + 4-subband " +
        "compound scheme is only lossless up to 3")
    require(hotThreshold >= 1, s"hotThreshold=$hotThreshold must be >= 1")
    // the hash column usually rides on a per-row DECODE (mapPartitions
    // over payload bytes) — cache it: members feeds the hamming-0 join,
    // the distinct-hash index, and both expansion joins, and recomputing
    // the decode per consumer would dominate the whole operator
    val members = hashed.select(col("phash"), col("doc_id")).persist()
    graft.QueryCleanup.register(() => members.unpersist())
    // hamming-0 pairs: within-group self-join (the pairs ARE the output)
    val within = members.as("x").join(members.as("y"),
        col("x.phash") === col("y.phash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    if (maxHamming == 0) return within
    // cross-hash candidates over DISTINCT hashes via compound keys
    val distinctH = members.select(col("phash")).distinct()
    val compoundKeys = for (i <- 0 until 4; j <- 0 until 4) yield {
      val band = substring(col("phash"), i * 4 + 1, 4)
      val complement = concat((0 until 4).filter(_ != i)
        .map(b => substring(col("phash"), b * 4 + 1, 4)): _*)
      val sub = substring(complement, j * 3 + 1, 3)
      concat(lit(s"$i|"), band, lit(s"|$j|"), sub)
    }
    // cached: consumed by the hot-key aggregation, the cold anti-join,
    // the hot semi-join, and (through allKeyed) both candidate sides
    val keyed = distinctH.select(col("phash"),
      explode(array(compoundKeys: _*)).as("key"))
      .persist()
    graft.QueryCleanup.register(() => keyed.unpersist())
    val hotKeys = keyed.groupBy(col("key")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold).select("key")
    // EAGER probe over the cached index (one cheap aggregation): a
    // corpus with no hot key — the usual case — keeps the plain
    // two-level join with zero extra joins in the plan
    val allKeyed = if (hotKeys.isEmpty) keyed else hotSplit(keyed, hotKeys)
    val dist = (0 until 16).map(j =>
      expr(s"bit_count(cast(conv(substring(pa, ${j + 1}, 1), 16, 10) as long) ^ " +
        s"cast(conv(substring(pb, ${j + 1}, 1), 16, 10) as long))"))
      .reduce(_ + _)
    val repPairs = allKeyed.select(col("key"), col("phash").as("pa"))
      .join(allKeyed.select(col("key"), col("phash").as("pb")), Seq("key"))
      .filter(col("pa") < col("pb"))
      .select("pa", "pb").distinct()
      .withColumn("hamming", dist.cast("long"))
      .filter(col("hamming") <= maxHamming)
    // expand representative pairs to member pairs (a < b orientation)
    val cross = repPairs
      .join(members.select(col("phash").as("pa"), col("doc_id").as("ida")), Seq("pa"))
      .join(members.select(col("phash").as("pb"), col("doc_id").as("idb")), Seq("pb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Third-pigeonhole refinement of an over-threshold compound-key index
    * ([[nearDupFromHashes]]): cold keys pass through; rows of hot keys
    * re-derive their key's (i, j) from the key string and are re-keyed by
    * each 9-bit chunk of the REMAINING 36 bits the compound key did not
    * match. ≤ 3 diffs over 4 disjoint chunks leave ≥ 1 chunk clean, so a
    * true pair inside a hot bucket still shares ≥ 1 refined key. The
    * 16-way when-chain only ever evaluates on hot rows — the all-cold
    * corpus never reaches this method at all. */
  private def hotSplit(keyed: DataFrame, hotKeys: DataFrame): DataFrame = {
    val coldKeyed = keyed.join(broadcast(hotKeys), Seq("key"), "left_anti")
    val rest36 = (for (i <- 0 until 4; j <- 0 until 4) yield {
      val complement = concat((0 until 4).filter(_ != i)
        .map(b => substring(col("phash"), b * 4 + 1, 4)): _*)
      val hex9 = concat((0 until 4).filter(_ != j)
        .map(jj => substring(complement, jj * 3 + 1, 3)): _*)
      (lit(s"$i|$j"), conv(hex9, 16, 10).cast("long"))
    }).foldRight(lit(-1L)) { case ((tag, v), acc) =>
      when(concat(substring(col("key"), 1, 1), lit("|"),
        substring(col("key"), 8, 1)) === tag, v).otherwise(acc)
    }
    val hotKeyed = keyed.join(broadcast(hotKeys), Seq("key"), "left_semi")
      .withColumn("__rest", rest36)
      .select(col("phash"), explode(array((0 until 4).map(kk =>
        concat(col("key"), lit(s"|$kk|"),
          shiftright(col("__rest"), 9 * kk).bitwiseAND(lit(511L))
            .cast("string"))): _*)).as("key"))
    coldKeyed.select("key", "phash")
      .unionByName(hotKeyed.select("key", "phash"))
  }
}
