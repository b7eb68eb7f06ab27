package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (SURVEY §2.4): image/audio/video as opaque BINARY
  * columns with typed metadata, processed batch-wise on executors.
  *
  * The Spark-side plumbing is real — schema, partition-local batch
  * processing, deterministic outputs, linear scaling — and so is image
  * decoding: `decodeImage` reads real JPEG/PNG/GIF/BMP bytes via
  * `javax.imageio` (ships in the base JDK — zero extra deps). The tiny
  * deterministic fake-header format is kept as a fast path for synthetic
  * fixtures and oracle-gated tests; the header tag (int 1) collides with
  * no real format magic (PNG \x89PNG, JPEG \xFFD8, GIF "GIF8", BMP "BM").
  * Audio is real too: `decodeWav`/`extractAudioFeatures` read WAV/PCM
  * via `javax.sound.sampled` (also base-JDK) — WAV is the raw-PCM
  * interchange format audio training pipelines standardize on before
  * featurization; compressed codecs (MP3/AAC/Opus) have no JDK decoder
  * and stay out of scope. Video is real for MJPEG/AVI: a zero-dep RIFF
  * container parser (`decodeAvi`) plus per-frame JPEG decode via the
  * same `javax.imageio` path — MJPEG is the one video codec the base
  * JDK can decode, because its frames ARE JPEGs. Inter-frame codecs
  * (H.264/VP9/AV1) have no JDK decoder and stay out of scope;
  * `sampleFrames` remains the container-agnostic fallback for opaque
  * blobs.
  */
object MultiModal {

  /** Typed metadata carried beside every media blob. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image|audio|video
    StructField("content", BinaryType, nullable = false),   // opaque bytes
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("source_uri", StringType, nullable = true),
      StructField("bytes", LongType, nullable = true))), nullable = true)))

  /** Deterministic fake media: 16-byte header [kindTag, w, h, channels]
    * as big-endian ints, then payload bytes. Lets tests exercise the full
    * pipeline with verifiable decode output. */
  def fakeImageBytes(w: Int, h: Int, channels: Int, payloadLen: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + payloadLen)
    bb.putInt(1).putInt(w).putInt(h).putInt(channels)
    bb.put(Array.fill(payloadLen)(((w + h) % 127).toByte))
    bb.array()
  }

  case class ImageInfo(width: Int, height: Int, channels: Int)

  private def isFakeHeader(bytes: Array[Byte]): Boolean =
    bytes.length >= 16 && java.nio.ByteBuffer.wrap(bytes).getInt() == 1

  /** Real zero-dep decoder: fake-header fast path for synthetic fixtures,
    * `javax.imageio` (JDK built-in: JPEG/PNG/GIF/BMP/WBMP) for real
    * bytes. Runs partition-local inside mapPartitions — ImageIO is
    * thread-safe for reads and allocates nothing global. */
  def decodeImage(bytes: Array[Byte]): ImageInfo = {
    if (isFakeHeader(bytes)) {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.getInt() // tag
      ImageInfo(bb.getInt(), bb.getInt(), bb.getInt())
    } else {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image bytes (no registered reader)")
      ImageInfo(img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
    }
  }

  /** PNG-encode a deterministic solid-color image — real bytes for specs
    * and fixtures without any external asset (ImageIO write path). */
  def encodePng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ==================== perceptual image hashing ====================

  /** Grayscale raster of a media blob: real images decode via ImageIO
    * (integer ITU-R 601 luminance (299r+587g+114b)/1000 — exact for the
    * gray PNGs the fixtures write, where r=g=b); fake-header blobs map
    * their payload bytes row-major as gray values (cycled), so synthetic
    * fixtures flow through the same raster pipeline. */
  private def grayRaster(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    if (isFakeHeader(bytes)) {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.getInt()
      val w = bb.getInt(); val h = bb.getInt(); bb.getInt()
      require(w > 0 && h > 0, s"fake image with non-positive dims ${w}x$h")
      val payload = java.util.Arrays.copyOfRange(bytes, 16, bytes.length)
      val px = new Array[Int](w * h)
      var i = 0
      while (i < px.length) {
        px(i) = if (payload.isEmpty) 0 else payload(i % payload.length) & 0xFF
        i += 1
      }
      (w, h, px)
    } else {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image bytes (no registered reader)")
      val w = img.getWidth; val h = img.getHeight
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
          px(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
          x += 1
        }
        y += 1
      }
      (w, h, px)
    }
  }

  /** Average-pool a raster to tw×th with integer box boundaries
    * (x ∈ [i·w/tw, (i+1)·w/tw), never empty) — deterministic integer
    * means, so pooled values are exactly reproducible. A raster already
    * at tw×th pools to itself. */
  private def poolGray(w: Int, h: Int, px: Array[Int],
                       tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var j = 0
    while (j < th) {
      val y0 = j * h / th; val y1 = math.max(y0 + 1, (j + 1) * h / th)
      var i = 0
      while (i < tw) {
        val x0 = i * w / tw; val x1 = math.max(x0 + 1, (i + 1) * w / tw)
        var s = 0L; var n = 0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) { s += px(y * w + x); n += 1; x += 1 }
          y += 1
        }
        out(j * tw + i) = if (n == 0) 0 else (s / n).toInt
        i += 1
      }
      j += 1
    }
    out
  }

  /** 64-bit difference hash (dHash): pool to 9×8 grayscale, bit
    * (y·8 + x) = 1 iff p(x+1,y) > p(x,y). Gradient SIGNS survive
    * re-encoding, scaling, and small-amplitude noise, which is what makes
    * equal-or-near hashes a near-duplicate signal; distance is Hamming
    * over the 64 bits (fed to [[graft.dedup.Dedup.imageNearDups]]). */
  def dHash64(bytes: Array[Byte]): Long = {
    val (w, h, px) = grayRaster(bytes)
    val p = poolGray(w, h, px, 9, 8)
    var sig = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (p(y * 9 + x + 1) > p(y * 9 + x)) sig |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    sig
  }

  /** Perceptual-hash pass over a media table: (id, sig) with one decode +
    * hash per blob, partition-local (the mapPartitions shape — image
    * bytes never leave their input partition; only 16-byte (id, sig)
    * rows flow on); the hash is [[dHash64]]. */
  def perceptualHashes(media: DataFrame, idCol: String,
                       bytesCol: String): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sig", LongType, nullable = false)))
    val rdd = media.select(idCol, bytesCol).rdd.mapPartitions { it =>
      it.map(r => Row(r.getLong(0), dHash64(r.getAs[Array[Byte]](1))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Avalanche-mixed fixture noise in [-2, 2] (splitmix64 finalizer over
    * a seed folded from (id, position)): both planted-duplicate fixture
    * synthesizers ([[synthesizeImagesFromDocs]], [[synthesizeAudioFromDocs]])
    * need per-(doc, position) noise that (a) makes every blob's bytes
    * unique — any LINEAR id term is constant within a dup group (ids ≡
    * mod `groups`), which made same-group blobs byte-identical — and
    * (b) stays small enough that no gradient sign ever flips. Shared so
    * the two fixtures' no-sign-flip reasoning can't silently diverge. */
  private def avalancheNoise(id: Long, pos: Long): Int = {
    var z = id * 0x9E3779B97F4A7C15L + pos * 0xC2B2AE3D27D4EB4FL
    z ^= z >>> 29; z *= 0xBF58476D1CE4E5B9L; z ^= z >>> 32
    java.lang.Math.floorMod(z, 5L).toInt - 2
  }

  /** 8-bit column-direction patterns with pairwise Hamming distance ≥ 4:
    * a group's image ascends/descends in x wherever its pattern bit is
    * set/clear, so two groups' dHashes differ by ≥ 4·8 = 32 bits while
    * same-group images hash IDENTICALLY (noise stays under the gradient
    * step). That separation is what makes the q113 pair set predictable
    * arithmetic (same group ⇔ pair, hamming 0). */
  private val groupPatterns = Array(0x00, 0xFF, 0x0F, 0xF0, 0x33, 0xCC)

  /** Gray PNG encode of a 9×8 pixel function — real ImageIO bytes. */
  private def encodePngGray(w: Int, h: Int, p: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = p(x, y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Synthesize a REAL-PNG image table from the documents fixture for
    * perceptual-hash dedup (the q96 arithmetic-oracle pattern applied to
    * rasters): doc_id % `groups` picks an 8-bit column-direction pattern;
    * the 9×8 gray image walks ±8 per column along that pattern, plus a
    * per-(doc, pixel) noise term in [-2, 2] — large enough that every
    * image's BYTES differ, small enough that no dHash gradient sign ever
    * flips (|Δ| = 8 ± 4 ≥ 4 > 0). Result: same-group images share an
    * identical dHash; cross-group dHashes differ by ≥ 32 bits — the
    * expected pair set is pure doc_id arithmetic, SQL-recomputable. */
  def synthesizeImagesFromDocs(docs: DataFrame, groups: Int = 5): DataFrame = {
    require(groups >= 1 && groups <= groupPatterns.length,
      s"groups must be in [1, ${groupPatterns.length}]; got $groups")
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id").rdd.map { r =>
      val id = r.getLong(0)
      val pat = groupPatterns((id % groups).toInt)
      val base = new Array[Int](9)
      base(0) = 128
      var x = 0
      while (x < 8) {
        base(x + 1) = base(x) + (if (((pat >> x) & 1) == 1) 8 else -8)
        x += 1
      }
      // per-(doc, pixel) noise — see avalancheNoise for why it must be
      // avalanche-mixed, not linear in id (any two docs agree on the
      // whole 9×8 grid with probability ~5^-72)
      def noise(x: Int, y: Int): Int = avalancheNoise(id, y * 9L + x)
      val content = encodePngGray(9, 8, (x, y) => base(x) + noise(x, y))
      Row(id, "image", content,
        Row("image/png", s"mem://img/$id", content.length.toLong))
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Lossy JPEG re-encode of any ImageIO-decodable image at an explicit
    * quality factor in (0, 1] — the transform perceptual image dedup
    * exists to catch in production (a re-hosted/thumbnailed copy is
    * almost always a JPEG re-encode of the original). Also the
    * measurement probe: DedupSpec re-encodes the planted fixture at
    * q30/50/80 and measures the dHash distance distribution, which is
    * what pins the recommended operating radius (SCALE.md). Alpha is
    * dropped (JPEG has none); the JDK encoder is deterministic for a
    * given input + quality. */
  def transcodeJpeg(bytes: Array[Byte], quality: Float): Array[Byte] = {
    require(quality > 0f && quality <= 1f,
      s"quality must be in (0, 1]; got $quality")
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(src != null, "undecodable image bytes (no registered reader)")
    // JPEG writers reject alpha channels; redraw into packed RGB
    val rgb = new java.awt.image.BufferedImage(src.getWidth, src.getHeight,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = rgb.createGraphics()
    try g.drawImage(src, 0, 0, null) finally g.dispose()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(rgb, null, null), p)
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** A 16-bit PCM WAV blob decoded: its format, its frame length, and
    * its samples in a buffer in the stream's byte order (one `getShort`
    * per sample). Other sample sizes are rejected. */
  private def decodePcm16(bytes: Array[Byte])
      : (javax.sound.sampled.AudioFormat, Long, java.nio.ByteBuffer) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16,
        s"only 16-bit PCM supported; got ${f.getSampleSizeInBits}")
      val pcm = in.readAllBytes()
      (f, in.getFrameLength, java.nio.ByteBuffer.wrap(pcm).order(
        if (f.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN))
    } finally in.close()
  }

  /** Lossy WAV round-trip: nearest-neighbor integer resample to
    * `targetRate` plus bit-depth quantization to `targetBits` (samples
    * truncated to the top `targetBits` bits, re-emitted in the 16-bit
    * container the envelope hash consumes) — the audio analogue of
    * [[transcodeJpeg]]: a low-bitrate re-encode's two lossy axes
    * (sample-rate reduction, amplitude quantization) without needing any
    * non-JDK codec. Used by DedupSpec to measure envelope-hash recall
    * per transform (SCALE.md operating-radius table). */
  def transcodeWav(bytes: Array[Byte], targetRate: Int,
                   targetBits: Int): Array[Byte] = {
    require(targetRate > 0, s"targetRate must be > 0; got $targetRate")
    require(targetBits >= 1 && targetBits <= 16,
      s"targetBits must be in [1, 16]; got $targetBits")
    val (f, _, bb) = decodePcm16(bytes)
    require(f.getChannels == 1, s"only mono supported; got ${f.getChannels}")
    val n = bb.remaining / 2
    val src = new Array[Short](n)
    var i = 0
    while (i < n) { src(i) = bb.getShort; i += 1 }
    val srcRate = f.getSampleRate.toDouble
    val outN = math.max(1, math.round(n * targetRate / srcRate).toInt)
    val shift = 16 - targetBits
    val out = new Array[Short](outN)
    var j = 0
    while (j < outN) {
      // nearest-neighbor index map (floor of the exact rational), then
      // truncate the low bits — the round-trip a naive decimating
      // re-encoder applies
      val si = math.min(n - 1, (j.toLong * n / outN).toInt)
      out(j) = ((src(si) >> shift) << shift).toShort
      j += 1
    }
    encodeWav(targetRate, out)
  }

  // ==================== audio perceptual hashing ====================

  /** 64-bit audio envelope hash — the dHash idea applied to the
    * time-domain energy envelope: decode 16-bit PCM, split the sample
    * stream into 65 integer-boundary frames, per-frame integer mean
    * |sample|, bit f = 1 iff env(f+1) > env(f). Gain-invariant (uniform
    * level scaling preserves every comparison) and robust to additive
    * noise below half the envelope step, which makes equal-or-near
    * hashes a re-encode/re-level near-duplicate signal — the audio
    * member of the perceptual-hash family (dHash64 for images, simhash
    * for text); distance is Hamming over the 64 bits, fed to
    * [[graft.dedup.Dedup.audioNearDups]]. Zero-dep: the same base-JDK
    * `javax.sound.sampled` WAV path as [[extractAudioFeatures]].
    * Frame-mean comparison is exact cross-multiplication in 128-bit
    * integer arithmetic (no division rounding, no overflow at any blob
    * length). */
  def audioEnvelopeHash64(bytes: Array[Byte]): Long = {
    val (_, _, bb) = decodePcm16(bytes)
    val n = bb.remaining / 2
    require(n >= 65, s"need >= 65 samples for a 64-bit envelope hash; got $n")
    val env = new Array[Long](65)
    val cnt = new Array[Long](65)
    var i = 0
    while (i < n) {
      val s = bb.getShort.toInt
      val fi = (i.toLong * 65 / n).toInt
      env(fi) += math.abs(s); cnt(fi) += 1
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      // exact cross-multiplied mean compare in 128 bits: env·cnt can
      // exceed Long for multi-hour blobs (env ≤ 32767·n/65, cnt ≈ n/65
      // → overflow near n ≈ 1.1e9, ~7 h at 44.1 kHz), which would
      // silently flip comparison signs; 64 BigInteger products per
      // blob are noise next to the decode
      val l = java.math.BigInteger.valueOf(env(k + 1))
        .multiply(java.math.BigInteger.valueOf(cnt(k)))
      val r = java.math.BigInteger.valueOf(env(k))
        .multiply(java.math.BigInteger.valueOf(cnt(k + 1)))
      if (l.compareTo(r) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** Envelope-hash pass over an audio table: (id, sig), one decode +
    * hash per blob, partition-local (same mapPartitions shape as
    * [[perceptualHashes]] — audio bytes never leave their input
    * partition; only 16-byte (id, sig) rows flow on). */
  def audioPerceptualHashes(media: DataFrame, idCol: String,
                            bytesCol: String): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sig", LongType, nullable = false)))
    val rdd = media.select(idCol, bytesCol).rdd.mapPartitions { it =>
      it.map(r => Row(r.getLong(0), audioEnvelopeHash64(r.getAs[Array[Byte]](1))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Synthesize a REAL-WAV audio table from the documents fixture for
    * envelope-hash dedup (the q113 construction, third modality):
    * doc_id % `groups` picks an 8-bit pattern; the 65-frame envelope
    * walks ±50 per frame along that pattern (each pattern bit drives 8
    * consecutive frames), base 4000, with avalanche-mixed per-(doc,
    * sample) noise in [-2, 2] — every blob's BYTES are unique while no
    * envelope gradient sign ever flips (|Δ| = 50 ∓ 4 > 0). Same-group
    * docs hash IDENTICALLY; cross-group hashes differ by ≥ 32 bits
    * (pattern Hamming ≥ 4 × 8 frames) — the expected pair set is pure
    * doc_id arithmetic, SQL-recomputable (q114). 65×64 samples at
    * 16 kHz mono 16-bit ≈ 8 KB per doc. */
  def synthesizeAudioFromDocs(docs: DataFrame, groups: Int = 5): DataFrame = {
    require(groups >= 1 && groups <= groupPatterns.length,
      s"groups must be in [1, ${groupPatterns.length}]; got $groups")
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id").rdd.map { r =>
      val id = r.getLong(0)
      val pat = groupPatterns((id % groups).toInt)
      val env = new Array[Int](65)
      env(0) = 4000
      var fr = 0
      while (fr < 64) {
        env(fr + 1) = env(fr) + (if (((pat >> (fr / 8)) & 1) == 1) 50 else -50)
        fr += 1
      }
      val samples = new Array[Short](65 * 64)
      var i = 0
      while (i < samples.length) {
        val mag = env(i / 64) + avalancheNoise(id, i.toLong)
        // alternate sign so the waveform is audio-shaped; the hash
        // consumes |sample|, so magnitudes carry the envelope exactly
        samples(i) = (if (i % 2 == 0) mag else -mag).toShort
        i += 1
      }
      val content = encodeWav(16000, samples)
      Row(id, "audio", content,
        Row("audio/wav", s"mem://aud/$id", content.length.toLong))
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  case class AudioInfo(sampleRate: Int, channels: Int,
                       bitsPerSample: Int, nFrames: Long)

  /** Real zero-dep WAV/PCM header decode via `javax.sound.sampled`
    * (ships in the base JDK). Metadata only — [[extractAudioFeatures]]
    * adds sample statistics in the same pass when features are wanted. */
  def decodeWav(bytes: Array[Byte]): AudioInfo = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      AudioInfo(f.getSampleRate.toInt, f.getChannels,
        f.getSampleSizeInBits, in.getFrameLength)
    } finally in.close()
  }

  /** Deterministic 16-bit mono little-endian PCM WAV from raw samples —
    * real bytes for specs and fixtures without external assets. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val data = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(data.putShort)
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data.array()), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode + feature-extract WAV blobs, partition-local (the audio twin
    * of [[extractImageFeatures]]): format metadata, duration, and
    * integer-exact 16-bit sample statistics — peak = max |sample|, and
    * the sum of squares as a Long so RMS is reproducible bit-for-bit
    * regardless of partitioning. One iterator pass per blob, memory
    * bounded by the largest single blob, no driver involvement. */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("bits", IntegerType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("duration_s", DoubleType, nullable = false),
      StructField("peak", IntegerType, nullable = false),
      StructField("rms", DoubleType, nullable = false)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val (f, frames, bb) = decodePcm16(bytes)
        var peak = 0
        var sumSq = 0L
        var n = 0L
        while (bb.remaining() >= 2) {
          val s = bb.getShort.toInt
          if (math.abs(s) > peak) peak = math.abs(s)
          sumSq += s.toLong * s.toLong
          n += 1
        }
        // AudioInputStream.getFrameLength is NOT_SPECIFIED (-1) for
        // some stream types and a zero/unspecified sample rate would
        // yield -/Infinity or NaN durations — fail loudly instead.
        require(frames >= 0,
          s"media $id: frame length unspecified ($frames)")
        require(f.getSampleRate > 0,
          s"media $id: invalid sample rate ${f.getSampleRate}")
        Row(id, f.getSampleRate.toInt, f.getChannels,
          f.getSampleSizeInBits, frames,
          frames.toDouble / f.getSampleRate.toDouble, peak,
          if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n.toDouble))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Decode + feature-extract, batch-wise per partition. Output schema is
    * fixed and columnar-friendly; the decode loop touches each blob once.
    * On a cluster this is the `mapInPandas`/`mapPartitions` shape: one
    * iterator pass, no driver involvement, memory bounded per batch. */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("aspect", DoubleType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val info = decodeImage(r.getAs[Array[Byte]](1))
        // stub feature: deterministic 8-dim projection of the header
        val feat = Array.tabulate(8)(i =>
          ((info.width * (i + 1) + info.height * (i + 3) + info.channels) % 97).toFloat / 97f)
        Row(id, info.width, info.height, info.channels,
          info.width.toDouble / info.height.toDouble, feat.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Resize plan (no codec in this environment): computes target dims
    * per blob as a narrow expression over decoded metadata. */
  def resizePlan(features: DataFrame, maxSide: Int): DataFrame =
    features.withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("target_w", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("target_h", ceil(col("height") * col("scale")).cast("int"))

  /** Frame sampling for "video" blobs: every k-th fixed-size chunk of the
    * payload as its own binary — partition-local, bounded memory. */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyK: Int): DataFrame =
    explodeFrames(media) { raw =>
      val bytes = if (isFakeHeader(raw)) raw.drop(16) else raw
      bytes.grouped(frameBytes).zipWithIndex
        .filter { case (_, i) => i % everyK == 0 }
    }

  /** One `(media_id, frame_no, frame)` row per `(frame, frame_no)` that
    * `frames` cuts from a blob's content, partition-local: the frame
    * table of [[sampleFrames]] and [[extractVideoFrames]]. */
  private def explodeFrames(media: DataFrame)(
      frames: Array[Byte] => Iterator[(Array[Byte], Int)]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        frames(r.getAs[Array[Byte]](1)).map { case (f, i) => Row(id, i, f) }
      }
    }
    media.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Synthesize a media table from the documents fixture (deterministic),
    * for tests and bench: text length drives fake dimensions. */
  def synthesizeFromDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id", "n_chars").rdd.map { r =>
      val id = r.getLong(0); val n = r.getLong(1)
      val w = (64 + n % 512).toInt; val h = (64 + (n * 7) % 512).toInt
      val content = fakeImageBytes(w, h, 3, 64)
      Row(id, "image", content, Row("image/fake", s"mem://doc/$id", content.length.toLong))
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  // ==================== video: RIFF/AVI (MJPEG) ====================

  case class VideoInfo(width: Int, height: Int,
                       usPerFrame: Int, totalFrames: Int)

  private def fourcc(s: String): Int = {
    require(s.length == 4)
    (s(0).toInt & 0xff) | ((s(1).toInt & 0xff) << 8) |
      ((s(2).toInt & 0xff) << 16) | ((s(3).toInt & 0xff) << 24)
  }

  /** Minimal spec-correct AVI writer (RIFF / hdrl(avih, strl(strh, strf))
    * / movi with `00dc` frame chunks) — real container bytes for specs
    * and oracle fixtures without external assets. Frame payloads are
    * arbitrary: JPEG bytes give a playable MJPEG file; the deterministic
    * fake-header format gives oracle-computable frames. */
  def encodeAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
                fps: Int = 25): Array[Byte] = {
    require(fps > 0, s"fps must be > 0; got $fps")
    import java.io.ByteArrayOutputStream
    def chunk(fcc: String, data: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val bb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(fourcc(fcc)).putInt(data.length)
      out.write(bb.array()); out.write(data)
      if (data.length % 2 == 1) out.write(0) // RIFF chunks pad to even
      out.toByteArray
    }
    def list(listType: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", {
        val out = new ByteArrayOutputStream()
        val bb = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(fourcc(listType))
        out.write(bb.array()); out.write(children)
        out.toByteArray
      })
    def le(ints: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(ints.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ints.foreach(bb.putInt)
      bb.array()
    }
    val usPerFrame = 1000000 / fps
    val avih = chunk("avih", le(usPerFrame, 0, 0, 0, frames.length, 0, 1, 0,
      width, height, 0, 0, 0, 0))
    val strh = chunk("strh", le(fourcc("vids"), fourcc("MJPG"), 0, 0, 0,
      1, fps, 0, frames.length, 0, 0, 0) ++ le(0, 0))
    val strf = chunk("strf", le(40, width, height, 1 | (24 << 16),
      fourcc("MJPG"), width * height * 3, 0, 0, 0, 0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      frames.toArray.flatMap(f => chunk("00dc", f)))
    val body = {
      val out = new ByteArrayOutputStream()
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(fourcc("AVI "))
      out.write(bb.array()); out.write(hdrl); out.write(movi)
      out.toByteArray
    }
    chunk("RIFF", body)
  }

  /** Zero-dep RIFF/AVI parse: header metadata + every frame payload from
    * the `movi` list (`##dc`/`##db` chunks, `rec ` sub-lists included).
    * Strictly sequential over the byte array — no random access beyond
    * the buffer, memory bounded by the blob. */
  def decodeAvi(bytes: Array[Byte]): (VideoInfo, Vector[Array[Byte]]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.remaining() >= 12 && bb.getInt() == fourcc("RIFF"),
      "not a RIFF file")
    bb.getInt() // riff size
    require(bb.getInt() == fourcc("AVI "), "RIFF file is not AVI")
    var info: VideoInfo = null
    val frames = Vector.newBuilder[Array[Byte]]
    def isFrameFcc(fcc: Int): Boolean = {
      // '##dc' (compressed) / '##db' (uncompressed), ## = stream number
      val b2 = ((fcc >> 16) & 0xff).toChar
      val b3 = ((fcc >> 24) & 0xff).toChar
      b2 == 'd' && (b3 == 'c' || b3 == 'b')
    }
    def walk(end: Int): Unit = {
      while (bb.position() + 8 <= end) {
        val fcc = bb.getInt()
        val size = bb.getInt()
        // A negative size (corrupt/adversarial input) would otherwise
        // reposition backwards (infinite loop) or blow up allocation.
        require(size >= 0, s"negative chunk size $size")
        // Overflow-safe bound: end <= bytes.length and position() >= 0, so
        // the subtraction can't overflow — whereas position() + size can
        // wrap negative for size near Int.MaxValue and sneak past a
        // dataEnd <= end check into a ~2 GB allocation.
        require(size <= end - bb.position(), s"truncated chunk (size $size)")
        val dataEnd = bb.position() + size
        if (fcc == fourcc("LIST")) {
          // a LIST body starts with its 4-byte type; a shorter declared
          // size is corrupt (and reading the type would underflow)
          require(size >= 4, s"LIST chunk too short (size $size)")
          bb.getInt() // list type — descend regardless (hdrl/movi/rec )
          walk(dataEnd)
        } else if (fcc == fourcc("avih")) {
          // the 10 header ints below need 40 declared bytes
          require(size >= 40, s"avih chunk too short (size $size)")
          val us = bb.getInt(); bb.getInt(); bb.getInt(); bb.getInt()
          val total = bb.getInt(); bb.getInt(); bb.getInt(); bb.getInt()
          val w = bb.getInt(); val h = bb.getInt()
          info = VideoInfo(w, h, us, total)
        } else if (isFrameFcc(fcc)) {
          val f = new Array[Byte](size)
          bb.get(f)
          frames += f
        }
        // Skip data + even-pad; a well-formed file pads odd chunks, but a
        // final odd chunk missing its pad byte must not position() past
        // the buffer. size >= 0 guarantees forward progress (>= 8 B/iter).
        bb.position(math.min(dataEnd + (size % 2), bytes.length))
      }
    }
    walk(bytes.length)
    require(info != null, "AVI missing avih header")
    (info, frames.result())
  }

  /** Explode AVI blobs into per-frame binaries, partition-local — the
    * real-container replacement for [[sampleFrames]]: one sequential
    * parse per blob, frames stream out of the iterator without
    * buffering the whole video table anywhere. */
  def extractVideoFrames(media: DataFrame): DataFrame =
    explodeFrames(media)(raw => decodeAvi(raw)._2.iterator.zipWithIndex)

  /** Parse + per-frame decode in ONE partition-local pass: container
    * metadata joined with each frame's decoded dimensions ([[decodeImage]]
    * — real JPEG for MJPEG files, fake-header fast path for oracle
    * fixtures). The mapInPandas/mapPartitions shape again: linear in
    * total video bytes, no shuffle, no driver involvement. */
  def extractVideoFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("us_per_frame", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val (info, frames) = decodeAvi(r.getAs[Array[Byte]](1))
        frames.iterator.zipWithIndex.map { case (f, i) =>
          val d = decodeImage(f)
          Row(id, i, frames.length, info.usPerFrame,
            d.width, d.height, d.channels)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-video perceptual signatures — the video member of the
    * perceptual-hash family (dHash64 for images, envelope hash for
    * audio): decode the AVI container, dHash the FIRST, MIDDLE, and LAST
    * frames, and emit one (id, role, sig) row per role (role 0/1/2 =
    * first/middle/last). A video shorter than 3 frames plays its frames
    * in multiple roles (a 1-frame video fills all three), so clips of
    * different lengths still compare positionally. Three probe frames is
    * the classic cheap video fingerprint: a re-encoded/re-muxed copy
    * keeps all three; a trim or splice usually keeps at least one, which
    * is why pairing is on ANY matching role
    * ([[graft.dedup.Dedup.videoNearDups]]).
    *
    * Scale shape: decode is partition-local (one sequential container
    * parse + 3 frame decodes per blob — NOT every frame; memory bounded
    * by the largest blob); only 24-byte (id, role, sig) rows flow on,
    * video bytes never shuffle. */
  def videoPerceptualHashes(media: DataFrame, idCol: String,
                            bytesCol: String): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("role", IntegerType, nullable = false),
      StructField("sig", LongType, nullable = false)))
    val rdd = media.select(idCol, bytesCol).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val (_, frames) = decodeAvi(r.getAs[Array[Byte]](1))
        require(frames.nonEmpty, s"video $id has no frames")
        val picks = Array(0, frames.length / 2, frames.length - 1)
        // hash each DISTINCT picked frame once, then fan out to roles
        val sigByFrame = picks.distinct.map(i => i -> dHash64(frames(i))).toMap
        picks.iterator.zipWithIndex.map { case (fi, role) =>
          Row(id, role, sigByFrame(fi))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Synthesize a REAL-AVI video table with PLANTED duplicate groups from
    * the documents fixture (the q113/q114 construction, fourth modality):
    * doc_id % `groups` picks the base pattern; frame k (k = 0, 1, 2 —
    * exactly the three probe roles) uses pattern index
    * (group + k) % patterns, so same-group videos hash IDENTICALLY at
    * every role while cross-group videos differ by ≥ 32 bits at EVERY
    * role (distinct pattern indices at each k, pairwise pattern Hamming
    * ≥ 4). Per-(doc, frame, pixel) avalanche noise keeps every blob's
    * bytes unique without flipping a gradient sign. The expected pair
    * set is pure doc_id arithmetic, SQL-recomputable (q115). Frames are
    * real 9×8 gray PNGs inside a real RIFF/AVI container, so a hash
    * match proves container encode → parse → per-frame ImageIO decode →
    * pooling → dHash → role-blocked Hamming join end-to-end. */
  def synthesizeVideoDupsFromDocs(docs: DataFrame, groups: Int = 5): DataFrame = {
    require(groups >= 1 && groups <= groupPatterns.length,
      s"groups must be in [1, ${groupPatterns.length}]; got $groups")
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id").rdd.map { r =>
      val id = r.getLong(0)
      val g = (id % groups).toInt
      val frames = (0 until 3).map { k =>
        val pat = groupPatterns((g + k) % groupPatterns.length)
        val base = new Array[Int](9)
        base(0) = 128
        var x = 0
        while (x < 8) {
          base(x + 1) = base(x) + (if (((pat >> x) & 1) == 1) 8 else -8)
          x += 1
        }
        encodePngGray(9, 8,
          (x, y) => base(x) + avalancheNoise(id, k * 72L + y * 9L + x))
      }
      val content = encodeAvi(frames, 9, 8, fps = 25)
      Row(id, "video", content,
        Row("video/x-msvideo", s"mem://viddup/$id", content.length.toLong))
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Synthesize a deterministic AVI video table from the documents
    * fixture: per doc, 2 + n_chars%3 fake-header frames whose dims are
    * arithmetic in (n_chars, frame_no) — every decoded feature is
    * SQL-recomputable, which is what puts the container parse and the
    * per-frame decode pipeline under the DuckDB oracle gate (q96). */
  def synthesizeVideosFromDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id", "n_chars").rdd.map { r =>
      val id = r.getLong(0); val n = r.getLong(1)
      val w = (64 + n % 512).toInt; val h = (64 + (n * 7) % 512).toInt
      val nFrames = (2 + n % 3).toInt
      val frames = (0 until nFrames).map(i => fakeImageBytes(w + i, h, 3, 16))
      val content = encodeAvi(frames, w, h, fps = 25)
      Row(id, "video", content, Row("video/x-msvideo", s"mem://vid/$id",
        content.length.toLong))
    }
    spark.createDataFrame(rdd, mediaSchema)
  }
}
