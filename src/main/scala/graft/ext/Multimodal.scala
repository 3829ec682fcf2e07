package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `BINARY` payloads
  * with a typed metadata struct, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * Image decode is REAL (the JDK's `javax.imageio` PNG/BMP/GIF/JPEG readers)
  * and audio decode is REAL for the formats the JDK parses
  * (`javax.sound.sampled` WAV/AIFF/AU PCM — [[decodeAudio]]), no external
  * jars either way. Payloads neither stack understands (video — this
  * container ships no codecs — and the testdata's text blobs) fall back to
  * [[decodeStub]], which derives features deterministically from the payload
  * bytes (md5-based). Everything around decode — schema, typed Dataset
  * plumbing, per-partition batching (the Scala analog of `mapInPandas` batch
  * shape), partitioning by payload size — is real and tested. A production
  * deployment swaps the stub for video codec bindings; nothing else changes.
  */
object Multimodal {

  // imageio's default stream cache is a TEMP FILE per decode — a per-task
  // disk round-trip plus /tmp contention under 32 codec threads (found via
  // the q199 AVI bench). Every payload here is an in-memory byte array;
  // cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaMeta(source: String, lang: String, n_bytes: Long)
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, width: Int, height: Int,
                           n_frames: Int, feature: Array[Float])
  case class FrameFeatures(media_id: Long, kind: String, frame_idx: Int,
                           width: Int, height: Int, n_frames: Int, feature: Array[Float])

  /** Stand-in media table: documents' text bytes as opaque payloads (the
    * testdata ships no real media; the plumbing is payload-agnostic). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      concat(lit("blob:"), col("source")).as("kind"),
      col("text").cast("binary").as("payload"),
      struct(
        col("source").as("source"),
        col("lang").as("lang"),
        length(col("text")).cast("long").as("n_bytes")).as("meta"))

  /** Decode: real images first, real audio second, deterministic stub last.
    *
    * Image payloads (PNG/BMP/GIF/JPEG — the decoders the JDK ships in
    * `javax.imageio`, no external jars) decode to their true dimensions and
    * an 8-bin normalized luminance histogram as the feature vector. Payloads
    * no image reader understands are offered to [[decodeAudio]] (WAV/AIFF/AU
    * PCM); whatever neither stack parses (video — this container ships no
    * codecs — and the testdata's text blobs) falls back to [[decodeStub]]. */
  private[graft] def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    import javax.imageio.ImageIO
    try {
      val iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        iis.close()
        return decodeAudio(payload).getOrElse(decodeStub(payload))
      }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        // frame count (animated GIFs > 1); features come from frame 0
        val frames = try math.max(reader.getNumImages(true), 1)
                     catch { case _: java.io.IOException => 1 }
        val img = reader.read(0)
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(lum >> 5) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        (w, h, frames, hist.map(_ / n))
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch { case _: java.io.IOException => decodeStub(payload) }
  }

  /** Audio decode: the JDK's `javax.sound.sampled` WAV/AIFF/AU parsers (no
    * external jars). 8/16-bit PCM payloads decode to (sample_rate, channels,
    * frame_count, 8-segment RMS energy profile) — width carries the sample
    * rate and height the channel count, reusing the media-feature shape the
    * way the image path uses it for pixels. Multi-channel audio is mixed down
    * by per-frame channel average before the energy computation. Non-audio or
    * non-PCM payloads return None and the caller falls through to the stub. */
  private[graft] def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem, UnsupportedAudioFileException}
    try {
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val channels = fmt.getChannels
        val signed = enc == AudioFormat.Encoding.PCM_SIGNED
        val pcmOk = ((bits == 8 && (signed || enc == AudioFormat.Encoding.PCM_UNSIGNED)) ||
          (bits == 16 && signed)) && fmt.getFrameSize == channels * bits / 8
        if (!pcmOk) return None
        val bytes = ais.readAllBytes()
        val frameSize = fmt.getFrameSize
        val frames = bytes.length / frameSize
        if (frames == 0) return None
        val energy = new Array[Double](8)
        val counts = new Array[Int](8)
        var i = 0
        while (i < frames) {
          var c = 0
          var mix = 0.0
          while (c < channels) {
            val off = i * frameSize + c * (bits / 8)
            val s =
              if (bits == 8) {
                if (signed) bytes(off) / 128.0 else ((bytes(off) & 0xff) - 128) / 128.0
              } else {
                val lo = if (fmt.isBigEndian) bytes(off + 1) & 0xff else bytes(off) & 0xff
                val hi = if (fmt.isBigEndian) bytes(off).toInt else bytes(off + 1).toInt
                ((hi << 8) | lo).toShort / 32768.0
              }
            mix += s
            c += 1
          }
          mix /= channels
          val seg = (i.toLong * 8 / frames).toInt
          energy(seg) += mix * mix
          counts(seg) += 1
          i += 1
        }
        val rms = Array.tabulate(8)(s =>
          if (counts(s) > 0) math.sqrt(energy(s) / counts(s)).toFloat else 0f)
        Some((fmt.getSampleRate.toInt, channels, frames, rms))
      } finally ais.close()
    } catch {
      case _: UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }
  }

  /** STUB decode for payloads neither the image nor the audio stack parses:
    * deterministic pseudo-features from md5(payload). A production deployment
    * swaps this for video codec bindings; the signature and batch shape are
    * the real contract. */
  /** Perceptual difference-hash of an image payload (Krawetz dHash): decode
    * (the same JDK `javax.imageio` stack as [[decode]]), average luminance
    * over a balanced 8×8 grid, and pack 63 bits where bit i = 1 iff cell
    * i's mean exceeds cell i+1's (row-major) — the identical 64-cell /
    * 63-diff rule as the text twin [[graft.functions.TextDHash]], so
    * [[Dedup.hammingNearDup]] consumes either modality unchanged. Mean
    * comparison is exact integer cross-multiplication (sumᵢ·nᵢ₊₁ >
    * sumᵢ₊₁·nᵢ — no division, deterministic to gigapixel inputs).
    *
    * Non-image payloads take the TEXT rule on the payload decoded as
    * UTF-8 (the q32 stub discipline: deterministic, honest, and exactly
    * what the DuckDB oracle replays for the text-blob testdata). */
  private[graft] def imageDHash(payload: Array[Byte]): Long = {
    import javax.imageio.ImageIO
    // NonFatal, not just IOException: javax.imageio readers throw
    // RuntimeExceptions (IllegalArgumentException, CMMException, AIOOBE) on
    // malformed/crafted payloads, and one bad blob in an untrusted crawl
    // must hit the deterministic fallback, not kill the job. The stream is
    // opened before the try so the finally always releases it.
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        return graft.functions.TextDHashKernel.compute(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(payload))
      }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val img = reader.read(0)
        val w = img.getWidth
        val h = img.getHeight
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = ((y.toLong * 8) / h).toInt
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            val cell = cy * 8 + ((x.toLong * 8) / w).toInt
            sums(cell) += lum
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        var hash = 0L
        var i = 0
        while (i < 63) {
          // meanᵢ > meanᵢ₊₁ by cross-multiplication (empty cells mean 0)
          val l = sums(i) * math.max(counts(i + 1), 1L)
          val r = sums(i + 1) * math.max(counts(i), 1L)
          if (l > r) hash |= (1L << i)
          i += 1
        }
        hash
      } finally reader.dispose()
    } catch {
      case scala.util.control.NonFatal(_) =>
        graft.functions.TextDHashKernel.compute(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(payload))
    } finally if (iis != null) {
      // a throwing close must not mask the computed hash/fallback
      try iis.close() catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Perceptual difference-hash of an AUDIO payload — the Chromaprint-lite
    * twin of [[imageDHash]]: decode PCM (the same `javax.sound.sampled`
    * stack and mix-down rule as [[decodeAudio]]), bucket per-frame energy
    * (mix²) into a balanced 64-segment timeline, and pack 63 bits where
    * bit i = 1 iff segment i's MEAN energy exceeds segment i+1's — the
    * identical 64-cell / 63-diff rule as the image and text twins, so
    * [[Dedup.hammingNearDup]]'s pigeonhole band join consumes any
    * modality unchanged. Mean comparison is cross-multiplication
    * (energyᵢ·countᵢ₊₁ > energyᵢ₊₁·countᵢ — no division; the energy sums
    * walk frames in order, so the doubles are bit-deterministic). The
    * hash is LEVEL-INVARIANT in structure (an 8-bit and a 16-bit encode
    * of the same waveform order their segment means identically) —
    * that's the perceptual part.
    *
    * Non-audio payloads take the TEXT rule on the payload bytes (the q32
    * stub discipline, shared with [[imageDHash]]'s fallback): honest,
    * deterministic, and exactly what the DuckDB oracle replays for
    * text-blob testdata. */
  private[graft] def audioDHash(payload: Array[Byte]): Long = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    def fallback = graft.functions.TextDHashKernel.compute(
      org.apache.spark.unsafe.types.UTF8String.fromBytes(payload))
    try {
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val channels = fmt.getChannels
        val signed = enc == AudioFormat.Encoding.PCM_SIGNED
        val pcmOk = ((bits == 8 && (signed || enc == AudioFormat.Encoding.PCM_UNSIGNED)) ||
          (bits == 16 && signed)) && fmt.getFrameSize == channels * bits / 8
        if (!pcmOk) return fallback
        val bytes = ais.readAllBytes()
        val frameSize = fmt.getFrameSize
        val frames = bytes.length / frameSize
        if (frames == 0) return fallback
        val energy = new Array[Double](64)
        val counts = new Array[Long](64)
        var i = 0
        while (i < frames) {
          var c = 0
          var mix = 0.0
          while (c < channels) {
            val off = i * frameSize + c * (bits / 8)
            val s =
              if (bits == 8) {
                if (signed) bytes(off) / 128.0 else ((bytes(off) & 0xff) - 128) / 128.0
              } else {
                val lo = if (fmt.isBigEndian) bytes(off + 1) & 0xff else bytes(off) & 0xff
                val hi = if (fmt.isBigEndian) bytes(off).toInt else bytes(off + 1).toInt
                ((hi << 8) | lo).toShort / 32768.0
              }
            mix += s
            c += 1
          }
          mix /= channels
          val seg = (i.toLong * 64 / frames).toInt
          energy(seg) += mix * mix
          counts(seg) += 1
          i += 1
        }
        var hash = 0L
        var k = 0
        while (k < 63) {
          val l = energy(k) * math.max(counts(k + 1), 1L)
          val r = energy(k + 1) * math.max(counts(k), 1L)
          if (l > r) hash |= (1L << k)
          k += 1
        }
        hash
      } finally ais.close()
    } catch {
      case scala.util.control.NonFatal(_) => fallback
    }
  }

  private def decodeStub(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(payload)
    def u(i: Int): Int = h(i) & 0xff
    val width = 1 + (((u(0) << 8) | u(1)) % 64)
    val height = 1 + (((u(2) << 8) | u(3)) % 64)
    val frames = 1 + payload.length / 256
    val feature = Array.tabulate(8)(i => ((u(2 * i) << 8 | u(2 * i + 1)) / 65535.0f))
    (width, height, frames, feature)
  }

  /** Feature extraction over typed records, one partition at a time — the
    * Scala analog of a `mapInPandas` batch UDF: per-partition setup cost is
    * amortized (a codec context would be opened once per partition here). */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // per-partition codec init would go here
      it.map { r =>
        val (w, h, f, feat) = decode(r.payload)
        MediaFeatures(r.media_id, r.kind, w, h, f, feat)
      }
    }
  }

  /** Frame-sampled feature extraction: decode every `stride`-th frame of an
    * animated payload and mean-pool the per-frame luminance histograms — the
    * video feature path made real for the formats the JDK decodes (animated
    * GIF). Single-frame images degenerate to [[extractFeatures]]; non-image
    * payloads take the stub. Same mapPartitions batch shape. */
  def extractFrameSampledFeatures(records: Dataset[MediaRecord],
                                  stride: Int): Dataset[MediaFeatures] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val (w, h, f, feat) = decodeFrameSampled(r.payload, stride)
        MediaFeatures(r.media_id, r.kind, w, h, f, feat)
      }
    }
  }

  private[graft] def decodeFrameSampled(payload: Array[Byte],
                                        stride: Int): (Int, Int, Int, Array[Float]) = {
    import javax.imageio.ImageIO
    try {
      val iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        iis.close()
        return decodeAudio(payload).getOrElse(decodeStub(payload))
      }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val frames = try math.max(reader.getNumImages(true), 1)
                     catch { case _: java.io.IOException => 1 }
        val sampled = 0 until frames by stride
        val pooled = new Array[Float](8)
        var w = 0
        var h = 0
        sampled.foreach { i =>
          val img = reader.read(i)
          w = img.getWidth
          h = img.getHeight
          val n = (w.toLong * h).toFloat
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              pooled(lum >> 5) += 1f / n
              x += 1
            }
            y += 1
          }
        }
        (w, h, frames, pooled.map(_ / sampled.size))
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch { case _: java.io.IOException => decodeStub(payload) }
  }

  /** PER-FRAME feature extraction: one output row per sampled frame of an
    * animated payload (vs. [[extractFrameSampledFeatures]]'s mean-pool) —
    * the shape a video-understanding pipeline feeds per-frame encoders
    * with. `maxFrames` caps the fan-out per record: an adversarial
    * 100k-frame GIF otherwise turns one input row into 100k decodes inside
    * a single task (the per-record skew bomb — the cap bounds both CPU and
    * the output multiplicity; sampling stays deterministic: first
    * `maxFrames` of the stride sequence). Non-animated payloads emit their
    * single frame; non-image payloads emit one stub/audio row (frame 0). */
  def extractPerFrameFeatures(records: Dataset[MediaRecord], stride: Int,
                              maxFrames: Int): Dataset[FrameFeatures] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        decodePerFrame(r.payload, stride, maxFrames).map {
          case (idx, w, h, n, feat) => FrameFeatures(r.media_id, r.kind, idx, w, h, n, feat)
        }
      }
    }
  }

  /** (frame_idx, w, h, n_frames, 8-bin luminance histogram) per sampled
    * frame; single pseudo-frame for non-image payloads. */
  private[graft] def decodePerFrame(payload: Array[Byte], stride: Int,
                                    maxFrames: Int): Seq[(Int, Int, Int, Int, Array[Float])] = {
    import javax.imageio.ImageIO
    try {
      val iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        iis.close()
        val (w, h, f, feat) = decodeAudio(payload).getOrElse(decodeStub(payload))
        return Seq((0, w, h, f, feat))
      }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val frames = try math.max(reader.getNumImages(true), 1)
                     catch { case _: java.io.IOException => 1 }
        (0 until frames by stride).take(maxFrames).map { i =>
          val img = reader.read(i)
          val w = img.getWidth
          val h = img.getHeight
          val hist = new Array[Float](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              hist(lum >> 5) += 1f
              x += 1
            }
            y += 1
          }
          val n = (w.toLong * h).toFloat
          (i, w, h, frames, hist.map(_ / n))
        }
      } finally {
        reader.dispose()
        iis.close()
      }
    } catch {
      case _: java.io.IOException =>
        val (w, h, f, feat) = decodeStub(payload)
        Seq((0, w, h, f, feat))
    }
  }

  /** Size-aware repartitioning: large payloads dominate decode cost, so range
    * partition by n_bytes to even out per-task work (skew control at scale). */
  def partitionBySize(df: DataFrame, partitions: Int): DataFrame =
    df.repartitionByRange(partitions, col("meta.n_bytes"), col("media_id"))
}
