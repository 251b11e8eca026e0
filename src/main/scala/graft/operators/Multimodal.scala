package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, plus batch decode / feature-extract plumbing.
  *
  * The IMAGE decode kernel is REAL ([[decodeImage]] — `javax.imageio`,
  * which ships in every JVM: PNG/JPEG/GIF/BMP bytes are actually parsed to
  * dimensions, channel count, and pixel statistics). The AUDIO kernel is
  * REAL too ([[decodeAudio]] — `javax.sound.sampled`, also in every JVM:
  * WAV/AIFF/AU bytes are decoded to PCM and measured). The VIDEO kernel is
  * REAL for the MJPEG family ([[decodeVideo]] — RIFF/AVI container parse +
  * per-frame `javax.imageio` decode; MJPG and lossless-PNG frame codecs).
  * Codecs no JVM ships (H.264 etc.) fall back to the deterministic
  * `decodeStub`, clearly marked. Everything around the kernels is real and
  * tested: the schema contract, the binary column plumbing, partition
  * sizing for large blobs, and the `mapPartitions` batch shape (the Scala
  * analog of `mapInPandas`: one iterator per partition, amortized
  * per-batch setup, bounded memory).
  *
  * Scale notes for 100 TB of media:
  *  - blobs ride in parquet binary columns; `maxRecordsPerFile`/partition
  *    sizing keeps row groups bounded (`repartitionForBlobs`)
  *  - decode is a narrow transformation — no shuffle; metadata-only queries
  *    never touch the bytes (parquet column pruning drops the blob column)
  */
object Multimodal {

  /** Typed metadata carried next to every media blob. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),    // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate_hz", IntegerType),
    StructField("duration_ms", LongType)))

  /** Attach a binary payload column (utf-8 bytes of `textCol` — the testdata
    * has no real media, so documents stand in as blobs) plus stub metadata.
    */
  def asMediaTable(df: DataFrame, textCol: String, mediaType: String = "image"): DataFrame =
    df.withColumn("media_bytes", col(textCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        (length(col(textCol)) % 1024 + 1).cast("int").as("width"),
        (length(col(textCol)) % 768 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate_hz"),
        (length(col(textCol)).cast("long") * 10L).as("duration_ms")))

  /** Cheap metadata/feature extraction as pure column expressions — no UDF,
    * no decode: byte length, content hash, leading magic bytes.
    */
  def blobStats(df: DataFrame, binCol: String = "media_bytes"): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)).cast("long"))
      .withColumn("content_hash", sha2(col(binCol), 256))
      .withColumn("magic", hex(substring(col(binCol), 1, 4)))

  /** STUB decode kernel for blobs no JVM codec can decode (H.264/H.265
    * video, proprietary formats — a real deployment swaps in JNI / javacv /
    * a sidecar service; images use the real [[decodeImage]], audio the real
    * [[decodeAudio]], MJPEG-family AVI the real [[decodeVideo]]).
    * Deterministic fake: 8 pseudo-features derived from byte content. The
    * signature — one partition-iterator in, one out, batch-amortized — is
    * the real contract.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    Array.tabulate(8)(j => (((h >>> (j * 8)) & 0xFF).toFloat) / 255.0f)
  }

  /** Decoded image facts — every field computed from the actually-parsed
    * pixel data, not from metadata.
    */
  final case class ImageMeta(width: Int, height: Int, channels: Int, meanIntensity: Double)

  /** Container-magic sniffs gating the codec calls below. The failed-probe
    * path is the HOT path for mixed blob tables (most bytes are not this
    * modality), and `ImageIO.read`/`AudioSystem.getAudioInputStream` pay a
    * synchronized provider-registry walk + exception per refusal — measured
    * 15x super-linear on a 50k-doc text-blob scan under 32 threads before
    * sniffing (PLANS.md r14). A 4-byte header check rejects without
    * touching any registry; magic-less exotica (e.g. WBMP) fall to the
    * stub, the documented dispatch contract.
    */
  private[graft] def looksLikeImage(b: Array[Byte]): Boolean = b.length >= 4 && (
    (b(0) == 0x89.toByte && b(1) == 'P'.toByte) || // PNG
    (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) || // JPEG
    (b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte) || // GIF
    (b(0) == 'B'.toByte && b(1) == 'M'.toByte) || // BMP
    (b(0) == 'I'.toByte && b(1) == 'I'.toByte && b(2) == 42.toByte) || // TIFF LE
    (b(0) == 'M'.toByte && b(1) == 'M'.toByte && b(2) == 0.toByte && b(3) == 42.toByte)) // TIFF BE

  private def isRiff(b: Array[Byte]): Boolean = b.length >= 12 &&
    b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte && b(3) == 'F'.toByte

  private[graft] def looksLikeAudio(b: Array[Byte]): Boolean = b.length >= 12 && (
    (isRiff(b) && b(8) == 'W'.toByte && b(9) == 'A'.toByte && b(10) == 'V'.toByte) || // WAVE
    // IFF 'FORM' alone is not audio (ILBM images, 8SVX, ...): require the
    // form type at bytes 8-11 to be AIFF/AIFC, mirroring the WAVE check —
    // otherwise every IFF container pays the provider-registry walk the
    // sniff exists to avoid
    (b(0) == 'F'.toByte && b(1) == 'O'.toByte && b(2) == 'R'.toByte && b(3) == 'M'.toByte &&
      b(8) == 'A'.toByte && b(9) == 'I'.toByte && b(10) == 'F'.toByte &&
      (b(11) == 'F'.toByte || b(11) == 'C'.toByte)) || // AIFF/AIFC
    (b(0) == '.'.toByte && b(1) == 's'.toByte && b(2) == 'n'.toByte && b(3) == 'd'.toByte)) // AU

  private[graft] def looksLikeVideo(b: Array[Byte]): Boolean =
    isRiff(b) && b(8) == 'A'.toByte && b(9) == 'V'.toByte && b(10) == 'I'.toByte

  /** REAL image decode (`javax.imageio`): parse `bytes` as PNG/JPEG/GIF/BMP
    * and compute dimensions, raster channel count, and the mean sample
    * value over every pixel of every band. None when the bytes are not a
    * decodable image (callers fall back or null out) — refusal is a
    * 4-byte magic sniff, so non-image blobs never touch the ImageIO
    * registry. Thread-safe; `ImageIO.setUseCache(false)` keeps decode
    * in-memory (no temp files on executors).
    */
  def decodeImage(bytes: Array[Byte]): Option[ImageMeta] = {
    if (bytes == null || bytes.length == 0 || !looksLikeImage(bytes)) return None
    try {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val raster = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
          x += 1
        }
        y += 1
      }
      Some(ImageMeta(w, h, bands, sum / (w.toLong * h * bands)))
    } catch { case _: Exception => None }
  }

  /** Decoded audio facts — every field computed from the actually-decoded
    * PCM frames, not from container metadata.
    */
  final case class AudioMeta(sampleRateHz: Int, channels: Int, frames: Long,
      durationMs: Long, rmsAmplitude: Double)

  /** REAL audio decode (`javax.sound.sampled`, in every JVM): parse `bytes`
    * as WAV/AIFF/AU, decode to signed 16-bit PCM, and compute sample rate,
    * channel count, frame count, duration, and the RMS amplitude over every
    * sample of every channel normalized to [-1, 1). None when the bytes are
    * not decodable audio (callers fall back or null out) — refusal is a
    * container-magic sniff (WAVE/AIFF/AU), so non-audio blobs never touch
    * the provider registry. Streams fully in-memory — no temp files on
    * executors.
    */
  def decodeAudio(bytes: Array[Byte]): Option[AudioMeta] = {
    if (bytes == null || bytes.length == 0 || !looksLikeAudio(bytes)) return None
    // FAST PATH: direct RIFF/WAVE PCM16 parse. AudioSystem's provider
    // registry serializes under concurrency — a 32-thread microbench ran
    // SLOWER than 1 thread for the same decode count (tools/AudioProbe,
    // deleted; in git at ebe1843; PLANS.md r16), which at sf1 made
    // q_audio_decode scale 18x at 10x rows. The dominant container+codec
    // is parsed lock-free with bit-identical arithmetic; AIFF/AU/compressed
    // fall through to the provider path unchanged.
    val fast = decodeWavPcm16(bytes)
    if (fast.isDefined) return fast
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val rate = fmt.getSampleRate.toInt
        val ch = math.max(1, fmt.getChannels)
        // normalize any PCM/ULAW/ALAW encoding to signed 16-bit LE
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, ch, 2 * ch, fmt.getSampleRate, false)
        val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, in)
        val data = pcm.readAllBytes()
        val n = data.length / 2
        var sumSq = 0.0
        var i = 0
        while (i < n) {
          val s = (((data(2 * i + 1) & 0xFF) << 8) | (data(2 * i) & 0xFF)).toShort
          val v = s / 32768.0
          sumSq += v * v
          i += 1
        }
        val frames = n.toLong / ch
        Some(AudioMeta(rate, ch, frames, frames * 1000L / math.max(1, rate),
          if (n == 0) 0.0 else math.sqrt(sumSq / n)))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Lock-free RIFF/WAVE parser for the uncompressed 16-bit PCM case:
    * walks the chunk list for `fmt ` (audio format 1, 16 bits/sample) and
    * `data`, then computes the same fields [[decodeAudio]]'s provider path
    * would — the PCM16→PCM16 conversion there is the identity, so the
    * little-endian sample loop (and its double RMS arithmetic) is
    * bit-identical. None on anything unexpected → caller falls through to
    * the provider path; never throws.
    */
  /** Parsed RIFF/WAVE PCM16 layout: sample window `[dataOff, dataOff +
    * 2·samples)` of little-endian signed 16-bit samples.
    */
  private final case class WavPcm16(channels: Int, rate: Int, dataOff: Int, samples: Int)

  private def parseWavPcm16(b: Array[Byte]): Option[WavPcm16] = {
    if (!isRiff(b) || b.length < 12 ||
        b(8) != 'W'.toByte || b(9) != 'A'.toByte || b(10) != 'V'.toByte ||
        b(11) != 'E'.toByte) return None
    def u16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    def u32(o: Int): Long = (u16(o).toLong | (u16(o + 2).toLong << 16)) & 0xFFFFFFFFL
    var off = 12
    var fmtOk = false
    var ch = 0
    var rate = 0
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
      val id = new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32(off + 4)
      if (size < 0 || off + 8 + size > b.length) return None
      if (id == "fmt ") {
        if (size < 16) return None
        val audioFormat = u16(off + 8)
        ch = u16(off + 10)
        rate = u32(off + 12).toInt
        val bits = u16(off + 22)
        if (audioFormat != 1 || bits != 16 || ch < 1 || rate < 1) return None
        fmtOk = true
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = size.toInt
      }
      off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0) return None
    Some(WavPcm16(ch, rate, dataOff, dataLen / 2))
  }

  @inline private def sampleAt(b: Array[Byte], dataOff: Int, i: Int): Short =
    (((b(dataOff + 2 * i + 1) & 0xFF) << 8) | (b(dataOff + 2 * i) & 0xFF)).toShort

  private def decodeWavPcm16(b: Array[Byte]): Option[AudioMeta] =
    parseWavPcm16(b).map { w =>
      var sumSq = 0.0
      var i = 0
      while (i < w.samples) {
        val v = sampleAt(b, w.dataOff, i) / 32768.0
        sumSq += v * v
        i += 1
      }
      val frames = w.samples.toLong / w.channels
      AudioMeta(w.rate, w.channels, frames, frames * 1000L / math.max(1, w.rate),
        if (w.samples == 0) 0.0 else math.sqrt(sumSq / w.samples))
    }

  /** 64-bit perceptual AUDIO hash: the clip's mono energy ENVELOPE over
    * 65 equal time windows, bit i = [energy(window i+1) > energy(window
    * i)] — the dHash recipe applied to loudness contour, which survives
    * re-encoding, amplitude scaling does not flip strict inequalities,
    * and resampling preserves window boundaries (windows are fractions
    * of the clip, not sample counts). WAV-PCM16 fast path (lock-free, as
    * [[decodeAudio]]); other decodable audio goes through the provider
    * path's PCM conversion. None for undecodable/empty clips.
    */
  def audioDHash(bytes: Array[Byte]): Option[Long] = {
    val env: Option[Array[Double]] = parseWavPcm16(bytes) match {
      case Some(w) if w.samples >= 65 =>
        val frames = w.samples / w.channels
        if (frames < 65) None
        else Some(envelopeOf(frames, 65) { f =>
          var s = 0.0
          var c = 0
          while (c < w.channels) {
            val v = sampleAt(bytes, w.dataOff, f * w.channels + c) / 32768.0
            s += v * v
            c += 1
          }
          s
        })
      case Some(_) => None
      case None =>
        decodeAudioSamples(bytes).flatMap { case (ch, data) =>
          val frames = data.length / ch
          if (frames < 65) None
          else Some(envelopeOf(frames, 65) { f =>
            var s = 0.0
            var c = 0
            while (c < ch) {
              val v = data(f * ch + c) / 32768.0
              s += v * v
              c += 1
            }
            s
          })
        }
    }
    env.map { e =>
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (e(i + 1) > e(i)) hash |= 1L << i
        i += 1
      }
      hash
    }
  }

  /** Mean per-frame energy over `windows` equal frame ranges (floor
    * boundaries, same scheme as the image box downsample).
    */
  private def envelopeOf(frames: Int, windows: Int)(energy: Int => Double): Array[Double] = {
    val out = new Array[Double](windows)
    var k = 0
    while (k < windows) {
      val f0 = k * frames / windows
      val f1 = math.max(f0 + 1, (k + 1) * frames / windows)
      var s = 0.0
      var f = f0
      while (f < f1) { s += energy(f); f += 1 }
      out(k) = s / (f1 - f0)
      k += 1
    }
    out
  }

  /** Provider-path PCM16 samples for non-WAV audio (AIFF/AU/compressed). */
  private def decodeAudioSamples(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
    if (bytes == null || bytes.length == 0 || !looksLikeAudio(bytes)) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val ch = math.max(1, fmt.getChannels)
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, ch, 2 * ch, fmt.getSampleRate, false)
        val data = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, in)
          .readAllBytes()
        val out = new Array[Short](data.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = (((data(2 * i + 1) & 0xFF) << 8) | (data(2 * i) & 0xFF)).toShort
          i += 1
        }
        Some((ch, out))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Deterministic synthetic WAV: `frames` frames at `sampleRateHz`, every
    * frame the square wave `+v, -v, +v, ...` (16-bit signed) replicated on
    * every channel — the ENCODE side of the round-trip the decode oracle
    * verifies. RMS of a ±v signal is exactly `v / 32768` in double
    * arithmetic (v and v² are exact, the n-term sum is exact, and the
    * correctly-rounded divide/sqrt land back on representable values), so
    * an external oracle predicts [[decodeAudio]]'s every field
    * arithmetically.
    */
  def syntheticWav(sampleRateHz: Int, channels: Int, frames: Int, v: Int): Array[Byte] = {
    require(v >= 0 && v <= 32767, s"v out of 16-bit range: $v")
    val data = new Array[Byte](frames * channels * 2)
    var f = 0
    while (f < frames) {
      val s = (if (f % 2 == 0) v else -v).toShort
      var c = 0
      while (c < channels) {
        val o = (f * channels + c) * 2
        data(o) = (s & 0xFF).toByte
        data(o + 1) = ((s >> 8) & 0xFF).toByte
        c += 1
      }
      f += 1
    }
    wavEncode(data, sampleRateHz, channels)
  }

  /** Lock-free canonical RIFF/WAVE PCM16 container around raw little-endian
    * sample bytes. `AudioSystem.write` walks the SAME synchronized provider
    * registry whose read side serialized 32 threads below 1-thread
    * throughput (the r16 AudioProbe finding; tools/AudioProbe is deleted,
    * in git at ebe1843) — synthesis paid it on every row. A 44-byte
    * canonical header is pure arithmetic; the bytes parse
    * identically under both the fast RIFF path and the AudioSystem readers
    * (decode stays on the REAL decoders everywhere).
    */
  private def wavEncode(data: Array[Byte], sampleRateHz: Int, channels: Int): Array[Byte] = {
    val blockAlign = channels * 2
    val byteRate = sampleRateHz * blockAlign
    val out = new Array[Byte](44 + data.length)
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte; out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag(o: Int, s: String): Unit =
      System.arraycopy(s.getBytes("US-ASCII"), 0, out, o, 4)
    tag(0, "RIFF"); le32(4, 36 + data.length); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, channels)
    le32(24, sampleRateHz); le32(28, byteRate); le16(32, blockAlign); le16(34, 16)
    tag(36, "data"); le32(40, data.length)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** Deterministic mono WAV whose [[audioDHash]] is EXACTLY `bits`: 65
    * equal windows of a ±amplitude square wave, amplitude walking 16384 ±
    * 128 per window (up where the bit is set — 64 steps stay inside
    * [8192, 24576], far from both 0 and the 16-bit rail) — window energy is a strict
    * monotone function of |amplitude|, so every envelope comparison
    * realizes its planted bit. The audio twin of [[syntheticDHashPng]].
    */
  def syntheticAudioDHashWav(bits: Long, framesPerWindow: Int = 64,
      sampleRateHz: Int = 8000): Array[Byte] = {
    require(framesPerWindow >= 1, "framesPerWindow must be >= 1")
    val frames = 65 * framesPerWindow
    val data = new Array[Byte](frames * 2)
    var amp = 16384
    var k = 0
    while (k < 65) {
      if (k > 0) amp += (if (((bits >>> (k - 1)) & 1L) == 1L) 128 else -128)
      var f = 0
      while (f < framesPerWindow) {
        val i = k * framesPerWindow + f
        val s = (if (i % 2 == 0) amp else -amp).toShort
        data(2 * i) = (s & 0xFF).toByte
        data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        f += 1
      }
      k += 1
    }
    wavEncode(data, sampleRateHz, channels = 1)
  }

  /** Deterministic synthetic PNG: `width`×`height`, every pixel the uniform
    * gray `(v, v, v)` — the ENCODE side of the round-trip the decode oracle
    * verifies (an external oracle can predict exactly what [[decodeImage]]
    * must return: dimensions, 3 bands, mean intensity v).
    */
  def syntheticPng(width: Int, height: Int, v: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(v & 0xFF, v & 0xFF, v & 0xFF))
    g.fillRect(0, 0, width, height)
    g.dispose()
    pngEncode(img)
  }

  /** Lock-free PNG encode of a BufferedImage raster — grayscale (color
    * type 0) for 1-band rasters, truecolor (type 2) otherwise, filter None
    * on every scanline, one zlib IDAT. `ImageIO.write` walks a SYNCHRONIZED
    * provider registry and builds a fresh writer + cache stream per call,
    * which serializes (and ~3×-cpu-inflates) the 32-way synthesis kernels —
    * the encode twin of the r16 AudioSystem finding. `Deflater`/`CRC32` are
    * lock-free. The output is a spec-conformant PNG that the REAL
    * javax.imageio decoder parses to the identical raster; decode stays on
    * ImageIO everywhere.
    */
  private def pngEncode(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    // fail fast instead of emitting a malformed container: this encoder
    // writes 8-bit gray or truecolor only — a 4-band (ARGB) or non-8-bit
    // raster from a future synthetic-image addition must not silently
    // produce a corrupt or wrong-color PNG
    require(raster.getNumBands == 1 || raster.getNumBands == 3,
      s"pngEncode supports 1- or 3-band rasters, got ${raster.getNumBands}")
    require((0 until raster.getNumBands).forall(raster.getSampleModel.getSampleSize(_) == 8),
      "pngEncode supports 8-bit samples only")
    val gray = raster.getNumBands == 1
    val bpp = if (gray) 1 else 3
    val raw = new Array[Byte](h * (1 + w * bpp))
    var o = 0
    var y = 0
    while (y < h) {
      raw(o) = 0 // filter: None
      o += 1
      var x = 0
      while (x < w) {
        if (gray) { raw(o) = raster.getSample(x, y, 0).toByte; o += 1 }
        else {
          raw(o) = raster.getSample(x, y, 0).toByte
          raw(o + 1) = raster.getSample(x, y, 1).toByte
          raw(o + 2) = raster.getSample(x, y, 2).toByte
          o += 3
        }
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw)
    defl.finish()
    val zBuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zBuf.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = zBuf.toByteArray
    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    def be(i: Int): Array[Byte] = Array(((i >> 24) & 0xFF).toByte,
      ((i >> 16) & 0xFF).toByte, ((i >> 8) & 0xFF).toByte, (i & 0xFF).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    System.arraycopy(be(w), 0, ihdr, 0, 4)
    System.arraycopy(be(h), 0, ihdr, 4, 4)
    ihdr(8) = 8 // bit depth
    ihdr(9) = if (gray) 0 else 2 // color type
    // compression 0, filter 0, interlace 0 already zero-initialized
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ------------------------------------------------- perceptual image hashes

  /** Decode + box-average downsample to a `tw × th` grayscale grid (gray =
    * mean over raster bands). The downsample is EXPLICIT floor-boundary
    * box averaging — not `Graphics2D` interpolation — so the arithmetic is
    * deterministic and an external oracle can predict it: cell (cx, cy)
    * averages source pixels `x ∈ [⌊cx·w/tw⌋, max(⌊(cx+1)·w/tw⌋, ⌊cx·w/tw⌋+1))`
    * (and likewise y), which also handles images SMALLER than the grid.
    */
  private[graft] def decodeGray(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Array[Double]]] = {
    if (bytes == null || bytes.length == 0 || !looksLikeImage(bytes)) return None
    try {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val raster = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
      val out = Array.ofDim[Double](th, tw)
      var cy = 0
      while (cy < th) {
        val y0 = cy * h / th
        val y1 = math.max(y0 + 1, (cy + 1) * h / th)
        var cx = 0
        while (cx < tw) {
          val x0 = cx * w / tw
          val x1 = math.max(x0 + 1, (cx + 1) * w / tw)
          var sum = 0.0
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) {
              var b = 0
              while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
              x += 1
            }
            y += 1
          }
          val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0) * bands
          out(cy)(cx) = if (n > 0) sum / n else 0.0
          cx += 1
        }
        cy += 1
      }
      Some(out)
    } catch { case _: Exception => None }
  }

  /** 64-bit DIFFERENCE HASH (dHash): 9×8 grayscale box-downsample, bit
    * `y·8 + x` = [gray(x+1, y) > gray(x, y)]. The standard cheap
    * perceptual hash — byte-identical dedup misses re-encoded / resized
    * duplicate images (the dominant multimodal-corpus failure mode);
    * gradient-sign structure survives both. None for undecodable bytes.
    */
  def dHash(bytes: Array[Byte]): Option[Long] = decodeGray(bytes, 9, 8).map { g =>
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y)(x + 1) > g(y)(x)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** 64-bit PERCEPTUAL HASH (pHash): 32×32 grayscale box-downsample →
    * separable 2-D DCT-II → the 8×8 low-frequency block; bit i (block
    * row-major, DC excluded — 63 bits, bit 63 always 0) =
    * [coefficient > lower-median of the 63 AC coefficients]. Median-
    * relative signs make the hash invariant to global brightness/contrast
    * scaling, and low-frequency-only makes it robust to resizing and
    * re-encoding — the DCT flavor of the classic pHash recipe.
    */
  def pHash(bytes: Array[Byte]): Option[Long] = decodeGray(bytes, 32, 32).map { g =>
    val n = 32
    // separable DCT-II: rows first (8 output freqs), then columns
    val cosTab = Array.tabulate(8, n)((u, x) => math.cos((2 * x + 1) * u * math.Pi / (2.0 * n)))
    val rows = Array.ofDim[Double](n, 8) // rows(y)(u)
    var y = 0
    while (y < n) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < n) { s += g(y)(x) * cosTab(u)(x); x += 1 }
        rows(y)(u) = s
        u += 1
      }
      y += 1
    }
    val coef = Array.ofDim[Double](8, 8) // coef(v)(u), v = vertical freq
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < n) { s += rows(yy)(u) * cosTab(v)(yy); yy += 1 }
        coef(v)(u) = s
        u += 1
      }
      v += 1
    }
    val ac = (for (i <- 1 until 64) yield coef(i / 8)(i % 8)).toArray
    val median = ac.sorted.apply(31)
    var hash = 0L
    var i = 1
    while (i < 64) {
      if (coef(i / 8)(i % 8) > median) hash |= 1L << (i - 1)
      i += 1
    }
    hash
  }

  /** Deterministic 9×8 grayscale PNG whose [[dHash]] is EXACTLY `bits`:
    * each row walks gray = 128 ± 8 per step, up where the bit is set.
    * The ENCODE side of the perceptual-dedup oracle — an external oracle
    * can predict the hash (hence every banding/Hamming decision
    * downstream) arithmetically from the planted bit pattern.
    */
  def syntheticDHashPng(bits: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 8) {
      var g = 128
      raster.setSample(0, y, 0, g)
      var x = 0
      while (x < 8) {
        g += (if (((bits >>> (y * 8 + x)) & 1L) == 1L) 8 else -8)
        raster.setSample(x + 1, y, 0, g)
        x += 1
      }
      y += 1
    }
    pngEncode(img)
  }

  /** Batched perceptual hashing over partitions: `(id, binary)` in →
    * `(id, phash)` out (`method` = "dhash" | "phash" for images,
    * "audio" for [[audioDHash]] envelope hashes, "video" for
    * [[videoDHash]] frame-majority hashes; null hash marks
    * undecodable bytes). Narrow op — no shuffle; the 100 TB shape is one
    * decode pass producing an 8-byte column that all downstream dedup
    * operates on, never re-touching the blobs.
    */
  def imageHashMeta(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes", method: String = "dhash"): DataFrame = {
    require(Set("dhash", "phash", "audio", "video")(method),
      s"unknown hash method $method")
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        (id, method match {
          case "dhash" => dHash(bytes)
          case "phash" => pHash(bytes)
          case "audio" => audioDHash(bytes)
          case _ => videoDHash(bytes)
        })
      }
    }.toDF(idCol, "phash")
  }

  /** Batched REAL image decode over partitions: (id, binary) in →
    * `(id, width, height, channels, mean_intensity)` out, every output
    * column computed from the decoded raster. Rows whose bytes don't parse
    * as an image yield nulls (width == null marks them). Narrow op — no
    * shuffle; per-partition kernel setup amortized like `decodeFeatures`.
    */
  def decodeImageMeta(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        decodeImage(bytes) match {
          case Some(m) => (id, Option(m.width), Option(m.height), Option(m.channels),
            Option(m.meanIntensity))
          case None => (id, None: Option[Int], None: Option[Int], None: Option[Int],
            None: Option[Double])
        }
      }
    }.toDF(idCol, "width", "height", "channels", "mean_intensity")
  }

  /** Batched REAL audio decode over partitions: (id, binary) in →
    * `(id, sample_rate_hz, channels, frames, duration_ms, rms)` out, every
    * output column computed from the decoded PCM. Rows whose bytes don't
    * parse as audio yield nulls (sample_rate_hz == null marks them). Narrow
    * op — no shuffle.
    */
  def decodeAudioMeta(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        decodeAudio(bytes) match {
          case Some(m) => (id, Option(m.sampleRateHz), Option(m.channels),
            Option(m.frames), Option(m.durationMs), Option(m.rmsAmplitude))
          case None => (id, None: Option[Int], None: Option[Int],
            None: Option[Long], None: Option[Long], None: Option[Double])
        }
      }
    }.toDF(idCol, "sample_rate_hz", "channels", "frames", "duration_ms", "rms")
  }

  /** Batched decode / feature extraction over partitions — the `mapInPandas`
    * analog. Input must contain (`idCol`: long, `binCol`: binary); output is
    * (id, features array<float>). Blobs that parse as a real image get
    * pixel-derived features from [[decodeImage]]; anything else falls back
    * to the deterministic stub (audio/video placeholder). Narrow op: no
    * shuffle, bounded memory (one row at a time off the iterator,
    * per-partition setup done once).
    */
  def decodeFeatures(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      // per-partition setup (a real codec would init its context here, once)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        (id, featureKernel(bytes))
      }
    }.toDF(idCol, "features")
  }

  /** Kernel selection shared by [[decodeFeatures]]/[[decodeAudit]]: real
    * image decode, then real audio decode, then real MJPEG-AVI video
    * decode, then the stub for undecodable codecs — all 8 features in
    * [0,1]; the two trailing flags mark (is-audio, is-image) with video as
    * (1, 1).
    */
  private def featureKernel(bytes: Array[Byte]): Array[Float] =
    decodeImage(bytes) match {
      case Some(m) => Array(
        m.width / 4096f, m.height / 4096f, m.channels / 4f,
        (m.meanIntensity / 255.0).toFloat,
        m.width.toFloat / (m.width + m.height),
        math.min(1.0, bytes.length / (1024.0 * 1024.0)).toFloat, 0f, 1f)
      case None => decodeAudio(bytes) match {
        case Some(a) => Array(
          math.min(1f, a.sampleRateHz / 48000f), a.channels / 8f,
          math.min(1.0, a.frames / 1e6).toFloat,
          math.min(1.0, a.durationMs / 600000.0).toFloat,
          math.min(1.0, a.rmsAmplitude).toFloat,
          math.min(1.0, bytes.length / (1024.0 * 1024.0)).toFloat, 1f, 0f)
        case None => decodeVideo(bytes) match {
          case Some(v) => Array(
            v.width / 4096f, v.height / 4096f,
            math.min(1.0, v.frames / 1e4).toFloat,
            math.min(1f, (v.fps / 120.0).toFloat),
            (v.meanIntensity / 255.0).toFloat,
            math.min(1.0, bytes.length / (1024.0 * 1024.0)).toFloat, 1f, 1f)
          case None => decodeStub(bytes)
        }
      }
    }

  /** Compare-friendly audit of the decode path: every column is a scalar
    * computed INSIDE the kernel from the raw bytes, so an external oracle can
    * verify the binary plumbing end-to-end (byte count survives the binary
    * cast, the kernel ran once per row, emitted the full feature vector, and
    * every feature landed in the documented [0,1] range) without having to
    * reproduce the codec. Exact stub-feature values are pinned by unit test.
    */
  def decodeAudit(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        // same kernel selection as decodeFeatures: image, then audio, then
        // the video stub
        val feats = featureKernel(bytes)
        (id, bytes.length.toLong, feats.length.toLong,
          feats.forall(f => f >= 0.0f && f <= 1.0f))
      }
    }.toDF(idCol, "n_bytes", "n_features", "features_ok")
  }

  /** Deterministic frame sampling plan for video blobs: every `everyMs`
    * timestamp in [0, duration) — metadata-only (no decode), pure exprs.
    */
  def frameSamplePlan(df: DataFrame, everyMs: Long = 1000L): DataFrame =
    df.withColumn("frame_ts_ms",
      explode(sequence(lit(0L), greatest(col("media_meta.duration_ms") - 1, lit(0L)),
        lit(everyMs))))

  /** Partition sizing for blob tables: target ~`targetMb` per output
    * partition given an average blob size — keeps parquet row groups and
    * task memory bounded when blobs are MBs each.
    *
    * Sizing does NOT run an extra `count()` scan (the count-before-write
    * pattern SURVEY §4 flags in the reference): callers that know the row
    * count pass it, otherwise the optimizer's plan statistics supply a row
    * count or a size estimate (for file scans these come from file-listing
    * metadata, no data read). The one remaining fallback to `count()` is
    * when the plan reports the unknown-size default — rare, and explicit.
    */
  def repartitionForBlobs(df: DataFrame, avgBlobBytes: Long, targetMb: Int = 256,
      rowCount: Option[Long] = None): DataFrame = {
    val rowsPerPartition = math.max(1L, targetMb.toLong * 1024 * 1024 / math.max(1L, avgBlobBytes))
    val stats = df.queryExecution.optimizedPlan.stats
    val unknown = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val rows: Long = rowCount
      .orElse(stats.rowCount.map(_.toLong))
      .getOrElse {
        if (stats.sizeInBytes < unknown)
          (stats.sizeInBytes / math.max(1L, avgBlobBytes)).toLong max 1L
        else df.count()
      }
    val n = math.max(1, (rows.toDouble / rowsPerPartition).ceil.toInt)
    df.repartition(n)
  }

  // ------------------------------------------------------------------ video

  /** Decoded video facts — every field computed from the actually-parsed
    * container and the actually-decoded frame pixels: `width`/`height` come
    * from the FIRST DECODED FRAME's raster (not the header), `frames` is
    * the count of frame chunks that decoded, `meanIntensity` the average of
    * per-frame raster means. Only `fps`/`durationMs` use the stream-header
    * timebase (dwRate/dwScale) — pixels carry no clock.
    */
  final case class VideoMeta(width: Int, height: Int, frames: Int, fps: Double,
      durationMs: Long, meanIntensity: Double)

  /** REAL video decode for MJPEG-family AVI (pure JVM — the one video
    * container a stock JVM can genuinely decode end-to-end): parses the
    * RIFF/AVI chunk tree (`LIST hdrl` → `avih`/`strh`, `LIST movi` →
    * `00dc`/`00db` frame chunks) and decodes every frame's bytes with
    * `javax.imageio` (JPEG for MJPG, PNG for the lossless MPNG variant —
    * ImageIO sniffs the frame magic). None when the bytes are not a
    * parsable AVI or no frame decodes. In-memory, no temp files.
    *
    * Codecs a JVM cannot decode (H.264 etc.) still parse as containers but
    * yield None at the frame step — a real deployment swaps the per-frame
    * kernel for JNI/javacv; the container walk, batch shape, and schema
    * contract stay exactly as here.
    */
  def decodeVideo(bytes: Array[Byte]): Option[VideoMeta] = {
    def u32(o: Int): Long =
      (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
        ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
    def fourcc(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes == null || bytes.length < 24 || !looksLikeVideo(bytes)) return None
    if (fourcc(8) != "AVI ") return None // sniff checks 3 bytes; require the full fourcc
    try {
      var scale = 0L
      var rate = 0L
      val frameMeans = scala.collection.mutable.ArrayBuffer.empty[Double]
      var w = 0
      var h = 0
      def walk(start: Int, end: Int): Unit = {
        var o = start
        while (o + 8 <= end) {
          val id = fourcc(o)
          val size = u32(o + 4).toInt
          val dataStart = o + 8
          if (dataStart + size > bytes.length) return
          id match {
            case "LIST" => walk(dataStart + 4, dataStart + size) // skip subtype
            case "strh" if size >= 36 && fourcc(dataStart) == "vids" =>
              scale = u32(dataStart + 20)
              rate = u32(dataStart + 24)
            case c if c.length == 4 && (c.endsWith("dc") || c.endsWith("db")) &&
                c(0).isDigit && c(1).isDigit =>
              decodeImage(java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size))
                .foreach { m =>
                  if (frameMeans.isEmpty) { w = m.width; h = m.height }
                  frameMeans += m.meanIntensity
                }
            case _ => ()
          }
          o = dataStart + size + (size & 1) // chunks are word-aligned
        }
      }
      walk(12, math.min(bytes.length, 8 + u32(4).toInt))
      if (frameMeans.isEmpty || rate <= 0 || scale <= 0) return None
      val n = frameMeans.size
      Some(VideoMeta(w, h, n, rate.toDouble / scale,
        n * 1000L * scale / rate, frameMeans.sum / n))
    } catch { case _: Exception => None }
  }

  /** Selective frame decode for sampling plans: decodes ONLY every
    * `stride`-th frame chunk (1 = all) and returns (frameIndex, rasterMean)
    * for each decoded frame. Skipped frames cost a chunk-header hop, not a
    * decode — at 100 TB the sampling cost scales with SAMPLED frames, which
    * is the point of [[frameSamplePlan]].
    */
  def sampleFrameMeans(bytes: Array[Byte], stride: Int): Seq[(Int, Double)] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    def u32(o: Int): Long =
      (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
        ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
    def fourcc(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes == null || bytes.length < 24) return Nil
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return Nil
    val out = Seq.newBuilder[(Int, Double)]
    var idx = 0
    def walk(start: Int, end: Int): Unit = {
      var o = start
      while (o + 8 <= end) {
        val id = fourcc(o)
        val size = u32(o + 4).toInt
        val dataStart = o + 8
        // a crafted/corrupt u32 can go negative as an Int: it would pass
        // the bounds check below AND leave `o` unadvanced (size = -8) —
        // an infinite loop; reject the chunk instead of trusting it
        if (size < 0 || dataStart + size > bytes.length) return
        id match {
          case "LIST" => walk(dataStart + 4, dataStart + size)
          case c if c.length == 4 && (c.endsWith("dc") || c.endsWith("db")) &&
              c(0).isDigit && c(1).isDigit =>
            if (idx % stride == 0)
              decodeImage(java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size))
                .foreach(m => out += ((idx, m.meanIntensity)))
            idx += 1
          case _ => ()
        }
        o = dataStart + size + (size & 1)
      }
    }
    // corrupt containers yield NO frames, never a failed task — the
    // null-metadata contract decodeVideo/imageHashMeta document
    try walk(12, math.min(bytes.length, 8 + u32(4).toInt))
    catch { case scala.util.control.NonFatal(_) => return out.result() }
    out.result()
  }

  /** 64-bit perceptual VIDEO hash: the per-bit MAJORITY vote of every
    * sampled frame's [[dHash]] (every `stride`-th frame of the RIFF/AVI
    * chunk walk, the [[sampleFrameMeans]] traversal) — robust to frame
    * drops, insertions, and per-frame re-encodes a single-frame hash is
    * not (ties vote 0). None when no frame decodes.
    */
  def videoDHash(bytes: Array[Byte], stride: Int = 1): Option[Long] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    if (bytes == null || bytes.length < 24 || !looksLikeVideo(bytes)) return None
    def u32(o: Int): Long =
      (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
        ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
    def fourcc(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val votes = new Array[Int](64)
    var idx = 0
    var hashed = 0
    def walk(start: Int, end: Int): Unit = {
      var o = start
      while (o + 8 <= end) {
        val id = fourcc(o)
        val size = u32(o + 4).toInt
        val dataStart = o + 8
        // negative sizes pass the bounds check and stall the walk
        // (size = -8 never advances `o`) — reject, don't trust
        if (size < 0 || dataStart + size > bytes.length) return
        id match {
          case "LIST" => walk(dataStart + 4, dataStart + size)
          case c if c.length == 4 && (c.endsWith("dc") || c.endsWith("db")) &&
              c(0).isDigit && c(1).isDigit =>
            if (idx % stride == 0)
              dHash(java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size))
                .foreach { h =>
                  hashed += 1
                  var i = 0
                  while (i < 64) { if (((h >>> i) & 1L) == 1L) votes(i) += 1; i += 1 }
                }
            idx += 1
          case _ => ()
        }
        o = dataStart + size + (size & 1)
      }
    }
    // a corrupt container hashes to None (the imageHashMeta null-hash
    // contract), never a failed task
    try walk(12, math.min(bytes.length, 8 + u32(4).toInt))
    catch { case scala.util.control.NonFatal(_) => if (hashed == 0) return None }
    if (hashed == 0) None
    else {
      var h = 0L
      var i = 0
      while (i < 64) { if (votes(i) * 2 > hashed) h |= 1L << i; i += 1 }
      Some(h)
    }
  }

  /** Deterministic synthetic AVI: wraps pre-encoded frame images (PNG or
    * JPEG bytes — the lossless-PNG variant is what the exact decode oracle
    * uses, the MJPG variant what the tolerance spec uses) in a minimal
    * RIFF/AVI container at `fpsRate` fps (timebase dwScale=1) — the ENCODE
    * side of the round-trip [[decodeVideo]] verifies.
    */
  def syntheticAvi(width: Int, height: Int, fpsRate: Int,
      frames: Seq[Array[Byte]], handler: String = "MJPG"): Array[Byte] = {
    require(fpsRate >= 1, s"fpsRate must be >= 1, got $fpsRate")
    val bo = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      ascii(id) ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(subtype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", ascii(subtype) ++ body)
    val avih = le32(1000000L / fpsRate) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.size.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width.toLong) ++ le32(height.toLong) ++ Array.fill(16)(0.toByte)
    val strh = ascii("vids") ++ ascii(handler) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(1) /* dwScale */ ++ le32(fpsRate.toLong) /* dwRate */ ++
      le32(0) ++ le32(frames.size.toLong) ++ le32(0) ++ le32(0xFFFFFFFFL) ++
      le32(0) ++ le32(0) ++ // rcFrame: {0, 0, width, height} as 4 int16s
      le32((width & 0xFFFF).toLong | ((height & 0xFFFFL) << 16))
    val strf = le32(40) ++ le32(width.toLong) ++ le32(height.toLong) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ ascii(handler) ++
      le32(width.toLong * height * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.map(f => chunk("00dc", f)).fold(Array.emptyByteArray)(_ ++ _))
    val body = ascii("AVI ") ++ hdrl ++ movi
    bo.write(ascii("RIFF")); bo.write(le32(body.length.toLong)); bo.write(body)
    bo.toByteArray
  }

  /** Batched REAL video decode over partitions: (id, binary) in →
    * `(id, width, height, frames, fps, duration_ms, mean_intensity)` out.
    * Rows whose bytes don't parse as a decodable AVI yield nulls
    * (width == null marks them). Narrow op — no shuffle.
    */
  def decodeVideoMeta(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "media_bytes"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in: Dataset[Row] = df.select(col(idCol).cast("long"), col(binCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        decodeVideo(bytes) match {
          case Some(m) => (id, Option(m.width), Option(m.height), Option(m.frames),
            Option(m.fps), Option(m.durationMs), Option(m.meanIntensity))
          case None => (id, None: Option[Int], None: Option[Int], None: Option[Int],
            None: Option[Double], None: Option[Long], None: Option[Double])
        }
      }
    }.toDF(idCol, "width", "height", "frames", "fps", "duration_ms", "mean_intensity")
  }
}
