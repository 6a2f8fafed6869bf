package graft.ops

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, processed partition-parallel with typed
  * `mapPartitions` (the Scala analog of `mapInPandas` batching — one
  * decoder instantiation per partition, streaming iterator, no
  * whole-partition materialization).
  *
  * Image decode/resize/feature-extract are REAL (JDK ImageIO handles
  * png/jpeg/bmp in this container). Audio is REAL too:
  * [[decodeWav]] parses RIFF/WAVE PCM through the JDK's own
  * `javax.sound.sampled.AudioSystem` codec. Video is REAL at the
  * container level the JDK can express: [[demuxMjpeg]] demuxes a
  * Motion-JPEG elementary stream (concatenated baseline JPEGs — a
  * public format) by segment-level JPEG parsing and [[videoFrames]]
  * ImageIO-decodes the sampled frames. Inter-frame-coded formats
  * (H.264 etc.) have no JDK codec and are out of scope here; on a real
  * cluster the same mapPartitions seam takes a JNI/FFmpeg decoder.
  */
object Multimodal {

  /** Executor-side decode tuned for high-throughput scans. Plain
    * `ImageIO.read` per row (a) searches the plugin registry on every
    * call and (b) by default spools the input through a DISK-backed
    * cache file — one temp-file create/delete per image, the dominant
    * decode cost on this box's virtio disk and an anti-pattern on a
    * 1000-executor cluster (local-disk churn for bytes that already
    * sit in memory). This helper (1) switches ImageIO to memory-cached
    * streams once per JVM and (2) reuses one reader per
    * (thread, format) — readers are not thread-safe, so the cache is
    * thread-local: one instance per executor task thread, not per row.
    * Unsniffable payloads fall back to plain `ImageIO.read`; corrupt
    * payload semantics are unchanged (null or exception, which every
    * caller already maps to decode_ok=false). */
  private val imageioMemoryOnly: Boolean = {
    javax.imageio.ImageIO.setUseCache(false); true
  }
  private val readerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue(): java.util.HashMap[String, javax.imageio.ImageReader] =
        new java.util.HashMap()
    }
  private def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 0x50 &&
      b(2) == 0x4e && b(3) == 0x47) "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 2 && b(0) == 'B'.toByte && b(1) == 'M'.toByte) "bmp"
    else null

  def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    assert(imageioMemoryOnly) // ties the one-time setUseCache(false) to first use
    val fmt = sniffFormat(bytes)
    if (fmt == null)
      return javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val cache = readerCache.get()
    var r = cache.get(fmt)
    if (r == null) {
      // Select by CONTENT exactly like ImageIO.read (first reader that
      // claims the stream), not by format name: on a JVM with
      // third-party ImageIO plugins registered, name-lookup order can
      // differ from sniff order and silently pick a different decoder
      // per executor.
      val probe = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val it = javax.imageio.ImageIO.getImageReaders(probe)
        if (!it.hasNext)
          return javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        r = it.next()
        cache.put(fmt, r)
      } finally probe.close()
    }
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      r.setInput(iis, true, true)
      r.read(0)
    } finally {
      r.reset() // drop the input reference: a cached reader must not pin
      iis.close() // this row's payload for the executor thread's lifetime
    }
  }

  /** Encode-side twin of [[decodeImage]]: one writer per
    * (thread, format), memory-cached output stream, default write
    * params — byte-identical to `ImageIO.write(img, fmt, stream)`,
    * minus its per-call writer lookup and disk-backed output spool. */
  private val writerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] {
      override def initialValue(): java.util.HashMap[String, javax.imageio.ImageWriter] =
        new java.util.HashMap()
    }
  def encodeImage(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    assert(imageioMemoryOnly)
    val cache = writerCache.get()
    var w = cache.get(fmt)
    if (w == null) {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO writer for format $fmt")
      w = it.next()
      cache.put(fmt, w)
    }
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      w.setOutput(ios)
      w.write(img)
    } finally {
      w.reset() // same payload-pinning hygiene as decodeImage
      ios.close() // flushes the cached bytes into baos
    }
    baos.toByteArray
  }

  /** Flat r,g,b channels (row-major) of a decoded image via ONE bulk
    * getRGB pass (single ColorModel dispatch instead of w*h virtual
    * calls) — shared by [[decodePixels]], [[phash64]] and
    * [[resizePixels]] so the channel layout can never desynchronize
    * between the decoded-pixel fixture and its consumers. */
  def pixelChannels(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val packed = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Int](w * h * 3)
    var i = 0
    while (i < packed.length) {
      val p = packed(i)
      out(i * 3) = (p >> 16) & 0xff
      out(i * 3 + 1) = (p >> 8) & 0xff
      out(i * 3 + 2) = p & 0xff
      i += 1
    }
    out
  }

  final case class ImageFeatures(
      image_id: String,
      decode_ok: Boolean,
      width: Int,
      height: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double)

  final case class ResizedImage(image_id: String, bytes: Array[Byte], w: Int, h: Int)

  final case class ResizedPixels(
      image_id: String, decode_ok: Boolean, w: Int, h: Int, pixels: Array[Int])

  final case class AudioRms(
      id: String,
      decode_ok: Boolean,
      sample_rate: Int,
      n_samples: Int,
      n_windows: Int,
      rms: Array[Double])

  final case class MjpegFrame(
      id: String,
      frame_idx: Int,
      byte_off: Int,
      n_bytes: Int,
      decode_ok: Boolean,
      w: Int,
      h: Int,
      phash: Long)

  /** Peak signal-to-noise ratio between two decoded images (the
    * BASELINE.md decoded-pixel fidelity gate; ∞ for identical pixels).
    * Driver/executor-side scalar over decoded BufferedImages. */
  def psnr(a: java.awt.image.BufferedImage, b: java.awt.image.BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight, "dimension mismatch")
    var mse = 0.0
    var n = 0L
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var s = 16
        while (s >= 0) {
          val d = ((pa >> s) & 0xff) - ((pb >> s) & 0xff)
          mse += d.toDouble * d; n += 1
          s -= 8
        }
        x += 1
      }
      y += 1
    }
    if (mse == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / (mse / n))
  }

  def psnrBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val ia = decodeImage(a)
    val ib = decodeImage(b)
    psnr(ia, ib)
  }

  /** Decode every (id, bytes) row of `images`, partition-parallel, and
    * map it to `ok(id, image)`. A payload that does not decode (null, or
    * any exception, `ok`'s included) maps to `failed(id)` — never a task
    * failure. */
  private def perImage[T <: Product : TypeTag](images: DataFrame, idCol: String,
      bytesCol: String)(ok: (String, java.awt.image.BufferedImage) => T,
      failed: String => Option[T]): Dataset[T] =
    images.select(col(idCol), col(bytesCol))
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          try {
            val img = decodeImage(bytes)
            if (img == null) failed(id) else Some(ok(id, img))
          } catch { case _: Exception => failed(id) }
        }
      }(Encoders.product[T])

  /** Decode + feature-extract: mean channel intensities. Real ImageIO
    * decode; corrupt payloads yield decode_ok=false rows, never a task
    * failure. */
  def imageFeatures(images: DataFrame): Dataset[ImageFeatures] =
    perImage(images, "image_id", "bytes")({ (id, img) =>
      val w = img.getWidth; val h = img.getHeight
      val packed = img.getRGB(0, 0, w, h, null, 0, w)
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      while (i < packed.length) {
        val p = packed(i)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        i += 1
      }
      val n = (w.toLong * h).toDouble
      ImageFeatures(id, decode_ok = true, w, h, r / n, g / n, b / n)
    }, id => Some(ImageFeatures(id, decode_ok = false, 0, 0, 0, 0, 0)))

  final case class PhashRow(image_id: String, phash: Long, decode_ok: Boolean)

  final case class DecodedPixels(
      image_id: String, decode_ok: Boolean, pixels: Array[Int])

  /** Decode each payload and emit the raw pixel channels, flattened
    * row-major as r,g,b per pixel — the engine side of the decoded-pixel
    * fidelity check (BASELINE.md: pixels exact for lossless formats,
    * PSNR ≥ 40 dB for lossy). Partition-parallel like every codec op
    * here; corrupt payloads yield decode_ok=false with an empty array,
    * never a task failure. */
  def decodePixels(images: DataFrame, idCol: String = "image_id",
      bytesCol: String = "bytes"): Dataset[DecodedPixels] =
    perImage(images, idCol, bytesCol)(
      (id, img) => DecodedPixels(id, decode_ok = true, pixelChannels(img)),
      id => Some(DecodedPixels(id, decode_ok = false, Array.empty)))

  /** Perceptual hash computed from the ACTUAL pixels (average-hash /
    * aHash): decode → exact-integer 8×8 area average → grayscale →
    * threshold at the mean → 64-bit fingerprint. Small pixel perturbations (lossy
    * re-encode, mild noise) flip few bits; unrelated images land ~32
    * bits apart — the input-side producer for the `phash` column the
    * banding dedup consumes ([[graft.discovery.PhashDup]]) when a table
    * arrives without precomputed hashes. Corrupt payloads yield
    * decode_ok=false with phash 0, never a task failure. */
  def computePhash(images: DataFrame, idCol: String = "image_id",
      bytesCol: String = "bytes"): Dataset[PhashRow] =
    perImage(images, idCol, bytesCol)(
      (id, img) => PhashRow(id, phash64(img), decode_ok = true),
      id => Some(PhashRow(id, 0L, decode_ok = false)))

  /** 8×8 average-hash of a decoded image (scalar; see [[computePhash]]). */
  def phash64(img: java.awt.image.BufferedImage): Long =
    phashFromPixels(pixelChannels(img), img.getWidth, img.getHeight)

  /** aHash core over raw r,g,b channels (row-major, as [[decodePixels]]
    * emits): exact-integer area average into the 8×8 grid — source pixel
    * (x, y) lands in cell (x*8/w, y*8/h); per-cell gray = ⌊Σluma/count⌋
    * with ITU-R 601 integer luma ⌊(299r+587g+114b)/1000⌋; bit i set when
    * cell i's gray exceeds ⌊Σgray/64⌋. Deliberately NOT Graphics2D:
    * rendered interpolation can differ across Java2D pipelines, and a
    * banding dedup whose signatures must compare equal ACROSS executors
    * on a heterogeneous cluster needs bit-identical hashes everywhere —
    * and the pure-integer spec lets an independent engine recompute the
    * hash relationally (qf_phash_compute oracle). */
  def phashFromPixels(px: Array[Int], w: Int, h: Int): Long = {
    val side = 8
    val sums = new Array[Long](side * side)
    val counts = new Array[Long](side * side)
    var pi = 0
    val n = w * h
    while (pi < n) {
      val luma = (299 * px(pi * 3) + 587 * px(pi * 3 + 1) +
        114 * px(pi * 3 + 2)) / 1000
      val cell = (pi / w * side / h) * side + (pi % w * side / w)
      sums(cell) += luma
      counts(cell) += 1
      pi += 1
    }
    val gray = new Array[Long](side * side)
    var i = 0
    var total = 0L
    while (i < side * side) {
      gray(i) = if (counts(i) == 0) 0L else sums(i) / counts(i)
      total += gray(i)
      i += 1
    }
    val mean = total / (side * side)
    var hash = 0L
    i = 0
    while (i < side * side) {
      if (gray(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Real resize (Graphics2D bilinear) + re-encode to PNG. */
  def resizeImages(images: DataFrame, outW: Int, outH: Int): Dataset[ResizedImage] =
    perImage(images, "image_id", "bytes")({ (id, img) =>
      val out = new java.awt.image.BufferedImage(outW, outH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = out.createGraphics()
      g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(img, 0, 0, outW, outH, null)
      g2.dispose()
      ResizedImage(id, encodeImage(out, "png"), outW, outH)
    }, _ => None)

  /** Exact-integer area-average resize over raw r,g,b channels
    * (row-major, as [[decodePixels]] emits): source pixel (x, y) lands
    * in cell (x*outW/w, y*outH/h); each output channel is ⌊Σ/count⌋
    * over its cell. Same renderer-independence rationale as
    * [[phashFromPixels]]: Graphics2D's rendered interpolation can
    * differ across Java2D pipelines, so any downstream op whose values
    * must compare equal ACROSS executors on a heterogeneous cluster
    * (dedup signatures, cached feature grids) needs a pure-integer
    * spec — which also lets an independent engine recompute every
    * output pixel relationally (qf_image_resize oracle). Downscale
    * path: cells a pure upscale never touches stay 0. */
  def resizePixelsScalar(px: Array[Int], w: Int, h: Int,
      outW: Int, outH: Int): Array[Int] = {
    val cells = outW * outH
    val sums = new Array[Long](cells * 3)
    val counts = new Array[Long](cells)
    var pi = 0
    val n = w * h
    while (pi < n) {
      val cell = (pi / w * outH / h) * outW + (pi % w * outW / w)
      sums(cell * 3) += px(pi * 3)
      sums(cell * 3 + 1) += px(pi * 3 + 1)
      sums(cell * 3 + 2) += px(pi * 3 + 2)
      counts(cell) += 1
      pi += 1
    }
    val out = new Array[Int](cells * 3)
    var c = 0
    while (c < cells) {
      if (counts(c) > 0) {
        out(c * 3) = (sums(c * 3) / counts(c)).toInt
        out(c * 3 + 1) = (sums(c * 3 + 1) / counts(c)).toInt
        out(c * 3 + 2) = (sums(c * 3 + 2) / counts(c)).toInt
      }
      c += 1
    }
    out
  }

  /** Distributed exact-integer resize: decode → [[resizePixelsScalar]]
    * per row, partition-parallel like every codec op here. Corrupt
    * payloads yield decode_ok=false with an empty array, never a task
    * failure. The Graphics2D + PNG re-encode path ([[resizeImages]])
    * stays for byte-payload outputs; this one is the deterministic
    * feature-grid path. */
  def resizePixels(images: DataFrame, outW: Int, outH: Int,
      idCol: String = "image_id",
      bytesCol: String = "bytes"): Dataset[ResizedPixels] =
    perImage(images, idCol, bytesCol)(
      (id, img) => ResizedPixels(id, decode_ok = true, outW, outH,
        resizePixelsScalar(pixelChannels(img), img.getWidth, img.getHeight, outW, outH)),
      id => Some(ResizedPixels(id, decode_ok = false, outW, outH, Array.empty)))

  /** Decoded PCM audio: interleaved samples as signed ints. */
  final case class WavPcm(sampleRate: Int, channels: Int, samples: Array[Int])

  /** REAL audio decode through the JDK's own WAV codec
    * (`javax.sound.sampled.AudioSystem` — pure stream parsing, no audio
    * device): RIFF chunk navigation, format negotiation, and frame
    * framing are the JDK parser's, never offset arithmetic on a known
    * layout (a WAV with extra chunks before `data` decodes identically —
    * spec-asserted). Supports the MONO PCM_SIGNED 16-bit payloads the
    * quality-filter corpus carries; anything else raises (callers map to
    * decode_ok=false). Mono is part of the require: a multi-channel WAV
    * would otherwise decode "ok" with channel-INTERLEAVED samples, so a
    * downstream windowed RMS would silently mix channels and report an
    * inflated n_samples with no field to detect it by. */
  /** JDK audio parsers, resolved ONCE per JVM: every
    * `AudioSystem.getAudioInputStream` call goes through the JDK's
    * SYNCHRONIZED provider registry, which measured NEGATIVE thread
    * scaling on the decode path (20k WAVs: 15.0k docs/s on 1 thread,
    * 7.4k docs/s on 32 — the whole executor pool serialized on one
    * lock). The readers themselves (WaveFileReader et al.) are
    * stateless JDK parsers; probing the cached list per row is exactly
    * AudioSystem's own loop (first reader that does not throw
    * UnsupportedAudioFileException wins — the SPI contract makes
    * failed probes reset the stream) without the registry lock.
    *
    * MIDI-backed readers probe LAST: the JDK registers
    * SoftMidiAudioFileReader as an AudioFileReader, and merely PROBING
    * it calls MidiSystem.getSequence → the synchronized
    * JDK13Services.getProviders registry + classpath jar scans — the
    * stack sampler showed 32 decode threads BLOCKED there for the
    * majority of samples. No payload is ambiguous between a sampled
    * container (RIFF/AIFF/AU magic) and a Standard MIDI File, so the
    * reorder cannot change which reader accepts a stream; it only
    * keeps the expensive MIDI probe off the hot path (it still runs,
    * last, for genuinely unrecognized bytes). */
  private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toArray
      .sortBy(r => if (r.getClass.getName.toLowerCase.contains("midi")) 1 else 0)
  }

  def decodeWav(bytes: Array[Byte]): WavPcm = {
    val in = new java.io.ByteArrayInputStream(bytes)
    var ais: javax.sound.sampled.AudioInputStream = null
    var i = 0
    while (ais == null && i < audioReaders.length) {
      try ais = audioReaders(i).getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    if (ais == null)
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "Stream of unsupported format")
    try {
      val f = ais.getFormat
      require(
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16 && f.getChannels == 1,
        s"unsupported audio format $f")
      val data = ais.readAllBytes()
      val n = data.length / 2
      val samples = new Array[Int](n)
      var i = 0
      if (f.isBigEndian)
        while (i < n) {
          samples(i) = (data(2 * i) << 8) | (data(2 * i + 1) & 0xff); i += 1
        }
      else
        while (i < n) {
          samples(i) = (data(2 * i + 1) << 8) | (data(2 * i) & 0xff); i += 1
        }
      WavPcm(f.getSampleRate.toInt, f.getChannels, samples)
    } finally ais.close()
  }

  /** Windowed RMS over REAL decoded PCM samples ([[decodeWav]]),
    * partition-parallel like every codec op here. Each window of
    * `windowSize` samples yields sqrt(Σs²/windowSize); the tail shorter
    * than a window is dropped. Σs² of int16 samples is an exact integer
    * below 2^53, so the oracle can recompute every window bit-for-bit
    * from the container bytes. Corrupt/unsupported payloads yield
    * decode_ok=false, never a task failure. */
  def audioRms(audio: DataFrame, idCol: String, bytesCol: String,
      windowSize: Int = 256): Dataset[AudioRms] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select(col(idCol), col(bytesCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val pcm = decodeWav(bytes)
            val s = pcm.samples
            val nw = s.length / windowSize
            val rms = Array.tabulate(nw) { w =>
              var acc = 0.0
              var i = w * windowSize
              while (i < (w + 1) * windowSize) {
                acc += s(i).toDouble * s(i); i += 1
              }
              math.sqrt(acc / windowSize)
            }
            AudioRms(id, decode_ok = true, pcm.sampleRate, s.length, nw, rms)
          } catch {
            case _: Exception =>
              AudioRms(id, decode_ok = false, 0, 0, 0, Array.empty)
          }
        }
      }
  }

  /** REAL MJPEG elementary-stream demux: frame boundaries are discovered
    * by segment-level JPEG parsing, exactly as a decoder walks the
    * format — SOI, then marker segments skipped by their big-endian
    * length fields, entropy-coded scan data skipped honoring 0xFF00
    * byte stuffing and RST0-7 restart markers, until EOI closes the
    * frame and the next SOI opens the next. No heuristic byte scanning:
    * a 0xFFD9 inside a marker segment's payload cannot be mistaken for
    * EOI because segments are skipped by length, and one inside scan
    * data cannot occur unescaped by the format's stuffing rule.
    * Returns (offset, length) per frame; malformed streams throw
    * (callers map to decode_ok=false). */
  def demuxMjpeg(bytes: Array[Byte]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def u8(i: Int): Int = bytes(i) & 0xff
    def len16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    var p = 0
    while (p < bytes.length) {
      require(u8(p) == 0xff && u8(p + 1) == 0xd8, s"expected SOI at $p")
      val start = p
      p += 2
      var open = true
      while (open) {
        require(u8(p) == 0xff, s"expected marker at $p")
        // fill bytes: 0xFF may be repeated before a marker code
        while (u8(p + 1) == 0xff) p += 1
        val m = u8(p + 1)
        if (m == 0xd9) { // EOI — frame complete
          p += 2
          out += ((start, p - start))
          open = false
        } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          p += 2 // standalone marker, no segment body
        } else if (m == 0xda) { // SOS: header by length, then scan data
          p += 2 + len16(p + 2)
          var scanning = true
          while (scanning) {
            if (u8(p) != 0xff) p += 1
            else {
              val nxt = u8(p + 1)
              if (nxt == 0x00) p += 2 // stuffed data 0xFF
              else if (nxt >= 0xd0 && nxt <= 0xd7) p += 2 // restart marker
              // fill byte (spec B.1.1.2: any marker may be preceded by
              // 0xFF padding) — consume ONE and keep scanning: exiting
              // the scan here would hand a following RST to the
              // segment-level loop, which would then misread the raw
              // entropy data after it as marker structure
              else if (nxt == 0xff) p += 1
              else scanning = false // real marker ends the scan
            }
          }
        } else {
          p += 2 + len16(p + 2) // any other segment: skip by length
        }
      }
    }
    out.toArray
  }

  /** Frame sampling over REAL MJPEG streams: demux ([[demuxMjpeg]]),
    * take every `every`-th frame, ImageIO-decode it ([[decodeImage]] —
    * the same thread-local-reader path the image ops use), and emit its
    * true byte extent, dimensions, and pixel-derived phash
    * ([[phash64]]) — the video-side producer for the banding dedup.
    * Partition-parallel; a malformed stream yields one decode_ok=false
    * row (frame_idx -1) and a demuxable-but-undecodable FRAME yields a
    * decode_ok=false row carrying its true byte extent (the per-frame
    * decode is guarded INSIDE the lazily-consumed iterator — an
    * unguarded throw there would escape the outer try, which only
    * covers building the iterator, and fail the task), never a task
    * failure. */
  def videoFrames(video: DataFrame, idCol: String, bytesCol: String,
      every: Int = 2): Dataset[MjpegFrame] = {
    val spark = video.sparkSession
    import spark.implicits._
    video.select(col(idCol), col(bytesCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          try {
            val idx = demuxMjpeg(bytes)
            // zero-frame payload (empty bytes): the row must still be
            // visible downstream as a failed decode, not vanish — the
            // same sentinel a malformed stream gets
            if (idx.isEmpty)
              Iterator.single(
                MjpegFrame(id, -1, 0, 0, decode_ok = false, 0, 0, 0L))
            else (0 until idx.length by every).iterator.map { f =>
              val (off, len) = idx(f)
              try {
                val img = decodeImage(
                  java.util.Arrays.copyOfRange(bytes, off, off + len))
                if (img == null)
                  MjpegFrame(id, f, off, len, decode_ok = false, 0, 0, 0L)
                else MjpegFrame(id, f, off, len, decode_ok = true,
                  img.getWidth, img.getHeight, phash64(img))
              } catch {
                case _: Exception =>
                  MjpegFrame(id, f, off, len, decode_ok = false, 0, 0, 0L)
              }
            }
          } catch {
            case _: Exception =>
              Iterator.single(
                MjpegFrame(id, -1, 0, 0, decode_ok = false, 0, 0, 0L))
          }
        }
      }
  }

  /** Binary payload → one row per byte `(id, i, v)` with `v` the SIGNED
    * byte value — the introspection primitive that lets a relational
    * engine (or SQL oracle) recompute any byte-stream-derived feature
    * (windowed RMS, frame slicing, checksums) independently. Partition-
    * parallel flatMap; a null payload yields no rows. Scale note: this
    * multiplies row count by payload size — use on bounded samples or
    * single shards, not a full corpus. */
  def explodeBytes(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol), col(bytesCol)).as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val b = if (bytes == null) Array.emptyByteArray else bytes
        b.iterator.zipWithIndex.map { case (v, i) => (id, i, v.toInt) }
      }
      .toDF("id", "i", "v")
  }
}
