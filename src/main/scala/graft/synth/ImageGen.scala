package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One synthesized image+caption row (BASELINE.json input_hint schema). */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

final case class KnownFault(image_id: String, fault_class: String)

final case class ExpectedDecision(
    image_id: String,
    decision: String, // keep | drop
    scrubbed_caption: String,
    fault_class: String) // "" for clean rows

/** Generator parameters. `withBytes` controls whether real encoded image
  * payloads are produced (slow; tests only) or `bytes = null` (bench). */
final case class GenConfig(
    n: Long,
    seed: Long = 42L,
    faultPct: Int = 5,
    withBytes: Boolean = false,
    parts: Int = 32)

object GenConfig {
  /** Data-derived partition count for fixture-sized corpora: ≥250
    * rows per partition, clamped to [4, 32]. A 1000-row fixture in 32
    * partitions is 31 rows/task — pure scheduling overhead at ANY
    * deployment size (guide §2/§6: size partitions to data); callers
    * with genuinely large corpora pass `parts` explicitly. Row CONTENT
    * is a pure function of (seed, id), so the partition count never
    * changes generated data — only its layout. */
  def adaptiveParts(n: Long): Int =
    math.max(4L, math.min(32L, n / 250L)).toInt
}

/** Deterministic synthetic image+caption table with seeded faults — the
  * analog of the reference's example dataset + companion outliers file
  * (/root/reference/README.md:112-124, breastCancer.csv +
  * breastCancer_outliers.csv). Generation is a pure function of
  * (row id, seed): any row can be re-derived anywhere, which is what makes
  * near-duplicate injection (copying a clean base row) distributable with
  * no shuffle and the whole fixture resumable.
  *
  * Fault classes per FIXTURES.md §1; exactly one class per faulty row
  * (~faultPct% of rows).
  */
object ImageGen {

  val faultClasses: Array[String] = Array(
    "too_short", "too_long", "symbol_soup", "repetition", "bad_resolution",
    "bad_aspect", "wrong_lang", "gibberish", "near_duplicate", "pii")

  // --- deterministic splitmix64 PRNG --------------------------------
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Tiny deterministic PRNG seeded from (seed, id, stream tag). */
  final class Rng(seed: Long, id: Long, tag: Long) {
    private var state: Long = splitmix64(seed ^ splitmix64(id ^ splitmix64(tag)))
    def nextLong(): Long = { state = splitmix64(state); state }
    def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  // --- clean-row construction ----------------------------------------
  private val dims: Array[(Int, Int)] = Array(
    (256, 256), (512, 512), (640, 480), (800, 600), (1024, 768),
    (512, 384), (320, 240), (960, 720))

  private def pickLang(u: Double): String = {
    var acc = 0.0
    var i = 0
    while (i < Vocab.langWeights.length) {
      acc += Vocab.langWeights(i)._2
      if (u < acc) return Vocab.langWeights(i)._1
      i += 1
    }
    Vocab.langWeights.last._1
  }

  def cleanLang(seed: Long, id: Long): String =
    pickLang(new Rng(seed, id, 1L).nextDouble())

  /** Caption of a clean row — pure in (seed, id). Words are sampled
    * *without replacement* (partial Fisher–Yates) so clean rows can never
    * trip the repetition rule and are always long enough for the length
    * rule — deterministic separability from the fault classes. */
  def cleanCaption(seed: Long, id: Long): String = {
    val lang = cleanLang(seed, id)
    val rng = new Rng(seed, id, 2L)
    val vocab = Vocab.words(lang).clone()
    val k = 8 + rng.nextInt(16)
    val sb = new StringBuilder
    var i = 0
    while (i < k) {
      val j = i + rng.nextInt(vocab.length - i)
      val t = vocab(i); vocab(i) = vocab(j); vocab(j) = t
      if (i > 0) sb.append(' ')
      sb.append(vocab(i))
      i += 1
    }
    sb.toString()
  }

  def cleanDims(seed: Long, id: Long): (Int, Int) =
    dims(new Rng(seed, id, 3L).nextInt(dims.length))

  def cleanFmt(seed: Long, id: Long): String = {
    val u = new Rng(seed, id, 4L).nextDouble()
    if (u < 0.70) "png" else if (u < 0.95) "jpeg" else "bmp"
  }

  def cleanPhash(seed: Long, id: Long): Long = new Rng(seed, id, 5L).nextLong()

  // --- fault assignment ----------------------------------------------
  /** Fault class for a row, or null when clean. Pure in (seed, id).
    * `near_duplicate` needs a *smaller* clean base id (so the dup — the
    * larger id of the pair — is the one dropped); the first ids fall back
    * to `too_short`. */
  def faultClass(seed: Long, faultPct: Int, id: Long): String = {
    val h = splitmix64(seed ^ splitmix64(id ^ 0xfa17L))
    if (java.lang.Math.floorMod(h, 100L) < faultPct) {
      val fc = faultClasses(java.lang.Math.floorMod(h >>> 32, faultClasses.length.toLong).toInt)
      if (fc == "near_duplicate" && id < 32L) "too_short" else fc
    } else null
  }

  /** A clean base-row id strictly below `id` for near-duplicate injection:
    * the duplicate is always the larger id of the pair, so drop-the-max
    * dedup never drops a clean row. */
  def dupBaseId(seed: Long, faultPct: Int, id: Long): Long = {
    require(id >= 32L, "near_duplicate only injected for id >= 32")
    var cand = java.lang.Math.floorMod(splitmix64(seed ^ id), id)
    var tries = 0L
    while (faultClass(seed, faultPct, cand) != null && tries < id) {
      cand = (cand + 1L) % id
      tries += 1
    }
    cand
  }

  private def gibberish(rng: Rng, nWords: Int): String = {
    val a = Vocab.gibberishAlphabet
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      val len = 4 + rng.nextInt(6)
      var j = 0
      while (j < len) { sb.append(a.charAt(rng.nextInt(a.length))); j += 1 }
      i += 1
    }
    sb.toString()
  }

  /** (caption, expectedScrubbed) for a pii row: generator-side knowledge
    * of what the scrubbed text must be (exact-equality gate). */
  def piiCaption(seed: Long, id: Long): (String, String) = {
    val base = cleanCaption(seed, id)
    val rng = new Rng(seed, id, 6L)
    val words = base.split(' ')
    val cut = 1 + rng.nextInt(math.max(1, words.length - 1))
    val email = s"user${java.lang.Math.floorMod(id, 100000L)}@example.com"
    val phone = String.format(java.util.Locale.ROOT, "555-%03d-%04d",
      Int.box(100 + rng.nextInt(900)), Int.box(1000 + rng.nextInt(9000)))
    val pre = words.take(cut).mkString(" ")
    val post = words.drop(cut).mkString(" ")
    val cap = s"$pre contact $email or $phone $post".trim
    val scrubbed = s"$pre contact <EMAIL> or <PHONE> $post".trim
    (cap, scrubbed)
  }

  /** Zero-padded row id with Locale.ROOT digits: the f-interpolator's
    * %d renders through the DEFAULT locale's zero digit, so under a
    * non-ASCII-digit numbering system the ids would come out non-ASCII
    * and every substring-cast / sort-order contract built on them would
    * silently break (same trap ClusterExplainer.Conjunct.render fixed). */
  private[synth] def rowId(prefix: String, id: Long): String =
    String.format(java.util.Locale.ROOT, "%s%09d", prefix, Long.box(id))

  /** Full row materialization — pure in (cfg, id). */
  def rowFor(cfg: GenConfig, id: Long): (ImageRow, String, String) = {
    val seed = cfg.seed
    val fc = faultClass(seed, cfg.faultPct, id)
    var caption = cleanCaption(seed, id)
    var (w, h) = cleanDims(seed, id)
    var fmt = cleanFmt(seed, id)
    var phash = cleanPhash(seed, id)
    var expectedScrub: String = null

    fc match {
      case null => ()
      case "too_short" =>
        caption = caption.split(' ').head.take(4)
      case "too_long" =>
        val rng = new Rng(seed, id, 7L)
        val vocab = Vocab.words(cleanLang(seed, id))
        val sb = new StringBuilder(caption)
        var i = 0
        while (i < 200) { sb.append(' ').append(vocab(rng.nextInt(vocab.length))); i += 1 }
        caption = sb.toString()
      case "symbol_soup" =>
        val rng = new Rng(seed, id, 8L)
        val syms = "$#@!%^&*()[]{}<>~|\\/+=_"
        val sb = new StringBuilder(caption)
        var i = 0
        val k = caption.length / 2 + 5
        while (i < k) { sb.append(' ').append(syms.charAt(rng.nextInt(syms.length))); i += 1 }
        caption = sb.toString()
      case "repetition" =>
        val words = caption.split(' ')
        val unit = words.take(2).mkString(" ")
        caption = Array.fill(30)(unit).mkString(" ")
      case "bad_resolution" =>
        w = 8 + new Rng(seed, id, 9L).nextInt(24); h = w
      case "bad_aspect" =>
        w = 1024; h = 16 + new Rng(seed, id, 10L).nextInt(32)
      case "wrong_lang" =>
        val rng = new Rng(seed, id, 11L)
        val k = 8 + rng.nextInt(16)
        caption = Array.fill(k)(Vocab.wrongLangWords(rng.nextInt(Vocab.wrongLangWords.length))).mkString(" ")
      case "gibberish" =>
        caption = gibberish(new Rng(seed, id, 12L), 10 + new Rng(seed, id, 13L).nextInt(10))
      case "near_duplicate" =>
        val base = dupBaseId(seed, cfg.faultPct, id)
        caption = cleanCaption(seed, base)
        val bd = cleanDims(seed, base); w = bd._1; h = bd._2
        fmt = cleanFmt(seed, base)
        val rng = new Rng(seed, id, 14L)
        var p = cleanPhash(seed, base)
        val flips = 1 + rng.nextInt(4)
        var i = 0
        while (i < flips) { p = p ^ (1L << rng.nextInt(64)); i += 1 }
        phash = p
      case "pii" =>
        val (cap, scr) = piiCaption(seed, id)
        caption = cap; expectedScrub = scr
    }

    if (expectedScrub == null) expectedScrub = caption
    val bytes = if (cfg.withBytes) encodeImage(seed, id, w, h, fmt) else null
    (ImageRow(rowId("img", id), bytes, w, h, fmt, caption, phash),
      if (fc == null) "" else fc, expectedScrub)
  }

  /** Deterministic tiny image payload (16x16 regardless of the logical
    * w/h metadata — payload size stays test-friendly) encoded with the JDK
    * ImageIO codec for `fmt`. */
  def encodeImage(seed: Long, id: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val rng = new Rng(seed, id, 15L)
    val side = 16
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        img.setRGB(x, y, (rng.nextLong() & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    val codec = fmt match {
      case "jpeg" => "jpg"
      case "bmp" => "bmp"
      case _ => "png"
    }
    graft.ops.Multimodal.encodeImage(img, codec)
  }

  /** Pixel side length of every encoded payload (see [[encodeImage]]). */
  val payloadSide: Int = 16

  /** Generator-truth pixel channels for the [[encodeImage]] payload of
    * (seed, id): the SAME splitmix64 stream replayed WITHOUT touching any
    * codec, flattened row-major as r,g,b per pixel (16×16×3 = 768 values,
    * each 0–255). This is the independent "expected" side of the
    * decoded-pixel fidelity oracle: the codec round-trip
    * (encode → bytes → ImageIO decode) must reproduce these exactly for
    * lossless formats and within PSNR ≥ 40 dB for jpeg. */
  def expectedPixels(seed: Long, id: Long): Array[Int] = {
    val rng = new Rng(seed, id, 15L)
    val side = payloadSide
    val out = new Array[Int](side * side * 3)
    var i = 0
    while (i < side * side) {
      val v = (rng.nextLong() & 0xffffffL).toInt
      out(i * 3) = (v >> 16) & 0xff
      out(i * 3 + 1) = (v >> 8) & 0xff
      out(i * 3 + 2) = v & 0xff
      i += 1
    }
    out
  }

  // --- Spark materialization ------------------------------------------
  def images(spark: SparkSession, cfg: GenConfig): DataFrame = {
    import spark.implicits._
    spark.range(0L, cfg.n, 1L, cfg.parts)
      .map(id => rowFor(cfg, id)._1)
      .toDF()
  }

  def knownFaults(spark: SparkSession, cfg: GenConfig): DataFrame = {
    import spark.implicits._
    spark.range(0L, cfg.n, 1L, cfg.parts)
      .flatMap { id =>
        val fc = faultClass(cfg.seed, cfg.faultPct, id)
        if (fc == null) None else Some(KnownFault(rowId("img", id), fc))
      }
      .toDF()
  }

  def expected(spark: SparkSession, cfg: GenConfig): DataFrame = {
    import spark.implicits._
    spark.range(0L, cfg.n, 1L, cfg.parts)
      .map { id =>
        val (row, fc, scrub) = rowFor(cfg, id)
        ExpectedDecision(row.image_id, if (fc == "") "keep" else "drop", scrub, fc)
      }
      .toDF()
  }

  /** Generator-truth pixels per row (see [[expectedPixels]]) — the
    * codec-free "expected" side of the decoded-pixel fidelity oracle. */
  def expectedPixelRows(spark: SparkSession, cfg: GenConfig): DataFrame = {
    import spark.implicits._
    spark.range(0L, cfg.n, 1L, cfg.parts)
      .map(id => (rowId("img", id), expectedPixels(cfg.seed, id)))
      .toDF("image_id", "pixels")
  }
}
