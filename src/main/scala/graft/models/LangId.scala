package graft.models

import graft.synth.{ImageGen, Vocab}

/** fastText-style language-ID model: hashed character n-gram (1–3)
  * bag-of-features into a linear softmax over language classes. Pure
  * Scala, trained once driver-side on a deterministic synthetic corpus,
  * then broadcast to executors and applied per row by one native
  * column (`Exprs.langidPredict`, a `StaticInvoke` of `Exprs.langidRow`;
  * see [[graft.detect.Scorer]]).
  *
  * Replaces the reference's model-zoo anomaly scorers (M2/M3,
  * /root/reference/backendClasses/DQTestToolHelper.py:104-130) for the
  * langid rule of the north-star pipeline. The class list includes
  * out-of-set languages ("ru") and a gibberish class so the accepted-set
  * probability is genuinely discriminative.
  *
  * The serial version is pinned so a checkpoint stays readable while
  * the serialized fields (`langs`, `dim`, `weights`) are unchanged.
  */
@SerialVersionUID(-669274143913281235L)
final case class LangIdModel(
    langs: Array[String],
    dim: Int,
    weights: Array[Float]) { // (dim x L) row-major: weights(f * L + l)

  require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")

  @transient private lazy val acceptedIdx: Array[Int] =
    langs.zipWithIndex.filter { case (l, _) => Vocab.acceptedLangs.contains(l) }.map(_._2)

  def featureBuckets(text: String): Array[Int] = {
    val s = LangId.normalize(text)
    val len = s.length
    val cap = len + math.max(0, len - 1) + math.max(0, len - 2) // n-grams, n=1..3
    val out = new Array[Int](cap)
    var w = 0
    var n = 1
    while (n <= 3) {
      var i = 0
      while (i + n <= len) {
        var h = 1125899906842597L
        var j = i
        while (j < i + n) { h = 31L * h + s.charAt(j); j += 1 }
        out(w) = (h & (dim - 1)).toInt // floorMod(h, dim): dim is a power of two
        w += 1
        i += 1
      }
      n += 1
    }
    if (w == cap) out else java.util.Arrays.copyOf(out, w)
  }

  /** Softmax class probabilities for a text. */
  def predictProbs(text: String): Array[Double] = {
    val l = langs.length
    val fs = featureBuckets(text)
    if (fs.isEmpty) return Array.fill(l)(1.0 / l)
    LangId.probsFromBuckets(fs, weights, l)
  }

  /** One forward pass: the argmax language (first maximum wins) and the
    * highest probability among the accepted languages — the langid keep
    * signal; 1 − that probability drives the invalidity score. */
  def predict(text: String): LangIdPrediction = {
    val p = predictProbs(text)
    var bi = 0
    var i = 1
    while (i < p.length) { if (p(i) > p(bi)) bi = i; i += 1 }
    var accepted = 0.0
    i = 0
    while (i < acceptedIdx.length) {
      if (p(acceptedIdx(i)) > accepted) accepted = p(acceptedIdx(i))
      i += 1
    }
    LangIdPrediction(langs(bi), accepted)
  }
}

/** Result of [[LangIdModel.predict]]. */
final case class LangIdPrediction(lang: String, acceptedProb: Double)

object LangId {
  /** Memoized default model (deterministic corpus + hyperparameters):
    * train once per JVM, broadcast per session. */
  lazy val pretrained: LangIdModel = train()

  /** Normalized softmax probabilities from precomputed feature buckets —
    * the ONE feature-averaged forward-pass formula, shared by inference
    * ([[LangIdModel.predictProbs]]) and the SGD step in [[train]] so the
    * two can never drift. `fs` must be non-empty. */
  private[models] def probsFromBuckets(
      fs: Array[Int], weights: Array[Float], l: Int): Array[Double] = {
    val logits = new Array[Double](l)
    val inv = 1.0 / fs.length
    var i = 0
    while (i < fs.length) {
      val base = fs(i) * l
      var k = 0
      while (k < l) { logits(k) += weights(base + k) * inv; k += 1 }
      i += 1
    }
    var mx = logits(0)
    var k = 1
    while (k < l) { if (logits(k) > mx) mx = logits(k); k += 1 }
    var sum = 0.0
    k = 0
    while (k < l) { logits(k) = math.exp(logits(k) - mx); sum += logits(k); k += 1 }
    k = 0
    while (k < l) { logits(k) /= sum; k += 1 }
    logits
  }

  /** Lowercase; any non-letter, non-space char becomes a space; trimmed.
    * Hand-rolled (no per-call regex compile): the langid forward pass and
    * the perplexity scorer each normalize every caption once. */
  def normalize(text: String): String = {
    if (text == null) return ""
    val n = text.length
    val out = new Array[Char](n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      out(i) =
        if (c == ' ' || Character.isLetter(c)) Character.toLowerCase(c)
        else ' '
      i += 1
    }
    var s = 0
    var e = n
    while (s < e && out(s) == ' ') s += 1
    while (e > s && out(e - 1) == ' ') e -= 1
    new String(out, s, e - s)
  }

  /** Deterministic labeled training corpus: accepted langs + "ru" +
    * "gib" classes, generated from the same public vocab pools as the
    * fixture (seed independent from the data seed). */
  def trainingCorpus(perClass: Int = 400, seed: Long = 1234L): Seq[(String, String)] = {
    val classes = Vocab.acceptedLangs.map(l => l -> Vocab.words(l)) ++
      Seq("ru" -> Vocab.wrongLangWords)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (((lang, vocab), ci) <- classes.zipWithIndex; i <- 0 until perClass) {
      val rng = new ImageGen.Rng(seed, ci.toLong * 1000003L + i, 21L)
      val k = 6 + rng.nextInt(14)
      val words = Array.fill(k)(vocab(rng.nextInt(vocab.length)))
      out += lang -> words.mkString(" ")
    }
    val a = Vocab.gibberishAlphabet
    for (i <- 0 until perClass) {
      val rng = new ImageGen.Rng(seed, 7000000L + i, 22L)
      val k = 6 + rng.nextInt(14)
      val words = Array.fill(k) {
        val len = 4 + rng.nextInt(6)
        (0 until len).map(_ => a.charAt(rng.nextInt(a.length))).mkString
      }
      out += "gib" -> words.mkString(" ")
    }
    out.toSeq
  }

  /** Driver-side SGD softmax-regression training (corpus is small by
    * construction; the heavy distributed pass in this pipeline is the
    * n-gram LM fit + scoring, not this). Deterministic: fixed corpus
    * order, no shuffling randomness beyond the seeded PRNG. */
  def train(
      corpus: Seq[(String, String)] = trainingCorpus(),
      dim: Int = 1 << 14,
      epochs: Int = 20,
      lr: Double = 10.0): LangIdModel = {
    val langs = corpus.map(_._1).distinct.sorted.toArray
    val langIdx = langs.zipWithIndex.toMap
    val l = langs.length
    val weights = new Array[Float](dim * l)
    val model = LangIdModel(langs, dim, weights)
    val feats = corpus.map { case (lang, text) =>
      (langIdx(lang), model.featureBuckets(text))
    }
    val rng = new ImageGen.Rng(99L, 0L, 23L)
    val order = feats.toArray
    var e = 0
    while (e < epochs) {
      // deterministic Fisher–Yates shuffle per epoch
      var i = order.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      var s = 0
      while (s < order.length) {
        val (y, fs) = order(s)
        if (fs.nonEmpty) {
          val inv = 1.0 / fs.length
          val p = probsFromBuckets(fs, weights, l)
          var k = 0
          while (k < l) {
            val g = (p(k) - (if (k == y) 1.0 else 0.0)) * lr * inv
            var f2 = 0
            while (f2 < fs.length) {
              weights(fs(f2) * l + k) = (weights(fs(f2) * l + k) - g).toFloat
              f2 += 1
            }
            k += 1
          }
        }
        s += 1
      }
      e += 1
    }
    model
  }
}
