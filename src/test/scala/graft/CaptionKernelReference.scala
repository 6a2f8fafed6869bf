package graft

import graft.models.{LangId, LangIdModel, NGramLMModel}
import graft.models.NGramLMModel.{backoff, biKey, floorProb, triKey, uniKey}
import graft.scrub.Scrub
import graft.synth.Vocab

/** Straightforward forms of the per-caption model signals, kept as parity
  * references for the engine's kernel (CaptionKernelParitySpec): langid
  * feature buckets by floorMod, the label and the accepted-language
  * probability from separate forward passes, n-gram lookups by binary
  * search over the model's sorted keys, fit counts in a boxed hash map,
  * and the scrub chain running every rule. */
object CaptionKernelReference {

  /** Hashed 1-3 gram buckets, reduced by floorMod. */
  def featureBuckets(m: LangIdModel, text: String): Array[Int] = {
    val s = LangId.normalize(text)
    for (n <- (1 to 3).toArray; i <- 0 to s.length - n) yield {
      var h = 1125899906842597L
      (i until i + n).foreach(j => h = 31L * h + s.charAt(j))
      (((h % m.dim) + m.dim) % m.dim).toInt
    }
  }

  def bestLang(m: LangIdModel, text: String): String = {
    val p = m.predictProbs(text)
    var bi = 0
    var i = 1
    while (i < p.length) { if (p(i) > p(bi)) bi = i; i += 1 }
    m.langs(bi)
  }

  def acceptedProb(m: LangIdModel, text: String): Double = {
    val p = m.predictProbs(text)
    val accepted = m.langs.indices.filter(i => Vocab.acceptedLangs.contains(m.langs(i)))
    var best = 0.0
    accepted.foreach(i => if (p(i) > best) best = p(i))
    best
  }

  def count(m: NGramLMModel, key: Long): Long = {
    val i = java.util.Arrays.binarySearch(m.keys, key)
    if (i >= 0) m.vals(i) else 0L
  }

  def logProb(m: NGramLMModel, text: String): Double = {
    val s = LangId.normalize(text)
    if (s.length < 3) return math.log(floorProb)
    var lp = 0.0
    var i = 2
    while (i < s.length) {
      val c1 = s.charAt(i - 2); val c2 = s.charAt(i - 1); val c3 = s.charAt(i)
      val t = count(m, triKey(c1, c2, c3))
      val p =
        if (t > 0L) t.toDouble / count(m, biKey(c1, c2)).toDouble
        else {
          val b = count(m, biKey(c2, c3))
          if (b > 0L) backoff * b.toDouble / count(m, uniKey(c2)).toDouble
          else {
            val u = count(m, uniKey(c3))
            if (u > 0L) backoff * backoff * u.toDouble / m.total.toDouble
            else floorProb
          }
        }
      lp += math.log(p)
      i += 1
    }
    lp
  }

  def perplexity(m: NGramLMModel, text: String): Double = {
    val s = LangId.normalize(text)
    val n = math.max(1, s.length - 2)
    math.exp(-logProb(m, text) / n)
  }

  /** (key, count) pairs of every n-gram of the texts, sorted by key. */
  def fitPairs(texts: Iterable[String]): Array[(Long, Long)] = {
    val m = new java.util.HashMap[Long, Long](1 << 14)
    texts.foreach { text =>
      val s = LangId.normalize(text)
      var i = 0
      while (i < s.length) {
        m.merge(uniKey(s.charAt(i)), 1L, java.lang.Long.sum _)
        if (i >= 1) m.merge(biKey(s.charAt(i - 1), s.charAt(i)), 1L, java.lang.Long.sum _)
        if (i >= 2)
          m.merge(triKey(s.charAt(i - 2), s.charAt(i - 1), s.charAt(i)), 1L,
            java.lang.Long.sum _)
        i += 1
      }
    }
    val out = new Array[(Long, Long)](m.size)
    val e = m.entrySet().iterator()
    var i = 0
    while (e.hasNext) { val kv = e.next(); out(i) = (kv.getKey, kv.getValue); i += 1 }
    out.sortBy(_._1)
  }

  private val compiled = Scrub.rules.map { case (_, pat, rep) =>
    (java.util.regex.Pattern.compile(pat), rep)
  }

  def scrubString(s: String): String =
    compiled.foldLeft(s) { case (cur, (p, rep)) =>
      val m = p.matcher(cur)
      if (m.find()) m.replaceAll(rep) else cur
    }
}
