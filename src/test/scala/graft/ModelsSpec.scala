package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.models.{LangId, NGramLM, NGramLMModel}
import graft.synth.Vocab

class ModelsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  lazy val langId = LangId.train()

  test("langid classifies accepted languages confidently") {
    val samples = Seq(
      "en" -> "a photo of a dog running on the beach at sunset",
      "fr" -> "une photo de chien qui court sur la plage avec ciel",
      "de" -> "ein foto von hund am strand mit himmel und wasser",
      "es" -> "una foto de perro que corre en la playa con cielo",
      "zh" -> "zhaopian gou paobu haitan tiankong shui xiao niao")
    samples.foreach { case (lang, text) =>
      val p = langId.predict(text)
      assert(p.lang == lang, s"$text -> $p")
      assert(p.acceptedProb > 0.7, s"$lang acceptedProb=${p.acceptedProb}")
    }
  }

  test("langid rejects wrong-language and gibberish text") {
    val ru = "sobaka begushchaya plyazh zakat gora reka ptitsa voda"
    val gib = "xqzvk pwxjq brtnk zzvwq mlpqx kkjzz wqpxv"
    assert(langId.predict(ru).acceptedProb < 0.3, s"ru=${langId.predict(ru)}")
    assert(langId.predict(gib).acceptedProb < 0.3, s"gib=${langId.predict(gib)}")
  }

  test("ngram LM: corpus text has low perplexity, gibberish high") {
    import spark.implicits._
    val corpus = LangId.trainingCorpus().filter(t => Vocab.acceptedLangs.contains(t._1))
    val lm = NGramLM.fit(spark, spark.createDataset(corpus.map(_._2)))
    val clean = "a photo of a dog running on the beach at sunset"
    val gib = "xqzvk pwxjq brtnk zzvwq mlpqx kkjzz wqpxv"
    val pClean = lm.perplexity(clean)
    val pGib = lm.perplexity(gib)
    assert(pGib > 3.0 * pClean, s"clean=$pClean gib=$pGib")
  }

  test("LM emit/count round trip") {
    val m = NGramLMModel(Map(
      NGramLMModel.uniKey('a') -> 2L,
      NGramLMModel.biKey('a', 'b') -> 1L,
      NGramLMModel.triKey('a', 'b', 'a') -> 1L,
      NGramLMModel.uniKey('b') -> 1L), total = 3L)
    assert(m.logProb("aba") <= 0.0)
    assert(m.perplexity("aba") > 0.0)
  }

  test("langid featureBuckets deterministic and in range") {
    val f1 = langId.featureBuckets("hello world")
    val f2 = langId.featureBuckets("hello world")
    assert(f1.sameElements(f2))
    assert(f1.forall(b => b >= 0 && b < langId.dim))
    intercept[IllegalArgumentException](graft.models.LangIdModel(Array("en"), 100, new Array[Float](100)))
  }
}
