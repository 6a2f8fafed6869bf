package graft

import java.lang.Double.doubleToRawLongBits
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.detect.Scorer
import graft.models.{CodeCounts, LangId, NGramCounts, NGramLM}
import graft.scrub.Scrub
import graft.streaming.StreamScore
import graft.synth.{GenConfig, ImageGen, ImageRow}

/** The per-caption model signals (langid label and accepted-language
  * probability, perplexity, LM fit counts, scrubbed caption) equal the
  * straightforward references in [[CaptionKernelReference]] bit for bit,
  * as direct model calls and through the Spark scoring plan. */
class CaptionKernelParitySpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._
  import CaptionKernelReference._

  private val configs =
    for (seed <- Seq(1L, 7L); faultPct <- Seq(5, 30))
      yield GenConfig(n = 4000L, seed = seed, faultPct = faultPct, parts = 4)

  private def rows(cfg: GenConfig): Seq[ImageRow] =
    (0L until cfg.n).map(id => ImageGen.rowFor(cfg, id)._1)

  private val edgeCases: Seq[String] = Seq(
    null, "", " ", "a", "ab", "abc", "  ab  ", "a b",
    // chars above 0x7f fold through & 0x7f in the n-gram keys
    "ÉCOLE à Zürich", "naïve café ñandú", "東京 タワー", "emoji \ud83d\ude00 text",
    "\u0080\u00ff\u0100 mixed \u0180",
    // rule triggers without the PII they guard
    "user @ home", "@@", "@", "a@b", "mail me @ noon",
    "2024 photos of 3 dogs", "room 101", "4", "12:30 pm", "v1.2.3",
    "555 123", "\u0663\u0664\u0665-\u0661\u0662-\u0666\u0667\u0668\u0669",
    "ratio 3:1", "a://b", "see :// here", "ftp://files", "http:/x", "http//x",
    // and the PII itself
    "mail user9@example.com now", "call 555-123-4567 today",
    "ssn 123-45-6789", "at 192.168.1.1 via https://x.example/z q",
    "you unclefucker", "ASSCLOWN!")

  private def sameBits(a: Double, b: Double): Boolean =
    doubleToRawLongBits(a) == doubleToRawLongBits(b)

  test("model calls equal the references bit for bit (2 seeds x faultPct 5, 30)") {
    val langId = LangId.pretrained
    configs.foreach { cfg =>
      val caps = rows(cfg).map(_.caption)
      val lm = NGramLM.fit(spark, spark.createDataset(caps).repartition(3))
      val ref = fitPairs(caps)
      assert(lm.keys.toSeq == ref.map(_._1).toSeq, s"fit keys, $cfg")
      assert(lm.vals.toSeq == ref.map(_._2).toSeq, s"fit counts, $cfg")
      val bad = (caps ++ edgeCases).filterNot { c =>
        val p = langId.predict(c)
        langId.featureBuckets(c).sameElements(featureBuckets(langId, c)) &&
          p.lang == bestLang(langId, c) &&
          sameBits(p.acceptedProb, acceptedProb(langId, c)) &&
          sameBits(lm.perplexity(c), perplexity(lm, c)) &&
          sameBits(lm.logProb(c), logProb(lm, c)) &&
          (c == null || Scrub.scrubString(c) == scrubString(c))
      }
      assert(bad.isEmpty, s"${bad.size} mismatches under $cfg, first: ${bad.headOption}")
    }
  }

  test("primitive fit counts equal the boxed-map counts, partition by partition") {
    val caps = rows(configs.last).map(_.caption) ++ edgeCases.filter(_ != null)
    caps.grouped(997).foreach { part =>
      val c = new NGramCounts(16)
      part.foreach(c.add)
      assert(c.pairs.sortBy(_._1).toSeq == fitPairs(part).toSeq)
    }
  }

  test("open-addressing counts grow and look up like a hash map") {
    val rng = new scala.util.Random(11)
    val t = new CodeCounts(4)
    val m = scala.collection.mutable.HashMap.empty[Int, Long]
    (0 until 50000).foreach { _ =>
      val code = rng.nextInt(1 << 21)
      val n = 1L + rng.nextInt(3)
      t.add(code, n)
      m(code) = m.getOrElse(code, 0L) + n
    }
    assert(m.forall { case (k, v) => t.get(k) == v })
    assert((0 until 20000).map(_ => rng.nextInt(1 << 21)).filterNot(m.contains)
      .forall(t.get(_) == 0L))
    val seen = scala.collection.mutable.HashMap.empty[Int, Long]
    t.foreach((k, v) => seen(k) = v)
    assert(seen == m)
  }

  private lazy val cfg = configs(3) // seed 7, faultPct 30
  private lazy val images: DataFrame = ImageGen.images(spark, cfg)
  private lazy val models = Scorer.fit(spark, images)
  private lazy val noDups = images.select("image_id").limit(0)

  test("withRawSignals columns equal the references bit for bit") {
    val base = rows(cfg)
    val edgeRows = edgeCases.zipWithIndex.map { case (c, i) =>
      base(i).copy(image_id = s"edge-$i", caption = c)
    }
    val input = images.unionByName(edgeRows.toDF())
    val raw = Scorer.withRawSignals(input, models, noDups)
      .select("image_id", "caption", "pred_lang", "ppl_raw", "score_langid",
        "scrubbed_caption", "score_pii")
    val langId = models.langId.value
    val lm = models.lm.value
    val expected = input.select("image_id", "caption").as[(String, String)].collect()
      .map { case (id, c) =>
        (id, if (c == null) None else Some((bestLang(langId, c), perplexity(lm, c),
          acceptedProb(langId, c), scrubString(c))))
      }
    val langidScore = expected.collect { case (id, Some((_, _, acc, _))) => (id, acc) }
      .toSeq.toDF("image_id", "acc")
      .select(col("image_id"), Scorer.langidScoreCol(col("acc")).as("s"))
      .as[(String, Double)].collect().toMap
    val got = raw.collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == expected.length)
    expected.foreach {
      case (id, None) =>
        val r = got(id)
        assert(Seq(2, 3, 5).forall(r.isNullAt), s"null caption $id -> $r")
        assert(r.getDouble(4) == 0.0) // greatest() skips the null probability
      case (id, Some((lang, ppl, _, scrubbed))) =>
        val r = got(id)
        assert(r.getString(2) == lang, s"pred_lang $id")
        assert(sameBits(r.getDouble(3), ppl), s"ppl_raw $id")
        assert(sameBits(r.getDouble(4), langidScore(id)), s"score_langid $id")
        assert(r.getString(5) == scrubbed, s"scrubbed_caption $id")
        assert(r.getDouble(6) == (if (scrubbed != r.getString(1)) 1.0 else 0.0))
    }
  }

  test("langid runs once per row in the optimized scoring plans") {
    def langidCalls(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e: StaticInvoke if e.functionName == "langidRow" => e }.size).sum
      }.sum
    val raw = Scorer.withRawSignals(images, models, noDups)
    assert(langidCalls(raw) == 1, raw.queryExecution.optimizedPlan)
    val decided = Scorer.withDecision(Scorer.withScores(images, models, noDups), 0.5)
    assert(langidCalls(decided) == 1, decided.queryExecution.optimizedPlan)
    val streamed = StreamScore.scoreStream(images, models, 0.5)
    assert(langidCalls(streamed) == 1, streamed.queryExecution.optimizedPlan)
    assert(!raw.columns.contains(Scorer.langIdCol))
    // the physical plan keeps the single call
    val physical = raw.queryExecution.sparkPlan
    assert(physical.collect { case p =>
      p.expressions.map(_.collect { case e: StaticInvoke if e.functionName == "langidRow" => e }.size).sum
    }.sum == 1, physical)
    assert(raw.queryExecution.executedPlan.toString.contains("langidRow"))
  }
}
