package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.scrub.Scrub

class ScrubSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def scrubSpark(s: String): String =
    Seq(s).toDF("caption").select(Scrub.scrub(col("caption"))).head().getString(0)

  test("email is scrubbed") {
    assert(scrubSpark("contact user42@example.com now") == "contact <EMAIL> now")
  }

  test("ssn is scrubbed") {
    assert(scrubSpark("ssn 123-45-6789 here") == "ssn <SSN> here")
  }

  test("phone is scrubbed") {
    assert(scrubSpark("call 555-123-4567 today") == "call <PHONE> today")
  }

  test("ip and url are scrubbed") {
    assert(scrubSpark("at 192.168.1.1 via https://x.example/z q") == "at <IP> via <URL> q")
  }

  test("clean text unchanged") {
    val s = "a photo of a dog running on the beach"
    assert(scrubSpark(s) == s)
  }

  test("spark expression matches driver-side scrubString") {
    val samples = Seq(
      "mail a@b.co or b@c.org", "555-123-4567 and 123-45-6789",
      "nothing here", "mixed a@b.co text 10.0.0.1 end")
    samples.foreach(s => assert(scrubSpark(s) == Scrub.scrubString(s)))
  }

  test("scrub is idempotent (property)") {
    val wordGen = Gen.oneOf("dog", "cat", "user7@example.com", "555-123-4567",
      "123-45-6789", "10.0.0.1", "https://a.b/c", "plain", "x")
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    val prop = Prop.forAll(textGen) { t =>
      val once = Scrub.scrubString(t)
      Scrub.scrubString(once) == once
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("replacement tokens never match any pattern") {
    val tokens = Scrub.rules.map(_._3).mkString(" ")
    assert(Scrub.scrubString(tokens) == tokens)
  }

  test("no replacement token contains a rule trigger") {
    // so a rule never hands a later rule a trigger the input lacked
    Scrub.rules.foreach { case (name, _, rep) =>
      assert(Scrub.triggers(rep) == 0, s"$name replacement $rep")
    }
    assert(Scrub.ruleTriggers.toSeq ==
      Seq(Scrub.At, Scrub.Digit, Scrub.Digit, Scrub.Digit, Scrub.Scheme, 0))
  }

  test("a rule never matches text that lacks its trigger (property)") {
    val patterns = Scrub.rules.map(r => java.util.regex.Pattern.compile(r._2))
    // PII-shaped fragments with each trigger present or absent, plus
    // non-ASCII digits, which \d does not match
    val piece = Gen.oneOf("user7@example.com", "user7 example.com", "555-123-4567",
      "555-abc-defg", "(555) 123-4567", "123-45-6789", "10.0.0.1", "ten.0.0.one",
      "https://a.b/c", "https:/a.b/c", "http//x", "a://b", ":", "/", "@", "-", ".",
      "\u0663\u0664\u0665-\u0661\u0662-\u0666\u0667\u0668\u0669", "dog", "x", " ")
    val prop = Prop.forAll(Gen.listOf(piece).map(_.mkString)) { t =>
      val present = Scrub.triggers(t)
      patterns.indices.forall { i =>
        val need = Scrub.ruleTriggers(i)
        (need & present) == need || !patterns(i).matcher(t).find()
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("filtered scrub equals the every-rule chain (property)") {
    val wordGen = Gen.oneOf("dog", "user7@example.com", "a@b", "555-123-4567",
      "123-45-6789", "10.0.0.1", "2024", "https://a.b/c", "x://y", "12:30",
      "assclown", "café", "")
    val prop = Prop.forAll(Gen.listOf(wordGen).map(_.mkString(" "))) { t =>
      Scrub.scrubString(t) == CaptionKernelReference.scrubString(t)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }
}
