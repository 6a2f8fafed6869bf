package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.synth.{GenConfig, ImageGen}

class OpsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  val cfg = GenConfig(n = 2000L)
  lazy val images = ImageGen.images(spark, cfg).cache()

  /** Seeded (base, dup) caption pairs from the generator. */
  lazy val seededDupPairs: Set[(String, String)] =
    (32L until cfg.n).flatMap { id =>
      if (ImageGen.faultClass(cfg.seed, cfg.faultPct, id) == "near_duplicate")
        Some(f"img${ImageGen.dupBaseId(cfg.seed, cfg.faultPct, id)}%09d" -> f"img$id%09d")
      else None
    }.toSet

  /** The Catalyst split/slice/array_join chain: the parity reference
    * for the native Dedup.shingles expression. */
  private def shinglesCatalyst(text: Column, k: Int) = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  test("minhash LSH finds all exact-copy caption pairs") {
    val found = Dedup.minhashPairs(images, "image_id", "caption")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    seededDupPairs.foreach(p => assert(found.contains(p), s"missed $p"))
    // every reported pair is genuinely similar (verified jaccard >= 0.8)
    val verified = Dedup.minhashPairs(images, "image_id", "caption")
      .agg(min("jaccard")).head().getDouble(0)
    assert(verified >= 0.8)
  }

  test("native shingles expression matches the Catalyst chain exactly") {
    // Dedup.shingles (the native Exprs.shingles scalar pass) against the
    // Catalyst slice/array_join chain — output must be bit-identical on the full generator corpus (every
    // fault class: symbol soup, repetition, pii, gibberish, too_long)
    // and on the whitespace/empty edge cases the chain's split('\s+')
    // semantics make tricky.
    val corpus = images.select(col("caption"))
      .unionByName(Seq("", " ", "  a  b   c ", "a\tb\nc d", "é É X Y",
        "one two", "one two three", " lead", "trail ", "a  b")
        .toDF("caption"))
    val mismatches = corpus.select(
      Dedup.shingles(col("caption"), 3).as("nat"),
      shinglesCatalyst(col("caption"), 3).as("cat"))
      .filter(not(col("nat") <=> col("cat")))
      .count()
    assert(mismatches == 0L)
    // null text: BOTH sides yield the empty array (the Catalyst chain's
    // when/otherwise maps null through to otherwise(array()))
    val nullRow = Seq[(String, String)](("x", null)).toDF("id", "caption")
      .select(Dedup.shingles(col("caption"), 3).as("nat"),
        shinglesCatalyst(col("caption"), 3).as("cat"))
      .head()
    assert(!nullRow.isNullAt(0) && !nullRow.isNullAt(1))
    assert(nullRow.getSeq[String](0) == nullRow.getSeq[String](1))
    assert(nullRow.getSeq[String](0).isEmpty)
  }

  test("simhash finds exact-copy caption pairs") {
    val found = Dedup.simhashPairs(images, "image_id", "caption")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    seededDupPairs.foreach(p => assert(found.contains(p), s"missed $p"))
  }

  test("simhash excludes token-free documents (no hamming-0 zero bucket)") {
    // digits-only / punctuation-only / empty captions all normalize to
    // "" and fingerprint to 0L — unrelated docs must not pair up
    val df = Seq(("d1", "12345"), ("d2", "!!! ???"), ("d3", ""),
      ("d4", "a real caption of a dog"), ("d5", "a real caption of a dog"))
      .toDF("image_id", "caption")
    val pairs = Dedup.simhashPairs(df, "image_id", "caption")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("d4", "d5")), s"got $pairs")
  }

  test("ngram fused run-scan is bit-identical to the candidates-join shape") {
    // r6 optimization gate: ngramJaccardPairs fused the exact-Jaccard
    // verify into the banding run-scan (Banding.jaccardPairs). Rebuild
    // the former slim-candidates → payload-join shape from public pieces
    // and assert the exact same (id1, id2, jaccard) rows come out.
    val withSh = images
      .select(col("image_id").as("id"), Dedup.shingles(col("caption"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val banded = withSh.select(col("id"),
      explode(array_distinct(transform(
        slice(col("sh"), 1, 32), s => xxhash64(s)))).as("key"))
    val cands = graft.ops.Banding.candidatePairs(banded, 256)
    val joinShape = cands
      .join(withSh.select(col("id").as("id1"), col("sh").as("__sh1")), Seq("id1"))
      .join(withSh.select(col("id").as("id2"), col("sh").as("__sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        Dedup.jaccard(col("__sh1"), col("__sh2")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val fused = Dedup.ngramJaccardPairs(images, "image_id", "caption")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(fused == joinShape)
    assert(fused.nonEmpty)
  }

  test("ngram jaccard pairs include seeded dups with jaccard 1.0") {
    val pairs = Dedup.ngramJaccardPairs(images, "image_id", "caption")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    seededDupPairs.foreach { p =>
      assert(pairs.contains(p), s"missed $p")
      assert(pairs(p) == 1.0)
    }
  }

  test("ngram jaccard: hot-shingle corpus stays bounded, rare pairs still found") {
    // 80% of the corpus is one boilerplate caption (every shingle corpus-hot,
    // df=400) — the round-1 n² landmine. The capped run-scan bounds the
    // candidate volume; the seeded rare near-dup pairs must still be found.
    val hot = "a photo of a dog on the beach at sunset"
    val rows = (0 until 400).map(i => (f"hot$i%04d", hot)) ++
      (0 until 100).map { i =>
        val base = s"unique caption number $i with words alpha$i beta$i gamma$i delta$i"
        (f"uni$i%04d", base)
      } ++
      (0 until 5).map(i =>
        (f"dup$i%04d", s"unique caption number $i with words alpha$i beta$i gamma$i delta$i"))
    val df = rows.toDF("image_id", "caption")
    val t0 = System.nanoTime()
    val pairs = Dedup.ngramJaccardPairs(df, "image_id", "caption", maxDf = 64)
      .collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val found = pairs.map(r => (r.getString(0), r.getString(1))).toSet
    (0 until 5).foreach { i =>
      assert(found.contains((f"dup$i%04d", f"uni$i%04d")) ||
        found.contains((f"uni$i%04d", f"dup$i%04d")), s"missed rare dup $i")
    }
    // hot-group pairs bounded by the cap: ≤ maxDf²/2, not 400²/2
    assert(pairs.length <= 64 * 64 / 2 + 100, s"pair blowup: ${pairs.length}")
    assert(sec < 60.0, s"hot corpus took ${sec}s")
  }

  test("ngram jaccard surfaces hot-bucket truncation via the accumulator") {
    val hot = "a photo of a dog on the beach at sunset"
    val hotDf = (0 until 100).map(i => (f"hot$i%04d", hot)).toDF("image_id", "caption")
    val acc = spark.sparkContext.longAccumulator("graft.banding.truncated")
    Dedup.ngramJaccardPairs(hotDf, "image_id", "caption", maxDf = 8,
      truncated = Some(acc)).count()
    assert(acc.value > 0, "over-cap bucket members must be counted, not silent")
    // a corpus with no hot shingles reports zero truncation
    val uniq = (0 until 50)
      .map(i => (f"u$i%03d", s"totally unique caption $i alpha$i beta$i gamma$i"))
      .toDF("image_id", "caption")
    val acc2 = spark.sparkContext.longAccumulator("graft.banding.truncated2")
    Dedup.ngramJaccardPairs(uniq, "image_id", "caption",
      truncated = Some(acc2)).count()
    assert(acc2.value == 0L)
  }

  test("exact dedup keeps min id per key") {
    val df = Seq(("a", "x"), ("b", "x"), ("c", "y")).toDF("id", "k")
    val kept = Dedup.exactKeepFirst(df, "k", "id").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(kept == Map("a" -> 2L, "c" -> 1L))
  }

  test("embedding near-dup pairs: seeded jittered copies found") {
    val emb = Similarity.synthEmbeddings(spark, 500L)
    val pairs = Similarity.cosineNearDupPairs(emb, dim = 32, threshold = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (20L until 500L).filter(i => i % 20L == 19L).map(i => (i - 19L, i))
    val foundCount = expected.count(pairs.contains)
    assert(foundCount >= (expected.size * 0.9).toInt,
      s"found $foundCount of ${expected.size} seeded near-dups")
  }

  test("brute-force ANN: self is rank-1 neighbor, cosine descending") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(emb, queries, 5).collect()
    assert(top.length == 15)
    (0L until 3L).foreach { q =>
      val rows = top.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(rows.head.getLong(2) == q, "rank-1 must be the query itself")
      assert(math.abs(rows.head.getDouble(3) - 1.0) < 1e-6)
      val cosines = rows.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b - 1e-12 })
    }
  }

  test("LSH ANN finds the self-neighbor on the driver embeddings table") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lsh = Similarity.lshTopK(emb, queries, 5, dim = 64).collect()
    (0L until 3L).foreach { q =>
      val rows = lsh.filter(_.getLong(0) == q)
      assert(rows.nonEmpty)
      assert(rows.minBy(_.getInt(1)).getLong(2) == q)
    }
  }

  test("IVF ANN: self-neighbor found, recall >= 4/5 vs brute force on clustered corpus") {
    val emb = Similarity.synthEmbeddings(spark, 2000L).cache()
    val queries = emb.filter(col("vec_id").isin(0L, 7L, 42L, 101L, 333L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(0L, 7L, 42L, 101L, 333L).foreach { q =>
      assert(ivf.contains((q, q)), s"query $q must find itself")
      val hits = brute.filter(_._1 == q).count(ivf.contains)
      assert(hits >= 4, s"query $q IVF recall $hits/5 below gate")
    }
    emb.unpersist()
  }

  test("LSH ANN recall gate: >= 4 of top-5 vs brute force on clustered corpus") {
    // the driver table is near-uniform random (neighbor cos ≈ 0.33 — the
    // regime where no LSH beats a scan; see lshTopK doc); the recall gate
    // runs on the clustered fixture where ANN earns its keep
    val emb = Similarity.synthEmbeddings(spark, 2000L).cache()
    val queries = emb.filter(col("vec_id").isin(0L, 7L, 42L, 101L, 333L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSet = Similarity.lshTopK(emb, queries, 5, dim = 32)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(0L, 7L, 42L, 101L, 333L).foreach { q =>
      val hits = brute.filter(_._1 == q).count(lshSet.contains)
      assert(hits >= 4, s"query $q recall $hits/5 below gate")
    }
    emb.unpersist()
  }

  test("langid heuristic on clear samples") {
    val df = Seq(
      ("the photo of a dog and the cat", "en"),
      ("le chien qui court sur la plage avec", "fr"),
      ("der hund und die katze von haus mit", "de"),
      ("el perro que corre en la playa con", "es")).toDF("text", "want")
    val got = df.select(TextAnalysis.langIdHeuristic(col("text")).as("pred"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq("hello world, 42 times!").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")),
      TextAnalysis.bpeishTokenCount(col("text"))).head()
    assert(r.getInt(0) == 4) // hello | world, | 42 | times!
    assert(r.getInt(1) == 6) // hello | world | , | 42 | times | !
  }

  test("token count is 0 for empty/whitespace text, null for null") {
    // split("") yields [""] — the raw size() would say 1; the q22 DuckDB
    // oracle's REGEXP_EXTRACT_ALL count has always said 0
    val df = Seq(Some(""), Some("   "), Some("one two"), None)
      .toDF("text")
    val got = df.select(TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq == Seq(Some(0), Some(0), Some(2), None))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("a", "Hello   World"), ("b", "hello world"), ("c", "other")).toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("multimodal: real decode extracts features from every synthetic image") {
    val imgs = ImageGen.images(spark, cfg.copy(n = 60L, withBytes = true))
    val feats = Multimodal.imageFeatures(imgs).collect()
    assert(feats.length == 60)
    feats.foreach { f =>
      assert(f.decode_ok, s"${f.image_id} failed decode")
      assert(f.width == 16 && f.height == 16)
      assert(f.mean_r >= 0 && f.mean_r <= 255)
    }
  }

  test("multimodal: corrupt bytes yield decode_ok=false, not task failure") {
    val bad = Seq(("x", Array[Byte](1, 2, 3))).toDF("image_id", "bytes")
    val feats = Multimodal.imageFeatures(bad).collect()
    assert(feats.length == 1 && !feats.head.decode_ok)
  }

  test("decoded-pixel fidelity: lossless formats decode to generator truth exactly") {
    val n = 80L
    val imgs = ImageGen.images(spark, cfg.copy(n = n, withBytes = true))
    val decoded = Multimodal.decodePixels(imgs).collect()
      .map(d => d.image_id -> d).toMap
    // fmt must come from the generated ROW (near_duplicate rows inherit
    // the base row's fmt), not from cleanFmt(id)
    val fmts = imgs.select("image_id", "fmt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    var jpegSeen = 0
    (0L until n).foreach { id =>
      val d = decoded(f"img$id%09d")
      assert(d.decode_ok && d.pixels.length == 16 * 16 * 3)
      val e = ImageGen.expectedPixels(cfg.seed, id)
      val sse = d.pixels.zip(e).map { case (a, b) =>
        (a - b).toLong * (a - b) }.sum
      fmts(f"img$id%09d") match {
        case "jpeg" =>
          // the generator's jpeg ENCODE is lossy on noise payloads, so
          // generator-truth equality is out of contract — well-formed
          // decode only (pipeline pass-through PSNR = ∞ is asserted in
          // ParityOpsSpec)
          jpegSeen += 1
          assert(sse > 0, s"img$id: noise payload survived jpeg bit-exact?")
        case _ =>
          assert(sse == 0L, s"img$id lossless sse=$sse")
      }
    }
    assert(jpegSeen > 0, "fixture exercised no jpeg rows")
  }

  test("multimodal: resize produces decodable 8x8 pngs") {
    val imgs = ImageGen.images(spark, cfg.copy(n = 20L, withBytes = true))
    val resized = Multimodal.resizeImages(imgs, 8, 8).collect()
    assert(resized.length == 20)
    resized.foreach { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      assert(img.getWidth == 8 && img.getHeight == 8)
    }
  }

  test("multimodal: exact-integer resize matches hand-computed cell means") {
    // 4×4 → 2×2: each output cell averages a 2×2 source block exactly.
    val px = new Array[Int](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4) {
      val i = (y * 4 + x) * 3
      px(i) = y * 40 + x * 10       // r: varies by position
      px(i + 1) = 200 - y * 3       // g: varies by row
      px(i + 2) = 7                 // b: constant
    }
    val out = Multimodal.resizePixelsScalar(px, 4, 4, 2, 2)
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val rs = for (y <- cy * 2 until cy * 2 + 2; x <- cx * 2 until cx * 2 + 2)
        yield (y * 40 + x * 10).toLong
      val gs = for (y <- cy * 2 until cy * 2 + 2; _ <- 0 until 2)
        yield (200 - y * 3).toLong
      val c = (cy * 2 + cx) * 3
      assert(out(c) == (rs.sum / 4).toInt, s"cell ($cy,$cx) r")
      assert(out(c + 1) == (gs.sum / 4).toInt, s"cell ($cy,$cx) g")
      assert(out(c + 2) == 7, s"cell ($cy,$cx) b")
    }
    // Distributed path decodes real payloads; corrupt bytes are safe.
    val imgs = ImageGen.images(spark, cfg.copy(n = 20L, withBytes = true))
    val rp = Multimodal.resizePixels(imgs, 8, 8).collect()
    assert(rp.length == 20 && rp.forall(r =>
      !r.decode_ok || r.pixels.length == 8 * 8 * 3))
    assert(rp.count(_.decode_ok) > 0)
    val bad = Seq(("bad", Array[Byte](9, 9))).toDF("image_id", "bytes")
    val badRow = Multimodal.resizePixels(bad, 8, 8).collect().head
    assert(!badRow.decode_ok && badRow.pixels.isEmpty)
  }

  test("pixel phash: stable under lossy re-encode, far for unrelated images") {
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos); baos.toByteArray
    }
    def gradient(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = ((x * 4 + seed * 37) % 256 + (y * 4) % 256) / 2
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val png = encode(gradient(0), "png")
    val jpg = encode(gradient(0), "jpg") // lossy re-encode of the SAME pixels
    val other = encode(gradient(3), "png")
    val df = Seq(("a", png), ("b", jpg), ("c", other), ("bad", Array[Byte](9)))
      .toDF("image_id", "bytes")
    val got = Multimodal.computePhash(df).collect()
      .map(r => r.image_id -> r).toMap
    assert(got("a").decode_ok && got("b").decode_ok && got("c").decode_ok)
    assert(!got("bad").decode_ok && got("bad").phash == 0L)
    val dSame = java.lang.Long.bitCount(got("a").phash ^ got("b").phash)
    val dDiff = java.lang.Long.bitCount(got("a").phash ^ got("c").phash)
    assert(dSame <= 6, s"lossy re-encode moved the hash $dSame bits")
    assert(dDiff >= 12, s"unrelated images too close: $dDiff bits")
  }

  test("cosineNearDupPairs skips null embedding vectors (join-shape semantics)") {
    // The replaced candidates-join shape dropped null vectors via the
    // null cosine; the fused run-scan must FILTER them, not NPE.
    val emb = Similarity.synthEmbeddings(spark, 200L)
      .unionByName(Seq((9999L, Option.empty[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val pairs = Similarity.cosineNearDupPairs(emb, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 9999L || p._2 == 9999L),
      "null-vector row produced a pair")
    assert(pairs.nonEmpty, "null-tolerance fixture produced zero pairs")
  }

  test("run-scan cosine pairs are bit-identical to the candidates-join shape") {
    // The regime that OOM'd the join shape at 100k rows: clustered
    // vectors push every LSH bucket toward the cap. At 3000 rows the old
    // shape still fits in memory, so rebuild it inline (candidatePairs →
    // payload join → Catalyst cosine) and require EXACT equality — same
    // pair set, same doubles — against Banding.cosinePairs as wired into
    // cosineNearDupPairs. This is the refactor's parity contract: the
    // scan mirrors Similarity.cosine's float→double casts and
    // left-to-right accumulation, so not even the last bit may move.
    val emb = Similarity.synthEmbeddings(spark, 3000L).cache()
    val threshold = 0.97
    val fused = Similarity.cosineNearDupPairs(emb, dim = 32, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // old shape, reconstructed with the SAME tables/planes/cap defaults
    val e = emb.select(col("vec_id").cast("string").as("id"),
      col("vec_id").as("__orig"), col("embedding").as("v"))
    val n = e.count()
    val planesPerTable = math.max(8,
      math.ceil(math.log(math.max(1.0, n.toDouble / 256)) / math.log(2.0)).toInt)
    val slim = (0 until 2).map { t =>
      val planes = Similarity.hyperplanes(32, planesPerTable, seed = 7L + 1000L * t)
      e.select(col("id"), xxhash64(lit(t),
        coalesce(org.apache.spark.sql.graft.Exprs.hyperplaneSig(col("v"), planes),
          lit(0))).as("key"))
    }.reduce(_ unionByName _)
    val cands = graft.ops.Banding.candidatePairs(slim, 1024)
    val a = e.select(col("id").as("id1"), col("__orig").as("__o1"), col("v").as("__v1"))
    val b = e.select(col("id").as("id2"), col("__orig").as("__o2"), col("v").as("__v2"))
    val joined = cands.join(a, Seq("id1")).join(b, Seq("id2"))
      .select(least(col("__o1"), col("__o2")).as("id1"),
        greatest(col("__o1"), col("__o2")).as("id2"),
        Similarity.cosine(col("__v1"), col("__v2")).as("cos"))
      .filter(col("cos") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    emb.unpersist()
    assert(fused == joined,
      s"fused=${fused.size} join=${joined.size}; " +
        s"onlyFused=${(fused -- joined).take(3)} onlyJoin=${(joined -- fused).take(3)}")
    assert(fused.nonEmpty, "parity fixture produced zero near-dup pairs")
  }

  test("banding candidate generation uses exactly one shuffle plus the pair distinct") {
    val keyed = (0 until 100).map(i => (f"d$i%03d", (i % 10).toLong))
      .toDF("id", "key")
    val plan = graft.ops.Banding.candidatePairs(keyed, 16)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"payload self-join regression? plan:\n$plan")
  }

  test("multimodal: upscale zero-fills output cells no source pixel maps to") {
    // 2×2 source into an 8×8 grid: each source pixel lands in exactly
    // one cell (pi/w*outH/h etc. maps pixel (r,c) to cell (4r,4c)), so
    // 60 of 64 cells must be zero-filled — the engine/oracle contract
    // the qf_image_resize grid LEFT JOIN mirrors
    val px = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val out = Multimodal.resizePixelsScalar(px, 2, 2, 8, 8)
    assert(out.length == 8 * 8 * 3)
    val hot = Map(0 -> 0, 4 -> 1, 32 -> 2, 36 -> 3) // cell -> source pixel
    (0 until 64).foreach { cell =>
      val exp = hot.get(cell)
        .map(p => Seq(px(p * 3), px(p * 3 + 1), px(p * 3 + 2)))
        .getOrElse(Seq(0, 0, 0))
      assert(Seq(out(cell * 3), out(cell * 3 + 1), out(cell * 3 + 2)) == exp,
        s"cell $cell")
    }
  }

  test("banding run-scan skips length-mismatched vectors like the join shape") {
    // the candidates-join shape zip_with-null-pads ragged arrays into a
    // null cosine its filter drops; the fused scan must not fabricate a
    // truncated-prefix cosine for such pairs
    val keyed = Seq(
      (1L, "a", Array(1.0f, 0.0f, 0.0f)),
      (1L, "b", Array(1.0f, 0.0f)), // ragged
      (1L, "c", Array(1.0f, 0.0f, 0.0f))
    ).toDF("key", "id", "v")
    val pairs = graft.ops.Banding.cosinePairs(keyed, 16, 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSet == Set(("a", "c")))
  }

  /** A hot run (key 1: a..f) and a small one (key 2: x, y), all with
    * the same vector and phash, in two input layouts: one partition in
    * reverse id order, and hash-partitioned by id over five. */
  private lazy val cappedRuns = {
    val v = Array(1.0f, 0.0f)
    val rows = ("abcdef".map(c => (1L, c.toString)) ++ Seq((2L, "x"), (2L, "y")))
      .map { case (k, id) => (k, id, v, 0L) }
    Seq(rows.reverse.toDF("key", "id", "v", "ph").coalesce(1),
      rows.toDF("key", "id", "v", "ph").repartition(5, col("id")))
  }

  /** Pairs of one kernel entry point over both layouts at `cap`; the
    * accumulator total of each layout rides along. */
  private def overLayouts(cap: Int)(
      pairs: (DataFrame, Int, Option[LongAccumulator]) => DataFrame) =
    cappedRuns.map { keyed =>
      val acc = spark.sparkContext.longAccumulator("cap")
      val got = pairs(keyed, cap, Some(acc)).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      (got, acc.value)
    }

  test("banding cosine scan: overflow rows still score against the retained run") {
    // cap 2: rows c,d overflow the bucket — the PhashDup cap policy
    // (promised by cosineNearDupPairs' doc) pairs them against the
    // retained {a,b}; only overflow×overflow (c,d) may be lost
    val v = Array(1.0f, 0.0f)
    val keyed = Seq((1L, "a", v), (1L, "b", v), (1L, "c", v), (1L, "d", v))
      .toDF("key", "id", "v")
    val acc = spark.sparkContext.longAccumulator("cosCap")
    val pairs = graft.ops.Banding.cosinePairs(keyed, 2, 0.9, Some(acc))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")),
      s"got $pairs")
    assert(acc.value > 0, "overflow must still be observable")

    // the same policy under two input layouts: the run keeps its first
    // 4 ids (a..d), e and f pair only with those, and the phash family
    // (Hamming verify, no accumulator of its own) gives the same pairs
    val retained = for (x <- "abcd"; y <- "abcd" if x < y) yield (x.toString, y.toString)
    val expected = (retained ++ (for (x <- "abcd"; y <- "ef") yield (x.toString, y.toString)))
      .toSet + (("x", "y"))
    val cos = overLayouts(4)((k, cap, t) => graft.ops.Banding.cosinePairs(k, cap, 0.9, t))
    cos.foreach { case (got, n) =>
      assert(got == expected, s"got $got")
      assert(n > 0, "a run past the cap must be counted")
    }
    val ham = overLayouts(4)((k, cap, _) => graft.ops.Banding.hammingPairs(k, cap, 0))
    ham.foreach { case (got, _) => assert(got == expected, s"got $got") }
    // a cap equal to the longest run overflows nothing
    overLayouts(6)((k, cap, t) => graft.ops.Banding.cosinePairs(k, cap, 0.9, t))
      .foreach { case (_, n) => assert(n == 0L) }
  }

  test("banding candidate scan: strict cap keeps the first ids in any layout") {
    // strict policy: the hot run pairs only its first 4 ids (a..d); e
    // and f get no pairs from that key, whatever the input layout
    val retained = for (x <- "abcd"; y <- "abcd" if x < y) yield (x.toString, y.toString)
    val expected = retained.toSet + (("x", "y"))
    val strict = overLayouts(4)((k, cap, t) =>
      graft.ops.Banding.candidatePairs(k.select("id", "key"), cap, t))
    strict.foreach { case (got, n) =>
      assert(got == expected, s"got $got")
      assert(n > 0, "a run past the cap must be counted")
    }
    overLayouts(6)((k, cap, t) =>
      graft.ops.Banding.candidatePairs(k.select("id", "key"), cap, t))
      .foreach { case (got, n) =>
        assert(n == 0L)
        assert(got.size == 15 + 1)
      }
  }

  test("cosineNearDupPairs: a repeated numeric vec_id yields each pair once") {
    // the id-restore map must be distinct: a vec_id listed twice would
    // otherwise join every pair it is in twice
    val v = Array.tabulate(32)(i => (i + 1).toFloat)
    val emb = Seq((1L, v), (1L, v), (2L, v)).toDF("vec_id", "embedding")
    val rows = Similarity.cosineNearDupPairs(emb, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 2L)), s"got ${rows.toSeq}")
  }

  test("multimodal: explodeBytes emits one (id,i,v) row per SIGNED byte") {
    // payload crosses the signed boundary: 0x7f=127, 0x80=-128, 0xff=-1
    val payload = Array[Byte](0, 1, 127, -128, -1, 42)
    val df = Seq(("p", payload), ("empty", Array.emptyByteArray))
      .toDF("id", "bytes")
    val rows = Multimodal.explodeBytes(df, "id", "bytes")
      .orderBy("id", "i")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq == payload.zipWithIndex.map {
      case (v, i) => ("p", i, v.toInt) }.toSeq)
    // null payload yields no rows (exercised via the empty array here;
    // null binary goes through the same emptiness guard)
    assert(!rows.exists(_._1 == "empty"))
  }
}
