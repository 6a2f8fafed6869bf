package graftbench

/** Unit tests of the benchmark's own Scala logic (no Spark session). Run
  * with `python3 perfbench/run.py --self-test`; exits non-zero on the
  * first failure. */
object SelfTest {
  private var run = 0

  private def expect(what: String, ok: Boolean): Unit = {
    run += 1
    if (!ok) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    // union-find component minimum
    val chain = Seq("d" -> "c", "c" -> "b", "b" -> "a")
    expect("chain collapses to its minimum",
      Checks.componentMin(chain) == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
    val two = Seq("x2" -> "x1", "y3" -> "y9", "y9" -> "y1")
    expect("separate components keep separate minima",
      Checks.componentMin(two) == Map("x1" -> "x1", "x2" -> "x1", "y1" -> "y1", "y3" -> "y1", "y9" -> "y1"))
    val merged = Seq("m5" -> "m9", "m1" -> "m7", "m7" -> "m9")
    expect("a late edge merges two components under the smaller root",
      Checks.componentMin(merged).values.toSet == Set("m1"))

    // cluster-label check against union-find
    val labels = Checks.componentMin(two).toSeq
    expect("correct labels pass", Checks.clusterMismatches(two, labels) == 0)
    expect("a wrong label is caught",
      Checks.clusterMismatches(two, labels.map { case (k, v) => k -> (if (k == "y9") "y3" else v) }) == 1)
    expect("a missing node is caught", Checks.clusterMismatches(two, labels.filter(_._1 != "x2")) == 1)
    expect("an extra node is caught", Checks.clusterMismatches(two, labels :+ ("z" -> "z")) == 1)
    expect("an unconverged chain is caught",
      Checks.clusterMismatches(chain, Seq("a" -> "a", "b" -> "a", "c" -> "b", "d" -> "c")) == 2)

    // Hamming recheck
    val h = Map("a" -> 0L, "b" -> 7L, "c" -> 1L)
    expect("true distances pass", Checks.hammingMismatches(Seq(("a", "b", 3), ("a", "c", 1)), h, 3) == 0)
    expect("a misreported distance is caught", Checks.hammingMismatches(Seq(("a", "b", 2)), h, 3) == 1)
    expect("a distance over the bound is caught", Checks.hammingMismatches(Seq(("a", "b", 3)), h, 2) == 1)
    expect("a non-canonical pair is caught", Checks.hammingMismatches(Seq(("b", "a", 3)), h, 3) == 1)
    expect("a repeated pair is caught",
      Checks.hammingMismatches(Seq(("a", "c", 1), ("a", "c", 1)), h, 3) == 1)

    // shingles and Jaccard
    expect("word 3-shingles", Checks.shingles(" The cat sat  down ", 3) == Set("the cat sat", "cat sat down"))
    expect("too few words give no shingles", Checks.shingles("two words", 3).isEmpty)
    val t = Map("p" -> "a b c d e", "q" -> "a b c d f")
    expect("Jaccard of 3 shared / 4 total shingles",
      math.abs(Checks.jaccard(Checks.shingles(t("p"), 3), Checks.shingles(t("q"), 3)) - 0.5) < 1e-12)
    expect("a pair under the threshold is caught", Checks.jaccardMismatches(Seq(("p", "q", 0.5)), t, 3, 0.8) == 1)

    // near-duplicate chains: link distance equals Hamming distance
    val ids = 0L until DedupSuite.ChainLength.toLong
    val hs = ids.map(DedupSuite.chainPhash(42L, _))
    expect("chain links differ by their index distance",
      ids.forall(k => ids.forall(j =>
        java.lang.Long.bitCount(hs(k.toInt) ^ hs(j.toInt)) == math.abs(k - j))))
    expect("chains are independent", java.lang.Long.bitCount(
      DedupSuite.chainPhash(42L, 0L) ^ DedupSuite.chainPhash(42L, DedupSuite.ChainLength.toLong)) > 8)
    expect("chain pairs cover every link within 4 bits",
      DedupSuite.chainPairs(1).length == 4 * DedupSuite.ChainLength - 10)

    println(s"self-test: $run checks passed")
  }
}
