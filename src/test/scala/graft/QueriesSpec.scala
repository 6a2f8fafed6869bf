package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs on sf0.001 and returns rows; every
  * oracleSql key exists in queries; entry() is non-empty. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keySet.foreach(k => assert(qs.contains(k), s"orphan oracle $k"))
  }

  test("every oracle read_parquet path lies under the fixture root, and moves with it") {
    val Fixture = PipelineQueries.Fixture
    val readParquet = """read_parquet\('((?:[^']|'')*)'\)""".r
    def paths(): Map[String, Set[String]] = SparkEntry.oracleSql.map { case (k, sql) =>
      k -> readParquet.findAllMatchIn(sql).map(_.group(1).replace("''", "'")).toSet
    }.filter(_._2.nonEmpty)
    def assertUnderRoot(ps: Map[String, Set[String]]): Unit =
      for ((k, set) <- ps; p <- set) assert(p.startsWith(Fixture.root + "/"), s"$k reads $p")
    assertUnderRoot(paths())
    val before = Fixture.root
    // a quote in the root checks the SQL escaping as well
    val roots = Seq("target/fixture-root-a", "target/fixture-root-b'q")
    val perRoot = try roots.map { r =>
      Fixture.root = r
      val ps = paths()
      assertUnderRoot(ps)
      ps
    } finally Fixture.root = before
    // every pipeline oracle but the plain-SQL qf_ann_brute reads fixtures
    perRoot.foreach(ps => assert(ps.keySet == PipelineQueries.oracleSql.keySet - "qf_ann_brute"))
    assert((perRoot(0).values.flatten.toSet & perRoot(1).values.flatten.toSet).isEmpty)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs and returns rows") {
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
