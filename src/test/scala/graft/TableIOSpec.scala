package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Scratch, TableIO}

/** S4/S5 seam: replace vs append semantics of the audit-table IO
  * (the reference's to_sql if_exists='replace' / append split,
  * DQTestToolHelper.py:40,85). */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("append accumulates batches; createOrReplace resets the table") {
    val dir = new java.io.File("target/graft-tableio-spec")
    Scratch.deleteRecursively(dir)
    val path = dir.getAbsolutePath
    TableIO.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    TableIO.append(Seq((3L, "c")).toDF("id", "v"), path)
    TableIO.append(Seq((4L, "d")).toDF("id", "v"), path)
    val afterAppend = TableIO.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterAppend == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(TableIO.exists(spark, path))
    // replace must drop every appended batch, not merge with them
    TableIO.createOrReplace(Seq((9L, "z")).toDF("id", "v"), path)
    val afterReplace = TableIO.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterReplace == Set((9L, "z")))
    Scratch.deleteRecursively(dir)
  }
}
