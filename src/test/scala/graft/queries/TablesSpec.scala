package graft.queries


import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("schema memo serves the current dataset state, not a stale schema, after in-JVM regeneration") {
    val dir = TestSpark.tempDir("graft_tables").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    // regenerate with a RENAMED column in the same JVM — a stale memo would
    // make spark.read.schema serve NULLs for 's' instead of missing
    Thread.sleep(1100) // local-FS mtime granularity can be 1s
    Seq((2L, "b")).toDF("id", "label").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.read(spark, dir, "t")
    assert(again.columns.toSeq === Seq("id", "label"),
      "regenerated dataset must re-infer, not serve the stale memoized schema")
    assert(TestSpark.rows(again) === Set(Seq(2L, "b")))
  }
}
