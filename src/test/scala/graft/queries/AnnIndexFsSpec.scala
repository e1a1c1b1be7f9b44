package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.NonAtomicTestFs

/** The ANN index cache keys each artifact by a fingerprint of the
  * `embeddings` table it derives from. On a store that only the Hadoop
  * FileSystem API can stat (any non-local scheme), a regenerated table must
  * still change the key, or a query is served an index built over the old
  * vectors. */
class AnnIndexFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeEmbeddings(path: String, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    (0 until 40).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian() * 0.1).toFloat).toSeq, i % 5)
    }.toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(path)
  }

  private def run(q: String, dir: String): Set[Seq[Any]] =
    TestSpark.rows(LlmQueries.queries(q)(spark, dir))

  test("a regenerated embeddings table on a custom-scheme store misses the ANN index cache") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftobj.impl", classOf[NonAtomicTestFs].getName)
    val queries = Seq("q_ann_ivf_kmeans", "q_ann_pq")
    // the expected answers over the second table, from a plain local dir
    // whose key no earlier run shares
    val fresh = TestSpark.tempDir("graft_ann_fresh").toString
    writeEmbeddings(s"$fresh/embeddings.parquet", seed = 2L)
    val expected = queries.map(q => q -> run(q, fresh)).toMap

    val obj = s"graftobj:${TestSpark.tempDir("graft_ann_obj")}"
    writeEmbeddings(s"$obj/embeddings.parquet", seed = 1L)
    val first = queries.map(q => q -> run(q, obj)).toMap
    queries.foreach(q => assert(first(q) !== expected(q), s"$q: the two tables must answer differently"))

    Thread.sleep(1100) // local-FS mtime granularity can be 1s
    writeEmbeddings(s"$obj/embeddings.parquet", seed = 2L)
    queries.foreach { q =>
      assert(run(q, obj) === expected(q), s"$q served an index built over the replaced table")
    }
  }

  test("a store that cannot be statted has no fingerprint") {
    assert(Tables.fingerprint(spark, "graftnoscheme:/nowhere/embeddings.parquet").isEmpty)
    val dir = TestSpark.tempDir("graft_ann_fp").toString
    writeEmbeddings(s"$dir/embeddings.parquet", seed = 3L)
    assert(Tables.fingerprint(spark, s"$dir/embeddings.parquet").nonEmpty)
  }
}
