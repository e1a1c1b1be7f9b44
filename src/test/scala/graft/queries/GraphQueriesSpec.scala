package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Harness, TestSpark}

/** The SQL-text graph queries register their input views in a child
  * session, so building and consuming one leaves the caller's temporary
  * views as they were. */
class GraphQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir = {
    val d = TestSpark.tempDir("graft_graph_queries").toString
    Seq((1L, 1L, "1-URGENT"), (2L, 2L, "1-URGENT"), (3L, 1L, "2-HIGH"), (4L, 3L, "2-HIGH"),
        (5L, 2L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority").write.parquet(s"$d/orders.parquet")
    Seq((1L, "alice", "BUILDING"), (2L, "bob", "MACHINERY"), (3L, "carol", "BUILDING"))
      .toDF("c_custkey", "c_name", "c_mktsegment").write.parquet(s"$d/customer.parquet")
    d
  }

  for ((q, rows) <- Seq("q_graph_nodes" -> 2L, "q_graph_links" -> 4L, "q_graph_validate" -> 0L))
    test(s"$q leaves the caller's temporary views unchanged") {
      val s = spark.newSession()
      // a caller's own view named like one of the query's inputs
      s.range(3).createOrReplaceTempView("orders")
      def views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
      assert(views === Set("orders"))
      assert(Harness.consume(GraphQueries.queries(q)(s, dir))._1 === rows)
      assert(views === Set("orders"))
      assert(s.table("orders").columns.toSeq === Seq("id"))
    }
}
