package graft

/** Plan auditor: prints the formatted physical plan for the named queries
  * (all queries if none named) so shuffle/broadcast/pushdown decisions can be
  * reviewed. Usage: graft.Explain [sfDir] [q1,q2,...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
