package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan auditor: prints the formatted physical plan for the named queries
  * (all queries if none named) so shuffle/broadcast/pushdown decisions can be
  * reviewed. Above each plan, `jobs=N stages=M` counts the Spark jobs run
  * while the query was built and explained: the eager graph and ER operators
  * finish their rounds there, and their plan is then only a scan of the
  * result. Usage: graft.Explain [sfDir] [q1,q2,...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Harness.Ledger(spark)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        ledger.reset()
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
        val jobs = ledger.jobLog()
        println(s"jobs=${jobs.size} stages=${jobs.map(_.stages.size).sum}")
        println(plan)
      }
    spark.stop()
  }
}
