package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.FormattedMode

/** Plan auditor: prints the formatted physical plan for the named queries
  * (all queries if none named) so shuffle/broadcast/pushdown decisions can be
  * reviewed. Above each plan, `build` covers the Spark jobs run while the
  * query was built and explained: the eager graph and ER operators finish
  * their rounds there, and their plan is then only a scan of the result.
  * Below it, `run` covers one run of the query through [[Harness.consume]].
  * Each section prints its wall time, job and stage counts, `gap`, the
  * wall time outside the union of its job spans (driver-side planning and
  * waits), and `compiled`, the generated classes Spark compiled in it
  * (misses of its JVM-wide codegen cache), then per job its span in seconds
  * from the section's start, its stages with task counts and its call site.
  * Usage: graft.Explain [sfDir] [q1,q2,...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Harness.Ledger(spark)
    def section[A](label: String)(body: => A): A = {
      ledger.reset()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      val a = body
      val wallMs = System.currentTimeMillis() - t0
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      val jobs = ledger.jobLog()
      println(f"$label: wall=${wallMs / 1e3}%.2fs jobs=${jobs.size} stages=${jobs.map(_.stages.size).sum} " +
        f"gap=${Harness.driverGapMs(wallMs, jobs) / 1e3}%.2fs compiled=$compiled")
      jobs.foreach { j =>
        val stages = j.stages.map(s => s"s${s.id}(${s.tasks}t)").mkString(",")
        println(f"  job=${j.id} ${(j.startMs - t0) / 1e3}%.2f-${(j.endMs - t0) / 1e3}%.2fs $stages ${j.site}")
      }
      a
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val (df, plan) = section("build") {
            val df = fn(spark, sfDir)
            (df, df.queryExecution.explainString(FormattedMode))
          }
          println(plan)
          section("run")(Harness.consume(df))
        } catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
