package graft

/** Local smoke runner: replicates the driver's flagship check (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] flagship rows=$n")
    df.show(5, truncate = false)
    require(n > 0, "flagship returned zero rows")
    spark.stop()
  }
}
