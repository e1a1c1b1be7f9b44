package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole forked test JVM: the bench
  * config at a fixed 4 cores, so results never depend on the test box. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}
