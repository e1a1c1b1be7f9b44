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

  /** A fresh directory under the system temp dir, deleted when the test JVM
    * exits: the one way a spec makes a temp directory, so a run leaves none
    * behind. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    TempCleanup.deleteOnExit(dir)
    dir
  }
}
