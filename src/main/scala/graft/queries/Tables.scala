package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-memoized testdata reads for the query surface.
  *
  * A schemaless `spark.read.parquet` runs a one-task footer-inference job
  * before the query proper — pure per-query floor (0.1-0.3s each on this
  * machine), paid again for every table because the bench isolates each
  * query in a fresh SparkSession (see [[graft.Bench]]'s session discipline).
  * The testdata is immutable for the process lifetime, so the inferred
  * schema is memoized per PATH process-wide (the same advisory-memo rule as
  * [[graft.engine.Catalog]]'s schema map): the first read infers, every
  * later read — any query, any session — skips straight to the scan.
  */
object Tables {

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The current state of the dataset at `path`, a single file or a
    * directory of part files: its max mtime (directory included), data-file
    * count and total bytes. Both process-wide memos key on it, this schema
    * memo and LlmQueries' ANN index cache, so a dataset regenerated in-JVM
    * misses instead of being served state derived from the old data (for
    * the schema memo, NULLs for renamed columns rather than an error).
    *
    * The stat goes through the Hadoop FileSystem API, not java.io.File:
    * for hdfs://, s3a://, or any custom-scheme path a local File stat
    * silently returns null/0 and the key would collapse to a constant. If
    * the store can't be statted at all, return None, and the caller skips
    * memoization entirely — correctness over the saved work. */
  private[queries] def fingerprint(s: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val root = fs.getFileStatus(p)
      val data =
        if (root.isFile) Array(root)
        else fs.listStatus(p).filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
      val mod = data.map(_.getModificationTime).foldLeft(root.getModificationTime)(math.max)
      Some(s"$path@$mod#${data.length}:${data.map(_.getLen).sum}")
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read `dir/name.parquet` with the memoized schema (inferring and
    * memoizing on first touch). */
  def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fingerprint(s, path) match {
      case Some(k) =>
        val sch = schemas.computeIfAbsent(k, _ => s.read.parquet(path).schema)
        s.read.schema(sch).parquet(path)
      case None => s.read.parquet(path) // unstattable store: always infer
    }
  }

  /** [[read]] + temp-view registration, for the SQL-text queries. */
  def view(s: SparkSession, dir: String, name: String): Unit = {
    read(s, dir, name).createOrReplaceTempView(name)
    ()
  }

  /** [[read]] + conditional cross-core spread for CPU-heavy per-byte
    * consumers (Expand-based cube/rollup, per-row digest aggregates): the
    * sf-scale tables are single-row-group parquet, so the scan — and every
    * narrow stage above it (Expand, partial aggregation, per-row hashing) —
    * otherwise runs in ONE task (measured: q_agg_cube 1.14 s warm, almost
    * all of it the single-threaded 4× Expand + decimal partial aggregate).
    * Width is clamped to the data (r20): see [[graft.ops.Spread.bySize]]. */
  def readSpread(s: SparkSession, dir: String, name: String, keyCol: String): DataFrame =
    graft.ops.Spread.bySize(read(s, dir, name), keyCol)
}
