package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** API-parity veneer over the reference's manual MapReduce machinery.
  *
  * The reference decorates an operator into partition -> N parallel map copies ->
  * merge (reference: batch_framework/parallize.py:17-270): `AddPartitionKey` adds
  * `row_id = row_number() OVER ()` and `partition = row_id % N` (parallize.py:104-142),
  * `EfficientDivide` splits into N files, N generated map copies run on threads, and
  * `*Merge` concatenates back. On Spark this is an execution *no-op* — partitioning,
  * scheduling and merging are native — so the veneer keeps the API while compiling to
  * `repartition` + the transform + nothing (the "merge" is the DataFrame itself).
  */
object Partitioned {

  /** Reference `AddPartitionKey` (parallize.py:127-142): deterministic partition key
    * from a global row numbering. Kept for exact parity where a stable `row_id` is
    * part of the contract; requires an explicit ordering column so results are
    * deterministic (the reference's empty OVER () is not). When only a partition
    * key (not the global numbering) is needed, prefer [[partitionKeyByHash]].
    *
    * Scale shape: NOT a `row_number() OVER (ORDER BY ...)` — an empty-partition
    * window collapses the whole table into one task. Instead a two-pass global
    * numbering: a parallel range-partitioned sort, then `zipWithIndex` (one small
    * count job over partition sizes + a map that adds each partition's cumulative
    * offset). Every stage stays parallel; `row_id` is 1-based and Long so the
    * numbering survives > 2³¹ rows.
    */
  def addPartitionKey(df: DataFrame, orderCol: Column, n: Int): DataFrame = {
    val sorted = df.sort(orderCol)
    val schema = StructType(sorted.schema.fields :+
      StructField("row_id", LongType, nullable = false))
    val numbered = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    sorted.sparkSession.createDataFrame(numbered, schema)
      .withColumn("partition", pmod(col("row_id"), lit(n.toLong)))
  }

  /** Scale-correct partition key: hash-mod, no global sort, fully parallel.
    * `hashFn` defaults to xxhash64; pass [[graft.ops.PortableHash]] output when
    * the partition values must be reproducible outside Spark. */
  def partitionKeyByHash(df: DataFrame, keyCol: Column, n: Int,
                         hashFn: Column => Column = xxhash64(_)): DataFrame =
    df.withColumn("partition", pmod(hashFn(keyCol), lit(n)))

  /** Reference `MapReduce(map, parallel_count, tmp_fs)` (parallize.py:17-101):
    * partition -> map each partition -> merge. In Spark: one repartition, the
    * transform runs on all partitions concurrently, the union is implicit.
    */
  def mapReduce(df: DataFrame, n: Int)(transform: DataFrame => DataFrame): DataFrame =
    transform(df.repartition(n))

  /** Reference `EfficientDivide` (parallize.py:145-179) — split by partition value.
    * Only needed when the N parts must be *separately addressable* (e.g. written to
    * N dirs); otherwise use [[mapReduce]].
    */
  def divide(df: DataFrame, n: Int, partitionCol: String = "partition"): Seq[DataFrame] =
    (0 until n).map(i => df.filter(col(partitionCol) === i).drop(partitionCol))

  /** Reference `EfficientMerge`/`PyArrowMerge`/... (parallize.py:201-270): UNION ALL. */
  def merge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))
}
