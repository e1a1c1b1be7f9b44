package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Off-toy scale proof for the catalog's BUCKETED layout
  * ([[graft.engine.Catalog.writeBucketed]]): two facts bucketed the same way
  * equi-join with ZERO exchanges — the co-located-join layout for
  * repeatedly-joined 100 TB fact tables, where every ad-hoc join of plain
  * parquet pays a full shuffle of both sides every time.
  *
  * Method: synthesize two 10 M-row fact tables over the same user key,
  * write each twice (plain parquet via [[graft.engine.Catalog.write]] vs
  * bucketed managed table via `writeBucketed`, same bucket count as the
  * session's shuffle partitions), run the identical join+aggregate on both
  * layouts, and record
  *
  *  - wall time per layout (interleaved two-sample min, matching the other
  *    harnesses' burst defense);
  *  - the EXCHANGE COUNT read from each executed plan — the structural
  *    proof (0 for bucketed vs 2 for plain), not just a faster clock;
  *  - result row count + checksum equality across layouts, so the faster
  *    plan provably computes the same join.
  *
  * At 100 TB the wall-time delta is the whole point: the bucketed layout
  * moves the shuffle cost from EVERY join to ONE write, and a fact table is
  * written once but joined hundreds of times.
  */
object ScaleBuckets {

  private def exchanges(df: DataFrame): Int =
    "(?<!Reused)Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  def main(args: Array[String]): Unit = {
    val nRows = sys.env.getOrElse("SCALE_EVENTS", "10000000").toLong
    val nUsers = sys.env.getOrElse("SCALE_USERS", "500000").toLong
    val cpus = Harness.cpus
    val work = Harness.workDir("graft_scale_buckets")
    val spark = Harness.session(cpus,
      // the comparison is co-location vs shuffle; a broadcast of the
      // aggregated side would measure a different (size-gated) optimization
      // and make the exchange-count assertion nondeterministic
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")

    val cat = new graft.engine.Catalog(spark, s"$work/cat")
    def fact(seed: Int): DataFrame = spark.range(nRows).select(
      col("id").as(s"k$seed"),
      pmod(xxhash64(col("id"), lit(seed)), lit(nUsers)).as("user_id"),
      (pmod(xxhash64(col("id"), lit(seed + 1)), lit(1000)) / lit(100.0)).as(s"v$seed"))

    val nBuckets = cpus
    val tW0 = System.nanoTime()
    cat.write(fact(1), "ev_plain"); cat.write(fact(7), "tx_plain")
    val plainWriteSec = (System.nanoTime() - tW0) / 1e9
    val tW1 = System.nanoTime()
    cat.writeBucketed(fact(1), "ev_bucketed", Seq("user_id"), nBuckets)
    cat.writeBucketed(fact(7), "tx_bucketed", Seq("user_id"), nBuckets)
    val bucketWriteSec = (System.nanoTime() - tW1) / 1e9

    // per-user join+aggregate: every click joined to every tx of its user
    // would explode, so both sides pre-aggregate per user first — except
    // that would HIDE the join shuffle; instead join per-user AGGREGATES of
    // one side to raw rows of the other (realistic enrich shape), keyed so
    // the bucketed layout can co-locate both sides
    // decimal sums: exact and order-independent, so the cross-layout
    // checksum compares equal (double addition order differs per layout)
    def enrich(ev: DataFrame, tx: DataFrame): DataFrame =
      ev.join(tx.groupBy("user_id").agg(sum(col("v7").cast("decimal(18,2)")).as("tx_total"),
          count(lit(1)).as("tx_n")), "user_id")
        .groupBy("user_id")
        .agg(sum(col("v1").cast("decimal(18,2)")).as("ev_total"),
          max("tx_total").as("tx_total"), count(lit(1)).as("ev_n"))

    var plainSec = Double.MaxValue; var bucketSec = Double.MaxValue
    var plainRes: (Long, Long) = (-1L, 0L); var bucketRes: (Long, Long) = (-1L, 0L)
    var plainEx = -1; var bucketEx = -1
    for (_ <- 1 to 2) {
      val p = enrich(cat.read("ev_plain"), cat.read("tx_plain"))
      val t0 = System.nanoTime()
      plainRes = Harness.consume(p)
      plainSec = math.min(plainSec, (System.nanoTime() - t0) / 1e9)
      plainEx = exchanges(p)
      val b = enrich(cat.readTable("ev_bucketed"), cat.readTable("tx_bucketed"))
      val t1 = System.nanoTime()
      bucketRes = Harness.consume(b)
      bucketSec = math.min(bucketSec, (System.nanoTime() - t1) / 1e9)
      bucketEx = exchanges(b)
    }
    require(plainRes == bucketRes,
      s"layouts disagree: plain $plainRes vs bucketed $bucketRes")
    require(bucketEx == 0,
      s"bucketed join should be exchange-free, plan has $bucketEx exchanges")
    require(plainEx > 0, "plain join unexpectedly planned no exchange")

    println(s"""{"metric":"scale_buckets","rows":$nRows,"users":$nUsers,""" +
      s""""buckets":$nBuckets,"result_rows":${plainRes._1},""" +
      s""""plain_join_sec":$plainSec,"plain_exchanges":$plainEx,""" +
      s""""bucket_join_sec":$bucketSec,"bucket_exchanges":$bucketEx,""" +
      s""""plain_write_sec":$plainWriteSec,"bucket_write_sec":$bucketWriteSec}""")
    spark.stop()
  }
}
