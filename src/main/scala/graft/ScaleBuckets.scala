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
  *  - wall time per layout (min-of-K per layout, the other harnesses'
  *    burst defense);
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

    val rec = new Harness.Recorder(spark)
    val nBuckets = cpus
    val plainWrite = rec.phase("plain_write", k = 1) {
      cat.write(fact(1), "ev_plain"); cat.write(fact(7), "tx_plain")
    }
    val bucketWrite = rec.phase("bucket_write", k = 1) {
      cat.writeBucketed(fact(1), "ev_bucketed", Seq("user_id"), nBuckets)
      cat.writeBucketed(fact(7), "tx_bucketed", Seq("user_id"), nBuckets)
    }

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
    // min-of-K join per layout: (rows, checksum) and the plan's exchanges
    def join(tag: String, df: DataFrame) = (rec.phase(tag)(Harness.consume(df)), exchanges(df))
    val (plain, plainEx) = join("plain_join", enrich(cat.read("ev_plain"), cat.read("tx_plain")))
    val (bucket, bucketEx) =
      join("bucket_join", enrich(cat.readTable("ev_bucketed"), cat.readTable("tx_bucketed")))
    require(plain.value == bucket.value,
      s"layouts disagree: plain ${plain.value} vs bucketed ${bucket.value}")
    require(bucketEx == 0,
      s"bucketed join should be exchange-free, plan has $bucketEx exchanges")
    require(plainEx > 0, "plain join unexpectedly planned no exchange")

    Harness.emit("scale_buckets", "rows" -> nRows, "users" -> nUsers,
      "buckets" -> nBuckets, "result_rows" -> plain.value._1,
      "plain_join_sec" -> plain.sec, "plain_exchanges" -> plainEx,
      "bucket_join_sec" -> bucket.sec, "bucket_exchanges" -> bucketEx,
      "plain_write_sec" -> plainWrite.sec, "bucket_write_sec" -> bucketWrite.sec,
      "loads" -> rec.loads)
    spark.stop()
  }
}
