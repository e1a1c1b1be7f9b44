package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

/** Off-toy scale proof for [[graft.ops.ZOrder]]: the scaladoc promises that a
  * z-ordered layout gives every file/row-group a tight min/max envelope on
  * EVERY clustered column, so selective multi-column filters skip most of the
  * data — this harness measures that skipping instead of asserting it.
  *
  * Method: synthesize `SCALE_EVENTS` events (hash-scattered user ids and
  * timestamps, [[ScaleCorpus.events]]), write them twice at the same
  * file/row-group granularity —
  *
  *  - `plain`: range-partitioned + sorted by `ts_us` (the natural ingest
  *    order of an event stream: perfect time locality, none on user);
  *  - `zorder`: [[graft.ops.ZOrder.clusteredWrite]] on (user_id, ts_us);
  *
  * — then audit the parquet FOOTERS directly (same stats the reader's
  * row-group pruning consults, parquet-hadoop public API): a row group is
  * prunable for a predicate iff its min/max envelope misses the predicate
  * range on at least one conjunct. Reported per layout:
  *
  *  - `rg_skip_frac` / `row_skip_frac` — fraction of row groups / rows a
  *    min/max-pruning scan skips for the two-column probe
  *    (0.1 % selectivity: 1 % of users × 10 % of the time range);
  *  - `row_skip_frac_user` — same for the user-ONLY probe, the dimension a
  *    time-sorted layout cannot prune at all (its z-order number is the
  *    clustering win in its purest form);
  *  - `scan_sec` — wall time of the actual filtered Spark scan (pushed
  *    filters → parquet row-group pruning), result rows required identical
  *    across layouts.
  *
  * Row groups are capped small (`parquet.block.size` 1 MiB) so the 10 M-row
  * corpus yields hundreds of pruning units — the same files-per-terabyte
  * granularity a real lakehouse table has, shrunk to harness scale.
  */
object ScaleZOrder {

  /** Footer audit: (rowGroups, rowGroupsSkipped2d, rowsTotal, rowsSkipped2d,
    * rowsSkippedUserOnly, files, filesSkipped2d) for a conjunctive range
    * probe on two long columns. */
  private def auditFooters(dir: String, userLo: Long, userHi: Long,
                           tsLo: Long, tsHi: Long): (Long, Long, Long, Long, Long, Long, Long) = {
    val conf = new Configuration()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)
      .sortBy(_.getName)
    var rgs = 0L; var rgsSkip = 0L; var rows = 0L; var rowsSkip = 0L
    var rowsSkipUser = 0L; var nFiles = 0L; var filesSkip = 0L
    files.foreach { f =>
      val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf)
      val reader = ParquetFileReader.open(in)
      try {
        nFiles += 1
        var fileAllSkip = true
        reader.getFooter.getBlocks.forEach { block =>
          def range(colName: String): (Long, Long) = {
            val cc = block.getColumns.stream()
              .filter(c => c.getPath.toDotString == colName).findFirst().get()
            val st = cc.getStatistics
            (st.genericGetMin.asInstanceOf[Number].longValue(),
              st.genericGetMax.asInstanceOf[Number].longValue())
          }
          val (uMin, uMax) = range("user_id")
          val (tMin, tMax) = range("ts_us")
          val userMiss = uMax < userLo || uMin > userHi
          val tsMiss = tMax < tsLo || tMin > tsHi
          rgs += 1
          rows += block.getRowCount
          if (userMiss || tsMiss) { rgsSkip += 1; rowsSkip += block.getRowCount }
          else fileAllSkip = false
          if (userMiss) rowsSkipUser += block.getRowCount
        }
        if (fileAllSkip) filesSkip += 1
      } finally reader.close()
    }
    (rgs, rgsSkip, rows, rowsSkip, rowsSkipUser, nFiles, filesSkip)
  }

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SCALE_EVENTS", "10000000").toLong
    val nUsers = sys.env.getOrElse("SCALE_USERS", "50000").toLong
    val nFiles = sys.env.getOrElse("SCALE_ZORDER_FILES", "64").toInt
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark)
    val work = Harness.workDir("graft_scale_zorder")
    val tsRange = ScaleCorpus.TsRangeUs
    ScaleCorpus.events(spark, nEvents, nUsers).select("event_id", "user_id", "ts_us", "value")
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val events = spark.read.parquet(s"$work/events.parquet")
    val total = events.count()

    // small row groups => many pruning units at harness scale (see scaladoc)
    val rgBytes = (1 << 20).toString

    val plainWrite = rec.phase("plain_write", k = 1) {
      events.repartitionByRange(nFiles, col("ts_us"))
        .sortWithinPartitions("ts_us")
        .write.mode("overwrite").option("parquet.block.size", rgBytes)
        .parquet(s"$work/plain")
    }

    val zWrite = rec.phase("zorder_write", k = 1) {
      // session-conf entries are copied into the write job's Hadoop conf, so
      // this caps clusteredWrite's internal writer the same way .option does
      graft.ops.StaticScope.withConf(spark, "parquet.block.size" -> rgBytes) {
        graft.ops.ZOrder.clusteredWrite(events, Seq("user_id", "ts_us"), s"$work/zorder", nFiles)
      }
    }

    // probe: 1% of users x 10% of the time range ~ 0.1% of rows
    val userLo = 1000L; val userHi = userLo + nUsers / 100 - 1
    val tsLo = tsRange / 3; val tsHi = tsLo + tsRange / 10 - 1

    val probe2d = col("user_id").between(userLo, userHi) &&
      col("ts_us").between(tsLo, tsHi)
    val probeUser = col("user_id").between(userLo, userHi)

    // min-of-K per layout and probe: the filtered scan's result rows
    def scan(tag: String, layout: String, pred: org.apache.spark.sql.Column) =
      rec.phase(tag)(spark.read.parquet(s"$work/$layout").filter(pred)
        .agg(count(lit(1)).as("n"), sum("value")).collect()(0).getLong(0))
    val plain = scan("plain_scan", "plain", probe2d)
    val z = scan("zorder_scan", "zorder", probe2d)
    val plainUser = scan("plain_scan_user", "plain", probeUser)
    val zUser = scan("zorder_scan_user", "zorder", probeUser)
    require(plain.value == z.value, s"layouts disagree: plain ${plain.value} vs zorder ${z.value} rows")
    require(plainUser.value == zUser.value,
      s"layouts disagree on user probe: ${plainUser.value} vs ${zUser.value} rows")

    def frac(num: Long, den: Long): Double =
      if (den == 0) 0.0 else num.toDouble / den.toDouble
    // per layout: the footer audit's skip fractions plus its timed phases
    def layout(dir: String, scanSec: Double, userSec: Double, writeSec: Double) = {
      val (rgs, rgsSkip, rows, rowsSkip, rowsSkipUser, files, filesSkip) =
        auditFooters(s"$work/$dir", userLo, userHi, tsLo, tsHi)
      require(rows == total, s"$dir footer row count $rows diverges from $total")
      Harness.obj("rgs" -> rgs, "rg_skip_frac" -> frac(rgsSkip, rgs),
        "row_skip_frac" -> frac(rowsSkip, rows), "row_skip_frac_user" -> frac(rowsSkipUser, rows),
        "files_skipped" -> filesSkip, "n_files" -> files,
        "scan_sec" -> scanSec, "scan_user_sec" -> userSec, "write_sec" -> writeSec)
    }

    Harness.emit("scale_zorder", "events" -> total, "files" -> nFiles,
      "probe_rows" -> plain.value, "probe_rows_user" -> plainUser.value,
      "plain" -> layout("plain", plain.sec, plainUser.sec, plainWrite.sec),
      "zorder" -> layout("zorder", z.sec, zUser.sec, zWrite.sec),
      "loads" -> rec.loads)
    spark.stop()
  }
}
