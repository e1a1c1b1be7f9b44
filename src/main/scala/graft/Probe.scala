package graft

import org.apache.spark.sql.functions._

/** Attribution diagnostics, each measured under the bench config.
  * Usage: graft.Probe floor | jobs [q1,q2,...] | stream | ccskew
  *  - `floor`: the fixed per-query cost a fresh-session bench sample pays;
  *  - `jobs`: per-job wall time, stages and call site of bench queries;
  *  - `stream`: per-batch phases of the stream-stream interval-join drain;
  *  - `ccskew`: per-stage task skew of the distributed CC loop. */
object Probe {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("floor") => floorProbe()
    case Some("jobs") =>
      jobsProbe(args.drop(1).headOption.getOrElse("q_graph_triangles").split(",").toSeq)
    case Some("stream") => streamProbe()
    case Some("ccskew") => ccSkewProbe()
    case _ =>
      System.err.println("usage: graft.Probe floor | jobs [q1,q2,...] | stream | ccskew")
      sys.exit(2)
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def reps(default: Int): Int = sys.env.getOrElse("PROBE_REPS", default.toString).toInt

  /** Per-stage skew attribution for the distributed CC loop on the ScaleGraph
    * power-law graph: which stage carries the max/median task-time straggler.
    * SCALE_EDGES / SCALE_NODES size the graph (defaults match ScaleGraph). */
  private def ccSkewProbe(): Unit = {
    val edgesN = sys.env.getOrElse("SCALE_EDGES", "10000000").toLong
    val nodesN = sys.env.getOrElse("SCALE_NODES", "2000000").toLong
    val spark = Harness.session()
    val edges = ScaleCorpus.powerLawEdges(spark, edgesN, nodesN, Harness.workDir("graft_ccskew").toString)

    val ledger = new Harness.Ledger(spark)
    val t = System.nanoTime()
    val out = graft.er.ConnectedComponents.distributedPath(edges)
      .localCheckpoint(true)
    out.count()
    val sec = (System.nanoTime() - t) / 1e9
    val stageNames = ledger.jobLog().flatMap(_.stages).map(s => s.id -> s.name.take(60)).toMap
    val byStage = ledger.taskLog().groupBy(_.stage).toSeq.sortBy(_._1)
    println(f"total=$sec%.1fs  stages=${byStage.size}")
    byStage.foreach { case (sid, ts0) =>
      val all = ts0.sortBy(_.ms)
      val ts = all.filter(_.ms >= 200)
      if (ts.length >= 8) {
        val med = ts(ts.length / 2).ms
        val mx = ts.last.ms
        val ratio = mx.toDouble / med
        val flag = if (ratio >= 2.0) "  <== SKEW" else ""
        println(f"stage=$sid%5d tasks=${all.length}%4d med=${med}ms max=${mx}ms ratio=$ratio%.2f  ${stageNames.getOrElse(sid, "?")}$flag")
        if (ratio >= 2.0) {
          println(s"    med task: ${ts(ts.length / 2)}")
          all.takeRight(4).foreach(x => println(s"    slow task: $x"))
        }
      }
    }
    spark.stop()
  }

  /** Per-job wall-time attribution of bench queries, measured as a Bench
    * sample runs them: per rep a fresh session, an untimed warm-up, then a
    * timed pass whose ledger records each job's span, stages and call site —
    * so "N jobs × floor" claims are measured, not inferred. `gap` is wall
    * time outside the summed job spans (driver-side planning and waits). */
  private def jobsProbe(names: Seq[String]): Unit =
    for (name <- names; rep <- 1 to reps(3)) {
      val fn = SparkEntry.queries(name)
      val spark = Harness.session()
      Harness.consume(fn(spark, sfDir))
      val ledger = new Harness.Ledger(spark)
      val t0 = System.currentTimeMillis()
      val tn = System.nanoTime()
      Harness.consume(fn(spark, sfDir))
      val total = (System.nanoTime() - tn) / 1e9
      val jobs = ledger.jobLog()
      val jobSum = jobs.map(j => j.endMs - j.startMs).sum / 1e3
      println(f"[jobs] rep=$rep $name total=$total%.2fs jobs=${jobs.size} " +
        f"stages=${jobs.map(_.stages.size).sum} jobSum=$jobSum%.2fs gap=${total - jobSum}%.2fs")
      jobs.foreach { j =>
        val stages = j.stages.map(s => s"s${s.id}(${s.tasks}t)").mkString(",")
        println(f"[jobs]   job=${j.id} start=${(j.startMs - t0) / 1e3}%.2f " +
          f"end=${(j.endMs - t0) / 1e3}%.2f (${(j.endMs - j.startMs) / 1e3}%.3fs) $stages ${j.site}")
      }
      Harness.stop(spark)
    }

  /** Per-batch breakdown of the bench's stream-stream interval-join drain:
    * how many AvailableNow micro-batches the fixture takes and where each
    * batch's time goes (planning, state commit, addBatch). */
  private def streamProbe(): Unit = {
    val spark = Harness.session()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")}ms addBatch=${d.get("addBatch")}ms " +
          s"planning=${d.get("queryPlanning")}ms walCommit=${d.get("walCommit")}ms " +
          s"commitOffsets=${d.get("commitOffsets")}ms getBatch=${d.get("getBatch")}ms " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).sum} " +
          s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).sum}")
      }
    })
    for (i <- 1 to reps(2)) {
      val t0 = System.nanoTime()
      val out = graft.streaming.Streams.streamIntervalJoin(spark, s"$sfDir/events.parquet", 60)
      val n = out.count()
      println(f"[stream] rep=$i total=${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
    }
    spark.stop()
  }

  /** Fresh-session trivial-query cost breakdown, run K times (mirrors one
    * Bench sample: build a session, read a table, hash-reduce it). */
  private def floorProbe(): Unit = {
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    for (i <- 1 to reps(5)) {
      val tBuild = System.nanoTime()
      val spark = Harness.session()
      val buildMs = ms(tBuild)
      val tRead = System.nanoTime()
      val df = spark.read.parquet(s"$sfDir/region.parquet") // 5 rows: pure overhead
      val readMs = ms(tRead)
      def consume(): Double = {
        val t = System.nanoTime()
        Harness.consume(df)
        ms(t)
      }
      val firstMs = consume()  // plan + codegen + schedule + scan, cold session
      val warmMs = consume()   // same minus first-touch costs
      // a shuffling microquery: the smallest groupBy, to price one exchange
      val tShuffle = System.nanoTime()
      df.groupBy("r_regionkey").agg(count(lit(1))).collect()
      val shuffleMs = ms(tShuffle)
      println(f"""{"metric":"floor","rep":$i,"build_ms":$buildMs%.0f,"read_ms":$readMs%.0f,""" +
        f""""first_action_ms":$firstMs%.0f,"warm_action_ms":$warmMs%.0f,"shuffle_action_ms":$shuffleMs%.0f}""")
      Harness.stop(spark)
    }
  }
}
