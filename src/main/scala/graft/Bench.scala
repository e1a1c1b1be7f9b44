package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: per-query wall times as one JSON line on stdout, and the
  * full record in `BENCH_FULL_c{cpus}.json`.
  *
  * Measurement discipline (each item a past postmortem):
  *  - results are reduced by [[Harness.consume]] (xxhash64 over ALL columns
  *    + bit_xor), so every projected expression is actually computed;
  *  - one un-timed warm-up pass absorbs first-touch codegen, classloading
  *    and parquet footer caching;
  *  - each sample runs on a FRESH SparkContext and session (rounds 2-5:
  *    in-session decay inflated heavy queries 10-25×);
  *  - [[Passes]] timed passes are INTERLEAVED suite-wide, so a load burst
  *    hits at most one sample per query, and each query keeps its fastest
  *    successful sample; no query is sampled again, and tools/oracle_bench.py
  *    times the DuckDB side the same way;
  *  - every timed sample is LOAD-GATED ([[Harness.sample]]) and records the
  *    load it started under, so an inflated sample identifies itself;
  *  - the DuckDB oracle total for the same queries is merged into the same
  *    record with the spark/oracle ratio, its per-query geomean and Spark's
  *    win count, so the 2× gate is auditable;
  *  - failures are recorded per query (-1 + stderr), never swallowed into a
  *    plausible wall time.
  */
object Bench {

  /** Full-record guard decision (pure, spec-pinned): a core count's full
    * record accepts a run only when it was taken over the same SF dir as the
    * record it would replace. Round-15 postmortem: a full-suite sf0.001
    * verification run clobbered the sf0.1 record. The query count is no
    * part of the identity: an unfiltered run covers the whole current suite,
    * so it replaces a record of an older, larger or smaller suite, and a
    * `filtered` run never reaches a full record ([[recordPath]]). An absent
    * or unparsable prior record accepts anything (first write wins). A
    * deliberate SF move (or recovering from a wrong-SF first write, which
    * would otherwise hold the record forever) is BENCH_ALLOW_SF_CHANGE=1. */
  private[graft] def fullRecordAccepts(prior: String, sfDir: String,
                                       allowSfChange: Boolean = sys.env.get("BENCH_ALLOW_SF_CHANGE").contains("1")): Boolean = {
    val priorSf = """"sf":"([^"]+)"""".r
      .findFirstMatchIn(prior).map(_.group(1)).getOrElse(sfDir)
    sfDir == priorSf || allowSfChange
  }

  /** Where a run's full record goes (pure, spec-pinned): its own core
    * count's `BENCH_FULL_c{cpus}.json` when the run is unfiltered and
    * [[fullRecordAccepts]] takes it over that file's content (`prior` reads
    * a path, "" when absent), else `BENCH_PARTIAL.json`. One record per core
    * count: round 20's 8-core run replaced the 32-core record. A run
    * `filtered` by SPARK_GRAFT_ONLY never becomes a full record, not even a
    * core count's first: it would hold that record against the full suite
    * (round 10: a 1-query investigation run clobbered the 93-query record). */
  private[graft] def recordPath(cpus: Int, sfDir: String, prior: String => String,
                                filtered: Boolean = false): String = {
    val full = s"BENCH_FULL_c$cpus.json"
    if (!filtered && fullRecordAccepts(prior(full), sfDir)) full else "BENCH_PARTIAL.json"
  }

  /** The conditions a run was taken under, for the full record only:
    * cores, git HEAD, Spark and JVM versions. */
  private def conditions(cpus: Int): Seq[(String, Any)] = {
    val head =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    Seq("cpus" -> cpus, "git" -> head, "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> System.getProperty("java.version"))
  }

  /** Timed passes over the suite, on both engines: each query's minimum is
    * taken over samples from three separate stretches of the run, so one
    * load burst inflates at most one of them. */
  private[graft] val Passes = 3

  /** One timed sample of one query: seconds (-1 when it failed), the load it
    * started under, its (jobs, stages) and the stolen CPU share. */
  private[graft] final case class Timed(sec: Double, load: Double, jobs: (Int, Int), steal: Double) {
    def ok: Boolean = sec >= 0
  }

  /** The timed passes (spec-pinned with a fake `measure`): [[Passes]] passes
    * over `names`, pass-major, so all of pass 1 runs before pass 2. Returns
    * each query's samples in the order taken, in `names` order. A throw out
    * of `measure` (a session rebuild that died) ends the suite, keeping the
    * samples it returned before. */
  private[graft] def timedPasses(names: Seq[String])(measure: (Int, String) => Timed): Seq[(String, Seq[Timed])] = {
    val taken = scala.collection.mutable.ArrayBuffer[(String, Timed)]()
    try for (pass <- 1 to Passes; name <- names) taken += name -> measure(pass, name)
    catch {
      case e: Throwable => System.err.println(s"[bench] suite aborted, emitting partial results: ${e.getMessage}")
    }
    names.map(n => n -> taken.collect { case (`n`, t) => t }.toSeq)
  }

  /** One run's two renderings (pure, spec-pinned): the full record, which
    * [[recordPath]] persists, and the compact stdout line. `runs` holds each
    * query's samples in query order ([[timedPasses]]); a query's entry is
    * its fastest successful sample (sec -1 when every sample failed), with
    * that sample's load, jobs and steal. `oracle` is the DuckDB total and
    * its own JSON line.
    *
    * The driver's artifact keeps only the LAST ~2000 chars of stdout (sbt
    * appends its own lines after ours, so a whole line never parses), so
    * the printed line carries only the compact summary, ending with the
    * totals, ratio and failure count; the bulky per-sample history, the
    * oracle's line and the per-query jobs/ratios objects live in the full
    * record. */
  private[graft] def render(sfDir: String, loadGate: Double, conditions: Seq[(String, Any)],
                            runs: Seq[(String, Seq[Timed])],
                            oracle: Option[(Double, String)]): (String, String) = {
    def r3(d: Double): Double = if (d < 0) d else math.round(d * 1000.0) / 1000.0
    def r2(d: Double): Double = if (d < 0) d else math.round(d * 100.0) / 100.0
    def jobs(t: Timed) = Seq(t.jobs._1, t.jobs._2)
    // each query's successful samples in the order taken, and its fastest
    val ok = runs.map { case (k, ts) => k -> ts.filter(_.ok) }.filter(_._2.nonEmpty)
    val best = ok.map { case (k, ts) => k -> ts.minBy(_.sec) }
    val byName = best.sortBy(_._1)
    val bestOf = best.toMap
    val total = best.map(_._2.sec).sum
    // per-query oracle seconds, parsed back out of the oracle line's own
    // "queries" object (every query name is q_-prefixed, so the regex
    // cannot match the line's other fields)
    val oracleQ: Map[String, Double] = oracle.map { case (_, oJson) =>
      """"(q_[A-Za-z0-9_]+)":(-?[0-9.eE+]+)""".r.findAllMatchIn(oJson)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    val triples = best.collect {
      case (k, t) if oracleQ.get(k).exists(_ > 0) => (k, t.sec, oracleQ(k), t.sec / oracleQ(k))
    }
    // rank only pairs where BOTH engines do non-trivial work: a 0.5s Spark
    // constant over a sub-millisecond DuckDB microquery is a 500x "ratio"
    // that says nothing about scale behavior — `ratios` still carries every
    // query for auditing those constants; `worst_jobs` is the floor
    // attribution of the worst ratios ([n_jobs, n_stages] of the best sample)
    val worst = triples.filter { case (_, s, o, _) => o >= 0.05 && s >= 0.25 }.sortBy(-_._4).take(8)
    // the per-query view of the suite: a suite total is dominated by its few
    // heaviest queries, the geomean and the win count are not
    val perQuery: Seq[(String, Any)] =
      if (triples.isEmpty) Seq("geomean_ratio" -> None, "spark_wins" -> None)
      else Seq("geomean_ratio" -> r3(math.exp(triples.map(t => math.log(t._4)).sum / triples.size)),
        "spark_wins" -> triples.count { case (_, s, o, _) => s < o })
    val head = Seq("metric" -> "total", "value" -> r3(total), "unit" -> "sec", "sf" -> sfDir,
      "load_gate" -> loadGate)
    val summary = Seq(
      "queries" -> Harness.obj(runs.map { case (k, _) =>
        k -> bestOf.get(k).fold(Seq(-1.0, -1.0))(t => Seq(r3(t.sec), r2(t.load))) }: _*),
      "slowest" -> Harness.obj(best.sortBy(-_._2.sec).take(8).map { case (k, t) => k -> r3(t.sec) }: _*),
      "worst_ratio" -> Harness.obj(worst.map { case (k, _, _, r) => k -> r2(r) }: _*),
      "worst_jobs" -> Harness.obj(worst.map { case (k, _, _, _) => k -> jobs(bestOf(k)) }: _*)) ++ perQuery ++ Seq(
      "spark_total_sec" -> r3(total),
      "oracle_total_sec" -> oracle.fold[Any](None) { case (o, _) => r3(o) },
      "ratio" -> oracle.fold[Any](None) { case (o, _) => r3(if (o > 0) total / o else -1.0) },
      "failed" -> (runs.size - best.size), "n_queries" -> runs.size)
    val bulky = Seq("samples" -> Harness.obj(ok.sortBy(_._1).map { case (k, ts) =>
      k -> ts.map(t => Seq(r3(t.sec), r2(t.load))) }: _*)) ++
      oracle.map { case (_, oJson) => "oracle" -> Harness.Raw(oJson) } ++
      Seq("jobs" -> Harness.obj(byName.map { case (k, t) => k -> jobs(t) }: _*),
        "steal" -> Harness.obj(byName.map { case (k, t) => k -> r3(t.steal) }: _*),
        "ratios" -> Harness.obj(triples.map { case (k, s, o, r) => k -> Seq(r3(s), r3(o), r2(r)) }: _*))
    (Harness.json(Harness.obj(head ++ conditions ++ bulky ++ summary: _*)),
      Harness.json(Harness.obj(head ++ summary: _*)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val loadGate = Harness.loadGate

    var spark = Harness.session(cpus)
    def restart(): SparkSession = {
      // a failed teardown must never kill the whole bench run: log, wait out
      // transient churn (port reuse, executor threads draining), try once more
      try Harness.stop(spark)
      catch { case e: Throwable => System.err.println(s"[bench] stop failed: ${e.getMessage}") }
      spark =
        try Harness.session(cpus)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] session rebuild failed, retrying: ${e.getMessage}")
            Thread.sleep(2000)
            Harness.session(cpus)
        }
      spark
    }

    // optional comma-separated filter for one-off investigations. Queries
    // run in name order and the earlier ones warm the JIT and the codegen
    // cache for the later ones, so a query's time depends on the rest of the
    // set: an A/B runs each touched query alone (SPARK_GRAFT_ONLY=q_name)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // warm-up: run everything once, un-timed
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try Harness.consume(fn(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench][warmup] $name failed: ${e.getMessage}") }
      System.err.println(f"[bench][warmup] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      restart()
    }

    // prints the compact line and persists the full record: the stdout
    // copy is tail-truncated in the driver's round artifact, the file is
    // not, and tools/bench_table.py renders the README table from it
    def emit(runs: Seq[(String, Seq[Timed])], oracle: Option[(Double, String)]): Unit = {
      val (full, compact) = render(sfDir, loadGate, conditions(cpus), runs, oracle)
      println(compact)
      try {
        val target = recordPath(cpus, sfDir, p =>
          if (Files.exists(Paths.get(p))) new String(Files.readAllBytes(Paths.get(p)), UTF_8) else "",
          filtered = only.isDefined)
        if (only.isDefined)
          System.err.println("[bench] SPARK_GRAFT_ONLY run; writing BENCH_PARTIAL.json")
        else if (target == "BENCH_PARTIAL.json")
          System.err.println(s"[bench] run at $sfDir vs a different-SF BENCH_FULL_c$cpus.json; writing " +
            "BENCH_PARTIAL.json (set BENCH_ALLOW_SF_CHANGE=1 to accept a deliberate SF move)")
        Files.write(Paths.get(target), (full + "\n").getBytes(UTF_8))
        ()
      } catch {
        case e: Throwable => System.err.println(s"[bench] bench artifact write failed: ${e.getMessage}")
      }
    }

    val fns = queries.toMap
    val runs = timedPasses(queries.map(_._1)) { (pass, name) =>
      val ledger = new Harness.Ledger(spark)
      val s = Harness.sample(name, ledger) {
        try { Harness.consume(fns(name)(spark, sfDir)); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      }
      val jobLog = ledger.jobLog()
      ledger.close()
      val t = Timed(if (s.value) s.sec else -1.0, s.load, (jobLog.size, jobLog.map(_.stages.size).sum), s.steal)
      System.err.println(f"[bench][pass$pass] $name ${t.sec}%.2fs load=${t.load}%.2f steal=${t.steal}%.3f " +
        s"jobs=${t.jobs._1} stages=${t.jobs._2}")
      restart()
      t
    }
    try spark.stop() catch { case _: Throwable => () }
    // ratio denominator = the queries Spark actually measured, so a failed
    // or aborted suite cannot produce a spuriously LOW ratio (partial spark
    // total over the full oracle total)
    emit(runs, runOracleBench(sfDir, cpus, runs.collect { case (k, ts) if ts.exists(_.ok) => k }))
  }

  /** Time the DuckDB oracle suite over the `measured` queries of the same
    * sf dir (tools/oracle_bench.py) and return (total_sec, its JSON line).
    * None when the tool, its runtime or any measurement is missing: the
    * record then carries oracle_total_sec: null rather than a guess. */
  private def runOracleBench(sfDir: String, cpus: Int,
                             measured: Seq[String]): Option[(Double, String)] =
    try {
      val script = new java.io.File("tools/oracle_bench.py")
      if (!script.exists() || measured.isEmpty) {
        System.err.println("[bench] no tools/oracle_bench.py or no successful measurement; skipping oracle total")
        None
      } else {
        System.err.println("[bench] timing DuckDB oracle suite for the ratio denominator…")
        // always fresh, so the oracle never runs a stale statement set (the
        // script's own fallback dump costs a full Verify run)
        Harness.dumpOracleSql(new java.io.File("/tmp/graft_oracle_bench"))
        val pb = new ProcessBuilder("python3", script.getPath, sfDir, cpus.toString)
        pb.environment().put("SPARK_GRAFT_ONLY", measured.mkString(","))
        // stderr flows straight to ours: buffering it behind the stdout read
        // would deadlock once the child fills the pipe with diagnostics
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
        val code = proc.waitFor()
        val parsed = out.linesIterator.filter(_.startsWith("{\"metric\":\"oracle_total\"")).toSeq.lastOption
          .filter(_ => code == 0)
          .flatMap(l => """"value":([0-9.eE+-]+)""".r.findFirstMatchIn(l).map(m => (m.group(1).toDouble, l)))
        if (parsed.isEmpty) System.err.println(s"[bench] oracle bench exited $code with no parseable total")
        parsed
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] oracle bench unavailable: ${e.getMessage}")
        None
    }
}
