package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, PerfbenchAccess, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.Flagship
import graft.engine.{Catalog, EtlGroup}

/** One benchmark process: builds the SparkSession, stages one workload's
  * inputs, runs its operations as a single closed-loop client (each on its
  * own `spark.newSession()`), and writes the raw record — per-operation
  * walls and outputs, setup time, and in a traced run the spans and
  * per-layer counters — as JSON. `perfbench/run.py` turns that record into
  * metrics; see `perfbench/README.md`.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data (directory of the generated sf dirs), sf (the inputs), copies
  * (ETL replicas), work (scratch directory), out (record path), cores.
  */
object Main {

  final case class Op(name: String, family: String, run: (SparkSession, Int) => Outcome)
  /** rows + order-independent digest of an output, plus checks made after
    * the operation's clock stopped. */
  final case class Outcome(rows: Long, digest: Long, post: () => Map[String, Any] = () => Map.empty)

  trait Workload {
    def ops: IndexedSeq[Op]
    /** untimed operations run once at setup, in a fixed order */
    def warmup: Seq[Op]
    def input: Map[String, Any]
    def cleanup(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val loadStart = loadavg()

    // setup, timed from JVM start: session build, input staging and the
    // untimed warm-up operations (what a scheduled pipeline pays per run)
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val b0 = System.nanoTime()
    val spark = session(cores, work, traced)
    val buildS = (System.nanoTime() - b0) / 1e9
    val s0 = System.nanoTime()
    val wl = stage(workload, spark, a, seed, cores)
    val w0 = System.nanoTime()
    warm(spark, wl.warmup, cores)
    val setupEnd = System.nanoTime()
    val setupS = (setupEnd - jvmStartNs) / 1e9

    // the closed loop: whole passes over the seeded order; a pass starts
    // only while the last one would still end within `seconds` (at least one)
    val records = Seq.newBuilder[Map[String, Any]]
    val gc0 = gcMillis()
    val loop0 = System.nanoTime()
    var pass = 0
    var opIndex = 0
    var lastPassNs = 0L
    while (pass == 0 || System.nanoTime() - loop0 + lastPassNs <= seconds * 1e9) {
      val p0 = System.nanoTime()
      wl.ops.foreach { op =>
        records += runOp(spark, op, opIndex, pass, traced)
        opIndex += 1
      }
      lastPassNs = System.nanoTime() - p0
      pass += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcS = (gcMillis() - gc0) / 1000.0

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "session_build_s" -> buildS,
      "stage_s" -> (w0 - s0) / 1e9, "warmup_s" -> (setupEnd - w0) / 1e9,
      "loop_s" -> loopS, "passes" -> pass, "ops" -> records.result(),
      "spans" -> SpansJson.all(),
      "jvm_gc_s" -> gcS, "jvm_heap_peak_mb" -> heapPeakMb(), "peak_rss_mb" -> peakRssMb(),
      "input" -> wl.input,
      "stamp" -> Map(
        "spark_version" -> spark.version,
        "jvm_version" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()))
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.write(Json(out)) finally w.close()
    wl.cleanup()
    spark.stop()
    // a query may leave a non-daemon thread behind; the record is written,
    // so the process must not outlive the run
    sys.exit(0)
  }

  /** Runs the untimed warm-up operations on `threads` concurrent clients,
    * each on its own session: warm-up only has to load classes, compile the
    * generated code and let the JIT see every plan once, and that work
    * parallelizes. A failed warm-up operation is reported, not fatal; the
    * timed run checks every output. */
  private def warm(spark: SparkSession, ops: Seq[Op], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      ops.map { op =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val t0 = System.nanoTime()
              op.run(spark.newSession(), -1)
              System.err.println(f"[perfbench] warm-up ${op.name} ${(System.nanoTime() - t0) / 1e9}%.2f s")
            } catch { case e: Throwable => System.err.println(s"[perfbench] warm-up ${op.name} failed: $e") }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b
      .config("spark.extraListeners", classOf[SchedulerListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- operations -------------------------------------------------------

  private def runOp(spark: SparkSession, op: Op, index: Int, pass: Int,
                    traced: Boolean): Map[String, Any] = {
    val s = spark.newSession()
    val before = if (traced) residue(s) else Map.empty[String, Any]
    Trace.opId = index
    Trace.on = traced
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val result =
      try Right(Trace.span("op", op.name)(op.run(s, index)))
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    var rec = Map[String, Any]("i" -> index, "name" -> op.name, "family" -> op.family, "pass" -> pass,
      "wall_s" -> wall, "start_ms" -> startMs, "end_ms" -> endMs, "traced" -> traced)
    result match {
      case Right(o) =>
        rec ++= Map("rows" -> o.rows, "digest" -> o.digest.toString) ++ o.post()
      case Left(e) =>
        rec += "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    if (traced) {
      PerfbenchAccess.drainListenerBus(spark.sparkContext)
      val (counters, jobs) = Trace.harvest()
      Trace.on = false
      val after = residue(s)
      // RDDs unpersisted meanwhile (the ContextCleaner runs at any time) are not residue
      val diff = after.keySet.union(before.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .filterNot(k => k.startsWith("rdd:") && !after.contains(k))
        .map(k => s"$k: ${before.getOrElse(k, "unset")} -> ${after.getOrElse(k, "unset")}")
      rec ++= Map("counters" -> counters, "jobs" -> jobs.map { case (a, b) => Seq(a, b) },
        "residue" -> diff)
    }
    rec
  }

  /** Session state an operation must leave as it found it. */
  private def residue(s: SparkSession): Map[String, Any] = {
    val confs = s.conf.getAll.map { case (k, v) => s"conf:$k" -> v }
    val views = s.catalog.listTables().collect().filter(_.isTemporary).map(t => s"view:${t.name}" -> "set")
    val global = s.catalog.listTables("global_temp").collect().map(t => s"global_view:${t.name}" -> "set")
    val rdds = s.sparkContext.getPersistentRDDs.keys.map(id => s"rdd:$id" -> "persisted")
    confs ++ views ++ global ++ rdds ++ Map(
      "cached_plans" -> PerfbenchAccess.cachedPlans(s).toString,
      "active_streams" -> s.streams.active.length.toString)
  }

  /** Row count and an order-independent digest (xxhash64 per row, bit_xor
    * over rows) in one pass; floating-point columns are hashed at 9
    * significant digits so summation order cannot change the digest. */
  def consume(df: DataFrame): Outcome = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _ => c.cast("string")
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)")).head()
    Outcome(r.getLong(0), r.getLong(1))
  }

  // ---- workloads --------------------------------------------------------

  /** The query_mix: a fixed selection of 20 SparkEntry queries, drawn from
    * every family across each family's spread of run times, so that the
    * warm-up and a pass stay short. Streaming is q_stream_interval_join,
    * whose session residue the traced run reports. */
  val queryMix: Seq[String] = Seq(
    "q_filters", "q_window_rownum", "q_group_quantiles", "q_agg_rollup", // relational
    "q_json_struct", "q_asof_join", // misc
    "q_text_tokens", "q_text_docfreq", // text
    "q_multimodal_png", // multimodal
    "q_er_features", "q_er_idconvert", "q_er_scoring", // er
    "q_graph_nodes", "q_graph_links", // graph
    "q_stream_interval_join", // stream
    "q_dedup_exact", "q_dedup_minhash", // dedup
    "q_ann_topk", "q_ann_pq", // ann
    "q_decontaminate") // decontam

  private def family(group: String, name: String): String =
    if (name.startsWith("q_dedup_")) "dedup"
    else if (name.startsWith("q_ann_")) "ann"
    else if (name.startsWith("q_decontam")) "decontam"
    else if (name.startsWith("q_stream_")) "stream"
    else if (name.startsWith("q_multimodal_")) "multimodal"
    else group

  private lazy val allQueries: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    "relational" -> graft.queries.Relational.queries,
    "er" -> graft.queries.ErQueries.queries,
    "text" -> graft.queries.LlmQueries.queries,
    "graph" -> graft.queries.GraphQueries.queries,
    "misc" -> graft.queries.MiscQueries.queries)
    .flatMap { case (g, qs) => qs.toSeq.map { case (n, f) => (family(g, n), n, f) } }
    .sortBy(_._2)

  private def stage(workload: String, spark: SparkSession, a: Map[String, String],
                    seed: Long, cores: Int): Workload = workload match {
    case "etl_pipeline" => new Etl(spark, s"${a("data")}/${a("sf")}", a("work"), a("copies").toInt, seed, cores)
    case "query_mix" =>
      val dir = s"${a("data")}/${a("sf")}"
      val byName = allQueries.map(q => q._2 -> q).toMap
      // one pass runs every query twice, in two seeded orders: twice the
      // samples for the median and the tail at no extra warm-up cost
      val rng = new Random(seed)
      val names = rng.shuffle(queryMix) ++ rng.shuffle(queryMix)
      def op(n: String): Op = {
        val (fam, _, f) = byName(n)
        Op(n, fam, (s, _) => consume(f(s, dir)))
      }
      // warm-up: every query of the mix, by name, on the same inputs
      new Workload {
        val ops: IndexedSeq[Op] = names.map(op).toIndexedSeq
        val warmup: Seq[Op] = queryMix.map(op)
        val input: Map[String, Any] = Files.usage(dir)
      }
  }

  /** The flagship pipeline (`Flagship.stages` as ONE EtlGroup over a fresh
    * Catalog, parquet hand-offs) on `copies` id-disjoint replicas of the
    * `base` tables — the ScaleFlagship replication shape; the seed picks the
    * replica suffixes and the row order of every staged table. */
  final class Etl(spark: SparkSession, base: String, work: String, copies: Int,
                  seed: Long, cores: Int) extends Workload {
    private val corpus = s"$work/etl/corpus"
    private val stride = 10000000L
    private val tables = Flagship.metagraph.inputIds

    locally {
      val rng = new Random(seed)
      val suffixes = Iterator.continually(100000 + rng.nextInt(900000)).distinct.take(copies).toSeq
      import spark.implicits._
      val reps = broadcast(suffixes.zipWithIndex.map { case (sfx, r) => (r.toLong, sfx.toString) }
        .toDF("rep", "sfx"))
      def read(t: String) = spark.read.parquet(s"$base/$t.parquet")
      require(Seq("customer" -> "c_custkey", "orders" -> "o_orderkey", "part" -> "p_partkey")
        .forall { case (t, k) => read(t).agg(max(k)).head.getLong(0) < stride }, "base keys exceed the stride")
      def shifted(c: String): Column = (col(c) + col("rep") * stride).as(c)
      def put(t: String, df: DataFrame): Unit =
        df.orderBy(xxhash64(df.columns.map(col).toIndexedSeq :+ lit(seed): _*))
          .write.mode("overwrite").parquet(s"$corpus/$t.parquet")
      put("customer", read("customer").crossJoin(reps)
        .select(shifted("c_custkey"), concat(col("c_name"), lit("#"), col("sfx")).as("c_name")))
      put("orders", read("orders").crossJoin(reps)
        .select(shifted("o_orderkey"), shifted("o_custkey"), col("o_orderpriority")))
      put("lineitem", read("lineitem").crossJoin(reps)
        .select(shifted("l_orderkey"), shifted("l_partkey")))
      put("part", read("part").crossJoin(reps)
        .withColumn("toks", split(col("p_name"), " "))
        .select(shifted("p_partkey"), concat_ws(" ",
          concat(element_at(col("toks"), 1), lit("_"), col("sfx")),
          concat(element_at(col("toks"), 2), lit("_"), col("sfx")),
          array_join(slice(col("toks"), 3, 1000), " ")).as("p_name")))
    }

    val input: Map[String, Any] = {
      val rows = tables.map(t => spark.read.parquet(s"$corpus/$t.parquet").count()).sum
      Files.usage(corpus) ++ Map("rows" -> rows)
    }

    private def run(s: SparkSession, i: Int): Outcome = {
      val dir = s"$work/etl/op_$i"
      val traced = Trace.on
      val cat = if (traced) new TracedCatalog(s, dir) else new Catalog(s, dir)
      tables.foreach(t => cat.link(t, s"$corpus/$t.parquet"))
      val opSpan = Trace.currentSpan
      val units = Flagship.stages.flatMap { case (st, nodes) =>
        if (traced) nodes.map(n => new TracedNode(n, st, opSpan)) else nodes
      }
      new EtlGroup("flagship_pipeline", units, dropIntermediates = false)
        .execute(cat, maxActiveRun = cores)
      val (rows, messyLeft) = Trace.span("check", "flagship_checks") {
        val graph = cat.read("flagship_graph")
        val mapping = cat.read("er_mapping")
        // the Flagship.run invariant: ER rewrote every messy id
        (graph.count(), graph.join(mapping, graph("to_id") === mapping("messy_id"), "left_semi").count())
      }
      Outcome(rows, messyLeft, post = () => {
        val written = Files.usage(dir)
        val extra = if (traced) Map("er_mapping_rows" -> cat.read("er_mapping").count()) else Map.empty
        Files.delete(new java.io.File(dir))
        Map("messy_left" -> messyLeft, "written_bytes" -> written("bytes")) ++ extra
      })
    }

    val ops: IndexedSeq[Op] = IndexedSeq(Op("flagship", "etl", run))
    // no warm-up run: staging already runs the reads, joins, sorts and
    // parquet writes the pipeline is made of, and a whole untimed pipeline
    // run would add a third to every run's length
    val warmup: Seq[Op] = Seq.empty
    override def cleanup(): Unit = Files.delete(new java.io.File(corpus))
  }

  // ---- process stamps ---------------------------------------------------

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim catch { case _: Throwable => "" }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM: the process's peak resident set. */
  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
