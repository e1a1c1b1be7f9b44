package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Off-toy scale proof for the graph-analytics family: the shuffle-path
  * PageRank, shuffle-path triangle count, and distributed min-label
  * connected components are the engine's beyond-gate (100 TB) formulations,
  * and before this harness they had only ever run on toy property-test
  * graphs. The package-private path defs (`Analytics.pageRankShuffle`/
  * `pageRankBroadcast`, `Analytics.triangleCountShuffle`/
  * `triangleCountBroadcast`, `ConnectedComponents.distributedPath`/
  * `driverPath`) run each engine down BOTH paths on the SAME ≥10M-edge
  * graph, so the artifact
  * records (a) that the far paths complete at real size with bounded
  * stragglers, (b) what the gated (broadcast/driver) paths cost at the same
  * size, and (c) that the two strategies agree bit-for-bit — the same
  * "measure the claim" discipline as [[ScaleDecontam]].
  *
  * Workload: [[ScaleCorpus.powerLawEdges]] — node 0 collects ~0.3% of all
  * endpoint draws (a 10^4-degree hub at the default size), which is exactly
  * the skew the degree-ordered orientation and the Pregel aggregate must
  * survive.
  *
  * Also measured: the broadcast-path PageRank's driver-memory envelope —
  * the per-round contribution table the rank-broadcast rounds hold on the
  * driver (see [[graft.graph.Analytics.pageRank]]) as actual
  * `SizeEstimator` bytes at this node count, with the ×2 live-during-swap
  * factor called out, so the 100k-node gate (`PrBroadcastMaxNodes`) is
  * justified by a measurement instead of an estimate.
  */
object ScaleGraph {

  def main(args: Array[String]): Unit = {
    // Dev knob: run a subset of phases (e.g. SCALE_GRAPH_PHASES=cc) while
    // iterating on one engine. A partial run emits metric
    // "scale_graph_partial" so merge tooling can never fold it into the
    // round artifact in place of the full record.
    val phases = sys.env.getOrElse("SCALE_GRAPH_PHASES", "tri,pr,cc")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // fail fast on typos: an unrecognized token would otherwise silently run
    // zero phases and emit an all-zeros partial record
    require(phases.nonEmpty && phases.subsetOf(Set("tri", "pr", "cc")),
      s"SCALE_GRAPH_PHASES must be a non-empty subset of tri,pr,cc; got $phases")
    val allPhases = phases == Set("tri", "pr", "cc")
    val edgesN = sys.env.getOrElse("SCALE_EDGES", "10000000").toLong
    val nodesN = sys.env.getOrElse("SCALE_NODES", "2000000").toLong
    val prIters = sys.env.getOrElse("SCALE_PR_ITERS", "10").toInt
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark, before = () => {
      // Pay the PREVIOUS sample's GC debt outside the timed window: the
      // broadcast-path PageRank churns ~100 MB driver arrays per round,
      // and without this the next phase's first mixed-GC pause lands
      // mid-sample and reads as a task-time straggler (observed: the cc
      // phase, which runs last, recording 2x wall + 4.7 max/median in
      // the SAME code a fresh-JVM probe runs clean). Persisted
      // intermediates (edge snapshot, degree table, adjacency) are
      // per-invocation state — dropping them first makes every sample
      // start cold and measure the same work, and the explicit gc() lets
      // the ContextCleaner reap the prior sample's now-unreachable
      // localCheckpoint blocks.
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(2000)
    })
    // one materialized output per sample, so the paths can be compared
    def materialized(df: => DataFrame): DataFrame = {
      val out = df.localCheckpoint(true)
      out.count()
      out
    }
    def equal(a: DataFrame, b: DataFrame): Boolean = a.except(b).isEmpty && b.except(a).isEmpty

    // --- synthetic power-law graph, materialized and re-read like real input
    val edges =
      ScaleCorpus.powerLawEdges(spark, edgesN, nodesN, Harness.workDir("graft_scale_graph").toString)

    // untimed shape diagnostics: the skew the far paths must survive
    val rawEdges = edges.count()
    val und = edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val distinctUnd = und.count()
    val degStats = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"), max("d").as("dmax")).head
    val vertices = degStats.getLong(0)
    val maxDegree = degStats.getLong(1)

    import graft.graph.Analytics

    // --- triangles: far (shuffle) path, then the gated (broadcast) path
    val triangles = if (!phases("tri")) 0L else {
      val tS = rec.phase("tri_shuffle")(Analytics.triangleCountShuffle(edges).head.getLong(0)).value
      val tB =
        rec.phase("tri_broadcast")(Analytics.triangleCountBroadcast(edges).head.getLong(0)).value
      require(tS == tB, s"triangle paths disagree: shuffle=$tS broadcast=$tB")
      tS
    }

    // --- PageRank: far (shuffle Pregel) path, then the gated (driver-held
    // contribution table) path — identical integer arithmetic, so the two
    // rank tables must be bit-equal
    val prEqual = phases("pr") && {
      // pin per-round cuts for the base run: the production default is the
      // cadence the r19 sweep chose (k=2), and the sweep's "1" row must
      // actually measure k=1
      def shuffle(k: Int, tag: String) = rec.phase(tag)(
        materialized(Analytics.pageRankShuffle(edges, prIters, checkpointEvery = k))).value
      val pS = shuffle(1, "pr_shuffle")
      // checkpoint-cadence probe (round-18 advice #7): the shuffle path cuts
      // lineage every round — 9 materializations over 10 rounds at this node
      // count. Sparser cuts (k rounds composed into one job) trade
      // blockstore writes for deeper plans; ranks must stay bit-equal.
      Seq(2, 3).foreach { k =>
        require(equal(shuffle(k, s"pr_shuffle_ck$k"), pS),
          s"cadence-$k ranks diverged from per-round checkpointing")
      }
      // FORCE the broadcast path (the gate is 100k nodes — measured by this
      // harness's own crossover probes — so pageRank itself would measure
      // the shuffle path twice at this size)
      equal(pS, rec.phase("pr_broadcast")(materialized(Analytics.pageRankBroadcast(edges, prIters))).value)
    }
    val cadence = if (!phases("pr")) Harness.obj() else Harness.obj("1" -> rec.sec("pr_shuffle"),
      "2" -> rec.sec("pr_shuffle_ck2"), "3" -> rec.sec("pr_shuffle_ck3"))

    // --- connected components: far (distributed min-label + pointer
    // jumping) path, then the gated (driver union-find) path FORCED at the
    // same size. The 2M-edge driver gate had never been judged by
    // measurement at scale: scale_dedup's 1.53M-pair CC sits under it, so
    // the distributed branch had only ever run on property-test graphs.
    // This graph is the harder CC stress than the dedup workload's many
    // small clusters — one giant component through a 10^4-degree hub, where
    // plain min-label propagation would need O(diameter) rounds and the
    // pointer-jumping compression has to do real work.
    import graft.er.ConnectedComponents
    val (ccEqual, ccComponents) = if (!phases("cc")) (false, 0L) else {
      val cD = rec.phase("cc_dist")(materialized(ConnectedComponents.distributedPath(edges))).value
      val cU = rec.phase("cc_driver")(materialized(ConnectedComponents.driverPath(edges))).value
      (equal(cD, cU), cD.select("component").distinct().count())
    }

    // --- driver-memory envelope of the broadcast path (untimed): build the
    // round-1 contribution table the rank-broadcast path holds and
    // measure the LIVE array with SizeEstimator. Two generations are alive
    // during each round's swap (cur + nxt), so the gate-edge envelope is
    // 2× this figure scaled to the gate's node count.
    val (sRows, sBytes) = if (!phases("pr")) (0L, 0L) else {
      val e = edges.select(col("src"), col("dst")).distinct()
      val eod = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      val sArr = eod
        .select(col("dst").as("node_id"), expr(s"${1000000000L / vertices} div outdeg").as("c"))
        .groupBy("node_id").agg(sum("c").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      (sArr.length.toLong, org.apache.spark.util.SizeEstimator.estimate(sArr))
    }

    Harness.emit(if (allPhases) "scale_graph" else "scale_graph_partial",
      "edges" -> rawEdges, "edges_param" -> edgesN, "nodes_param" -> nodesN,
      "distinct_und_edges" -> distinctUnd, "vertices" -> vertices, "max_degree" -> maxDegree,
      "pr_iters" -> prIters, "triangles" -> triangles,
      "tri_shuffle_sec" -> rec.sec("tri_shuffle"), "tri_broadcast_sec" -> rec.sec("tri_broadcast"),
      "pr_shuffle_sec" -> rec.sec("pr_shuffle"), "pr_broadcast_sec" -> rec.sec("pr_broadcast"),
      "pr_ckpt_cadence" -> cadence,
      "cc_dist_sec" -> rec.sec("cc_dist"), "cc_driver_sec" -> rec.sec("cc_driver"),
      "cc_components" -> ccComponents,
      "tri_paths_equal" -> phases("tri"), "pr_paths_equal" -> prEqual, "cc_paths_equal" -> ccEqual,
      "pr_driver_s_rows" -> sRows, "pr_driver_s_bytes" -> sBytes,
      "stragglers" -> rec.stragglers, "loads" -> rec.loads)
    spark.stop()
  }
}
