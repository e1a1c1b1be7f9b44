package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, DfNode, EtlNode, SqlNode}

/** Declarative property-graph extraction config — the Spark equivalent of the
  * reference's MetaGraph data class (reference: examples/graph/metagraph.py:6-48).
  *
  * A graph is layered on tables by convention: node tables carry `node_id` +
  * properties; link tables carry `from_id`/`to_id`. `subgraphs` names each
  * link's (source, target) node; `nodeSqls`/`linkSqls` define extraction from
  * the input tables; groupings describe how subgraph node/link tables merge
  * into final tables (metagraph.py node_grouping/link_grouping).
  */
final case class MetaGraph(
    subgraphs: Map[String, (String, String)],
    nodeGrouping: Map[String, Seq[String]],
    linkGrouping: Map[String, Seq[String]],
    inputIds: Seq[String],
    nodeSqls: Map[String, String],
    linkSqls: Map[String, String],
    nodeGroupingSqls: Map[String, String] = Map.empty,
    linkGroupingSqls: Map[String, String] = Map.empty) {

  /** All subgraph node names (metagraph.py `nodes`). */
  val nodes: Seq[String] =
    subgraphs.values.flatMap { case (s, t) => Seq(s, t) }.toSeq.distinct.sorted

  /** All subgraph link names. */
  val links: Seq[String] = subgraphs.keys.toSeq.sorted

  // config validation, mirroring metagraph.py __check_* asserts. A grouping
  // member may also be the `{item}Q` rewritten table of a defined item — the
  // ER retarget (resolution/meta.py alter_grouping_way) renames members after
  // the original config validated, and an altered copy must stay valid.
  private def definedOrRewritten(defined: Seq[String])(m: String): Boolean =
    defined.contains(m) || (m.endsWith("Q") && defined.contains(m.dropRight(1)))
  nodeGrouping.values.flatten.foreach(n =>
    require(definedOrRewritten(nodes)(n), s"node '$n' in node_grouping is not defined in subgraphs ($nodes)"))
  linkGrouping.values.flatten.foreach(l =>
    require(definedOrRewritten(links)(l), s"link '$l' in link_grouping is not defined in subgraphs ($links)"))
  nodes.foreach(n => require(nodeSqls.contains(n), s"sql of subgraph node '$n' is not provided"))
  links.foreach(l => require(linkSqls.contains(l), s"sql of subgraph link '$l' is not provided"))
  nodeSqls.keys.foreach(n => require(nodes.contains(n), s"node '$n' of node_sqls is not in subgraphs"))
  linkSqls.keys.foreach(l => require(links.contains(l), s"link '$l' of link_sqls is not in subgraphs"))

  /** Groupings completed with singleton groups for ungrouped items
    * (metagraph.py node_grouping/link_grouping properties). An item covered by
    * its `{item}Q` rewritten name (ER-altered config) counts as grouped. */
  def fullNodeGrouping: Map[String, Seq[String]] = {
    val grouped = nodeGrouping.values.flatten
      .flatMap(m => Seq(m, if (m.endsWith("Q")) m.dropRight(1) else m)).toSet
    nodeGrouping ++ nodes.filterNot(grouped.contains).map(n => n -> Seq(n))
  }
  def fullLinkGrouping: Map[String, Seq[String]] = {
    val grouped = linkGrouping.values.flatten
      .flatMap(m => Seq(m, if (m.endsWith("Q")) m.dropRight(1) else m)).toSet
    linkGrouping ++ links.filterNot(grouped.contains).map(l => l -> Seq(l))
  }

  /** Final-graph triplets: link -> (source group, target group)
    * (metagraph.py `triplets`). Tolerates `{item}Q` rewritten member names in
    * an ER-altered config by resolving against the base item. */
  def triplets: Map[String, (String, String)] = {
    def baseItem(m: String, defined: Map[String, _]): String =
      if (defined.contains(m)) m
      else if (m.endsWith("Q") && defined.contains(m.dropRight(1))) m.dropRight(1)
      else throw new IllegalArgumentException(s"'$m' is not a defined subgraph item")
    fullLinkGrouping.map { case (link, children) =>
      val (srcChild, dstChild) = subgraphs(baseItem(children.head, subgraphs))
      def parentOf(child: String): String =
        fullNodeGrouping.collectFirst {
          case (g, cs) if cs.exists(c => c == child || (c.endsWith("Q") && c.dropRight(1) == child)) => g
        }.getOrElse(throw new IllegalArgumentException(
          s"cannot find '$child' in node grouping $fullNodeGrouping"))
      link -> (parentOf(srcChild), parentOf(dstChild))
    }
  }

  /** Extraction stage as engine nodes: one SqlNode per node/link table. */
  def extractionNodes: Seq[EtlNode] =
    nodeSqls.map { case (n, sql) =>
      new SqlNode(s"extract_node_$n", inputIds, Map(s"node_$n" -> sql)): EtlNode
    }.toSeq ++
      linkSqls.map { case (l, sql) =>
        new SqlNode(s"extract_link_$l", inputIds, Map(s"link_$l" -> sql)): EtlNode
      }

  /** Grouping stage (reference group/main.py + group/meta.py:73-120): one
    * SqlNode per final node/link group, its SQL generated by [[Grouping]]
    * from the member tables. `memberTable` maps a member name to its table id
    * — identity-prefixed by default, but ER retargeting ([[graft.er.ErMeta]])
    * substitutes `{member}Q` rewritten tables here. Multi-member groups must
    * provide a column SQL (the reference asserts the same); singletons default
    * to a pass-through projection. */
  def groupingNodes(memberTable: String => String = identity): Seq[EtlNode] = {
    val nodeGroups = fullNodeGrouping.map { case (g, members) =>
      val tables = members.map(m => s"node_${memberTable(m)}")
      val colSql = nodeGroupingSqls.getOrElse(g,
        if (members.size == 1) "t0.node_id, t1.*"
        else throw new IllegalArgumentException(
          s"node group '$g' has ${members.size} members but no nodeGroupingSqls entry"))
      val sql =
        if (members.size == 1 && !nodeGroupingSqls.contains(g))
          s"SELECT * FROM ${tables.head}"
        else Grouping.nodeJoinSql(colSql, tables)
      new SqlNode(s"group_node_$g", tables, Map(s"gnode_$g" -> sql)): EtlNode
    }
    val linkGroups = fullLinkGrouping.map { case (g, members) =>
      val tables = members.map(m => s"link_${memberTable(m)}")
      val colSql = linkGroupingSqls.getOrElse(g,
        if (members.size == 1) "t0.from_id, t0.to_id"
        else throw new IllegalArgumentException(
          s"link group '$g' has ${members.size} members but no linkGroupingSqls entry"))
      val sql =
        if (members.size == 1 && !linkGroupingSqls.contains(g))
          s"SELECT * FROM ${tables.head}"
        else Grouping.linkJoinSql(colSql, tables)
      new SqlNode(s"group_link_$g", tables, Map(s"glink_$g" -> sql)): EtlNode
    }
    (nodeGroups ++ linkGroups).toSeq
  }

  /** Validation stage (reference group/validate.py wiring in graph/main.py):
    * every final link's endpoints must exist in its triplet's grouped node
    * tables. One batched validator node covering every (link, endpoint)
    * check in a single union'd aggregate action (r20) — the per-check nodes
    * each paid a child session + a count() job; the checks themselves are
    * unchanged (see [[Validate.linkIdValidators]]). */
  def validatorNodes: Seq[EtlNode] = {
    val checks = triplets.toSeq.flatMap { case (link, (srcGroup, dstGroup)) =>
      Seq((s"glink_$link", s"gnode_$srcGroup", "from_id"),
        (s"glink_$link", s"gnode_$dstGroup", "to_id"))
    }
    if (checks.isEmpty) Seq.empty else Seq(Validate.linkIdValidators(checks))
  }
}

/** Grouping SQL builder — the reference's SqlBuilder
  * (examples/graph/group/meta.py:10-68): population = UNION (distinct) of
  * member-table keys, then N-way LEFT JOIN back to each member for properties.
  * The reference's `DISTINCT ON (node_id) node_id` is a keys-only projection,
  * i.e. plain DISTINCT — written as such here (and in any oracle).
  */
object Grouping {

  def nodePopSql(nodeNames: Seq[String]): String =
    nodeNames.map(n => s"SELECT node_id FROM $n").mkString("SELECT DISTINCT node_id FROM (", " UNION ", ") u")

  def nodeJoinSql(columnSql: String, nodeNames: Seq[String]): String = {
    val joins = nodeNames.zipWithIndex
      .map { case (n, i) => s"LEFT JOIN $n AS t${i + 1} ON t0.node_id = t${i + 1}.node_id" }
      .mkString("\n")
    s"WITH pop AS (${nodePopSql(nodeNames)})\nSELECT $columnSql\nFROM pop AS t0\n$joins"
  }

  def linkPopSql(linkNames: Seq[String]): String =
    linkNames.map(l => s"SELECT from_id, to_id FROM $l")
      .mkString("SELECT DISTINCT from_id, to_id FROM (", " UNION ", ") u")

  def linkJoinSql(columnSql: String, linkNames: Seq[String]): String = {
    val joins = linkNames.zipWithIndex
      .map { case (l, i) =>
        s"LEFT JOIN $l AS t${i + 1} ON t0.from_id = t${i + 1}.from_id AND t0.to_id = t${i + 1}.to_id"
      }
      .mkString("\n")
    s"WITH pop AS (${linkPopSql(linkNames)})\nSELECT $columnSql\nFROM pop AS t0\n$joins"
  }
}

/** Iterative graph analytics over the extracted link tables — beyond the
  * reference (whose graph layer only extracts and exports), because a
  * property graph at corpus scale is exactly where centrality ranking runs.
  *
  * Determinism contract (same philosophy as [[graft.llm.Similarity]]):
  * PageRank here is FIXED-POINT INTEGER arithmetic — ranks live in 1e-9
  * units of probability mass, every division is floor division, every sum
  * is an exact integer sum (order-independent, unlike float accumulation,
  * whose partition-order-dependent rounding would break cross-engine
  * hash comparison). Each iteration is the classic Pregel shape: one
  * equi-join edges⋈ranks, one map-side-combinable aggregate — at 1000
  * executors both shuffle on the node id, nothing else. */
object Analytics {

  /** Node count up to which [[pageRank]] runs the rank-broadcast path. The
    * gate is MEASURED, not estimated (ScaleGraph crossover, local[32], 10
    * rounds): the driver path's per-round collect + merge + re-broadcast is
    * single-threaded in the node count and crosses over near ~100k nodes —
    * 96k nodes: 11.8s vs shuffle 11.4s (tie); 480k: 35.6s vs 21.6s; 1.9M:
    * 103–126s vs 24–42s, where the live s-table alone is 106 MB × 2
    * generations during the swap (SCALE_r14 scale_graph). Below the gate it
    * wins big (the 1.6k-node bench graph: 2.6s vs a measured 9.2s on the
    * forced shuffle path, r20). RE-MEASURED after the r20 RDD-loop rewrite at
    * the 10M-edge/1.9M-node point (SCALE_r20, same-window forced-paths run):
    * broadcast 185s vs shuffle-with-cadence 19-35s — the crossover did not
    * move a meaningful distance; ranks bit-equal on both paths
    * (pr_paths_equal). */
  private[graft] val PrBroadcastMaxNodes: Long = 100000L

  /** Undirected edge count up to which [[triangleCount]] runs the broadcast
    * path. A MEMORY bound (every executor holds the full oriented
    * adjacency), not a wall-time crossover: at 10M edges the broadcast path
    * still wins on the clock (7.1–8.0s vs shuffle 10.3–24.0s, ScaleGraph
    * SCALE_r14) — raise it when executor memory affords the adjacency. */
  private[graft] val TriBroadcastMaxEdges: Long = 5000000L

  /** Vertex count up to which the triangle broadcast path ships the degree
    * table as a driver-local relation. A BroadcastExchange over a
    * LocalRelation executes on the driver with NO Spark job, where each
    * broadcast build over the distributed degree table launched one. The
    * gate is deliberately low — the local form serializes the rows on the
    * driver once per exchange (twice here), which measured SLOWER than the
    * distributed build at 1.9M vertices (tri_broadcast 27s vs 8s,
    * ScaleGraph) while saving ~0.3s at bench-graph sizes (20k vertices). */
  private[graft] val TriLocalDegreeMaxVertices: Long = 200000L

  /** Shuffle-path checkpoint cadence: a lineage cut every round
    * materializes the rank table (one blockstore write per round); cadence k
    * lets k rounds compose into one lazily-planned job before the next cut —
    * same total compute, fewer materializations, linearly deeper plans.
    * MEASURED at the 10M-edge / 1.9M-node ScaleGraph point (SCALE_r19
    * scale_graph.pr_ckpt_cadence, same-run A/B): per-round 34.4s, k=2 18.1s,
    * k=3 28.6s — halving the materializations nearly halves the wall, while
    * k=3's deeper two-join plans give most of the win back. Ranks are
    * integer-exact, so every cadence is bit-equal (validated in the sweep
    * with except() both ways). */
  private val PrCheckpointEvery = 2

  /** Rank unit: ranks are integers in 1e-9 of probability mass. */
  private val Scale = 1000000000L

  /** `iters` rounds of damped PageRank (d = 0.85) over directed `edges`
    * (`src`, `dst` columns; duplicates are collapsed). Returns
    * (node_id, pr) with pr in 1e-9 mass units: pr ≈ 0.15/N + 0.85·Σ
    * pr(in)/outdeg(in), every step floored to integers. Dangling nodes
    * (no out-edges) contribute nothing — their mass leaks, the standard
    * simple-variant semantics, identical on both engines.
    *
    * `assumeDistinct`: the caller warrants the edge rows are already
    * distinct (e.g. a SELECT DISTINCT feeds this) — skips the defensive
    * dedup exchange+aggregate, which is one full shuffle of the edge set
    * at any scale. Duplicate rows under a false warrant would inflate
    * contribution sums, so only set it when the producer provably dedups.
    *
    * Two physical strategies, same arithmetic (identical integer results):
    *  - rank-broadcast (up to [[PrBroadcastMaxNodes]] nodes): each round is
    *    ONE scan-aggregate over the cached edge table with the contribution
    *    table held on the driver — the EDGE table is never shuffled, no
    *    per-round shuffle barrier or checkpoint, and exact fixed-point early
    *    exit comes free.
    *  - shuffle: the classic Pregel shape — both sides shuffle on the node
    *    id, lineage cut every `checkpointEvery` rounds. */
  def pageRank(edges: DataFrame, iters: Int = 10,
               assumeDistinct: Boolean = false): DataFrame =
    ranked(edges, iters, assumeDistinct) { (e, nodeDeg, n) =>
      if (n <= PrBroadcastMaxNodes) broadcastRanks(e, nodeDeg, n, iters)
      else shuffleRanks(e, nodeDeg, n, iters, PrCheckpointEvery)
    }

  /** The rank-broadcast path whatever the node count. */
  private[graft] def pageRankBroadcast(edges: DataFrame, iters: Int = 10): DataFrame =
    ranked(edges, iters, assumeDistinct = false)(broadcastRanks(_, _, _, iters))

  /** The shuffle path whatever the node count, cutting lineage every
    * `checkpointEvery` rounds. */
  private[graft] def pageRankShuffle(edges: DataFrame, iters: Int = 10,
                                     checkpointEvery: Int = PrCheckpointEvery): DataFrame =
    ranked(edges, iters, assumeDistinct = false)(shuffleRanks(_, _, _, iters, checkpointEvery))

  /** Shared prologue/epilogue of both PageRank paths: the distinct edge
    * table and the (node_id, outdeg) table, both cached, sized by one action;
    * `path` gets them plus the node count and must return an already
    * materialized rank table, since both caches are released afterwards. */
  private def ranked(edges: DataFrame, iters: Int, assumeDistinct: Boolean)
                    (path: (DataFrame, DataFrame, Long) => DataFrame): DataFrame = {
    // Measured note: StaticScope (AQE off + estimate-sized partitions) was
    // tried around the rounds and LOST (7.3-8.1s vs 5.7s at sf0.1) — unlike
    // the cascade pipelines, each round here ends in a localCheckpoint whose
    // write parallelism matters more than the per-stage re-planning AQE
    // costs, so the adaptive path stays.
    // iters = 0 is ill-defined here and the two strategies used to disagree
    // on it (the broadcast path computes round 1 before its loop, the shuffle
    // path returned uniform ranks) — reject it instead of picking a side
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    // lazy persists folded into the one sizing action below: counting the
    // node table materializes BOTH caches in a single job (e is nodes'
    // parent)
    val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct()).persist()
    // ONE explode+aggregate pass over the edge set yields the node table AND
    // the out-degrees together (r20, guide §1.2 fewer passes). Node set =
    // union of both endpoints, outdeg = out-edge count (0 for pure sinks).
    val nodeDeg = e.select(explode(array(
        struct(col("src").as("node_id"), lit(1L).as("out")),
        struct(col("dst").as("node_id"), lit(0L).as("out")))).as("__n"))
      .select(col("__n.node_id").as("node_id"), col("__n.out").as("out"))
      .groupBy("node_id").agg(sum("out").as("outdeg"))
      .persist()
    val n = nodeDeg.count()
    require(n > 0, "pageRank: empty graph")
    // Both paths return an eagerly checkpointed table, so the caller's first
    // action is a scan and the persisted edge/node snapshots can be dropped
    // — a lazy return would pin them in the CacheManager for the session's
    // lifetime (persist entries are never auto-cleaned, unlike checkpoint
    // RDD blocks), and unpersisting a lazy plan would silently recompute the
    // whole iteration from source instead.
    val out = path(e, nodeDeg, n)
    e.unpersist(blocking = false)
    nodeDeg.unpersist(blocking = false)
    out
  }

  private def broadcastRanks(e: DataFrame, nodeDeg: DataFrame, n: Long, iters: Int): DataFrame = {
    // Iterate on the CONTRIBUTION table s(x) = Σ_in pr(in)/outdeg(in)
    // instead of materializing pr over all nodes each round: pr(x) is a
    // pure function of s(x) (base + 85%·s, s absent ⇒ base), so folding
    // the rank formula into the next round's edge aggregate makes each round
    // ONE scan-aggregate over the edges; the full (node_id, pr) table is
    // produced once at the end. s is held ON THE DRIVER between rounds —
    // that is exactly the materialization a broadcast performs anyway (and
    // why this path is gated on n), and it buys exact fixed-point detection
    // for free: integer ranks CONVERGE EXACTLY, and once s_i == s_{i-1}
    // every later round provably repeats it (s_{i+1} = F(s_i) =
    // F(s_{i-1}) = s_i), so the early exit cannot change the result —
    // the unrolled-10-round oracle still matches bit-for-bit.
    // The rounds are pure integer arithmetic over a STATIC (src, dst,
    // outdeg) table with an n-bounded s-vector, so they run as one raw-RDD
    // aggregate per round: the edge table is converted to a plain RDD once
    // (coalesced to an n-derived loop width), each round broadcasts the
    // s-array (java broadcast, no exchange), builds per-partition LongMap
    // partials, and merges them on the driver — no SQL in the loop, no
    // session conf mutation, no per-round planning. Identical Long
    // arithmetic to the shuffle path's SQL (`div` on the non-negative
    // operands here is Java `/`): pr = base + (85·s) div 100 (s absent ⇒
    // base), c = pr div outdeg, s' = Σ_dst c — locked by GraphSpec's
    // paths-equal test against the shuffle path.
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val base = (15L * Scale) / (100L * n)
    val loopParts = math.max(4L, math.min(sc.defaultParallelism.toLong, n / 25000L + 1L)).toInt
    // the (node, outdeg) table is n-bounded by the gate: collect it once —
    // the rounds then need only the bare (src, dst) pairs
    val deg = nodeDeg.collect().map(r => (r.getLong(0), r.getLong(1)))
    val degB = sc.broadcast(deg.filter(_._2 > 0L))
    val eRdd = e.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .coalesce(loopParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pr0 = Scale / n
      def round(prev: Array[(Long, Long)], isFirst: Boolean): Array[(Long, Long)] = {
        val sB = sc.broadcast(prev)
        try {
          val merged = eRdd.mapPartitions { it =>
            val sv = sB.value
            val sMap = new scala.collection.mutable.LongMap[Long](math.max(8, sv.length * 2))
            sv.foreach { case (k, v) => sMap.update(k, v) }
            val dMap = new scala.collection.mutable.LongMap[Long](math.max(8, degB.value.length * 2))
            degB.value.foreach { case (k, v) => dMap.update(k, v) }
            val acc = new scala.collection.mutable.LongMap[Long]()
            it.foreach { case (src, dst) =>
              val pr = if (isFirst) pr0
                       else base + (85L * sMap.getOrElse(src, 0L)) / 100L
              acc.update(dst, acc.getOrElse(dst, 0L) + pr / dMap(src))
            }
            Iterator.single(acc)
          }.reduce { (a, b) => b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }; a }
          merged.toArray.sortBy(_._1)
        } finally sB.unpersist(blocking = false)
      }
      var cur = round(Array.empty, isFirst = true)
      var i = 2
      var converged = false
      while (i <= iters && !converged) {
        val nxt = round(cur, isFirst = false)
        converged = cur.sameElements(nxt)
        cur = nxt
        i += 1
      }
      // one-time finish, computed on the driver (node set and final s-vector
      // are n-bounded local data): pr = base + (85·s) div 100, s absent ⇒ base
      val sFinal = new scala.collection.mutable.LongMap[Long](math.max(8, cur.length * 2))
      cur.foreach { case (k, v) => sFinal.update(k, v) }
      val ranks = deg.map { case (node, _) =>
        (node, base + (85L * sFinal.getOrElse(node, 0L)) / 100L)
      }
      import spark.implicits._
      spark.createDataset(ranks.toIndexedSeq).toDF("node_id", "pr")
        .localCheckpoint(true)
    } finally {
      eRdd.unpersist(blocking = false)
      degB.unpersist(blocking = false)
    }
  }

  private def shuffleRanks(e: DataFrame, nodeDeg: DataFrame, n: Long, iters: Int,
                           checkpointEvery: Int): DataFrame = {
    require(checkpointEvery >= 1, s"checkpoint cadence must be >= 1, got $checkpointEvery")
    val base = (15L * Scale) / (100L * n)
    // out-degree rides WITH the edge table, joined once before the rounds
    // (the per-round recomputation of this static join was a third of the
    // measured round cost at sf0.1); the join keeps exactly the src rows —
    // every src has outdeg >= 1, sinks never match
    val nodes = nodeDeg.select("node_id")
    val eod = e.join(nodeDeg.withColumnRenamed("node_id", "src"), "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint(true)
    var pr = nodes.withColumn("pr", lit(Scale / n))
    for (i <- 1 to iters) {
      val contrib = eod.join(pr.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id"), expr("pr div outdeg").as("c"))
        .groupBy("node_id").agg(sum("c").as("s"))
      pr = nodes.join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      if (i < iters && i % checkpointEvery == 0) pr = pr.localCheckpoint(true)
    }
    pr.localCheckpoint(true)
  }

  /** Global triangle count over an UNDIRECTED graph given as directed edge
    * rows (`src`, `dst`; duplicates and self-loops are dropped, direction is
    * ignored). Uses the degree-ordered orientation standard for distributed
    * triangle counting (cf. Suri & Vassilvitskii, "Counting Triangles and
    * the Curse of the Last Reducer", WWW 2011): orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher one, so each
    * triangle is counted exactly once and — the scale point — the join fan-
    * out of a hub vertex is bounded by its ORIENTED out-degree of ≈ √(2m)
    * rather than its raw degree; the wedge join's worst key stops being the
    * highest-degree node. Two equi-joins, all integer, deterministic.
    *
    * The wedge set is the size amplifier (Σ C(outdeg⁺, 2) — tens of
    * millions for a million edges): when the ORIENTED EDGE LIST itself
    * fits a broadcast, both the wedge self-join and the closing join
    * broadcast it, so wedges stream map-side and are counted where they
    * are generated — nothing wedge-sized is ever shuffled. Past
    * [[TriBroadcastMaxEdges]] the classic shuffle formulation takes over.
    *
    * `assumeCanonical`: the caller warrants every row is already src < dst
    * with no self-loops — skips the per-row normalization. DUPLICATE rows
    * are tolerated on every path (the broadcast path collapses them in its
    * adjacency sets, the shuffle path dedups explicitly), so no input
    * shape over-counts. */
  def triangleCount(edges: DataFrame, assumeCanonical: Boolean = false): DataFrame =
    triangles(edges, assumeCanonical) { (und, deg0, vertices, m) =>
      // gate on the possibly-duplicated stream: duplicates only overestimate,
      // pushing toward the exact-dedup shuffle path — the safe direction
      if (m <= TriBroadcastMaxEdges) broadcastTriangles(und, deg0, vertices <= TriLocalDegreeMaxVertices)
      else shuffleTriangles(und)
    }

  /** The broadcast path whatever the edge count; `localDegreeMaxVertices`
    * gates the driver-local degree relation inside it. */
  private[graft] def triangleCountBroadcast(edges: DataFrame,
      localDegreeMaxVertices: Long = TriLocalDegreeMaxVertices): DataFrame =
    triangles(edges, assumeCanonical = false) { (und, deg0, vertices, _) =>
      broadcastTriangles(und, deg0, vertices <= localDegreeMaxVertices)
    }

  /** The shuffle path whatever the edge count. */
  private[graft] def triangleCountShuffle(edges: DataFrame, assumeCanonical: Boolean = false): DataFrame =
    triangles(edges, assumeCanonical)((und, _, _, _) => shuffleTriangles(und))

  /** Shared frame of both triangle paths: canonical (a < b) edge stream,
    * one pre-gate degree pass, and `path` run as (stream, degree table,
    * vertex count, edge estimate) inside the static scope. */
  private def triangles(edges: DataFrame, assumeCanonical: Boolean)
                       (path: (DataFrame, DataFrame, Long, Long) => Long): DataFrame = {
    val und0 = if (assumeCanonical)
      edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    else edges
      .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    // The whole count is eager (every action happens inside this call and
    // the result is a driver-local long), so the estimate-gated static scope
    // is sound here — and measured: at sf0.1 the AQE form runs 18 jobs
    // (every exchange its own query stage + re-plan), the static form far
    // fewer, and the per-job floor is most of this query's >2×-of-oracle
    // excess (Probe per-job attribution, r15). Past the gate AQE stays on
    // for skew splitting and coalescing, which the 10M-edge ScaleGraph
    // records rely on. Every persist() sits INSIDE the
    // scope: CacheManager compiles a cache's physical plan when persist()
    // is CALLED, so a persist taken before the conf switch would bake an
    // adaptive plan whose stage-by-stage sub-jobs are exactly what the
    // scope exists to avoid.
    // Threshold 64 MB, tighter than StaticScope's 256 MB default: the wedge
    // work amplifies input quadratically in oriented degree (Σ C(d⁺,2)), so
    // an input estimate mid-sized for a cascade pipeline can still need
    // AQE's skew splitting here — the 10M-edge ScaleGraph input (~10⁸ B of
    // pruned scan) must plan adaptively, while every bench-SF graph (≤ a
    // few MB pruned) stays static.
    val tri: Long = graft.ops.StaticScope.scoped(und0, thresholdBytes = 64L << 20) {
      // lazy persist, NOT an eager localCheckpoint: the degree pass below is
      // the one action that materializes the cache, so sizing the gate and
      // snapshotting the edge stream are ONE job
      val und = und0.persist()
      // ONE pre-gate pass yields the multiplicity-weighted degree table AND
      // the gate count (Σd = 2m): the broadcast path orients by exactly this
      // weighted degree, so nothing is computed twice; the shuffle path
      // recomputes exact degrees from the deduped stream and pays only this
      // one vertices-sized aggregate extra
      val deg0 = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .persist()
      val degStats = deg0.agg(count(lit(1)).as("nv"), sum("d").as("sd")).head
      val m = if (degStats.isNullAt(1)) 0L else degStats.getLong(1) / 2
      val t = path(und, deg0, degStats.getLong(0), m)
      // The aggregate is a single long, so the operator materializes it
      // eagerly (the count IS the action) and releases its caches — a lazy
      // return would pin the edge snapshot and degree table in the
      // CacheManager for the session's lifetime, and the caller's action
      // would re-run the whole cascade per consumption anyway.
      deg0.unpersist(blocking = false)
      und.unpersist(blocking = false)
      t
    }
    val spark = edges.sparkSession
    import spark.implicits._
    Seq(tri).toDF("triangles")
  }

  private def broadcastTriangles(und: DataFrame, deg0: DataFrame, localDegrees: Boolean): Long = {
    // Edge-iterator variant: tri = Σ over oriented edges (u,v) of
    // |N⁺(u) ∩ N⁺(v)| — each triangle {x<y<z} (by the orientation order)
    // is found exactly once, at its base edge (x,y), because z sits in
    // both out-neighborhoods while y ∉ N⁺(z). The adjacency table has one
    // row per LOW endpoint (≤ #vertices rows, each ≤ ~√(2m) neighbors),
    // so it broadcasts; the edge stream is recovered by EXPLODING it,
    // which hands every edge its own N⁺(u) for free — one broadcast join
    // total (N⁺(v) by the high endpoint) and NOTHING wedge-sized is ever
    // materialized or shuffled (measured at 1.2M edges: explicit wedge
    // join 3.7s; two-broadcast intersection 1.1s).
    //
    // This path never dedups the edge stream: collect_SET collapses
    // duplicate oriented edges inside the per-vertex adjacency build, and
    // exploding the DEDUPED adjacency recovers each distinct edge exactly
    // once (measured at sf0.1: 2.7s → 1.9-2.5s end to end against a
    // full-width distinct()). The count stays exact under ANY total order
    // on vertices, so orienting by multiplicity-WEIGHTED degree (the only
    // degree the undeduped stream can see in one pass) changes nothing but
    // the skew bound, and weighted degree tracks true degree closely enough
    // to keep the √(2m) out-degree heuristic.
    // `localDegrees` (see TriLocalDegreeMaxVertices): the degree table rides
    // as a driver-local relation; otherwise the distributed cache serves
    // both joins (the second build is a cache scan).
    val spark = und.sparkSession
    val degSrc: DataFrame =
      if (localDegrees) {
        val local = deg0.collect().map(r => (r.getLong(0), r.getLong(1)))
        import spark.implicits._
        spark.createDataset(local.toIndexedSeq).toDF("v", "d")
      } else deg0
    val oriented0 = und
      .join(broadcast(degSrc.as("dl")), col("a") === col("dl.v"))
      .join(broadcast(degSrc.as("dr")), col("b") === col("dr.v"))
      .select(col("a"), col("b"), col("dl.d").as("da"), col("dr.d").as("db"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    // lazy persist: the closing join's broadcast build is the first action
    // and materializes the cache; the explode side then reads it back
    val adj = oriented0
      .groupBy("lo").agg(sort_array(collect_set(col("hi"))).as("nbrs"))
      .persist()
    // Repartition before exploding ONLY under adaptive planning: AQE
    // coalesces the few-thousand-row adjacency table to ~1 partition and
    // the per-edge intersection work would run at its parallelism. Inside
    // the static scope the groupBy already leaves adj at full width, so
    // the extra shuffle is pure floor cost.
    val spread =
      if (spark.conf.get("spark.sql.adaptive.enabled", "true") == "true")
        adj.repartition(spark.sparkContext.defaultParallelism)
      else adj
    val cnt = spread
      .select(col("nbrs").as("nu"), explode(col("nbrs")).as("hi"))
      .join(broadcast(adj.select(col("lo").as("hi"), col("nbrs").as("nv"))), Seq("hi"), "left")
      // codegen'd two-pointer merge over the sorted lists — the built-in
      // size(array_intersect(..)) allocates a hash set + result array per
      // edge (see graft.expr.SortedIntersectCount)
      .select(graft.expr.SortedIntersectCount(
        col("nu"), coalesce(col("nv"), typedLit(Array.empty[Long]))).as("t"))
      // sum over zero rows is NULL — an empty/self-loop-only graph must
      // report 0 triangles like the shuffle path, not a NULL row
      .agg(coalesce(sum("t").cast("bigint"), lit(0L)).as("triangles"))
      .head.getLong(0)
    adj.unpersist(blocking = false)
    cnt
  }

  private def shuffleTriangles(und: DataFrame): Long = {
    // wedges around the low endpoint, (deg, id)-ordered, closed by the
    // oriented edge between their two high endpoints — the classic two-
    // equi-join shuffle formulation. The wedge join counts MULTIPLICITIES,
    // so this path dedups unconditionally (exact degrees fall out of the
    // same pass); `dh` (the high endpoint's degree) rides along so wedge
    // pairs are ordered by the SAME comparator as the orientation —
    // ordering them by raw id would disagree and miss the closing edge.
    val undD = und.distinct().localCheckpoint(true)
    // persisted for the same reason as the broadcast path: the EXACT
    // (deduped) degree table feeds two joins, and a vertices-sized cache
    // beats re-running the explode + groupBy over the deduped edge stream
    val degD = undD.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .persist()
    val oriented = undD
      .join(degD.as("dl"), col("a") === col("dl.v"))
      .join(degD.as("dr"), col("b") === col("dr.v"))
      .select(col("a"), col("b"), col("dl.d").as("da"), col("dr.d").as("db"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi"), col("db").as("dh")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi"), col("da").as("dh"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.dh").as("dh"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") &&
          (col("e1.dh") < col("e2.dh") ||
            (col("e1.dh") === col("e2.dh") && col("e1.hi") < col("e2.hi"))))
      .select(col("e1.hi").as("lo"), col("e2.hi").as("hi"))
    val cnt = wedges.join(oriented.select("lo", "hi"), Seq("lo", "hi"))
      .agg(count(lit(1)).as("triangles"))
      .head.getLong(0)
    degD.unpersist(blocking = false)
    cnt
  }
}

/** LinkIDValidator (J8, reference examples/graph/validate.py:8-43): link
  * endpoint ids must be a subset of the node table's ids. Implemented as an
  * anti-join (violations table) — empty means valid; as an engine node it
  * throws on violations, mirroring the reference's assert. */
object Validate {

  /** Violating link rows (empty = valid). */
  def violations(link: DataFrame, node: DataFrame, idType: String): DataFrame = {
    require(idType == "from_id" || idType == "to_id", s"idType must be from_id/to_id, got $idType")
    link.join(node, link(idType) === node("node_id"), "left_anti").select(col(idType))
  }

  /** Engine node asserting containment for one link×endpoint (no outputs). */
  def linkIdValidator(linkId: String, nodeId: String, idType: String): EtlNode =
    new DfNode(s"validate_${linkId}_${idType}_in_$nodeId",
      inputIds = Seq(linkId, nodeId), outputIds = Seq.empty,
      fn = { case Seq(link, node) =>
        val bad = violations(link, node, idType).count()
        require(bad == 0, s"$bad $idType values in '$linkId' missing from '$nodeId'")
        Seq.empty
      })

  /** ONE engine node asserting containment for MANY (link, node, idType)
    * checks in a single union'd aggregate action (r20, guide §1.2): separate
    * validator nodes paid one child session + one count() job each for
    * sub-second anti-joins; unioning the per-check counts plans them as one
    * job whose branches run concurrently. Same assertion per check, same
    * failure message, every check evaluated (no short-circuit on the first
    * violation — all bad counts computed before any require fires). */
  def linkIdValidators(checks: Seq[(String, String, String)]): EtlNode = {
    require(checks.nonEmpty, "linkIdValidators needs at least one (link, node, idType) check")
    val inputs = checks.flatMap { case (l, n, _) => Seq(l, n) }.distinct
    new DfNode("validate_link_ids", inputIds = inputs, outputIds = Seq.empty,
      fn = { dfs =>
        val byId = inputs.zip(dfs).toMap
        val counts = checks.map { case (linkId, nodeId, idType) =>
          violations(byId(linkId), byId(nodeId), idType)
            .agg(count(lit(1)).as("bad"))
            .select(lit(s"$idType values in '$linkId' missing from '$nodeId'").as("check"),
              col("bad"))
        }.reduce(_ unionAll _).collect()
        counts.foreach(r => require(r.getLong(1) == 0, s"${r.getLong(1)} ${r.getString(0)}"))
        Seq.empty
      })
  }
}
