package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set, explode, expr, sort_array}

import graft.graph.{Grouping, Validate}

/** Property-graph layer queries (SURVEY §3 workload): node/link extraction
  * SQL set, pop-union + N-way grouping builder, and the LinkIDValidator.
  *
  * Node ids here are md5(name) — the cross-engine-verifiable stand-in for the
  * engine's xxhash64 ids (the id function is a projection detail; SURVEY §7.4).
  * The grouping SQL is generated by [[graft.graph.Grouping]] and is portable,
  * so the oracle runs the *same generated text* against DuckDB.
  */
object GraphQueries {

  private def v(s: SparkSession, dir: String, name: String): Unit =
    Tables.view(s, dir, name)

  // The SQL-text queries register their views in a child session of the
  // caller's, so they leave its temp views as they found them; the plans
  // they return are bound to the child.
  private def linkSession(s: SparkSession, dir: String): SparkSession = {
    val c = s.newSession()
    v(c, dir, "orders"); v(c, dir, "customer")
    c.sql(licenseNodeSql).createOrReplaceTempView("license_node")
    c
  }

  // node extraction (license-node shape, reference examples/meta.py:102-120)
  private val licenseNodeSql =
    """SELECT DISTINCT md5(license) AS node_id, license, cnt FROM (
      |  SELECT o_orderpriority AS license, count(*) AS cnt FROM orders GROUP BY o_orderpriority) c
      |WHERE license IS NOT NULL AND license <> '' AND license <> 'UNKNOWN' AND cnt >= 2""".stripMargin

  // link extraction w/ semi-join endpoint filter (reference meta.py:121-160, 207-215)
  private val orderLinkSql =
    """SELECT DISTINCT md5(c.c_name) AS from_id, md5(o.o_orderpriority) AS to_id
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE EXISTS (SELECT 1 FROM license_node n WHERE n.node_id = md5(o.o_orderpriority))""".stripMargin

  // two subgraph node tables to group (buyer = customers with orders; account = all)
  private val buyerNodeSql =
    """SELECT md5(c.c_name) AS node_id, count(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY md5(c.c_name)""".stripMargin
  private val accountNodeSql =
    "SELECT DISTINCT md5(c_name) AS node_id, c_mktsegment AS segment FROM customer"

  /** Generated N-way grouping SQL (reference group/meta.py:10-38). */
  val groupingSql: String = Grouping.nodeJoinSql(
    "t0.node_id, t1.n_orders, t2.segment", Seq("node_buyer", "node_account"))

  /** The grouping chain as the ONE statement it logically is: member-node
    * extraction CTEs + the generated grouping text. This is the ORACLE text
    * for q_graph_grouping; the Spark side computes the provably-identical
    * buyer ⟗ account join (see the q_graph_grouping entry for the
    * equivalence argument, NULL group included). */
  val groupingWholeSql: String =
    s"""WITH node_buyer AS ($buyerNodeSql),
       |node_account AS ($accountNodeSql),
       |${groupingSql.stripPrefix("WITH ")}""".stripMargin

  // --- MetaGraph-driven end-to-end config (reference run_whole.py:51-56) ---

  private val segmentNodeSql =
    "SELECT DISTINCT md5(c_mktsegment) AS node_id, c_mktsegment AS segment FROM customer WHERE c_mktsegment IS NOT NULL"

  // link extraction is self-contained from the config's input tables (its
  // endpoint filter inlines the license-node CTE), like the reference's
  // link_sqls which read only input_ids tables
  private val hasLicenseLinkSql =
    s"""WITH license_node AS ($licenseNodeSql)
       |SELECT DISTINCT md5(c.c_name) AS from_id, md5(o.o_orderpriority) AS to_id
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE EXISTS (SELECT 1 FROM license_node n WHERE n.node_id = md5(o.o_orderpriority))""".stripMargin

  private val inSegmentLinkSql =
    """SELECT DISTINCT md5(c_name) AS from_id, md5(c_mktsegment) AS to_id
      |FROM customer WHERE c_name IS NOT NULL AND c_mktsegment IS NOT NULL""".stripMargin

  /** The full declarative config: 4 subgraph nodes, 2 links, buyer+account
    * grouped into `customer` (reference examples/meta.py metagraph shape). */
  val metagraph: graft.graph.MetaGraph = graft.graph.MetaGraph(
    subgraphs = Map(
      "has_license" -> (("buyer", "license")),
      "in_segment" -> (("account", "segment"))),
    nodeGrouping = Map("customer" -> Seq("buyer", "account")),
    linkGrouping = Map.empty,
    inputIds = Seq("orders", "customer"),
    nodeSqls = Map(
      "buyer" -> buyerNodeSql, "account" -> accountNodeSql,
      "license" -> licenseNodeSql, "segment" -> segmentNodeSql),
    linkSqls = Map(
      "has_license" -> hasLicenseLinkSql, "in_segment" -> inSegmentLinkSql),
    nodeGroupingSqls = Map("customer" -> "t0.node_id, t1.n_orders, t2.segment"))

  private val resultSql =
    """SELECT g.node_id, g.n_orders, g.segment, l.n_links
      |FROM gnode_customer g LEFT JOIN (
      |  SELECT from_id, count(*) AS n_links FROM glink_has_license GROUP BY from_id) l
      |ON g.node_id = l.from_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_nodes" -> ((s, dir) => {
      val c = s.newSession()
      v(c, dir, "orders")
      c.sql(licenseNodeSql)
    }),

    "q_graph_links" -> ((s, dir) => linkSession(s, dir).sql(orderLinkSql)),

    // The grouping chain as the JOIN it algebraically is. The generated text
    // (pop = DISTINCT ids of buyer ∪ account, then pop ⟕ buyer ⟕ account) is
    // what the oracle runs; here the same relation is computed as
    // buyer ⟗ account: buyer's ids are GROUP-BY-unique, so for every
    // non-null id the pop row fans out exactly |account[id]| times — the
    // full-outer match set — and one-sided ids surface with nulls on the
    // other side, exactly the unmatched full-outer rows. NULL ids never
    // equality-match in the pop form (one (NULL,NULL,NULL) row), so they are
    // filtered from the join and re-added from their source condition: a
    // NULL node_id is md5(NULL) ⇔ a NULL c_name, and account covers every
    // customer, so "∃ NULL id in either branch" ⇔ "∃ customer with NULL
    // c_name" — one limit(1) probe, no second pass over the aggregates.
    // Physical plan: customer broadcasts into the buyer aggregate, the two
    // agg outputs merge-join on node_id — 2 exchanges total, statically
    // planned under StaticScope (measured at sf0.1: 0.78s/4 jobs vs the
    // r16 three-view formulation's 1.16s/13 jobs; the same composition
    // treatment as q_asof_dag). At 100 TB the gate flips to AQE planning
    // and the same plan scales: one broadcast join + two key-local aggs.
    "q_graph_grouping" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{broadcast, count, lit, md5}
      val orders = Tables.read(s, dir, "orders")
      val customer = Tables.read(s, dir, "customer")
      val buyer = orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey"))
        .groupBy(md5(col("c_name")).as("node_id"))
        .agg(count(lit(1)).as("n_orders"))
      val account = customer.select(md5(col("c_name")).as("node_id"),
        col("c_mktsegment").as("segment")).distinct()
      val joined = buyer.filter(col("node_id").isNotNull)
        .join(account.filter(col("node_id").isNotNull), Seq("node_id"), "full_outer")
        .select(col("node_id"), col("n_orders"), col("segment"))
      val nullGroup = customer.filter(col("c_name").isNull).limit(1)
        .select(lit(null).cast("string").as("node_id"),
          lit(null).cast("long").as("n_orders"),
          lit(null).cast("string").as("segment"))
      // I/O-light aggregate output (~|customer| rows): small partition floor,
      // same rationale as the incremental-crawl merge (see StaticScope docs).
      // Measured under the bench harness: 1.14s/4 jobs static vs 1.50s/7
      // jobs lazy-AQE — the AQE per-stage replanning is the difference.
      graft.ops.StaticScope.scoped(orders, minParts = 8)(
        joined.unionAll(nullGroup).localCheckpoint(true))
    }),

    // The whole reference pipeline as ONE engine DAG (run_whole.py:51-56 +
    // graph/main.py): config -> extraction SqlNodes -> generated grouping ->
    // LinkIDValidators -> RedisGraph CSV export, executed concurrently by
    // EtlGroup over a Catalog; the benched result reads the grouped outputs.
    "q_metagraph_whole" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_metagraph")
      graft.TempCleanup.deleteOnExit(work)
      val cat = new graft.engine.Catalog(s, work.toString)
      cat.link("orders", s"$dir/orders.parquet")
      cat.link("customer", s"$dir/customer.parquet")
      val csvExport = new graft.engine.DfNode("redisgraph_export",
        inputIds = Seq("gnode_customer", "glink_has_license"), outputIds = Seq.empty,
        fn = { case Seq(custNode, licLink) =>
          graft.sink.RedisGraphCsv.writeNodes(custNode, "customer", s"$work/csv/customer")
          graft.sink.RedisGraphCsv.writeLinks(licLink, "customer", "license", s"$work/csv/has_license")
          Seq.empty
        })
      val result = new graft.engine.SqlNode("metagraph_result",
        inputIds = Seq("gnode_customer", "glink_has_license"),
        sqls = Map("metagraph_result" -> resultSql))
      val nodes = metagraph.extractionNodes ++ metagraph.groupingNodes() ++
        metagraph.validatorNodes ++ Seq(csvExport, result)
      // maxActiveRun 8 (reference run_whole.py:56 uses 16): lets the 7-node
      // extraction stage run as one wave instead of two. Measured effect is
      // small (~3.3s -> ~3.1s at sf0.1 under ambient load) because the
      // critical path is the extraction->grouping->result chain, not the
      // wave count — kept because it matches the reference's concurrency
      // shape with no downside on 32 cores.
      // each extraction output feeds one grouping write and composes into it;
      // the grouped tables feed three actions (CSV export, validators,
      // result) and stay parquet (EtlGroup.lazyIds)
      new graft.engine.EtlGroup("metagraph_whole", nodes, dropIntermediates = false)
        .execute(cat, maxActiveRun = 8)
      cat.read("metagraph_result")
    }),

    // J8: link-id containment — violations table, empty = valid
    "q_graph_validate" -> ((s, dir) => {
      val c = linkSession(s, dir)
      Validate.violations(c.sql(orderLinkSql), c.sql(licenseNodeSql), "to_id")
    }),

    // Fixed-point integer PageRank (10 damped rounds) over the
    // customer -> supplier endorsement graph (an edge per distinct
    // customer/supplier pair appearing together on an order). Exact BIGINT
    // mass units, so the oracle replays the identical rounds in SQL.
    "q_graph_pagerank" -> ((s, dir) => {
      // DataFrame form of the original SELECT DISTINCT join (same relation):
      // the sf parquet is a single row group, so the SQL form ran the join
      // probe AND the distinct's partial aggregate inside the one scan task —
      // readSpread (gated on scan splits) moves that to full width first.
      val li = Tables.readSpread(s, dir, "lineitem", "l_orderkey")
        .select(col("l_orderkey"), col("l_suppkey"))
      val edges = li.join(Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          expr("100000000 + l_suppkey").as("dst"))
        .distinct()
      // assumeDistinct: the edge SQL is SELECT DISTINCT — the operator's
      // defensive dedup would re-shuffle the already-deduped edge set
      graft.graph.Analytics.pageRank(edges, iters = 10, assumeDistinct = true)
    }),

    // Global triangle count over the part co-occurrence graph (parts appearing
    // on the same order). Naturally sparse (~6 pairs per order over |part|²
    // possible), so the degree-ordered wedge join has real work to do; the
    // oracle counts the same triangles with two plain self-joins on the
    // id-ordered edge list (orientation changes the join sizes, not the count).
    "q_graph_triangles" -> ((s, dir) => {
      v(s, dir, "lineitem")
      // co-occurrence pairs via ONE groupBy + narrow pair-explode instead of
      // the (checkpoint + self-join + distinct) form: parts per order are
      // bounded (~7 on this schema), so the per-order pair fan-out is a
      // constant and the whole edge build is ONE shuffle with no join and no
      // distinct — cross-order duplicate pairs (~0.3% here) are collapsed
      // inside triangleCount's adjacency sets (measured at sf0.1: same
      // 1,884,488 triangles, warm 2.5s vs the r12 shape's 3.7s).
      // sort_array(collect_set) makes src < dst and pair-distinct WITHIN an
      // order by construction, satisfying the per-row canonical contract.
      // repartition ON THE GROUP KEY before the aggregate: the sf parquet is
      // a single row group, so the scan stage is one task and a map-side
      // partial collect_set would run single-threaded over all rows for a
      // ~4x combine at best; pre-shuffling on o satisfies the aggregate's
      // distribution (no second exchange) and moves the set-building to full
      // width — the same one-shuffle plan the groupBy alone would pick when
      // the scan is already parallel
      val edges = s.sql("SELECT l_orderkey AS o, l_partkey AS p FROM lineitem")
        .repartition(s.sparkContext.defaultParallelism, col("o"))
        .groupBy("o").agg(sort_array(collect_set("p")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("e"))
        .select(col("e.src"), col("e.dst"))
      graft.graph.Analytics.triangleCount(edges, assumeCanonical = true)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_graph_nodes" -> licenseNodeSql,

    "q_graph_links" ->
      s"""WITH license_node AS ($licenseNodeSql)
         |$orderLinkSql""".stripMargin,

    // the *same single-statement text* the Spark side runs
    "q_graph_grouping" -> groupingWholeSql,

    "q_graph_validate" ->
      s"""WITH license_node AS ($licenseNodeSql),
         |links AS ($orderLinkSql)
         |SELECT to_id FROM links l
         |WHERE NOT EXISTS (SELECT 1 FROM license_node n WHERE n.node_id = l.to_id)""".stripMargin,

    // the same extraction + generated-grouping chain as CTEs (nested WITH in a
    // CTE body is fine in both engines)
    "q_metagraph_whole" ->
      s"""WITH node_buyer AS ($buyerNodeSql),
         |node_account AS ($accountNodeSql),
         |glink_has_license AS ($hasLicenseLinkSql),
         |gnode_customer AS ($groupingSql)
         |$resultSql""".stripMargin,

    // 10 unrolled fixed-point PageRank rounds — the identical floor-division
    // integer arithmetic as graft.graph.Analytics.pageRank ('//' in DuckDB
    // and 'div' in Spark both truncate; all values are non-negative)
    "q_graph_pagerank" -> {
      def round(prev: String, out: String) =
        s"""$out AS (
           |  SELECT n.node_id, bs.base + (85 * COALESCE(c.s, 0) // 100) AS pr
           |  FROM nodes n CROSS JOIN bs LEFT JOIN (
           |    SELECT e.dst AS node_id, SUM(p.pr // d.outdeg) AS s
           |    FROM e JOIN $prev p ON p.node_id = e.src JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) c ON c.node_id = n.node_id)""".stripMargin
      val rounds = (1 to 10).map(i => round(s"p${i - 1}", s"p$i")).mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS src, 100000000 + l.l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |bs AS (SELECT (15::BIGINT * 1000000000::BIGINT // (100::BIGINT * n)) AS base,
         |  (1000000000::BIGINT // n) AS init FROM nn),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |p0 AS (SELECT node_id, bs.init AS pr FROM nodes CROSS JOIN bs),
         |$rounds
         |SELECT node_id, CAST(pr AS BIGINT) AS pr FROM p10""".stripMargin
    },

    // each triangle {x<y<z} counted once as e1=(x,y), e2=(y,z), e3=(x,z)
    "q_graph_triangles" ->
      """WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |und AS (SELECT DISTINCT a.p AS a, b.p AS b FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p)
        |SELECT CAST(count(*) AS BIGINT) AS triangles
        |FROM und e1 JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin
  )
}
