package graft.er

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.{Catalog, DfNode, EtlGroup}
import graft.graph.MetaGraph

/** ErMeta — the declarative ER-to-graph attachment (resolution/meta.py:11-88):
  * messy-item derivation, grouping retarget, and an end-to-end proof that the
  * grouping stage reads rewritten ids through the engine DAG. */
class ErMetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fields = Seq(DedupeField("name", DedupeField.Exact, 1.0))

  private def meta = MetaGraph(
    subgraphs = Map("requires" -> (("pkg", "req"))),
    nodeGrouping = Map("package" -> Seq("pkg", "req")),
    linkGrouping = Map.empty,
    inputIds = Seq("raw"),
    nodeSqls = Map(
      "pkg" -> "SELECT DISTINCT md5(pkg) AS node_id, pkg AS name FROM raw",
      "req" -> "SELECT DISTINCT md5(req) AS node_id, req AS name FROM raw"),
    linkSqls = Map(
      "requires" -> "SELECT DISTINCT md5(pkg) AS from_id, md5(req) AS to_id FROM raw"),
    nodeGroupingSqls = Map("package" -> "t0.node_id, COALESCE(t1.name, t2.name) AS name"))

  test("messyItems derives the messy node + incident link columns (meta.py get_messy_items)") {
    val er = ErMeta(meta.subgraphs, "req", fields)
    assert(er.messyItems === Seq(("req", "node_id"), ("requires", "to_id")))
    assert(er.outputIds === Seq("node_reqQ", "link_requiresQ"))
    val asFrom = ErMeta(Map("ref" -> (("m", "x"))), "m", fields)
    assert(asFrom.messyItems === Seq(("m", "node_id"), ("ref", "from_id")))
  }

  test("alterGroupingWay retargets grouping member lists at the Q tables (meta.py:37-59)") {
    val er = ErMeta(meta.subgraphs, "req", fields)
    val altered = er.alterGroupingWay(meta)
    assert(altered.nodeGrouping === Map("package" -> Seq("pkg", "reqQ")))
    assert(er.memberTable("req") === "reqQ")
    assert(er.memberTable("pkg") === "pkg")
  }

  test("a self-referential link converts both endpoint columns in one node") {
    val er = ErMeta(Map("depends" -> (("m", "m"))), "m", fields)
    assert(er.messyItems.toSet === Set(("m", "node_id"), ("depends", "from_id"), ("depends", "to_id")))
    assert(er.idConvertNodes("map").map(_.name).sorted === Seq("id_convert_depends", "id_convert_m"))
  }

  test("grouping stage reads rewritten ids end-to-end through the engine DAG") {
    val work = TestSpark.tempDir("graft_ermeta").toString
    val cat = new Catalog(spark, work)
    // "numpy >= 1.2" is a messy alias of the canonical "numpy" package
    cat.write(Seq(
      ("numpy", "pandas"),
      ("pandas", "numpy >= 1.2")).toDF("pkg", "req"), "raw")

    val er = ErMeta(meta.subgraphs, "req", fields)
    val mappingNode = new DfNode("er_resolution",
      inputIds = Seq("raw"), outputIds = Seq("er_mapping"),
      fn = { case Seq(_) =>
        Seq(Seq((md5str("numpy >= 1.2"), md5str("numpy"))).toDF("messy_id", "new_id"))
      })
    val nodes = meta.extractionNodes ++ Seq(mappingNode) ++
      er.idConvertNodes("er_mapping") ++ meta.groupingNodes(er.memberTable)
    new EtlGroup("ermeta_e2e", nodes).execute(cat, maxActiveRun = 2)

    val grouped = cat.read("gnode_package")
    val ids = grouped.select("node_id").as[String].collect().toSet
    assert(!ids.contains(md5str("numpy >= 1.2")), "messy id leaked into the grouped table")
    assert(ids === Set(md5str("numpy"), md5str("pandas")))
    // the rewritten link endpoint resolves against the grouped population
    val link = cat.read("glink_requires")
    val dangling = link.join(grouped, link("to_id") === grouped("node_id"), "left_anti").count()
    assert(dangling === 0)
    // COALESCE in the grouping SQL kept a name for every survivor
    assert(grouped.filter(col("name").isNull).count() === 0)
  }

  private def md5str(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
