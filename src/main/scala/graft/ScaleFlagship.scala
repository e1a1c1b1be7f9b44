package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, EtlGroup}

/** Off-toy scale proof for the WHOLE flagship pipeline shape: extraction →
  * ER (feature/block/pair/score/cluster) → id rewrite → grouping →
  * LinkIDValidators → final graph read, the reference's run_whole.py DAG —
  * `q_metagraph_whole` proves it at sf0.1; this runs the [[Flagship]]
  * config on a ×N corpus and attributes wall time PER STAGE (each stage
  * family executes as its own EtlGroup in dependency order — semantically
  * identical to the one concurrent group, but separable on the clock).
  *
  * Corpus scaling is id-disjoint replication: copy `rep` of every table
  * shifts its keys by rep·stride and suffixes its entity names, so node
  * counts, ER block counts, and link cardinalities all grow ×N (a naive row
  * copy would dedup away in the DISTINCT extractions). Part names get their
  * first TWO tokens rep-suffixed because those are the ER blocking keys —
  * without the suffix a ×100 corpus collapses into ~90 giant blocks and the
  * pair generator's skew cap (not the pipeline) becomes the thing measured;
  * with it, per-block size stays that of the base corpus and ER work scales
  * linearly, which is the production shape (more entities, not
  * proportionally hotter blocks).
  */
object ScaleFlagship {

  def main(args: Array[String]): Unit = {
    // comma-separated list → one record with a per-count `points` array
    // (the ×100-then-×250 linearity proof of the result stage runs as ONE
    // invocation); the LAST (largest) count is the headline record
    val copiesList = sys.env.getOrElse("SCALE_FLAGSHIP_COPIES", "100")
      .split(",").map(_.trim.toInt).toSeq
    // dedicated env (not SPARK_GRAFT_SF_DIR): the scale axis here is REPLICAS
    // of the sf0.01 base, not a bigger base — ER cluster sizes grow with the
    // per-replica corpus, and the final graph join fans out ~quadratically in
    // cluster size (measured: sf0.001 base ×2/link, sf0.01 ×36/link), so a
    // sf0.1 base at ×100 would blow the result join to billions of rows while
    // ×100 disjoint sf0.01 replicas keep every stage linear in copies — the
    // production shape (more entities, not hotter blocks)
    val sfDir = sys.env.getOrElse("SCALE_FLAGSHIP_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    // one sample per stage; a later point's stages overwrite the earlier
    // point's under the same tags, so the recorder ends holding the headline
    val rec = new Harness.Recorder(spark)

    case class Point(copies: Int, counts: Map[String, Long], stageSecs: Map[String, Double],
                     graphRows: Long, mappingRows: Long)

    def runPoint(copies: Int): Point = {
    // --- id-disjoint ×copies corpus, projected to the columns the pipeline
    // reads, materialized and linked like real input tables
    val work = Harness.workDir("graft_scale_flagship")
    val reps = broadcast(spark.range(copies).select(col("id").as("rep")))
    def base(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    // stride derived from the MEASURED max base key (one untimed setup job),
    // not assumed: a fixed 10M stride silently corrupts the scaled corpus
    // with replica-key collisions if SCALE_FLAGSHIP_SF_DIR points at a base
    // whose keys exceed it (sf10 orderkeys reach ~60M)
    def maxOf(name: String, cols: String*): DataFrame =
      base(name).select(max(cols.map(c => col(c).cast("long")).reduce(greatest(_, _))).as("m"))
    val maxBaseKey = Seq(
        maxOf("customer", "c_custkey"),
        maxOf("orders", "o_orderkey", "o_custkey"),
        maxOf("lineitem", "l_orderkey", "l_partkey"),
        maxOf("part", "p_partkey"))
      .reduce(_ union _).agg(max("m")).head.getLong(0)
    val stride = math.max(10000000L,
      math.pow(10, math.ceil(math.log10(maxBaseKey.toDouble + 1))).toLong)
    require(maxBaseKey < stride, s"stride $stride <= max base key $maxBaseKey")
    def shifted(c: String): org.apache.spark.sql.Column =
      (col(c) + col("rep") * stride).as(c)

    base("customer").crossJoin(reps)
      .select(shifted("c_custkey"),
        concat(col("c_name"), lit("#"), col("rep")).as("c_name"))
      .write.mode("overwrite").parquet(s"$work/in/customer.parquet")
    base("orders").crossJoin(reps)
      .select(shifted("o_orderkey"), shifted("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$work/in/orders.parquet")
    base("lineitem").crossJoin(reps)
      .select(shifted("l_orderkey"), shifted("l_partkey"))
      .write.mode("overwrite").parquet(s"$work/in/lineitem.parquet")
    base("part").crossJoin(reps)
      .withColumn("toks", split(col("p_name"), " "))
      .select(shifted("p_partkey"),
        concat_ws(" ",
          concat(element_at(col("toks"), 1), lit("_"), col("rep")),
          concat(element_at(col("toks"), 2), lit("_"), col("rep")),
          array_join(slice(col("toks"), 3, 1000), " ")).as("p_name"))
      .write.mode("overwrite").parquet(s"$work/in/part.parquet")

    val cat = new Catalog(spark, s"$work/cat")
    val counts = Flagship.metagraph.inputIds.map { id =>
      cat.link(id, s"$work/in/$id.parquet")
      id -> spark.read.parquet(s"$work/in/$id.parquet").count()
    }.toMap

    // --- the pipeline, stage family by stage family
    Flagship.stages.foreach { case (stage, nodes) =>
      rec.phase(stage, k = 1) {
        new EtlGroup(s"flagship_$stage", nodes, dropIntermediates = false)
          .execute(cat, maxActiveRun = 4)
      }
    }
    val stageSecs = rec.secs

    val graph = cat.read("flagship_graph")
    val graphRows = graph.count()
    val mapping = cat.read("er_mapping")
    val mappingRows = mapping.count()
    // the flagship invariant: ER actually rewrote — no messy id survives
    // (the validate stage already threw if any link endpoint dangled)
    val messyLeft = graph.join(mapping,
      graph("to_id") === mapping("messy_id"), "left_semi").count()
    require(messyLeft == 0L, s"$messyLeft link endpoints still carry messy ids after ER rewrite")
    System.err.println(f"[scale_flagship] x$copies total=${stageSecs.values.sum}%.1fs " +
      s"graph_rows=$graphRows")
    // free this point's corpus + catalog NOW: every count above is already
    // materialized, and a multi-point run holding all work dirs until JVM
    // exit stacks ~13 GB (×100) + ~34 GB (×250) + ~55 GB (×400) of parquet
    // on one disk — eager deletion caps peak usage at the largest point
    TempCleanup.deleteNow(work)
    Point(copies, counts, stageSecs, graphRows, mappingRows)
    } // runPoint

    val points = copiesList.map(runPoint)
    val p = points.last

    Harness.emit("scale_flagship", "copies" -> p.copies,
      "customers" -> p.counts("customer"), "orders" -> p.counts("orders"),
      "lineitems" -> p.counts("lineitem"), "parts" -> p.counts("part"),
      "points" -> points.map(pt => Harness.obj("copies" -> pt.copies,
        "total_sec" -> pt.stageSecs.values.sum, "result_sec" -> pt.stageSecs.getOrElse("result", 0.0),
        "graph_rows" -> pt.graphRows)),
      "stage_secs" -> p.stageSecs, "total_sec" -> p.stageSecs.values.sum,
      "graph_rows" -> p.graphRows, "er_mapping_rows" -> p.mappingRows,
      "messy_left" -> 0, "validators_pass" -> true,
      "stage_stragglers" -> rec.stragglers, "loads" -> rec.loads)
    spark.stop()
  }
}
