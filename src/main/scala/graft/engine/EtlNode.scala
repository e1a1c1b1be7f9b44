package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Unit of dataflow: declares `inputIds`/`outputIds`, lifecycle start -> run -> end.
  *
  * Spark-native equivalent of the reference's `ETL` base class
  * (reference: batch_framework/etl.py:27-177). Ids double as DAG vertices; an
  * [[EtlGroup]] wires nodes by shared ids. `doCache=true` snapshots inputs+outputs
  * to `{id}_cache` after a successful run (etl.py:86-117), which is how the
  * reference implements incrementality (previous-run snapshot merge, a pure batch
  * pattern — no streaming state needed, SURVEY §2.11).
  */
trait EtlNode {
  def name: String = getClass.getSimpleName
  def inputIds: Seq[String]
  def outputIds: Seq[String]
  def doCache: Boolean = false

  /** Pre-run hook (reference `start`, etl.py:74-77). */
  def start(cat: Catalog): Unit = ()

  /** The actual work: read `inputIds`, write every id in `outputIds`. */
  def run(cat: Catalog): Unit

  /** Post-run hook (reference `end`). */
  def end(cat: Catalog): Unit = ()

  /** Full lifecycle. Validates that every declared output actually materialized. */
  final def execute(cat: Catalog): Unit = {
    start(cat)
    run(cat)
    val missing = outputIds.filterNot(cat.exists)
    require(missing.isEmpty, s"ETL node '$name' did not materialize outputs: ${missing.mkString(", ")}")
    end(cat)
    // snapshots run after end(), matching the reference's _end ordering (etl.py:74-117)
    if (doCache) (inputIds ++ outputIds).distinct.foreach(cat.snapshot)
  }
}

/** Register parquet inputs as temp views, run one SQL per output id, write results.
  *
  * Equivalent of the reference's `SQLExecutor` (etl.py:317-397): there, inputs are
  * registered into DuckDB as Arrow tables and each output id maps to one SQL string
  * wrapped as `SELECT * FROM ({sql})` (etl.py:387). Here the SQL goes through the
  * full Catalyst pipeline (parse/analyze/optimize/codegen) and each output is a
  * distributed parquet write — operator boundaries *within* the SQL are pipelined
  * by whole-stage codegen instead of materialized.
  *
  * As in the reference (etl.py:345-349), output ids and SQL keys must agree —
  * enforced here by construction (`outputIds = sqls.keys`).
  *
  * The reference's RDB-only storage configuration (`CREATE TABLE {id} AS`,
  * etl.py:390-394, S4) is a property of the id, not of the node: an output id
  * that [[EtlGroup.execute]] marks (its [[EtlGroup.lazyIds]], always) lands
  * as a lazy in-session table, never on disk.
  */
class SqlNode(
    override val name: String,
    val inputIds: Seq[String],
    sqls: Map[String, String],
    override val doCache: Boolean = false)
  extends EtlNode {

  val outputIds: Seq[String] = sqls.keys.toSeq.sorted

  def run(cat: Catalog): Unit = {
    val s = SqlNode.nodeSession(cat)
    inputIds.foreach(id => cat.readAny(id, s).createOrReplaceTempView(id))
    outputIds.foreach { out =>
      val sql = sqls(out)
      try {
        cat.write(s.sql(s"SELECT * FROM ($sql)"), out)
      } catch {
        case e: Throwable =>
          // error context = node name + SQL text (reference etl.py:218-232)
          throw new RuntimeException(s"SqlNode '$name' output '$out' failed; SQL:\n$sql", e)
      }
    }
  }
}

object SqlNode {
  /** Node-session broadcast ceiling in bytes: 64 MB (the reason is at
    * [[nodeSession]]). */
  private[graft] val broadcastThreshold: String = (64L << 20).toString

  /** The child session one node run works in, for [[SqlNode]] and [[DfNode]].
    *
    * Isolation: a temp-view namespace per node run (the Spark analogue of
    * the reference's per-cursor DuckDB registration, rdb.py:80-88), so no
    * view leaks into the long-lived session and concurrent nodes sharing an
    * input id cannot race on register/drop of the same view name. Plans a
    * node builds bind to this session, so Catalog.write's statistics-gated
    * static scope adjusts ITS conf without racing sibling nodes that
    * EtlGroup runs in parallel.
    *
    * Broadcast ceiling: every leaf this session sees is a Catalog-managed
    * parquet dataset, so plan-time size estimates are exact file sizes — and
    * a dimension table of tens of MB joined against a fan-out fact stream
    * must broadcast, not sort-merge. Spark's 10 MB default is sized for
    * small driver heaps; measured here (ScaleFlagship ×250): the final graph
    * join's 15 MB customer-node side crossing 10 MB flipped a 685M-row
    * stream from BroadcastHashJoin to SortMergeJoin and cost 568s where ~75s
    * is linear. 64 MB parquet ≈ a few hundred MB hashed — routine broadcast
    * traffic on a production cluster, and the conf is set on this child
    * session only, never the caller's. */
  private[graft] def nodeSession(cat: Catalog): SparkSession = {
    val s = cat.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
    s
  }
}

/** Whole-table transform node: `Seq[DataFrame] => Seq[DataFrame]`.
  *
  * Equivalent of the reference's `ObjProcessor` (etl.py:400-480) minus the
  * pandas/pyarrow/vaex container distinction — all four reference container kinds
  * map to `DataFrame` (SURVEY §1.3). The transform returns *lazy* plans; nothing
  * materializes until the parquet write, so a transform chain is one Spark job,
  * not N driver-side table copies.
  */
class DfNode(
    override val name: String,
    val inputIds: Seq[String],
    val outputIds: Seq[String],
    fn: Seq[DataFrame] => Seq[DataFrame],
    override val doCache: Boolean = false)
  extends EtlNode {

  def run(cat: Catalog): Unit = {
    val s = SqlNode.nodeSession(cat)
    val outs =
      try fn(inputIds.map(id => cat.readAny(id, s)))
      catch {
        case e: Throwable =>
          throw new RuntimeException(s"DfNode '$name' transform failed", e)
      }
    require(outs.length == outputIds.length,
      s"DfNode '$name': transform returned ${outs.length} tables for ${outputIds.length} output ids")
    outputIds.zip(outs).foreach { case (id, df) => cat.write(df, id) }
  }
}

/** Incremental transform node — the reference's crawl pattern as a first-class
  * node (crawl.py:117-153, canon/main.py:51-69): on re-run, the key-diff
  * against the previous output snapshot decides which input rows are NEW; only
  * those go through `fn`, and results merge with the snapshot (inputs are
  * key-disjoint after the anti-join, so no row is transformed twice). doCache
  * is forced on so each run leaves the snapshot the next run diffs against.
  *
  * At scale this is the whole point of incrementality: `fn` may be the
  * expensive stage (scoring, enrichment, an external call), and it only ever
  * sees the delta. */
class IncrementalDfNode(
    override val name: String,
    inputId: String,
    outputId: String,
    keyCols: Seq[String],
    fn: DataFrame => DataFrame)
  extends EtlNode {

  val inputIds: Seq[String] = Seq(inputId)
  val outputIds: Seq[String] = Seq(outputId)
  override def doCache: Boolean = true

  def run(cat: Catalog): Unit = {
    val input = cat.read(inputId)
    val out =
      if (cat.existsCache(outputId)) {
        val cache = cat.loadCache(outputId)
        val newRows = input.join(cache, keyCols, "left_anti") // key diff (J7)
        graft.ops.Incremental.mergeKeepFirst(fn(newRows), cache, keyCols)
      } else fn(input)
    cat.write(out, outputId)
  }
}

/** Statically-typed transform node: `Dataset[I] => Dataset[O]` with case-class
  * encoders. The reference infers container types from Python annotations and
  * asserts them at runtime (etl.py:438-457); with encoders the same contract
  * moves to the compiler — a transform that doesn't produce `O` does not build. */
class TypedNode[I: Encoder, O: Encoder](
    override val name: String,
    inputId: String,
    outputId: String,
    fn: Dataset[I] => Dataset[O],
    override val doCache: Boolean = false)
  extends EtlNode {

  val inputIds: Seq[String] = Seq(inputId)
  val outputIds: Seq[String] = Seq(outputId)

  def run(cat: Catalog): Unit = {
    val out =
      try fn(cat.read(inputId).as[I])
      catch {
        case e: Throwable =>
          throw new RuntimeException(s"TypedNode '$name' transform failed", e)
      }
    cat.write(out.toDF(), outputId)
  }
}
