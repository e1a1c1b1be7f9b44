package graft.engine

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graft.GraftSql

/** Named-dataset catalog: object id <-> parquet dataset under a base directory.
  *
  * Spark-native equivalent of the reference's Storage/FileSystem stack
  * (reference: batch_framework/storage.py:15-253, batch_framework/filesystem.py:100-295).
  * The reference resolves `id -> id + '.parquet'` (storage.py:133-143) on a local or
  * Dropbox fsspec filesystem; here ids resolve to parquet *datasets* (directories of
  * part files) on any Hadoop-compatible FS (local, hdfs://, s3a://, ...), so the same
  * catalog works unchanged on a 1000-executor cluster over object storage. Chunked /
  * parallel transfer (filesystem.py:167-295) is native to the Hadoop writers.
  *
  * Snapshots: `snapshot(id)` copies a dataset to `{id}_cache`, mirroring the
  * reference's incremental-cache mechanism (etl.py:86-127).
  */
class Catalog(val spark: SparkSession, val baseDir: String) {

  // id -> external parquet location registered via link() (no data copy)
  private val external = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // id -> known read schema. A schemaless parquet read runs a 1-task footer
  // job for inference — pure floor cost in a DAG, where the catalog itself
  // wrote the dataset one node earlier and KNOWS its schema (and where a
  // linked input's schema is immutable for the catalog's lifetime). Measured
  // on the 4-node as-of DAG at sf0.1: ~6 such jobs × 0.1-0.3s each. The map
  // is advisory: entries are dropped on link/drop, copied on copy/snapshot,
  // and normalized to the all-nullable form a parquet read reports. An id is
  // inferred once even under concurrent readers (see [[readParquet]]).
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def asReadSchema(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = asReadSchema(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asReadSchema(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = asReadSchema(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  def path(id: String): String =
    Option(external.get(id)).getOrElse(s"$baseDir/$id.parquet")

  /** Register an existing parquet dataset under an id WITHOUT copying it — the
    * scale-correct way to stage inputs (a whole-table rewrite per run just to name
    * a dataset would be a 100 TB copy). Linked ids are read-only by convention:
    * writes to a linked id fall back to the catalog's own namespace. */
  def link(id: String, externalPath: String): Unit = {
    external.put(id, externalPath)
    schemas.remove(id)
    ()
  }

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // lazy in-session tables (the RDB-only storage configuration, reference
  // etl.py:390-394 S4), held as their plans: see [[write]] and [[readAny]]
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def read(id: String): DataFrame = readAny(id, spark)

  /** Read an id for an arbitrary session (in-session table or parquet
    * dataset). Another session reads an in-session table through its
    * analyzed plan, so nothing is published in a shared namespace. A known
    * schema (recorded at write time, or inferred once by the first
    * schemaless read) skips the per-read footer-inference job. */
  def readAny(id: String, s: SparkSession): DataFrame =
    Option(tables.get(id)) match {
      case Some(df) if df.sparkSession eq s => df
      case Some(df) => GraftSql.ofRows(s, df.queryExecution.analyzed)
      case None => readParquet(s, id, path(id))
    }

  /** Read the parquet dataset at `p` with the schema memoized under
    * `memoId`, else infer it once and memoize it. Concurrent first readers
    * of one id (an EtlGroup's sibling nodes over a linked input) wait for
    * the one inference in flight instead of each running its own footer
    * job: on the flagship pipeline, 4 inferences instead of 16. */
  private def readParquet(s: SparkSession, memoId: String, p: String): DataFrame =
    s.read.schema(schemas.computeIfAbsent(memoId, _ => s.read.parquet(p).schema)).parquet(p)

  // ids whose write() lands as a lazy in-session plan instead of parquet —
  // DAG-internal intermediates that exist only to hand rows to the next
  // node pay a parquet encode + commit + footer-read + job-boundary floor
  // per hop for no durability benefit. Every EtlGroup run marks its
  // [[EtlGroup.lazyIds]]; see [[write]] for the measured trade.
  // REFCOUNTED, not a flat set: two concurrent EtlGroup runs over one
  // catalog may mark overlapping ids, and the first run's finally-unmark
  // must not flip the second run's remaining intermediate writes back to
  // durable parquet mid-run — an id stays marked until every marker has
  // unmarked it.
  private val inDbIds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Route future [[write]]s of `ids` to lazy in-session plans (the
    * RDB-storage configuration applied per-id rather than per-node). Marked
    * ids stay readable through [[read]]/[[readAny]] like any other id.
    * [[EtlGroup.execute]] marks per run and must [[unmarkInDb]] when the
    * run ends — the mark is catalog state, and leaving it set would silently
    * make every FUTURE write of the same id non-durable. Marks are
    * refcounted per id: concurrent runs marking the same id each hold an
    * independent mark, and the id reverts to durable only when the LAST
    * marker unmarks (balanced mark/unmark pairs per caller).
    *
    * DURABILITY CONTRACT: a marked id must be recomputable from its DAG.
    * Overwrite semantics delete any stale durable dataset left under the
    * same id by an earlier run, and the lazy replacement only ever
    * materializes inside this session's terminal actions — so a crash
    * mid-run leaves the id with no files, by design (see [[write]]). */
  private[engine] def markInDb(ids: Seq[String]): Unit = {
    ids.foreach(id => inDbIds.merge(id, 1, (a, b) => a + b))
    ()
  }

  /** Undo one [[markInDb]] of `ids`: each id's refcount drops by one, and
    * writes of it are durable parquet again only when no other marker
    * remains. Already-registered in-session tables stay readable until
    * overwritten. Unmarking an id that was never marked is a no-op. */
  private[engine] def unmarkInDb(ids: Seq[String]): Unit = {
    ids.foreach(id => inDbIds.computeIfPresent(id, (_, n) => if (n <= 1) null else n - 1))
    ()
  }

  /** True while at least one caller holds an in-db mark on `id`. */
  private[engine] def isInDb(id: String): Boolean = inDbIds.containsKey(id)

  /** Full overwrite per run — the reference has no updates (storage.py:151-155).
    * Always writes into the catalog's own namespace, never over a linked input. */
  def write(df: DataFrame, id: String): Unit = {
    retire(id)
    if (inDbIds.containsKey(id)) {
      // a durable dataset left under the same id by an earlier catalog would
      // shadow this lazy table for every FUTURE catalog over the same
      // baseDir (this session reads the table; the next one reads stale
      // files). Overwrite semantics say the old rows are gone — delete, so
      // a later reader fails loudly instead of serving outdated data.
      // Register the lazy replacement FIRST, then delete: a failed delete
      // leaves the run fully functional in-session, and the no-files window
      // after a crash is covered by the [[markInDb]] durability contract —
      // marked ids are DAG-recomputable intermediates by definition, so
      // "recompute from the DAG" is the recovery path, not the stale rows.
      // Deliberately no persist(): measured at sf0.1 on the 4-node as-of
      // DAG, pure composition beat the parquet hand-off 1.42s vs 2.30s while
      // both cached variants (eager count, lazy persist-marked) were SLOWER
      // than parquet (3.3-4.1s) — building the columnar cache costs more
      // than recomputing cheap intermediates.
      tables.put(id, df)
      val stale = new Path(path(id))
      val sf = fs(stale)
      if (sf.exists(stale)) sf.delete(stale, true)
    }
    else {
      // Statistics-gated static write (r19): a write that reads little (the
      // planner's own leaf estimates, free) runs with AQE off and a handful
      // of shuffle partitions — an EtlGroup DAG hand-off otherwise pays
      // per-stage driver re-planning and a 32-wide final stage for a few MB
      // of rows, multiplied by every node in the DAG (q_metagraph_whole: 55
      // jobs). The gate reads input bytes, not the output estimate: a join's
      // estimate is the product of its children's, so the flagship's 4-way
      // link_ordered_material join over a few MB claimed far more than the
      // gate, kept AQE, and AQE coalesced its DISTINCT to 2 partitions that
      // every map-only hand-off after it inherited (2 tasks on 4 cores).
      // Writes that really read past the gate, or read a leaf the planner
      // cannot size (a relation over a bare RDD), keep AQE for its
      // skew/coalesce duties. Scoped ONLY for plans bound to a per-node
      // private session (SqlNode/DfNode isolation): mutating the SHARED
      // session's conf here would race sibling nodes that EtlGroup runs
      // concurrently. Shared-session callers (query builders) wrap their own
      // StaticScope when it pays.
      if (df.sparkSession ne spark)
        graft.ops.StaticScope.scoped(df, minParts = 4, estimate = graft.ops.StaticScope.readBytes) {
          df.write.mode(SaveMode.Overwrite).parquet(path(id))
        }
      else df.write.mode(SaveMode.Overwrite).parquet(path(id))
      schemas.put(id, asReadSchema(df.schema).asInstanceOf[org.apache.spark.sql.types.StructType])
    }
    ()
  }

  /** Every overwrite path must retire the id's previous identity first: the
    * external link (writes never target linked inputs), the schema memo (the
    * new dataset may have a new schema), and an in-session table (which
    * readAny would otherwise serve forever, shadowing the new files).
    * Returns whether the id was linked. */
  private def retire(id: String): Boolean = {
    schemas.remove(id)
    tables.remove(id)
    external.remove(id) != null
  }

  /** Hive-style partitioned overwrite: one directory per partition value, so
    * downstream reads with a partition-column filter prune at the source —
    * the layout a 100 TB dataset needs (by date/shard), not a reference
    * feature but the scale-correct S2 variant. */
  def writePartitioned(df: DataFrame, id: String, partitionCols: Seq[String]): Unit = {
    // retire() invalidates (not updates) the schema memo: a Hive-layout read
    // derives the partition columns from directory names, so the first read
    // re-infers and re-memoizes the layout-correct form
    retire(id)
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path(id))
  }

  /** Z-order-clustered overwrite: rows laid out along the Morton curve of
    * `zorderCols`, giving every output file a tight min/max envelope on ALL
    * clustered columns — selective filters on any of them prune files, where
    * [[writePartitioned]] only prunes on the partition column and a linear
    * sort only on its leading key. See [[graft.ops.ZOrder]]. */
  def writeZOrdered(df: DataFrame, id: String, zorderCols: Seq[String],
                    numFiles: Int): Unit = {
    retire(id)
    graft.ops.ZOrder.clusteredWrite(df, zorderCols, path(id), numFiles)
  }

  /** Bucketed managed table: rows hash-clustered into `numBuckets` files per
    * the bucket columns. Two tables bucketed the same way equi-join WITHOUT a
    * shuffle — the co-located-join layout for repeatedly-joined 100 TB facts.
    * Bucketed tables live in the session catalog (saveAsTable), read them
    * back with [[readTable]]. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], numBuckets: Int): Unit = {
    // a previous JVM may have left the managed location without the catalog
    // entry — drop both so the overwrite is idempotent across sessions
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new Path(s"$warehouse/$table")
    val f = fs(loc)
    if (f.exists(loc)) f.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  def readTable(table: String): DataFrame = spark.table(table)

  def exists(id: String): Boolean =
    tables.containsKey(id) || {
      val p = new Path(path(id))
      fs(p).exists(p)
    }

  def drop(id: String): Unit = {
    // a LINKED id is unlinked, never deleted: the catalog must not destroy
    // data it didn't write (path(id) would resolve to the external location,
    // so the delete below would remove someone else's input files)
    if (retire(id)) return
    val p = new Path(path(id))
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
    // a pointer-published snapshot (object-store path) keeps its data in a
    // versioned directory named by the pointer — remove both
    retirePointer(f, new Path(s"$baseDir/$id.ptr"))
    ()
  }

  def copy(fromId: String, toId: String): Unit = {
    // retire the DESTINATION's previous identity BEFORE resolving its path:
    // copy is an overwrite, and the one-retirement-per-overwrite rule applies
    // — with toId still linked, path(toId) would resolve to the external
    // location and the delete+copy below would clobber data the catalog
    // didn't write (the same hazard drop() guards against). After retire the
    // copy lands in the catalog's own namespace, like write().
    retire(toId)
    val dst = new Path(path(toId))
    Option(tables.get(fromId)) match {
      case Some(df) =>
        // an in-session source (a marked id's lazy plan) has no files to
        // copy — write its rows, the same rule as snapshot()
        df.write.mode(SaveMode.Overwrite).parquet(dst.toString)
        schemas.put(toId, asReadSchema(df.schema).asInstanceOf[org.apache.spark.sql.types.StructType])
      case None =>
        val src = new Path(path(fromId))
        val dstFs = fs(dst)
        if (dstFs.exists(dst)) dstFs.delete(dst, true)
        FileUtil.copy(fs(src), src, dstFs, dst, false, spark.sparkContext.hadoopConfiguration)
        Option(schemas.get(fromId)).foreach(schemas.put(toId, _))
    }
    ()
  }

  // --- incremental-cache snapshots (reference etl.py:86-127) ---
  def cacheId(id: String): String = id + "_cache"

  /** True when the filesystem gives ATOMIC directory rename — the property
    * [[snapshot]]'s copy-then-rename publication relies on. HDFS and local
    * FS do; object stores (s3a, gs, abfs, …) emulate rename as
    * copy-object-per-key + delete, so a concurrent reader can observe a
    * half-renamed dataset. Overridable via sys prop `graft.fs.atomicRename`
    * (for tests and for schemes this list misjudges). */
  protected def atomicRename(f: FileSystem): Boolean =
    sys.props.get("graft.fs.atomicRename").map(_.toBoolean).getOrElse {
      val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
      !Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
        "cos", "cosn", "swift", "oci").contains(scheme)
    }

  private def cachePtr(id: String) = new Path(s"$baseDir/${cacheId(id)}.ptr")

  /** Bounded retry for TRANSIENT store faults on small idempotent metadata
    * reads (object stores throw sporadic 5xx-style IOExceptions; the
    * connectors surface them as IOException after their own internal
    * retries give up). FileNotFoundException is excluded — a missing object
    * is a protocol STATE (pre-first-publish, post-drop), not a fault, and
    * retrying it would only turn the contract's allowed-miss failure into
    * a 150 ms-slower identical failure. Scoped to the pointer read: a
    * dataset scan's fault handling belongs to Spark's task retry, not here. */
  private def retryingTransient[A](what: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.FileNotFoundException => throw e
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 3) throw e
          System.err.println(s"[catalog] transient fault on $what (attempt $attempt): $e")
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Where the current cache snapshot for `id` lives: the pointer file's
    * target when one exists (object-store path), else the fixed rename
    * destination. */
  private def cachePath(id: String): Path = {
    val ptr = cachePtr(id)
    val f = fs(ptr)
    retryingTransient(s"pointer read $ptr") {
      if (f.exists(ptr)) {
        val in = f.open(ptr)
        try new Path(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      } else new Path(s"$baseDir/${cacheId(id)}.parquet")
    }
  }

  /** Delete a superseded snapshot pointer AND the version directory it
    * targets (retiring only the pointer would orphan a full snapshot copy),
    * then GC every remaining version directory of the same id.
    *
    * `graceMs` follows the call site's intent: [[drop]] is explicit
    * destruction of the id (grace 0 — no version may outlive it), but the
    * legacy-pointer cleanup on [[snapshot]]'s rename path keeps the normal
    * grace window — during a protocol migration (a stale
    * `graft.fs.atomicRename` override, a rolling config change) a CONCURRENT
    * pointer-mode snapshot may still be materializing into a fresh version
    * directory, and deleting that mid-write would let its later PUT publish
    * a dangling target. */
  private def retirePointer(f: FileSystem, ptr: Path, graceMs: Long = 0L): Unit = {
    val cid = ptr.getName.stripSuffix(".ptr")
    if (f.exists(ptr)) {
      val ver = retryingTransient(s"pointer read $ptr") {
        val in = f.open(ptr)
        try new Path(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
      if (f.exists(ver)) f.delete(ver, true)
      f.delete(ptr, false)
    }
    gcVersions(f, cid, keep = None, graceMs = graceMs)
    ()
  }

  /** Millis-since-epoch a version directory was created at, parsed from its
    * `.{cid}.v{millis}_{nano}` name; legacy nano-only names (pre-r17) parse
    * as 0 = arbitrarily old, so they are always GC-eligible. */
  private def versionBirthMillis(name: String, cid: String): Long = {
    val stamp = name.stripPrefix(s".$cid.v")
    val millis = stamp.takeWhile(_ != '_')
    if (stamp.contains('_')) scala.util.Try(millis.toLong).getOrElse(0L) else 0L
  }

  /** Delete every `.{cid}.v*` version directory except `keep`, skipping
    * directories younger than `graceMs` — the published snapshot is `keep`;
    * anything else is either a superseded version or an orphan from a crash
    * between materialize and the pointer PUT (or from a lost concurrent
    * publish race). The grace window protects a CONCURRENT snapshot still
    * materializing into its own fresh directory: deleting that mid-write
    * would let its later pointer PUT publish a dangling target. Default
    * 15 min (sys prop `graft.fs.snapshotGcGraceMs`) — far beyond any
    * single snapshot copy, so steady-state orphans are bounded to one
    * grace window's worth. */
  private def gcVersions(f: FileSystem, cid: String, keep: Option[Path], graceMs: Long): Unit = {
    val base = new Path(baseDir)
    if (!f.exists(base)) return
    val now = System.currentTimeMillis()
    f.listStatus(base)
      .filter(_.getPath.getName.startsWith(s".$cid.v"))
      .filterNot(st => keep.exists(k => st.getPath.toUri.getPath == k.toUri.getPath))
      .filter { st =>
        // Birth time = the STORE-side mtime, not (only) the stamp embedded in
        // the directory name: legacy pre-millis names would parse as birth 0
        // (immediately GC-eligible, defeating the grace window for a
        // still-running old-format writer), and a name stamp is the WRITER's
        // wall clock — comparing it against this node's clock makes the
        // window vulnerable to cross-node skew. The name stamp stays as a
        // secondary floor via max(): disagreement errs toward KEEPING a
        // directory one extra sweep, never toward deleting a live one.
        val birth = math.max(st.getModificationTime,
          versionBirthMillis(st.getPath.getName, cid))
        now - birth >= graceMs
      }
      .foreach(st => f.delete(st.getPath, true))
    ()
  }

  private def snapshotGcGraceMs: Long =
    sys.props.get("graft.fs.snapshotGcGraceMs").map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Snapshot `id` to `{id}_cache`.
    *
    * On a rename-atomic cache FS (local/HDFS): materialize under a temp name
    * then rename, so a reader of the cache never observes a half-copied
    * dataset, and two concurrent snapshots of the same id cannot corrupt it
    * (last rename wins atomically).
    *
    * On an object-store cache FS (no atomic rename): materialize into a
    * fresh VERSIONED directory nobody reads yet, then publish it by
    * overwriting a small pointer file — a single-object PUT, whose
    * visibility IS atomic on object stores — and delete the previous
    * version. Readers resolve the pointer, so they only ever see a
    * fully-written snapshot.
    *
    * The rename-vs-pointer decision and every pointer operation run on the
    * CACHE-side filesystem (the cache always lives under baseDir) — a
    * linked id whose source files sit on a different store must not pick
    * the publication protocol from the source's capabilities. An id held
    * as an in-session table (a marked id) has no source files to copy;
    * its snapshot writes the table's rows into the same temp-then-publish
    * discipline. */
  def snapshot(id: String): Unit = {
    val cid = cacheId(id)
    val dst = new Path(s"$baseDir/$cid.parquet")
    val cf = fs(dst)
    // materialize the snapshot bytes into `target` (unpublished), whatever
    // the source kind: in-session rows or a durable file copy
    def materialize(target: Path): Unit = Option(tables.get(id)) match {
      case Some(df) => df.write.mode(SaveMode.Overwrite).parquet(target.toString)
      case None =>
        val src = new Path(path(id))
        FileUtil.copy(fs(src), src, cf, target, false, spark.sparkContext.hadoopConfiguration)
    }
    if (atomicRename(cf)) {
      val tmp = new Path(s"$baseDir/.$cid.tmp${System.nanoTime()}")
      materialize(tmp)
      if (cf.exists(dst)) cf.delete(dst, true)
      cf.rename(tmp, dst)
      // legacy pointer-mode snapshot, if any; normal grace — a concurrent
      // pointer-mode snapshot (protocol migration window) may be mid-write
      retirePointer(cf, cachePtr(id), graceMs = snapshotGcGraceMs)
    } else {
      val prev = if (cf.exists(cachePtr(id))) Some(cachePath(id)) else None
      val ver = new Path(s"$baseDir/.$cid.v${System.currentTimeMillis()}_${System.nanoTime()}")
      materialize(ver)
      val out = cf.create(cachePtr(id), true) // atomic-visibility PUT
      try out.write(ver.toString.getBytes("UTF-8"))
      finally out.close()
      // retire the captured prev immediately — it was the PUBLISHED target,
      // so no concurrent snapshot is materializing into it — then GC every
      // OTHER version the pointer no longer targets: versions orphaned by a
      // crash between materialize and the PUT, and by a lost
      // concurrent-publish race (two snapshots capturing the same prev).
      // Those unknown directories get a grace window, because one of them
      // may be a concurrent snapshot still materializing — deleting that
      // mid-write would let its later PUT publish a dangling target.
      prev.filter(p => p != ver && cf.exists(p)).foreach(cf.delete(_, true))
      gcVersions(cf, cid, keep = Some(ver), graceMs = snapshotGcGraceMs)
      // the legacy fixed-path snapshot is unreachable too: readers resolve
      // the pointer first
      if (cf.exists(dst)) cf.delete(dst, true)
    }
    schemas.remove(cid) // same rule as copy: no stale destination memo
    Option(tables.get(id)) match {
      case Some(df) =>
        schemas.put(cid, asReadSchema(df.schema).asInstanceOf[org.apache.spark.sql.types.StructType])
      case None => Option(schemas.get(id)).foreach(schemas.put(cid, _))
    }
    ()
  }

  def existsCache(id: String): Boolean = {
    val p = cachePath(id)
    fs(p).exists(p)
  }

  def loadCache(id: String): DataFrame =
    readParquet(spark, cacheId(id), cachePath(id).toString)

  // --- small JSON objects (configs / model artifacts; reference storage.py:77-112) ---
  def jsonPath(id: String): String = s"$baseDir/$id.json"

  def writeJson(id: String, content: String): Unit = {
    val p = new Path(jsonPath(id))
    val out = fs(p).create(p, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  def readJson(id: String): String = {
    val p = new Path(jsonPath(id))
    val in = fs(p).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }
}
