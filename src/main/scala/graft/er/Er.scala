package graft.er

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Entity-resolution pipeline (SURVEY §2.9) — the reference's ML/dataflow heart,
  * re-expressed as block-bounded DataFrame dataflow:
  *
  *   features -> blocking -> candidate pairs -> pair scoring -> connected components
  *   (MessyFeatureEngineer -> MessyBlocker -> MessyEntityPairer -> MessyPairSelector
  *    -> MessyClusterer, reference examples/graph/resolution/mapper/messy.py:19-448)
  *
  * plus gazetteer matching (CanonMatcher, canon.py:90-231), id rewrite
  * (convertor.py:17-115) and mapping combination (resolution/main.py:177-244).
  *
  * Scale contract (100 TB honest):
  *  - pair generation is ALWAYS block-bounded — the only join is an equi-join on
  *    block_key; there is no cross join anywhere in the pipeline;
  *  - oversized blocks (skewed keys) can be dropped with `maxBlockSize`, the same
  *    defense dedupe's fingerprinter uses against stop-word blocks;
  *  - connected components is an iterative DataFrame loop with checkpointing and
  *    an iteration cap — no driver-side graph materialization.
  */

/** Feature-expression builders (E1): deterministic replacements for the reference's
  * `messy_lambda`/`canon_lambda` per-record dicts (examples/meta.py:261-288).
  * All are codegen'd Catalyst expressions — no UDFs. */
object Features {

  /** `name.split(' ')[0].split(';')[0]` (meta.py:263). */
  def beforeWhitespace(c: Column): Column =
    substring_index(substring_index(c, " ", 1), ";", 1)

  /** `name.split('[')[0].split('(')[0]` (meta.py:264). */
  def beforeUpperBracket(c: Column): Column =
    substring_index(substring_index(c, "[", 1), "(", 1)

  /** `name.split('<')[0].split('>')[0].split('=')[0].split('~')[0]` (meta.py:265). */
  def beforeMarks(c: Column): Column =
    substring_index(substring_index(substring_index(substring_index(c, "<", 1), ">", 1), "=", 1), "~", 1)

  /** Last whitespace token (gazetteer block predicate for noun-like canon names). */
  def lastToken(c: Column): Column = substring_index(c, " ", -1)

  /** `'<start> ' + name.split('.')[0]` (meta.py:284-288, F6). */
  def titlePrefix(c: Column): Column =
    concat(lit("<start> "), substring_index(c, ".", 1))

  /** `'<start> ' + '.\n'.join(name.split('.')[:n])` (meta.py:286-288, F6). */
  def firstSentences(c: Column, n: Int): Column =
    concat(lit("<start> "), array_join(slice(split(c, "\\."), 1, n), ".\n"))
}

/** One comparison field of the pair-scoring model (reference `dedupe_fields`,
  * examples/meta.py:255-260): `Exact` -> 0/1 equality, `StringDist` -> normalized
  * Levenshtein similarity (the Spark-native stand-in for dedupe's affine-gap
  * string distance, SURVEY §7.4). `weight` is the field's fixed classifier weight. */
final case class DedupeField(name: String, kind: DedupeField.Kind, weight: Double)

object DedupeField {
  sealed trait Kind
  case object Exact extends Kind
  case object StringDist extends Kind
  /** dedupe's actual comparator family: affine-gap alignment (the native
    * codegen'd [[graft.expr.AffineGapSimilarity]] expression). */
  case object AffineGap extends Kind

  /** Per-field similarity in [0,1] between columns `a` and `b`. */
  def similarity(f: DedupeField, a: Column, b: Column): Column = f.kind match {
    case Exact => (a === b).cast("double")
    case StringDist =>
      lit(1.0) - levenshtein(a, b).cast("double") /
        greatest(length(a), length(b)).cast("double")
    case AffineGap => graft.expr.AffineGapSimilarity(a, b)
  }
}

/** E2 — deterministic blocking: emit (block_key, messy_id) pairs from a predicate
  * set, the Spark-native port of dedupe's fingerprinter (messy.py:151-206). Each
  * predicate is a column expression over the feature row; keys are prefixed with
  * the predicate index so equal values from different predicates never collide
  * (dedupe's `predicate:value` convention). */
object Blocking {

  /** Default predicate set ≈ the learned models' usual shape: whole field,
    * first token, 4-char prefix. */
  def defaultPredicates(c: Column): Seq[Column] =
    Seq(c, Features.beforeWhitespace(c), substring(c, 1, 4))

  /** Build the block table. Null/empty keys are dropped (concat propagates null,
    * so a null field never produces a shared block); output is distinct. */
  def blockTable(features: DataFrame, idCol: String, predicates: Seq[Column]): DataFrame = {
    val keyed = predicates.zipWithIndex.map { case (p, i) =>
      concat(lit(s"$i:"), p.cast("string"))
    }
    features
      .select(col(idCol).as("messy_id"), explode(array(keyed: _*)).as("block_key"))
      .filter(col("block_key").isNotNull && !col("block_key").rlike("^[0-9]+:$"))
      .distinct()
  }
}

/** E3 — candidate pair generation: self-join of the block table on block_key with
  * `l.messy_id < r.messy_id` (messy.py:226-242). Strictly block-bounded: cost is
  * Σ_b |block_b|², never |table|². */
object Pairing {

  /** Distinct candidate id pairs (east < west). `maxBlockSize > 0` drops blocks
    * larger than the cap before pairing — skew/stop-word defense; at 100 TB a
    * single hot key would otherwise produce a quadratic straggler. */
  def candidatePairs(blocks: DataFrame, maxBlockSize: Int = 0): DataFrame = {
    val b =
      if (maxBlockSize <= 0) blocks
      else {
        val sizes = blocks.groupBy("block_key").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBlockSize).drop("__n")
        blocks.join(sizes, Seq("block_key"), "left_semi")
      }
    val l = b.select(col("block_key"), col("messy_id").as("east"))
    val r = b.select(col("block_key"), col("messy_id").as("west"))
    l.join(r, Seq("block_key"))
      .filter(col("east") < col("west"))
      .select("east", "west")
      .distinct()
  }

  /** Join per-field features back onto the pairs as `a_*` / `b_*` columns
    * (the reference's entity_map, messy.py:226-242). */
  def withFeatures(pairs: DataFrame, features: DataFrame, idCol: String,
                   fieldNames: Seq[String]): DataFrame = {
    val a = features.select(col(idCol).as("a_node_id") +: fieldNames.map(f => col(f).as(s"a_$f")): _*)
    val b = features.select(col(idCol).as("b_node_id") +: fieldNames.map(f => col(f).as(s"b_$f")): _*)
    pairs
      .join(a, pairs("east") === a("a_node_id"))
      .join(b, pairs("west") === b("b_node_id"))
      .drop("east", "west")
  }
}

/** E4 — pairwise match scoring (messy.py:285-413). The reference runs dedupe's
  * per-field distances + a learned logistic classifier over a process pool; here
  * the distances are Catalyst expressions and the "pool" is Spark's partitioning.
  * The default classifier is a fixed-weight mean of field similarities — a
  * deterministic, oracle-checkable stand-in for the learned weights (SURVEY §7.4:
  * port the mechanism, not the pickled model). `logistic(w0)` gives the
  * sigmoid-calibrated variant when probability calibration matters. */
object Scoring {

  /** Weighted-mean score in [0,1]: Σ w_i·sim_i / Σ w_i, evaluated in field order
    * (deterministic — products and the left-assoc sum round identically on any
    * IEEE-754 engine, so a DuckDB oracle reproduces it bit-exactly). */
  def score(fields: Seq[DedupeField]): Column = {
    val total = fields.map(_.weight).sum
    val weighted = fields.map(f =>
      DedupeField.similarity(f, col(s"a_${f.name}"), col(s"b_${f.name}")) * lit(f.weight))
    weighted.reduceLeft(_ + _) / lit(total)
  }

  /** Sigmoid-calibrated score: 1/(1+e^-(w0 + Σ w_i·sim_i)). Same monotone order as
    * [[score]]; prefer [[score]] where cross-engine exactness matters (libm exp
    * may differ in the last ulp between engines). */
  def logistic(fields: Seq[DedupeField], w0: Double): Column = {
    val linear = fields.map(f =>
      DedupeField.similarity(f, col(s"a_${f.name}"), col(s"b_${f.name}")) * lit(f.weight))
      .reduceLeft(_ + _) + lit(w0)
    lit(1.0) / (lit(1.0) + exp(-linear))
  }

  /** Score the entity map and keep pairs above `threshold` (reference messy
    * threshold 0.5, resolution/main.py:48): (from, to, score). */
  def selectPairs(entityMap: DataFrame, fields: Seq[DedupeField], threshold: Double): DataFrame =
    entityMap
      .withColumn("score", score(fields))
      .filter(col("score") > threshold)
      .select(col("a_node_id").as("from"), col("b_node_id").as("to"), col("score"))
}

/** E5 — connected components ("weak", undirected view of the scored pairs,
  * messy.py:416-448). Iterative min-label propagation over the edge DataFrame:
  *
  *   label(v) <- min(label(v), min_{(u,v) ∈ E} label(u))   until fixpoint
  *
  * Scale design: the loop is all DataFrame joins (no driver-side graph, unlike the
  * reference's igraph); every iteration is persisted and the previous one
  * unpersisted, with `localCheckpoint` truncating lineage so plans do not grow
  * exponentially; `maxIter` caps the loop at the graph's diameter bound. Converges
  * in O(max component diameter) rounds — near-dup/ER clusters are star-like, so
  * a handful in practice.
  */
object ConnectedComponents {

  /** Edge-count gate below which the component computation runs as a driver
    * union-find instead of the distributed label-propagation loop. Same
    * philosophy as Spark's own `autoBroadcastJoinThreshold`: pick the physical
    * strategy from the measured size of the data, here the exact count already
    * taken for loop-partition sizing. 2M edges (400k distinct ids in the
    * ScaleGraph power-law shape) = ~200 MB of collected rows plus a ~40 MB
    * id index on the driver (Spark `SizeEstimator`) and ~1s of union-find,
    * vs a fixed ~0.3-0.5s *per round* of
    * stage-scheduling overhead in the distributed loop — which is the correct
    * cost structure at 100 TB (where the edge set can't fit a driver) but pure
    * floor on the small, already-aggregated pair sets ER blocking emits.
    * Measured at 5× the gate (ScaleGraph, 10M edges, giant component through
    * a 10^4-degree hub): forced driver union-find 11.6s incl. the collect vs
    * distributed 27.2s, labels bit-equal — so like the triangle broadcast
    * gate, this default is a DRIVER-MEMORY bound (~1 GB of collected rows
    * plus a ~200 MB id index at 10M edges), not a wall-time crossover. */
  private[graft] val DriverPathMaxEdges: Long = 2L * 1000 * 1000

  /** Edge count from which the distributed loop runs skew-safe pointer
    * jumping (see the loop body). It costs two extra jobs per round, so it is
    * engaged only where rounds are expensive enough to hide the floor AND
    * label concentration can actually hurt (a key needs more rows than a
    * partition's fair share). Measured at the ScaleGraph 10M-edge point
    * (SCALE_r16 → SCALE_r18): `cc_dist` 32.96s with a 4.94 max/median task
    * straggler → 19.43s / 1.59. */
  private[graft] val SkewSafeMinEdges: Long = 1000L * 1000

  /** Follower count below which a label is never hot, whatever the fair
    * share (the census ships at most total/HotFloor candidates back). */
  private[graft] val HotFloor: Long = 50000L

  /** Edge rows per loop partition (the static stand-in for AQE coalescing). */
  private[graft] val RowsPerPartition: Long = 100000L

  /** True when `plan` is a narrow wrapper over an ALREADY-materialized
    * table (a checkpoint `LogicalRDD` or a driver `LocalRelation`):
    * re-evaluating such a plan re-reads stored blocks, so the defensive
    * pair checkpoint below would only write a second copy of the edge set
    * and pay one more job. Anything else (a live cascade, a scan with
    * filters that might be expensive, a join) keeps the checkpoint — the
    * conservative direction. */
  private def isMaterializedScan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      // a NONDETERMINISTIC projection (rand, uuid, monotonically_increasing_id)
      // over a materialized scan is NOT stable across re-evaluations — the
      // checkpoint it would skip is exactly what pins such values (r19 advice)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.forall(_.deterministic) && isMaterializedScan(p.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => isMaterializedScan(a.child)
      case _ => false
    }

  /** @param edges two-column DataFrame (src, dst); integral or string ids
    * @return (id, component) where component = min id reachable — deterministic.
    * Graphs up to [[DriverPathMaxEdges]] edges run the driver union-find;
    * larger ones (and id types the union-find cannot order) run the
    * distributed loop. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val (s, edgeCount) = pairs(edges)
    if (edgeCount <= DriverPathMaxEdges && unionFindable(s)) unionFind(s)
    else propagate(s, edgeCount, maxIter, SkewSafeMinEdges, HotFloor, RowsPerPartition, _ => ())
  }

  /** The driver union-find path whatever the edge count. */
  private[graft] def driverPath(edges: DataFrame): DataFrame = unionFind(pairs(edges)._1)

  /** The distributed loop whatever the edge count. `onSaltedJump` receives
    * each round's salted-jump plan when the hot-label branch engages. */
  private[graft] def distributedPath(edges: DataFrame,
                                     skewSafeMinEdges: Long = SkewSafeMinEdges,
                                     hotFloor: Long = HotFloor,
                                     rowsPerPartition: Long = RowsPerPartition,
                                     onSaltedJump: DataFrame => Unit = _ => ()): DataFrame = {
    val (s, edgeCount) = pairs(edges)
    propagate(s, edgeCount, 50, skewSafeMinEdges, hotFloor, rowsPerPartition, onSaltedJump)
  }

  /** The raw (src, dst) pairs, materialized once, and their count. */
  private def pairs(edges: DataFrame): (DataFrame, Long) = {
    // Checkpoint the RAW pairs first: the symmetrizing union below references
    // its input twice, and without this the whole upstream edge-producing
    // pipeline (e.g. the MinHash cascade) would run twice inside one job.
    // Eager localCheckpoint, NOT persist(): the loop references e every
    // round, and a CacheManager persist is not reliably hit across the
    // iteration jobs (observed: every round re-ran the full upstream
    // pair-generation DAG, ~40s/round on a 255-edge graph whose actual
    // propagation work is ~1s/round). Checkpointing materializes the edge
    // set once and truncates the upstream lineage; blocks are freed by the
    // ContextCleaner once the DataFrame is unreferenced.
    // Skipped automatically when the input is already a materialized scan
    // (see isMaterializedScan) — the dedup cascade hands over an eager
    // checkpoint, and re-checkpointing it only duplicated the edge storage.
    val s =
      if (isMaterializedScan(edges.queryExecution.optimizedPlan)) edges.toDF("src", "dst")
      else edges.toDF("src", "dst").localCheckpoint(true)
    (s, s.count())
  }

  private def propagate(s: DataFrame, edgeCount: Long, maxIter: Int,
                        skewSafeMinEdges: Long, hotFloor: Long, rowsPerPartition: Long,
                        onSaltedJump: DataFrame => Unit): DataFrame = {
    val spark = s.sparkSession
    // undirected: symmetrize LAZILY over the checkpointed blocks — narrow
    // (block read, no shuffle), so re-evaluating it each round costs
    // nothing and a second eager checkpoint would only re-write the whole
    // edge set to storage again. One explode pass, not union-of-two-
    // projections: a union doubles the stage's task count (two waves on a
    // fully-subscribed local executor), and multi-wave stages are where
    // the max/median task-time ratio picks up scheduling noise that reads
    // as skew in the scale artifact. No distinct(): the per-round min
    // aggregate absorbs duplicate edges and self-loops, so deduping here
    // would spend a full shuffle to save nothing downstream.
    val e = s.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    // The loop runs with AQE off (restored afterwards): each round is a chain
    // of small exchanges over already-checkpointed inputs, and AQE turns every
    // one into a separately-materialized query stage with driver re-planning
    // between — measured 10-25s/round on a 500-edge graph vs <1.5s without.
    // Iterative fixpoint algorithms disabling AQE is the established pattern
    // (GraphFrames' connected components does the same). The heavy work —
    // producing the edge set — already ran WITH AQE inside the checkpoint
    // above, so this only affects the per-round propagate/compress jobs.
    // Size the loop's exchanges to the graph, not the session default: with
    // AQE off every round would otherwise run its 4-5 stages at the full
    // configured partition count even for a few hundred label rows — pure
    // task-scheduling overhead that dominates toy/medium graphs. The edge
    // count picks ~RowsPerPartition edge rows per partition, clamped to the
    // session setting, so a cluster-scale edge set still uses every
    // configured partition.
    // The conf reads happen BEFORE any conf mutation, so a failure here can
    // never leak a mutated session conf past the finally below. The
    // mutations themselves are session-global for the loop's duration — the
    // engine runs one query at a time per session (DagExecutor parallelism
    // is across *sessions*-safe node work, not concurrent actions on this
    // one), which is the stated concurrency contract for CC.
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(confParts.toLong, edgeCount / rowsPerPartition + 1L)).toInt
    val skewSafe = edgeCount >= skewSafeMinEdges
    val aqeWas = spark.conf.getOption("spark.sql.adaptive.enabled").getOrElse("true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
    var labels: DataFrame = null

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // candidate labels arriving over edges, merged with current labels; the
      // old label rides along (tagged `own`) so convergence detection needs no
      // extra labels-vs-labels join afterwards — every id has exactly one own
      // row, recovered by max(when(own, component)) (max ignores the nulls).
      // Round 1 is join-free: the initial label of every node is its own id,
      // so the message over edge (src,dst) is literally (dst, src) and the
      // own-row is (src, src). The groupBy absorbs the duplicate own-rows
      // (min/max over identical values). (A lazy `labels = projection of e`
      // init would NOT work: joining e against a per-endpoint labels table
      // multiplies to Σdeg² message rows.)
      // Round 1's seed is a single 4-way explode over the RAW checkpointed
      // pairs (own-rows + messages in both directions) rather than two
      // projections of the symmetrized view — one task wave over 32 blocks
      // instead of four, same rows (see the `e` comment on wave noise).
      val propagated0 = (if (labels == null)
        s.select(explode(array(
            struct(col("src").as("id"), col("src").as("component"), lit(true).as("own")),
            struct(col("dst").as("id"), col("src").as("component"), lit(false).as("own")),
            struct(col("dst").as("id"), col("dst").as("component"), lit(true).as("own")),
            struct(col("src").as("id"), col("dst").as("component"), lit(false).as("own")))).as("__m"))
          .select(col("__m.id").as("id"), col("__m.component").as("component"),
            col("__m.own").as("own"))
      else {
        val messages = e.join(labels, e("src") === labels("id"))
          .select(e("dst").as("id"), col("component"), lit(false).as("own"))
        labels.select(col("id"), col("component"), lit(true).as("own"))
          .union(messages)
      })
        .groupBy("id")
        .agg(min("component").as("component"),
          max(when(col("own"), col("component"))).as("old"))
      // In skew-safe mode (big graphs) the label table is materialized per
      // round so the hot-label census below doesn't recompute the propagate
      // groupBy, and so the three reads in the de-skewed jump plan all hit
      // checkpointed blocks.
      val propagated = if (skewSafe) propagated0.localCheckpoint(true) else propagated0
      // path compression (pointer jumping): component <- component(component).
      // Plain min-label propagation needs O(diameter) rounds — a 30-doc
      // near-dup chain is 30 rounds; compression squares the reach per round,
      // so convergence is O(log diameter).
      //
      // SKEW: as the loop converges, component values concentrate onto few
      // labels — a single giant component ends with ~every row carrying the
      // same value, so hash-joining `propagated` against `parents` on
      // `component` funnels the whole table through ONE task (measured 4.94
      // max/median task skew at 10M edges / 1.9M vertices, the artifact's
      // worst straggler — ScaleGraph r17). Cure, per Kiveris et al.'s
      // skew-bounding insight adapted to the unique-right-side lookup shape:
      // (1) census the per-label follower counts (map-side-combinable, so the
      // census itself cannot skew); (2) labels above a fair-share threshold
      // are "hot" — their parent rows number ≤ one per hot label, so resolve
      // them with a BROADCAST join (left rows never move); (3) rows already
      // resolved by the broadcast get a deterministic per-row salt folded
      // into the shuffled join's equi-key, spreading the (now matchless) hot
      // rows across 251 keys instead of one. Cold labels keep salt 0 and
      // match exactly as before. One extra census action + one checkpoint per
      // round — engaged only past `skewSafeMinEdges`, where rounds cost
      // seconds and the per-job floor is noise; toy graphs keep the original
      // one-action rounds.
      val parents = propagated.select(col("id").as("__pid"), col("component").as("__pcomp"))
      val plainJump =
        () => propagated.join(parents, col("component") === col("__pid"), "left")
          .select(col("id"), coalesce(col("__pcomp"), col("component")).as("component"), col("old"))
      val jumped = if (!skewSafe) plainJump() else {
        // Hot threshold = fair share OF THE TABLE BEING JOINED. The join
        // below shuffles `propagated` (~vertex-count rows), so scaling the
        // threshold to edgeCount mis-sizes it on dense graphs: with
        // E > 4·parts·V the edge-derived value exceeds the whole table and
        // no label ever classifies hot — the skew the feature exists to
        // cure goes undetected. The census already aggregates per-label
        // counts, so the table total is a free sum alongside it; candidates
        // above the fixed floor ride back in the SAME action (bounded:
        // ≤ total/hotFloor entries), and the census is never collected whole.
        val censusRow = propagated.groupBy("component").agg(count(lit(1)).as("__n"))
          .agg(sum("__n").as("__total"),
            collect_list(when(col("__n") >= hotFloor,
              struct(col("component"), col("__n")))).as("__cands"))
          .first()
        val propagatedRows = if (censusRow.isNullAt(0)) 0L else censusRow.getLong(0)
        val hotT = math.max(hotFloor, propagatedRows / loopParts)
        val hotVals = censusRow.getSeq[org.apache.spark.sql.Row](1)
          .filter(_.getLong(1) >= hotT).map(_.get(0))
        if (hotVals.isEmpty) plainJump() else {
          // parent row OF a hot label c = the propagated row with id == c;
          // every label is a node id present in `propagated`, so exactly one
          // row per hot label — broadcastable by construction.
          val hotParents = propagated.filter(col("id").isin(hotVals: _*))
            .select(col("id").as("__hpid"), col("component").as("__hpcomp"))
          // deterministic salt (hash of the row's own id): retried tasks
          // recompute the same value, and hot rows spread over 251 distinct
          // shuffle keys that can never match the right side's salt 0.
          val salted = propagated.withColumn("__salt",
            when(col("component").isin(hotVals: _*),
              pmod(hash(col("id")), lit(251)) + lit(1)).otherwise(lit(0)))
          // The right side's salt column must be 0 WITHOUT being foldable: a
          // plain lit(0) gets constant-propagated by Catalyst, which rewrites
          // `__salt = __pz` into the post-join filter `__salt = 0` and drops
          // the salt from the equi keys — the shuffle collapses back to
          // hash(component) and the hot key funnels through one task again
          // (verified via .explain: SMJ `Left keys [component]`, `Join
          // condition: (__salt = 0)`). pmod(xxhash64(__pid), 1) is always 0
          // but hangs off an attribute, so it survives as a genuine second
          // key pair and the shuffle is hash(component, __salt). A future
          // `x mod 1 -> 0` simplification would collapse the keys with no
          // functional failure, which is why `onSaltedJump` exposes this plan
          // to the spec that asserts the salt is still a shuffle key.
          val saltedJump = salted
            .join(broadcast(hotParents), col("component") === col("__hpid"), "left")
            .join(parents.withColumn("__pz", pmod(xxhash64(col("__pid")), lit(1)).cast("int")),
              col("component") === col("__pid") && col("__salt") === col("__pz"), "left")
            .select(col("id"),
              coalesce(col("__hpcomp"), col("__pcomp"), col("component")).as("component"),
              col("old"))
          onSaltedJump(saltedJump)
          saltedJump
        }
      }
      val next = jumped.localCheckpoint(false)
      // ONE action per round: materializes the lazy checkpoint and counts the
      // changed labels in the same scan (the old per-round join + count was a
      // second full labels-vs-labels join — measurable at scale).
      val changed = next
        .agg(count(when(col("component") =!= col("old"), lit(1))).as("c"))
        .first().getLong(0)
      labels = next.select("id", "component")
      converged = changed == 0
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter iterations")
    labels
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.shuffle.partitions", confParts)
    }
  }

  private def unionFindable(s: DataFrame): Boolean = s.schema("src").dataType match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _                                                          => false
  }

  /** Small-graph fast path: exact union-find on the driver over the already-
    * checkpointed edge blocks. Result is identical to the distributed loop —
    * one row per distinct endpoint, component = min reachable id, input's
    * id type preserved. String ids are ordered the way Spark's min() orders
    * them: UTF8String compares UTF-8 bytes unsigned (= code-point order),
    * which Java's UTF-16 compareTo does NOT match for supplementary
    * characters. This replaces 3-5 whole Spark jobs (label init + one per
    * round) whose stage-scheduling floor dominates graphs this small; the
    * upstream pair-generation cascade still ran fully distributed inside the
    * checkpoint that produced `s`. */
  private def unionFind(s: DataFrame): DataFrame = {
    val spark = s.sparkSession
    import spark.implicits._
    val idType = s.schema("src").dataType
    require(unionFindable(s), s"driver union-find needs integral or string ids, got $idType")
    if (idType == StringType)
      minLabels(s.collect(), (r, i) => UTF8String.fromString(r.getString(i)))(_ binaryCompare _)
        .map { case (id, c) => (id.toString, c.toString) }
        .toDF("id", "component")
    else
      minLabels(s.select(col("src").cast("long"), col("dst").cast("long")).collect(),
                (r, i) => r.getLong(i))(Ordering.Long)
        .toDF("id", "component")
        .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("component"))
  }

  /** (id, min id of its component) for every distinct endpoint of the
    * non-null (src, dst) `rows`, ascending in `ord`; `id(row, i)` reads
    * endpoint i. The ids are sorted once, so union-by-min-INDEX keeps every
    * tree's root equal to its component minimum under `ord`, and the output
    * cannot depend on union order. */
  private def minLabels[T: ClassTag](rows: Array[Row], id: (Row, Int) => T)
                                    (ord: Ordering[T]): Seq[(T, T)] = {
    val edges = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    // id -> rank in `ord`, in a java HashMap: filled with the distinct ids
    // first, then re-pointed at their ranks once those are sorted
    val index = new java.util.HashMap[T, Integer]()
    val unranked = Integer.valueOf(-1)
    edges.foreach { r => index.putIfAbsent(id(r, 0), unranked); index.putIfAbsent(id(r, 1), unranked) }
    val ids = index.keySet.asScala.toArray.sorted(ord)
    ids.indices.foreach(i => index.put(ids(i), i))
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n } // path compression
      r
    }
    edges.foreach { r =>
      val ra = find(index.get(id(r, 0))); val rb = find(index.get(id(r, 1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }

  /** Reference output shape (messy.py:432-448): (messy_id, cluster_id) where
    * cluster_id is the stable hash of the component (F13). `hashed=false` keeps
    * the raw min-id component (deterministic across engines, oracle-friendly). */
  def clusterMapping(edges: DataFrame, hashed: Boolean = false, maxIter: Int = 50): DataFrame = {
    val comp = run(edges, maxIter)
    val cid = if (hashed) graft.ops.Ids.clusterId(col("component")) else col("component")
    comp.select(col("id").as("messy_id"), cid.as("cluster_id"))
  }
}

/** E6 — gazetteer matching (CanonMatcher/Pairer, canon.py:90-231): match each
  * messy record against an indexed canon table. Same block->pair->score skeleton
  * as the dedupe path, but the pair universe is messy×canon within shared blocks,
  * and the result keeps the best canon per messy (score desc, reference
  * canon.py:194-201) above `threshold` (canon default 0.25, main.py:28). */
object Gazetteer {

  /** @param messyBlocks (block_key, messy_id); @param canonBlocks (block_key, canon_id)
    * — build both with [[Blocking.blockTable]] using *the same* predicate set
    * applied to each side's features (canon indexes, messy searches).
    * @param maxBlockPairs when > 0, drop block keys whose candidate
    * contribution |messy_b| × |canon_b| exceeds the cap BEFORE the pair join
    * — the gazetteer twin of [[Pairing.candidatePairs]]' `maxBlockSize`
    * skew/stop-word defense: a hot predicate value (a stop token shared by
    * thousands of records on both sides) otherwise funnels a quadratic pair
    * set through one join key. The cap bounds the product directly, which is
    * the actual cost term for the two-sided join. */
  def matchTables(
      messyBlocks: DataFrame, canonBlocks: DataFrame,
      messyFeatures: DataFrame, canonFeatures: DataFrame,
      idCol: String, fields: Seq[DedupeField], threshold: Double,
      maxBlockPairs: Long = 0L): DataFrame = {
    val canon = canonBlocks.withColumnRenamed("messy_id", "canon_id")
    val (mb, cb) =
      if (maxBlockPairs <= 0) (messyBlocks, canon)
      else {
        val keep = messyBlocks.groupBy("block_key").agg(count(lit(1)).as("__m"))
          .join(canon.groupBy("block_key").agg(count(lit(1)).as("__c")), Seq("block_key"))
          .filter(col("__m") * col("__c") <= maxBlockPairs)
          .select("block_key")
        (messyBlocks.join(keep, Seq("block_key"), "left_semi"),
          canon.join(keep, Seq("block_key"), "left_semi"))
      }
    val candidates = mb
      .join(cb, Seq("block_key"))
      .select("messy_id", "canon_id")
      .distinct()
    val a = messyFeatures.select(col(idCol).as("a_node_id") +: fields.map(f => col(f.name).as(s"a_${f.name}")): _*)
    val b = canonFeatures.select(col(idCol).as("b_node_id") +: fields.map(f => col(f.name).as(s"b_${f.name}")): _*)
    val scored = candidates
      .join(a, candidates("messy_id") === a("a_node_id"))
      .join(b, candidates("canon_id") === b("b_node_id"))
      .withColumn("score", Scoring.score(fields))
      .filter(col("score") > threshold)
      .select(col("messy_id"), col("canon_id"), col("score"))
    // best canon per messy; canon_id breaks score ties deterministically
    graft.ops.DistinctOn.distinctOnOrdered(
      scored, Seq(col("messy_id")), Seq(col("score").desc, col("canon_id").asc))
  }
}

/** E7 — IDConvertor (convertor.py:105-115): rewrite `targetCol` through a
  * (messy_id, new_id) mapping with COALESCE fallback, preserving all other
  * columns (`t1.* EXCLUDE (target)`). The mapping is broadcast when small —
  * Catalyst decides; at 100 TB the mapping (distinct entities) is orders of
  * magnitude smaller than the fact table, so this stays a broadcast join. */
object IdConvert {

  def convert(df: DataFrame, mapping: DataFrame, targetCol: String): DataFrame = {
    val m = mapping.select(col("messy_id").as("__mid"), col("new_id").as("__nid"))
    val rest = df.columns.filterNot(_ == targetCol).map(col)
    df.join(m, df(targetCol) === col("__mid"), "left")
      .select(coalesce(col("__nid"), df(targetCol)).as(targetCol) +: rest: _*)
  }
}

/** E8 — mapping combination (resolution/main.py:177-244): messy->canon matches
  * take precedence alongside messy->cluster assignments; pure UNION ALL with
  * renames, then the anti-join filter (main.py:161-174) removes already-mapped
  * messy records from the cluster path. */
object Mappings {

  /** `mapper_{messy}_clean` = m2c renamed ∪ messy2cluster renamed. */
  def combine(messy2canon: DataFrame, messy2cluster: DataFrame): DataFrame =
    messy2canon.select(col("messy_id"), col("canon_id").as("new_id"))
      .unionByName(messy2cluster.select(col("messy_id"), col("cluster_id").as("new_id")))

  /** Messy records not already mapped (NOT EXISTS, main.py:161-174). */
  def unmapped(messy: DataFrame, mapping: DataFrame, idCol: String): DataFrame =
    messy.join(mapping, messy(idCol) === mapping("messy_id"), "left_anti")
}
