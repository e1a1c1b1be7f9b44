package graft

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.{AffineGapSimilarity, FreqSketch, KmvMinHashes, LongDotProduct, SortedIntersectCount, TopK}

/** Session extensions registering the engine's native expressions for SQL use
  * and the custom planner strategies and pruning rules of the as-of and
  * range joins. Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, as
  * [[graft.Harness.session]] does. The expressions' DataFrame API works
  * without registration via the Column wrappers; both joins
  * ([[graft.plans.AsofJoinExec]], [[graft.plans.RangeJoinExec]]) do not:
  * their logical nodes need the strategies to be plannable.
  *
  * Installing the extensions also sets two context defaults
  * ([[GraftExtensions.contextDefaults]]): artifact isolation off, so a new
  * session (one per DAG node in [[graft.engine.SqlNode]]) reuses the
  * context's generated classes, and a codegen cache sized to the engine's
  * working set, so a warm query finds its generated classes compiled. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.contextDefaults(SparkEnv.get.conf)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinPruning)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinPruning)
    ext.injectFunction((
      new FunctionIdentifier("affine_gap_sim"),
      new ExpressionInfo(classOf[AffineGapSimilarity].getName, null, "affine_gap_sim",
        "_FUNC_(a, b) - affine-gap string similarity in [0,1] (Gotoh alignment).", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "affine_gap_sim takes exactly 2 arguments")
        AffineGapSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("qdot_long"),
      new ExpressionInfo(classOf[LongDotProduct].getName, null, "qdot_long",
        "_FUNC_(a, b) - integer dot product of two array<bigint> vectors.", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "qdot_long takes exactly 2 arguments")
        LongDotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, null, "sorted_intersect_count",
        "_FUNC_(a, b) - |a ∩ b| of two sorted distinct array<bigint> columns (two-pointer merge).", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect_count takes exactly 2 arguments")
        SortedIntersectCount(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_minhashes"),
      new ExpressionInfo(classOf[KmvMinHashes].getName, null, "kmv_minhashes",
        "_FUNC_(v, k) - KMV distinct-count synopsis: the k smallest md5 digests of v.", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_minhashes takes exactly 2 arguments")
        require(children(1).foldable, "kmv_minhashes k must be a literal")
        KmvMinHashes(children(0),
          children(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
      }))
    // Spark's own Bloom-filter sketch pair, internal to its runtime-filter
    // optimization, surfaced as engine functions so the SAME mechanism can
    // gate explicit semi/anti-join patterns (see
    // TextAnalysis.contaminationFlagsBloom): bloom_agg builds the filter
    // binary over xxhash64(value) longs, bloom_contains probes it.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        null, "bloom_agg",
        "_FUNC_(v, n) - Bloom filter binary over long values v, sized for ~n items.", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bloom_agg takes exactly 2 arguments")
        require(children(1).foldable, "bloom_agg expected-items must be a literal")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        null, "bloom_contains",
        "_FUNC_(bloom, v) - true if long v might be in the Bloom filter binary (no false negatives).", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bloom_contains takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("freq_topk"),
      new ExpressionInfo(classOf[FreqSketch].getName, null, "freq_topk",
        "_FUNC_(v, k, capacity) - Misra-Gries frequency sketch: top k most frequent values from bounded state.", ""),
      (children: Seq[Expression]) => {
        require(children.length == 3, "freq_topk takes exactly 3 arguments")
        require(children(1).foldable && children(2).foldable,
          "freq_topk k and capacity must be literals")
        FreqSketch(children(0),
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopK].getName, null, "top_k",
        "_FUNC_(v, k) - the k largest values of v per group, sorted descending.", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "top_k takes exactly 2 arguments")
        require(children(1).foldable, "top_k k must be a literal")
        TopK(children(0),
          children(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
      }))
  }
}

object GraftExtensions {
  /** The context defaults [[contextDefaults]] sets, key to value.
    *
    *  - `spark.sql.artifact.isolation.enabled=false`: isolation gives each
    *    session its own executor classloader for artifacts added through
    *    Spark Connect; the engine adds none, so it only made each session
    *    recompile its generated code. Spark reads the key once per session,
    *    when the session first runs anything, so it is set per context. A
    *    host that needs isolation (a Spark Connect server) sets it itself.
    *  - `spark.sql.codegen.cache.maxEntries=2000`: the entries of Spark's
    *    JVM-wide LRU cache of compiled generated classes (default 100). One
    *    pass over the 106 `SparkEntry` queries, each on a new session,
    *    compiles 1,103 distinct classes (sf0.01, `local[4]`, counted with
    *    `CodegenMetrics`), so at 100 entries every warm pass missed and
    *    recompiled about 1,300 of them, and at 2000 it recompiles 13-24.
    *    2000 is that working set with about 1.8x headroom. The key is static:
    *    Spark reads it once per JVM, when `CodeGenerator` first initializes,
    *    so the default applies only in a JVM whose first generated code is
    *    compiled in a session of a graft context. */
  private[graft] val defaults: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** Sets each of [[defaults]] on the context conf `conf` unless the host
    * has set it, whose value is then kept. Spark applies session extensions
    * after the SparkContext exists and before the first session clones the
    * context conf, so every session of the context, `newSession()` children
    * included, inherits them. */
  private[graft] def contextDefaults(conf: SparkConf): Unit =
    defaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
}
