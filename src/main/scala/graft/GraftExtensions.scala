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
  * Installing the extensions also turns off Spark 4's per-session artifact
  * isolation for the whole context ([[GraftExtensions.isolationDefault]]),
  * so a new session (one per DAG node in [[graft.engine.SqlNode]]) reuses
  * the context's generated classes instead of compiling them again. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.isolationDefault(SparkEnv.get.conf)
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
  /** Default `spark.sql.artifact.isolation.enabled` to `false` on the
    * context conf `conf`. Spark applies session extensions after the
    * SparkContext exists and before the first session clones the context
    * conf, so every session of the context, `newSession()` children
    * included, inherits the default. Isolation gives each session its own
    * executor classloader for artifacts added through Spark Connect; the
    * engine adds none, so it only made each session recompile its generated
    * code. A host that needs isolation (a Spark Connect server) sets the key
    * itself, and its value is kept. Spark reads the key once per session,
    * when the session first runs anything, so it is set here per context
    * rather than per session. */
  private[graft] def isolationDefault(conf: SparkConf): Unit =
    conf.setIfMissing("spark.sql.artifact.isolation.enabled", "false")
}
