package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's session extensions, loaded by
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`): the as-of planner strategy and
  * its pushdown rule, the MV and snapshot-DML analyzer rules, the AQE rule
  * that runs a small final sort as one range partition, and the SQL surface
  * of the native kernels (`graft_dot`, `graft_l2sq`, `graft_intersect_size`,
  * …) and of the change-feed table function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import ArrayExprs._
  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom whole-operator semantics: the native as-of join planner rule
    // plus the predicate-pushdown optimizer rule for its logical node
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOf)
    // transparent MV routing: post-hoc resolution (the DataSource-resolution
    // extension point) so matching aggregates read the materialized view
    ext.injectPostHocResolutionRule(s => graft.plans.MvRewriteRule(s))
    // snapshot-catalog row-level SQL: UPDATE/MERGE → SnapshotTable API
    // commands, delete-carrying versions → merge-on-read read plans
    ext.injectPostHocResolutionRule(s => graft.plans.SnapshotDmlRule(s))
    // AQE re-plans: a final sort over small materialized stages takes one
    // range partition, so its input is not recomputed for a bounds sample
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallRangeSort)
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[ArrayExprs.type].getName, null, name, usage, "")
    // arity-checked like graft_bloom_agg below: a wrong argument count from
    // the SQL surface must name the function, not die in a raw
    // IndexOutOfBoundsException from cs(1)
    def binary(name: String, f: (Expression, Expression) => Expression)
        : Seq[Expression] => Expression = {
      case Seq(a, b) => f(a, b)
      case cs => throw new IllegalArgumentException(
        s"$name takes exactly 2 arguments, got ${cs.length}")
    }
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - exact dot product of long arrays"),
      binary("graft_dot", LongArrayDot.apply)))
    ext.injectFunction((FunctionIdentifier("graft_l2sq"),
      info("graft_l2sq", "graft_l2sq(a, b) - exact squared L2 distance"),
      binary("graft_l2sq", LongArrayL2Sq.apply)))
    ext.injectFunction((FunctionIdentifier("graft_intersect_size"),
      info("graft_intersect_size",
        "graft_intersect_size(a, b) - |A∩B| of sorted int arrays"),
      binary("graft_intersect_size", SortedIntIntersectSize.apply)))
    ext.injectFunction((FunctionIdentifier("graft_intersect_size_l"),
      info("graft_intersect_size_l",
        "graft_intersect_size_l(a, b) - |A∩B| of sorted long arrays"),
      binary("graft_intersect_size_l", SortedLongIntersectSize.apply)))
    ext.injectFunction((FunctionIdentifier("graft_dot_i8"),
      info("graft_dot_i8",
        "graft_dot_i8(a, b) - signed-int8 dot product of binary columns"),
      binary("graft_dot_i8", ByteArrayDot.apply)))
    ext.injectFunction((FunctionIdentifier("graft_ngrams"),
      info("graft_ngrams",
        "graft_ngrams(text, n) - UDTF: one (pos, gram) row per word n-gram"),
      binary("graft_ngrams", NGramsGenerator.apply)))
    // SQL surface for Spark's internal runtime-filter bloom expressions:
    // lets a query express the manual semi-join prefilter pattern
    // (`graft_might_contain((SELECT graft_bloom_agg(xxhash64(k)) FROM dim
    // WHERE ...), xxhash64(fact_key))`) — the scalar subquery satisfies
    // BloomFilterMightContain's foldable-or-subquery input contract, so the
    // filter materializes once and broadcasts like Spark's own injected
    // runtime filters.
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        "graft_bloom_agg(xxhash64(k)[, est_items]) - bloom filter of a key set"),
      (cs: Seq[Expression]) => cs match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg takes 1 or 2 arguments")
      }))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain",
        "graft_might_contain(bloom, xxhash64(k)) - bloom membership probe"),
      binary("graft_might_contain",
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(_, _))))
    // TABLE-VALUED function surface for the snapshot change feed: SQL
    // consumers read a version window as a relation —
    //   SELECT * FROM graft_changes('/warehouse/t', 1, 3, 'k')
    // — the same O(delta) readChanges the API serves (inserts carry the
    // full row + change='insert'; deletes carry the key + 'delete').
    // Arguments must be literals: the builder runs at ANALYSIS time and
    // resolves the window's manifests then, like any table reference.
    ext.injectTableFunction((FunctionIdentifier("graft_changes"),
      info("graft_changes",
        "graft_changes(base, vFrom, vTo, keyCol) - TVF: the snapshot " +
          "table's change feed over a version window"),
      (cs: Seq[Expression]) => cs match {
        case Seq(b, f, t, k) if cs.forall(_.foldable) =>
          def str(e: Expression) = e.eval() match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case other => String.valueOf(other)
          }
          def int(e: Expression) = e.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => String.valueOf(other).toInt
          }
          graft.sources.SnapshotTable.readChanges(
            org.apache.spark.sql.SparkSession.active,
            str(b), int(f), int(t), str(k)).queryExecution.analyzed
        case other => throw new IllegalArgumentException(
          "graft_changes(base, vFrom, vTo, keyCol) takes 4 LITERAL " +
            s"arguments, got ${other.length}")
      }))
  }
}
