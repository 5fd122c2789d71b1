package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.{DotProductF, SumSqF}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions with the SQL function registry so they're usable from
  * `spark.sql` as well as the Column API, and injects the engine's
  * algebraic optimizer rules (e.g. `dot_f(a,a)` → `sum_sq_f(a)`,
  * [[org.apache.spark.sql.graft.DotSelfToSumSq]]).
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * programmatically via `SparkSession.builder.withExtensions`. The
  * driver's Verify/Bench sessions don't set it, so every registered
  * query uses the Column API (`VectorExpressions`) directly — the
  * extension exists for the SQL front door and is covered by
  * ExtensionsSpec.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "dot_f takes 2 arguments")
        DotProductF(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sum_sq_f"),
      new ExpressionInfo(classOf[SumSqF].getName, "sum_sq_f"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "sum_sq_f takes 1 argument")
        SumSqF(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_int"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.Md5IntExpr].getName, "md5_int"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1 || children.length == 2,
          "md5_int takes (expr[, byteOffset]) — byteOffset a literal int")
        val off = children.lift(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"md5_int byteOffset must be a literal int, got $other")
        }.getOrElse(0)
        org.apache.spark.sql.graft.Md5IntExpr(children.head, off)
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.ShinglesExpr].getName, "shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "shingles takes (text, n) — n a literal int")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingles n must be a literal int, got $other")
        }
        org.apache.spark.sql.graft.ShinglesExpr(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.JaroWinklerExpr].getName, "jaro_winkler"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "jaro_winkler takes 2 arguments")
        org.apache.spark.sql.graft.JaroWinklerExpr(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("top_ngram_count"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.TopNgramCountExpr].getName,
        "top_ngram_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "top_ngram_count takes (text, n) — n a literal int")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"top_ngram_count n must be a literal int, got $other")
        }
        org.apache.spark.sql.graft.TopNgramCountExpr(children.head, n)
      }))
    // AUTOMATIC dynamic file pruning for star joins on unpartitioned
    // lake facts (r19): runs AFTER operator optimization (filters
    // pushed, columns pruned) and BEFORE the stats-driven batches, so
    // join strategy selection sees the leaf's carried size estimates.
    ext.injectPreCBORule(s =>
      org.apache.spark.sql.graft.GraftAutoFilePruning(s))
    ext.injectPlannerStrategy(s =>
      org.apache.spark.sql.graft.GraftDynamicFileScanStrategy(s))
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.DotSelfToSumSq)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.RangeJoinBanding)
    // metadata-only count/min/max over lake snapshots (r18 — Delta's
    // OptimizeMetadataOnlyDeltaQuery shape): exact-or-decline
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.GraftMetadataAggregates)
    // SQL DML over catalog lake tables: UPDATE / MERGE INTO / arbitrary-
    // predicate DELETE route to the lake's file-granular primitives
    // (Delta's DeltaAnalysis shape — see GraftDmlRules)
    ext.injectResolutionRule(s => org.apache.spark.sql.graft.GraftDmlRules(s))
  }
}
