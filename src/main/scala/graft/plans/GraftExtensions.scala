package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring for graft's native expressions — lets a
  * deployment enable them at session build time
  * (`--conf spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), making
  * `graft_cosine` / `graft_sorted_jaccard` / `graft_winnow` first-class SQL
  * functions on every session without per-session registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // usage text lives in each expression's scaladoc; the 3-arg constructor
  // is the one non-deprecated ExpressionInfo form without source/group
  // validation constraints
  private def info(clazz: Class[_], name: String) =
    new ExpressionInfo(clazz.getCanonicalName, null, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info(classOf[CosineSimilarity], "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_jaccard"),
      info(classOf[SortedJaccard], "graft_sorted_jaccard"),
      (exprs: Seq[Expression]) => SortedJaccard(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      info(classOf[Winnow], "graft_winnow"),
      (exprs: Seq[Expression]) => Winnow(exprs.head, 3, 4)))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      info(classOf[NormalizeText], "graft_normalize"),
      (exprs: Seq[Expression]) => NormalizeText(exprs.head)))
    // Optimizer rule: users who write the composable HOF cosine get the
    // fused native kernel automatically (see RewriteCosine).
    ext.injectOptimizerRule(_ => RewriteCosine)
    // SQL DML front door: DELETE / UPDATE / MERGE INTO on graft-catalog
    // tables route to the table's transactional machinery (Spark's
    // connector API has no non-row-level contract for them — see
    // GraftSqlDml).
    ext.injectPostHocResolutionRule(_ => GraftSqlDml)
    // The catalog read path: a pre-CBO rule (runs before the V2 pushdown
    // batch) plans graft catalog reads, under INSERT/CTAS too, as the
    // version's file-index relation every table read uses — pruning,
    // statistics and snapshot pinning in one place (see
    // GraftV2ScanStats). Catalog reads need it.
    ext.injectPreCBORule(spark => GraftV2ScanStats(spark))
  }
}
