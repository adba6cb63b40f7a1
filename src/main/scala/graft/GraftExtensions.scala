package graft

import graft.functions.{Fingerprint64, MinHashSig32, SimHash64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer — lets any session pick up the
  * graft functions, SQL statements and plan rules via config:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`).
  * Catalog and `format("graftlake")` reads require it (their relations
  * read only through [[graft.plans.GovernedReadRule]]), and so do
  * catalog DELETE / UPDATE / MERGE ([[graft.plans.GraftDml]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def unary(name: String)(build: Expression => Expression)
      : Seq[Expression] => Expression = { exprs =>
    require(exprs.size == 1, s"$name expects exactly 1 argument, got ${exprs.size}")
    build(exprs.head)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // maintenance SQL (OPTIMIZE / VACUUM / DESCRIBE HISTORY|DETAIL /
    // RESTORE / REORG / ANALYZE / FSCK) over catalog-named tables —
    // the reference's bare-spark.sql usage mode; everything else
    // parses through the delegate untouched
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
    // catalog and format reads become the governed read's plan (first,
    // so every rule below sees its scan)
    ext.injectPostHocResolutionRule(graft.plans.GovernedReadRule(_))
    // CBO bridge: LogicalRelations over graftlake tables pick up
    // ANALYZE stats as catalog statistics (rowCount/NDV/nulls), so
    // EXPLAIN EXTENDED and join planning see them with zero API calls
    ext.injectPostHocResolutionRule(graft.plans.GraftStatsRule.apply)
    // transparent MV rewrite: whole-table aggregates matching a
    // registered, FRESH materialized view read the view state instead
    ext.injectPostHocResolutionRule(graft.plans.MvRewriteRule.apply)
    // metadata-only aggregates: whole-table count/min/max over a scan
    // equal to a table's active file set folds the log's footer stats
    ext.injectPostHocResolutionRule(graft.plans.StatsAggregateRule.apply)
    // dynamic partition overwrite on catalog tables: the V1 write
    // bridge has no exec for OverwritePartitionsDynamic — rewrite it
    // to the table's own atomic L63 commit
    ext.injectPostHocResolutionRule(graft.plans.DynamicOverwriteRule.apply)
    // readStream.table(...) on graftlake catalog tables: swap the V2
    // streaming node for the V1 graftlake source WITH reader options
    // (Spark's own V1 fallback would drop them)
    ext.injectResolutionRule(graft.plans.StreamingV1FallbackRule.apply)
    // catalog DELETE / UPDATE / MERGE run the one DML planner: resolved
    // here into GraftDml (its source stays a child for the post-hoc
    // rules above), lowered into its command after every other rule
    ext.injectResolutionRule(_ => graft.plans.GraftDml.Resolve)
    ext.injectPostHocResolutionRule(_ => graft.plans.GraftDml.Seal)
    ext.injectFunction((FunctionIdentifier("graft_fingerprint64"),
      info("graft_fingerprint64", "64-bit FNV-1a rolling fingerprint of normalized text"),
      unary("graft_fingerprint64")(Fingerprint64)))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "64-bit SimHash over whitespace tokens"),
      unary("graft_simhash64")(SimHash64)))
    ext.injectFunction((FunctionIdentifier("graft_minhash32"),
      info("graft_minhash32", "32-component MinHash signature over 3-word shingles"),
      unary("graft_minhash32")(MinHashSig32)))
  }
}
