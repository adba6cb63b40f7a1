package graft.plans

import graft.sources.{GraftLakeTable, GraftRelation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Catalog and format reads run the governed read's own plan: each
  * read-position `DataSourceV2Relation` over a [[GraftLakeTable]] and
  * each `LogicalRelation` over a [[GraftRelation]] becomes the plan
  * `GraftTable.read` builds for it, built with THIS session's handle
  * (policies bind the querying principal) and bound to the relation's
  * output attribute ids. The plan serves the snapshot resolved at
  * analysis, as `toDF` does. Write targets are never in read position:
  * `AppendData` / `OverwriteByExpression` hold their tables outside
  * their children, and a catalog DELETE / UPDATE / MERGE is already a
  * [[GraftDml]], whose children are only its source.
  *
  * Installed first among the post-hoc resolution rules.
  */
private[graft] case class GovernedReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftLakeTable] =>
      val t = r.table.asInstanceOf[GraftLakeTable]
      bind(t.read(spark, r.output.map(_.name)), r.output, Some(t.v1Table))
    case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation] =>
      bind(lr.relation.asInstanceOf[GraftRelation].read(spark), lr.output, lr.catalogTable)
  }

  /** `df`'s analyzed plan under the attribute ids of `output`,
    * matched by name: a bare scan takes them directly, so the rules
    * matching an aggregate over a scan still see one; anything else is
    * projected. Scans naming no catalog table take `identity`:
    * `spark.catalog.refreshTable` (run by a streaming `toTable` sink
    * after every batch) expects each scan of a table name to name it.
    */
  private def bind(df: DataFrame, output: Seq[Attribute],
      identity: Option[CatalogTable]): LogicalPlan = {
    val plan = df.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation if lr.catalogTable.isEmpty && identity.isDefined =>
        lr.copy(catalogTable = identity)
    }
    plan match {
      case lr: LogicalRelation if lr.output.map(_.name) == output.map(_.name) =>
        lr.copy(output = lr.output.zip(output).map { case (a, o) => a.withExprId(o.exprId) })
      case inner =>
        val byName = inner.output.map(a => a.name -> a).toMap
        Project(output.map(o =>
          Alias(byName(o.name), o.name)(o.exprId, explicitMetadata = Some(o.metadata))), inner)
    }
  }
}

private[graft] object GovernedReadRule {
  /** What a graftlake scan reports when no rule replaced it. */
  def extensionRequired(table: String): UnsupportedOperationException =
    new UnsupportedOperationException(s"reading graftlake table $table requires " +
      "spark.sql.extensions=graft.GraftExtensions")
}
