package graft.sources

import graft.lake.{GraftSql, GraftTable}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** Parser extension serving [[GraftSql]]'s statements on CATALOG
  * names through `spark.sql`, the reference's own usage mode
  * (reference docs/02-lab-optimizations.md:116-187 runs OPTIMIZE and
  * DESCRIBE HISTORY as plain SQL). Installed by
  * [[graft.GraftExtensions]].
  *
  * There is one grammar: GraftSql's statement table, where each shape
  * declares its catalog route ([[GraftSql.catalogShapes]]). The
  * intercepted verbs are OPTIMIZE, VACUUM, DESCRIBE HISTORY|DETAIL,
  * RESTORE, REORG and FSCK always; ANALYZE … COMPUTE STATISTICS, the
  * constraint DDL (ADD CONSTRAINT CHECK|PRIMARY KEY|FOREIGN KEY, DROP
  * CONSTRAINT), MERGE WITH SCHEMA EVOLUTION, TABLE CHANGES and (on a
  * partitioned table) SHOW PARTITIONS only when the name resolves to a
  * GraftLake table. A match runs the
  * original text through a fresh GraftSql, whose name lookup reaches
  * the catalog; anything else parses through the delegate untouched,
  * so the extension is a strict superset of Spark SQL.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.intercept(session, sqlText, name =>
      GraftCatalog.resolve(session, name).map(GraftTable.forPath(session, _)))
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {

  /** The plan for a statement GraftSql's table routes on catalog
    * names, or None to delegate. `tableOf` resolves a name to a
    * GraftLake table. A lazy route returns the statement's own plan
    * (a change feed must execute distributed, never collect on the
    * driver); every other route returns a [[GraftSqlCommand]].
    */
  def intercept(spark: SparkSession, sqlText: String,
      tableOf: String => Option[GraftTable]): Option[LogicalPlan] =
    GraftSql.catalogRoute(sqlText, tableOf).map {
      case GraftSql.Always(out) =>
        GraftSqlCommand(sqlText, DataTypeUtils.toAttributes(out))
      case GraftSql.IfGraft(out, _) =>
        GraftSqlCommand(sqlText, DataTypeUtils.toAttributes(out))
      case _ => new GraftSql(spark).sql(sqlText).queryExecution.analyzed
    }
}

/** Runs one catalog-named statement through [[GraftSql]]; `output`
  * is what its statement table declares for the shape.
  */
final case class GraftSqlCommand(statement: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val df = new GraftSql(spark).sql(statement)
    require(df.schema.map(f => f.name -> f.dataType) ==
      output.map(a => a.name -> a.dataType),
      s"$statement answered ${df.schema.simpleString}, its shape " +
        s"declares ${output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    df.collect().toSeq
  }
}
