package graft.plans

import graft.lake.{DmlClauses, GraftExpr, GraftTable}
import graft.sources.GraftLakeTable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, Cast, CommonExpressionRef, EqualTo, Expression, InSubquery, ListQuery, RuntimeReplaceable, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graftshim.StreamShim

/** `DELETE` / `UPDATE` / `MERGE` on a [[GraftLakeTable]], as Spark
  * resolved it, on its way to the one DML planner
  * (`GraftTable.executeDml`, which the path API runs too). Catalog SQL
  * and `GraftSql` both arrive here: `GraftSql` parses its statement
  * with Spark's parser and puts its table in the target's place.
  * DELETE and UPDATE are source-less merges whose WHERE clause is a
  * NOT MATCHED BY SOURCE action; `c IN (SELECT …)` is a keyed merge on
  * `c` whose source is the subquery (`keyed`).
  *
  * The target is held outside the tree (its rows are read by the
  * planner, not by a governed read); the MERGE source or IN-subquery is
  * the child, so the post-hoc rules, [[GovernedReadRule]] first, see
  * it. [[GraftDml.Seal]], the last post-hoc rule, lowers the node into
  * a [[GraftDmlCommand]].
  */
private[graft] final case class GraftDml(table: GraftLakeTable, op: String,
    target: Seq[Attribute], on: Option[Expression], matched: Seq[MergeAction],
    notMatched: Seq[MergeAction], notMatchedBySource: Seq[MergeAction],
    source: Option[LogicalPlan], keyed: Boolean = false, insertStar: Boolean = false)
  extends Command with SupportsSubquery {

  override def children: Seq[LogicalPlan] = source.toSeq
  override def producedAttributes: AttributeSet = AttributeSet(target)
  override protected def withNewChildrenInternal(c: IndexedSeq[LogicalPlan]): GraftDml =
    copy(source = c.headOption)

  /** The planner's clauses, by name: target columns bare, source
    * columns `src_<name>` where a target row is in scope and bare in
    * NOT MATCHED clauses. Refuses here, at analysis, what the planner
    * cannot express, with one message for every SQL front end.
    */
  def lowered: GraftDmlCommand = {
    val tgt = AttributeSet(target)
    val src = AttributeSet(source.toSeq.flatMap(_.output))
    def column(prefix: String)(e: Expression): Column = GraftExpr.column(e.transformUp {
      // BETWEEN and the other runtime-replaceable forms read as their
      // replacement, and a With (how BETWEEN's replacement shares its
      // input) is inlined: a With re-derives its references' types from
      // its definitions, so it cannot hold the unresolved names its
      // attributes turn into below
      case r: RuntimeReplaceable => r.replacement
    }.transformUp {
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform { case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id) }
    }.transform {
      case a: Attribute if tgt.contains(a) => UnresolvedAttribute.quoted(a.name)
      case a: Attribute if src.contains(a) => UnresolvedAttribute.quoted(prefix + a.name)
    })
    val withTarget = column("src_") _
    val sourceOnly = column("") _
    def set(as: Seq[Assignment], value: Expression => Column): Map[String, Column] =
      as.map {
        case Assignment(k: Attribute, v) if tgt.contains(k) => k.name -> value(v)
        case Assignment(k, _) => throw new IllegalArgumentException(
          s"$op: only top-level columns can be assigned, got ${k.sql}")
      }.toMap
    def unsupported(a: MergeAction): Nothing =
      throw new IllegalArgumentException(s"$op: unsupported clause action ${a.sql}")
    // Delta's first-match semantics: each MATCHED (or NOT MATCHED BY
    // SOURCE) clause applies only where no earlier clause of its family
    // fired, so a MATCHED UPDATE written before a MATCHED DELETE shields
    // its rows from the delete; NOT MATCHED clauses stay ordered, the
    // first whose condition holds inserts the row. A family has at most
    // one UPDATE and one DELETE: a repeat is an error, never a silent
    // last-wins
    def firstMatch(family: String, actions: Seq[MergeAction]): Seq[(MergeAction, Option[Column])] = {
      val kinds = actions.map {
        case _: UpdateAction | _: UpdateStarAction => "UPDATE"
        case _: DeleteAction => "DELETE"
        case a => unsupported(a)
      }
      require(kinds.distinct == kinds, s"MERGE supports at most one $family ... " +
        s"${kinds.diff(kinds.distinct).head} clause")
      val conds = actions.map(_.condition.map(withTarget))
      actions.indices.map { i =>
        val noneEarlier = conds.take(i).map(c => coalesce(c.getOrElse(lit(true)), lit(false)) === false)
        actions(i) -> (conds(i).toSeq ++ noneEarlier).reduceOption(_ && _)
      }
    }
    // the ON clause: same-name target = source equalities are the key,
    // every other conjunct rides the match join as a residual
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def bare(e: Expression): Expression = e match {
      case c: Cast => bare(c.child)
      case other => other
    }
    val (keyConjs, residual) = on.toSeq.flatMap(conjuncts).partition(e => e match {
      case EqualTo(l, r) => (bare(l), bare(r)) match {
        case (a: Attribute, b: Attribute) => a.name.equalsIgnoreCase(b.name) &&
          (tgt.contains(a) && src.contains(b) || tgt.contains(b) && src.contains(a))
        case _ => false
      }
      case _ => false
    })
    val keys = keyConjs.map { case EqualTo(l, r) =>
      Seq(bare(l), bare(r)).collectFirst { case a: Attribute if tgt.contains(a) => a.name }.get
    }.distinct
    require(source.isEmpty || keys.nonEmpty, "MERGE ON needs at least one same-column " +
      s"key equality, got: ${on.map(_.sql).getOrElse("")}")
    // the command reads the source in the table's schema, so a clause
    // may read only the source columns the table has
    val tableCols = target.map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
    val clauseExprs = matched ++ notMatched ++ notMatchedBySource ++ on
    val foreign = clauseExprs.flatMap(_.references).filter(a =>
      src.contains(a) && !tableCols(a.name.toLowerCase(java.util.Locale.ROOT)))
    require(foreign.isEmpty, s"$op: a clause reads source column(s) " +
      s"${foreign.map(_.name).distinct.mkString(", ")} that ${table.name()} does not have")
    // nor may a star action drop one: Spark expands UPDATE SET * and
    // INSERT * over the table's columns, so a source column the table
    // lacks would vanish unnoticed (MERGE WITH SCHEMA EVOLUTION adds it
    // first)
    val star = insertStar || matched.exists {
      case UpdateAction(_, _, fromStar) => fromStar
      case a => a.isInstanceOf[UpdateStarAction]
    }
    val dropped = source.toSeq.flatMap(_.output).map(_.name)
      .filterNot(n => tableCols(n.toLowerCase(java.util.Locale.ROOT)))
    require(!star || dropped.isEmpty, s"$op: UPDATE SET * / INSERT * would drop source " +
      s"column(s) ${dropped.mkString(", ")} that ${table.name()} does not have; " +
      "MERGE WITH SCHEMA EVOLUTION adds them")
    // a correlated subquery binds the target rows Spark resolved, not
    // the rows the planner reads
    require(!clauseExprs.exists(SubqueryExpression.hasCorrelatedSubquery),
      s"$op on ${table.name()}: a correlated subquery condition is not supported; " +
      "write it as c IN (SELECT ...) or as a MERGE")
    // the planner evaluates a MATCHED condition on the matched target row
    val readsSource = matched.flatMap(_.condition).flatMap(_.references).filter(src.contains)
    require(readsSource.isEmpty, "MERGE: a WHEN MATCHED condition may read only target " +
      s"columns, got source column(s) ${readsSource.map(_.name).distinct.mkString(", ")}")
    val m = firstMatch("WHEN MATCHED", matched)
    val nmbs = firstMatch("WHEN NOT MATCHED BY SOURCE", notMatchedBySource)
    val clauses = DmlClauses(
      updateAll = m.exists(!_._1.isInstanceOf[DeleteAction]),
      updateCond = m.collectFirst { case (_: UpdateAction | _: UpdateStarAction, c) => c }.flatten,
      updateSet = m.collectFirst { case (UpdateAction(_, as, false), _) => set(as, withTarget) },
      deleteCond = m.collectFirst { case (_: DeleteAction, c) => c.getOrElse(lit(true)) },
      inserts = notMatched.map {
        case InsertAction(c, as) => (c.map(sourceOnly), Some(set(as, sourceOnly)))
        case InsertStarAction(c) => (c.map(sourceOnly), None)
        case a => unsupported(a)
      },
      nmbsUpdate = nmbs.collectFirst {
        case (UpdateAction(_, as, _), c) => (c, set(as, withTarget))
        case (a: UpdateStarAction, _) => unsupported(a)
      },
      nmbsDelete = nmbs.collectFirst { case (_: DeleteAction, c) => c.getOrElse(lit(true)) },
      matchCond = residual.reduceOption(And).map(withTarget))
    GraftDmlCommand(table.path, table.name(), op, keys, clauses, source, keyed)
  }
}

private[graft] object GraftDml {

  /** Set on a parsed MERGE with an `INSERT *` clause. Spark expands the
    * star over the table's columns during analysis, after which it
    * reads as an explicit insert of every column; the tag survives the
    * analyzer's rewrites of the node.
    */
  private val InsertStar = TreeNodeTag[Unit]("graft.insertStar")

  /** `plan`, tagged with [[InsertStar]] when it is a MERGE with an
    * `INSERT *` clause. Both SQL front ends mark the plan they parse.
    */
  def markInsertStar(plan: LogicalPlan): LogicalPlan = {
    plan match {
      case m: MergeIntoTable if m.notMatchedActions.exists(_.isInstanceOf[InsertStarAction]) =>
        m.setTagValue(InsertStar, ())
      case _ =>
    }
    plan
  }

  /** A resolved DML target over a graftlake catalog table. */
  private object Target {
    def unapply(p: LogicalPlan): Option[(GraftLakeTable, Seq[Attribute])] =
      EliminateSubqueryAliases(p) match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftLakeTable =>
            require(t.pinnedVersion.isEmpty,
              "cannot run row-level DML on a time-travelled table snapshot")
            Some((t, r.output))
          case _ => None
        }
        case _ => None
      }
  }

  /** `c IN (SELECT k …)` on a target column `c`, uncorrelated. */
  private object KeyedIn {
    def unapply(e: Expression): Option[(Attribute, LogicalPlan)] = e match {
      case InSubquery(Seq(c: Attribute), q: ListQuery)
          if q.outerAttrs.isEmpty && q.plan.output.size == 1 => Some((c, q.plan))
      case _ => None
    }
  }

  /** The keyed merge an IN-subquery DELETE / UPDATE runs: the
    * subquery's column, renamed to the key, is the source.
    */
  private def keyed(t: GraftLakeTable, out: Seq[Attribute], key: Attribute,
      sub: LogicalPlan, action: MergeAction): Option[GraftDml] =
    if (!out.exists(_.semanticEquals(key))) None
    else {
      val k = Alias(sub.output.head, key.name)()
      Some(GraftDml(t, "MERGE", out, Some(EqualTo(key, k.toAttribute)),
        Seq(action), Nil, Nil, Some(Project(Seq(k), sub)), keyed = true))
    }

  /** Resolution rule: Spark's resolved DML on a graftlake catalog
    * table becomes a [[GraftDml]]. Spark's own row-level rewrites run
    * earlier in the same batch, but only for tables that declare
    * row-level operation support, which a graftlake table does not.
    */
  object Resolve extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
      case d @ DeleteFromTable(Target(t, out), cond) if d.resolved =>
        (cond match {
          case KeyedIn(k, sub) => keyed(t, out, k, sub, DeleteAction(None))
          case _ => None
        }).getOrElse(GraftDml(t, "DELETE", out, None, Nil, Nil,
          Seq(DeleteAction(Some(cond))), None))
      case u @ UpdateTable(Target(t, out), as, cond) if u.resolved =>
        (cond match {
          case Some(KeyedIn(k, sub)) => keyed(t, out, k, sub, UpdateAction(None, as))
          case _ => None
        }).getOrElse(GraftDml(t, "UPDATE", out, None, Nil, Nil,
          Seq(UpdateAction(cond, as)), None))
      case m @ MergeIntoTable(Target(t, out), src, on, ma, nma, nmbs, evolve) if m.resolved =>
        require(!evolve,
          "MERGE WITH SCHEMA EVOLUTION on a graftlake table runs through its SQL statement route")
        GraftDml(t, "MERGE", out, Some(on), ma, nma, nmbs, Some(src),
          insertStar = m.getTagValue(InsertStar).isDefined)
    }
  }

  /** Post-hoc rule, installed after every other: lowers each
    * [[GraftDml]] into its runnable command, so the optimizer never
    * rewrites the source plan or the clauses the command runs.
    */
  object Seal extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
      case d: GraftDml => d.lowered
    }
  }
}

/** A lowered DML statement: runs the planner on the table at
  * `path` in its `graft.dml.mode`, over `source`'s rows aligned to the
  * table's schema (the IN-subquery's distinct keys when `keyed`).
  */
private[graft] final case class GraftDmlCommand(path: String, tableName: String,
    op: String, keys: Seq[String], clauses: DmlClauses, source: Option[LogicalPlan],
    keyed: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = source.toSeq
  override def argString(maxFields: Int): String = s"$op $tableName"

  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }

  /** Runs the statement and answers the planner's metrics, which
    * `GraftSql` returns as `metric, value` rows.
    */
  def execute(spark: SparkSession): Map[String, String] = {
    val t = GraftTable.forPath(spark, path)
    val src = source.map { p =>
      val df = StreamShim.ofRows(spark, p)
      DmlClauses.alignSource(t, if (keyed) df.distinct() else df)
    }
    t.executeDml(op, src, keys, clauses, t.dmlMergeOnRead)
  }
}
