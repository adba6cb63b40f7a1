package graft.plans

import scala.collection.mutable

import graft.lake.{GraftTable, MaterializedAgg}
import graft.sources.GraftFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Registry of materialized views eligible for transparent query
  * rewrite ([[MvRewriteRule]]). Registration is explicit — the MV
  * owner opts the view into answering source queries — in one of two
  * durabilities:
  *
  *  - [[register]]/[[registerDistinct]]: this process only.
  *  - [[registerPersistent]]/[[registerPersistentDistinct]]: ALSO
  *    stamps the view's path into the SOURCE table's properties
  *    (`graft.mv.registeredView`), so any later session that queries
  *    the source auto-loads the registration from the source's own
  *    transaction log — no re-registration, no second metastore. The
  *    pointer lives on the source (not the view) because the rewrite
  *    rule starts from the source scan, whose file index names the
  *    table; one property read finds the view.
  *
  * Registrations are keyed by the source's [[GraftTable.location]].
  * Probing is cached per source for the life of the process
  * (positive and negative): planning never pays more than one log
  * probe per table. A view registered persistently by ANOTHER process
  * after this one first queried the source becomes visible on restart
  * or an explicit [[clear]] — the documented staleness bound.
  */
object MvCatalog {
  private val views = mutable.Map[String, MaterializedAgg]()
  private val distinctViews =
    mutable.Map[String, graft.lake.MaterializedDistinct]()
  private val probed = mutable.Set[String]()

  /** Source-table property pointing at its registered view. */
  val RegisteredViewKey = "graft.mv.registeredView"

  private val outerViews =
    mutable.Map[String, graft.lake.MaterializedOuterJoin]()

  def register(mv: MaterializedAgg): Unit = {
    requireUngoverned(mv.source)
    synchronized { views(mv.source.location) = mv }
  }
  def registerDistinct(mv: graft.lake.MaterializedDistinct): Unit = {
    requireUngoverned(mv.source)
    synchronized { distinctViews(mv.source.location) = mv }
  }
  def registerOuter(mv: graft.lake.MaterializedOuterJoin): Unit = {
    requireUngoverned(mv.source)
    synchronized { outerViews(mv.source.location) = mv }
  }

  /** Whether ANY in-process registration (session-scoped or loaded
    * from a persisted pointer) targets `source` — consulted by the
    * policy-install guard so `CREATE MATERIALIZED VIEW` via the
    * session catalog can't slip past the exclusivity rule the
    * persisted-pointer check enforces (r14 advisory).
    */
  def hasViewFor(source: GraftTable): Boolean = registered(source.location)

  private def registered(location: String): Boolean = synchronized {
    views.contains(location) || distinctViews.contains(location) ||
      outerViews.contains(location)
  }
  /** Governance exclusivity (L114): an MV folds raw CDC deltas, so a
    * row filter / column mask on the source would let the transparent
    * rewrite answer governed queries from ungoverned aggregates —
    * refuse registration (the reverse direction refuses in
    * GraftTable.setRowFilter/setColumnMask).
    */
  private def requireUngoverned(source: GraftTable): Unit = {
    val props = source.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    require(!props.contains("graft.rowFilter") &&
        !props.keys.exists(_.startsWith("graft.colMask.")),
      s"cannot register a materialized view on ${source.path}: the table " +
        "carries a row filter / column mask (governed tables and MVs are " +
        "exclusive)")
  }

  def registerPersistentOuter(mv: graft.lake.MaterializedOuterJoin): Unit = {
    requireUngoverned(mv.source)
    mv.source.setTableProperties(Map(RegisteredViewKey -> mv.view.path))
    registerOuter(mv)
  }

  def registerPersistent(mv: MaterializedAgg): Unit = {
    requireUngoverned(mv.source)
    mv.source.setTableProperties(Map(RegisteredViewKey -> mv.view.path))
    register(mv)
  }
  def registerPersistentDistinct(mv: graft.lake.MaterializedDistinct): Unit = {
    requireUngoverned(mv.source)
    mv.source.setTableProperties(Map(RegisteredViewKey -> mv.view.path))
    registerDistinct(mv)
  }
  /** Withdraw a persisted registration: empty pointer = unregistered. */
  def deregisterPersistent(source: GraftTable): Unit = {
    source.setTableProperties(Map(RegisteredViewKey -> ""))
    deregister(source.path)
  }

  def deregister(sourcePath: String): Unit = {
    val location = GraftTable.location(sourcePath)
    synchronized {
      views.remove(location); distinctViews.remove(location)
      outerViews.remove(location); ()
    }
  }
  def clear(): Unit = synchronized {
    views.clear(); distinctViews.clear(); outerViews.clear(); probed.clear()
  }
  private[plans] def lookup(source: GraftTable): Option[MaterializedAgg] =
    synchronized { views.get(source.location) }
  private[plans] def lookupDistinct(source: GraftTable)
      : Option[graft.lake.MaterializedDistinct] =
    synchronized { distinctViews.get(source.location) }
  private[plans] def lookupOuter(source: GraftTable)
      : Option[graft.lake.MaterializedOuterJoin] =
    synchronized { outerViews.get(source.location) }

  /** Load any PERSISTED registration for `src` into the in-process
    * maps (once per table; misses cached).
    */
  private[plans] def ensureLoaded(spark: SparkSession, src: GraftTable): Unit = {
    val shouldProbe = synchronized {
      if (probed.contains(src.location) || registered(src.location)) false
      else { probed += src.location; true }
    }
    if (shouldProbe) try {
      src.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
        .get(RegisteredViewKey).filter(_.nonEmpty).foreach { viewPath =>
          val vt = GraftTable.forPath(spark, viewPath)
          val vprops =
            vt.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
          if (vprops.contains(graft.lake.MaterializedDistinct.DistinctKey))
            registerDistinct(
              graft.lake.MaterializedDistinct.forPath(spark, viewPath, src))
          else if (vprops.contains(
              graft.lake.MaterializedOuterJoin.OuterDimKey))
            registerOuter(
              graft.lake.MaterializedOuterJoin.forPath(spark, viewPath, src))
          else register(MaterializedAgg.forPath(spark, viewPath, src))
        }
    } catch {
      // a dangling pointer (view dropped, log cleaned) simply means
      // no transparent rewrite — the query still answers from source
      case scala.util.control.NonFatal(_) => ()
    }
  }
}

/** Transparent materialized-view rewrite (the half that makes an MV a
  * VIEW and not just a cached table): a whole-table `GROUP BY` whose
  * grouping set and aggregates are exactly what a registered
  * [[MaterializedAgg]] maintains is answered from the KB–GB view
  * state instead of the full source scan — at 100 TB that turns the
  * dashboard aggregate into a metadata-sized read.
  *
  * The source is the table the scan's [[GraftFileIndex]] names.
  * Strictly correctness-gated: the rewrite fires only when (a) the
  * scanned file set IS the source's current active file set, with no
  * deletion vectors outstanding (a stale DataFrame handle keeps its
  * own plan), (b) the view's stamped
  * source version equals the source's current version (a stale view
  * never answers), and (c) every output expression maps 1:1 onto
  * stored state — grouping attrs, `count(*)`/`count(1)`, or
  * `sum(col)` / `avg(col)` / `count(col)` over a maintained column
  * (avg divides the stored sum by the stored NON-NULL count).
  * A `WHERE` below the aggregate is admissible when it is
  * deterministic and references view KEY columns only — it filters
  * whole groups, so it runs over the stored state verbatim.
  * Anything else leaves the plan untouched. Output attribute ids are
  * preserved, so downstream operators resolve unchanged.
  */
case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupingExprs, aggExprs, lr: LogicalRelation, _) =>
      rewrite(agg, groupingExprs, aggExprs, lr, None)
        .orElse(rewriteDistinct(agg, groupingExprs, aggExprs, lr))
        .getOrElse(agg)
    // WHERE over view KEY columns only: such a predicate partitions
    // whole groups, so it applies over the stored state verbatim —
    // `GROUP BY category WHERE country='DE'` answers from a
    // (country, category) view by filtering + re-aggregating KB-scale
    // state. Predicates touching any non-key column decline.
    case agg @ Aggregate(groupingExprs, aggExprs,
        Filter(cond, lr: LogicalRelation), _) =>
      rewrite(agg, groupingExprs, aggExprs, lr, Some(cond)).getOrElse(agg)
    // the JOIN-VIEW shape (L83): `fact ⋈ dim GROUP BY …` — the USING
    // idiom resolves to Aggregate over a pure-attribute Project over
    // an Inner Join of two relations
    case agg @ Aggregate(groupingExprs, aggExprs,
        Project(projList, Join(l: LogicalRelation, r: LogicalRelation,
          Inner, Some(cond), _)), _)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteJoin(agg, groupingExprs, aggExprs, l, r, cond, None).getOrElse(agg)
    // the OUTER shapes (L90): `fact ⟕/⟖ dim GROUP BY …` answer from
    // the key-grain outer view's state-join-live-dim read, gated on
    // the view's stored join kind. (FULL OUTER's USING idiom
    // coalesces the key columns, so its plan never matches the
    // pure-attribute Project — the view still answers via its own
    // toDF; only the transparent shape is left/right.)
    case agg @ Aggregate(groupingExprs, aggExprs,
        Project(projList, Join(l: LogicalRelation, r: LogicalRelation,
          LeftOuter, Some(cond), _)), _)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteOuterJoin(agg, groupingExprs, aggExprs, l, r, cond, "left")
        .getOrElse(agg)
    case agg @ Aggregate(groupingExprs, aggExprs,
        Project(projList, Join(l: LogicalRelation, r: LogicalRelation,
          RightOuter, Some(cond), _)), _)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteOuterJoin(agg, groupingExprs, aggExprs, l, r, cond, "right")
        .getOrElse(agg)
    // join view + WHERE over view KEY columns only (same whole-group
    // admissibility as the single-table case)
    case agg @ Aggregate(groupingExprs, aggExprs,
        Filter(fcond, Project(projList,
          Join(l: LogicalRelation, r: LogicalRelation, Inner, Some(cond), _))), _)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteJoin(agg, groupingExprs, aggExprs, l, r, cond, Some(fcond))
        .getOrElse(agg)
  }

  /** The GraftLake source `lr` scans, with its registrations loaded. */
  private def source(lr: LogicalRelation): Option[GraftTable] =
    lr.relation match {
      case HadoopFsRelation(idx: GraftFileIndex, _, _, _, _, _) =>
        MvCatalog.ensureLoaded(spark, idx.table)
        Some(idx.table)
      case _ => None
    }

  /** Whether `lr` scans exactly `t`'s current active set, with no
    * deletion vectors outstanding.
    */
  private def scansCurrent(lr: LogicalRelation, t: GraftTable): Boolean =
    lr.relation match {
      case HadoopFsRelation(idx: GraftFileIndex, _, _, _, _, _) =>
        val s = t.snapshot
        idx.table.location == t.location && s.dvFiles.isEmpty && idx.covers(s)
      case _ => false
    }

  /** The column names `cond` equates, when it is a conjunction of
    * same-named equalities with one side from each relation.
    */
  private def equiJoinKeys(l: LogicalRelation, r: LogicalRelation,
      cond: Expression): Option[Set[String]] = {
    val lAttrs = l.output.map(a => a.exprId -> a.name).toMap
    val rAttrs = r.output.map(a => a.exprId -> a.name).toMap
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
        conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    Some(conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (la, ra) = (lAttrs.get(a.exprId), rAttrs.get(b.exprId))
        val (lb, rb) = (lAttrs.get(b.exprId), rAttrs.get(a.exprId))
        if (la.isDefined && ra.isDefined && la == ra) la.get
        else if (lb.isDefined && rb.isDefined && lb == rb) lb.get
        else return None
      case _ => return None
    }.toSet)
  }

  /** Rewrite `fact ⋈ dim GROUP BY keys` onto a registered, DOUBLY
    * fresh join view: both sides' scans must be their tables' current
    * active sets, both version stamps current, the join condition an
    * equi-conjunction on exactly the view's join keys, the grouping
    * an exact match — or a strict subset (rollup re-aggregation) —
    * of the view's keys, every aggregate mapped onto stored state.
    */
  private def rewriteJoin(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], l: LogicalRelation,
      r: LogicalRelation, cond: Expression,
      filter: Option[Expression]): Option[LogicalPlan] = {
    val mv = source(l).flatMap(MvCatalog.lookup).getOrElse(return None)
    val dim = mv.dim.getOrElse(return None)
    val vprops = mv.view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    // freshness on BOTH stamps, and both scans must be current
    if (!vprops.get("graft.mv.sourceVersion").map(_.toLong)
        .contains(mv.source.version)) return None
    if (!vprops.get("graft.mv.dimVersion").map(_.toLong)
        .contains(dim.version)) return None
    if (!scansCurrent(l, mv.source) || !scansCurrent(r, dim)) return None
    // the join condition must be an equi-conjunction on EXACTLY the
    // view's join keys, one side from each relation
    val joinKeys = vprops.getOrElse("graft.mv.joinKeys", "")
      .split(",").filter(_.nonEmpty).toSet
    if (!equiJoinKeys(l, r, cond).contains(joinKeys)) return None
    val groupCols = vprops("graft.mv.groupCols").split(",").toSeq.filter(_.nonEmpty)
    val groupNames = groupingExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    // exact keys read state as-is; a strict SUBSET re-aggregates the
    // stored state — the same rollup contract as the single-table
    // path (GROUP BY region answered from (region, category) join
    // state), and the subset may come from EITHER side of the join
    val exact = groupNames.toSet == groupCols.toSet
    val rollup = !exact && groupNames.toSet.subsetOf(groupCols.toSet) &&
      groupNames.toSet.size == groupNames.size
    if (!exact && !rollup) return None
    val sumCols = vprops("graft.mv.sumCols").split(",").toSet
    val minCols = vprops.getOrElse("graft.mv.minCols", "")
      .split(",").filter(_.nonEmpty).toSet
    val maxCols = vprops.getOrElse("graft.mv.maxCols", "")
      .split(",").filter(_.nonEmpty).toSet
    // filter admissibility mirrors the single-table path: a
    // deterministic predicate over view KEY columns partitions whole
    // groups, so it runs over stored state with attrs re-targeted
    filter.foreach { fcond =>
      if (!fcond.deterministic) return None
      if (!fcond.references.forall(a => groupCols.contains(a.name))) return None
    }
    val mvPlan = mv.toDF.queryExecution.analyzed
    val mvOut: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    val projections = stateProjections(aggExprs, mvOut, groupCols, sumCols,
      minCols, maxCols, rollup).getOrElse(return None)
    statePlan(mvPlan, mvOut, projections, filter, groupNames, exact)
  }

  /** `GROUP BY keys ... COUNT(DISTINCT x)` over a fresh source reads
    * the L87 occurrence-grain state: the state holds one row per
    * surviving (keys, x) pair, so the distinct count is `count(*)`
    * over state per group — a state-sized aggregate instead of a
    * source-wide distinct shuffle. Exact shape only: view keys, one
    * distinct aggregate on the maintained column (plus group attrs),
    * current stamp, exact active-set scan.
    */
  private def rewriteDistinct(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      lr: LogicalRelation): Option[LogicalPlan] = {
    val mv = source(lr).flatMap(MvCatalog.lookupDistinct).getOrElse(return None)
    val props = mv.view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    if (!props.get("graft.mv.sourceVersion").map(_.toLong)
        .contains(mv.source.version)) return None
    if (!scansCurrent(lr, mv.source)) return None
    val groupCols = props("graft.mv.groupCols").split(",").toSeq.filter(_.nonEmpty)
    val distinctCol = props.getOrElse(
      graft.lake.MaterializedDistinct.DistinctKey, return None)
    val groupNames = groupingExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (groupNames.toSet != groupCols.toSet) return None
    val statePlan = mv.stateDF.queryExecution.analyzed
    val stateOut = statePlan.output.map(a => a.name -> a).toMap
    val projections = aggExprs.map {
      case a: AttributeReference if groupCols.contains(a.name) =>
        val c = stateOut.get(a.name).getOrElse(return None)
        Alias(Cast(c, a.dataType), a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(
          Count(Seq(x: AttributeReference)), _, true, None, _), name)
          if x.name == distinctCol =>
        // Count over the state's distinct column, NOT count(1): the
        // state keeps one row per (keys, NULL) so an all-NULL group
        // still surfaces, but SQL's COUNT(DISTINCT x) skips NULLs —
        // count(stateX) skips the NULL state row for free.
        val stateX = stateOut.get(distinctCol).getOrElse(return None)
        Alias(Cast(AggregateExpression(Count(Seq(stateX)),
          org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = false), al.dataType), name)(exprId = al.exprId)
      case _ => return None
    }
    // require at least the distinct aggregate itself to be present
    if (!aggExprs.exists {
      case Alias(AggregateExpression(Count(Seq(x: AttributeReference)), _,
        true, None, _), _) => x.name == distinctCol
      case _ => false
    }) return None
    val groupAttrs: Seq[Expression] =
      groupNames.map(n => stateOut.get(n).getOrElse(return None))
    Some(Aggregate(groupAttrs, projections, statePlan))
  }

  private def rewrite(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], lr: LogicalRelation,
      filter: Option[Expression]): Option[LogicalPlan] = {
    val mv = source(lr).flatMap(MvCatalog.lookup).getOrElse(return None)
    // freshness: the view must reflect the source's CURRENT version…
    val srcProps = mv.view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    // a JOIN view's state aggregates fact⋈dim, not the source alone —
    // answering a plain source GROUP BY from it would be wrong
    if (srcProps.contains(MaterializedAgg.DimKey)) return None
    if (!srcProps.get("graft.mv.sourceVersion").map(_.toLong)
        .contains(mv.source.version)) return None
    // …and the plan must scan exactly that version's active files
    if (!scansCurrent(lr, mv.source)) return None

    val groupCols = srcProps("graft.mv.groupCols").split(",").toSeq.filter(_.nonEmpty)
    val sumCols = srcProps("graft.mv.sumCols").split(",").toSet
    val minCols = srcProps.getOrElse("graft.mv.minCols", "")
      .split(",").filter(_.nonEmpty).toSet
    val maxCols = srcProps.getOrElse("graft.mv.maxCols", "")
      .split(",").filter(_.nonEmpty).toSet
    val groupNames = groupingExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    // exact-shape match reads state as-is; a STRICT SUBSET of the
    // view's keys re-aggregates it (classic rollup: GROUP BY country
    // answered from (country, category) state — sums/counts fold by
    // summing, min/max by min/max, avg from refolded sum/cnt). The
    // state is KB–GB, so the re-aggregate is still metadata-sized
    // next to a 100 TB source scan. A superset or mismatch declines.
    val exact = groupNames.toSet == groupCols.toSet
    val rollup = !exact && groupNames.toSet.subsetOf(groupCols.toSet) &&
      groupNames.toSet.size == groupNames.size
    if (!exact && !rollup) return None
    // filter admissibility: deterministic and over view keys only
    filter.foreach { cond =>
      if (!cond.deterministic) return None
      if (!cond.references.forall(a => groupCols.contains(a.name))) return None
    }

    val mvPlan = mv.toDF.queryExecution.analyzed
    val mvOut: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    val projections = stateProjections(aggExprs, mvOut, groupCols, sumCols,
      minCols, maxCols, rollup).getOrElse(return None)
    statePlan(mvPlan, mvOut, projections, filter, groupNames, exact)
  }

  /** Map every output expression 1:1 onto stored view state — ONE
    * implementation shared by the single-table and join-view rewrites
    * so their aggregate surface can never drift. A missing state
    * column (pre-upgrade view) or an unmappable expression yields
    * None; under `rollup` foldable aggregates re-aggregate.
    */
  /** Rewrite `fact LEFT JOIN dim GROUP BY …` onto a registered, fresh
    * LEFT-OUTER view (L90). Freshness needs only the FACT stamp — the
    * view's read joins the live dim by construction, so the dim needs
    * no version gate beyond "the query scans the dim's current active
    * set" (the same file-set identity every rewrite demands). The
    * replacement plan is the view's own read (state ⟕ dim,
    * state-sized) with the query's aggregate surface mapped onto the
    * state columns — exact keys project, a strict subset re-folds,
    * identical to the inner join path.
    */
  private def rewriteOuterJoin(agg: Aggregate,
      groupingExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      l: LogicalRelation, r: LogicalRelation,
      cond: Expression, kind: String): Option[LogicalPlan] = {
    val mv = source(l).flatMap(MvCatalog.lookupOuter).getOrElse(return None)
    if (mv.joinType != kind) return None // a left view must not answer right
    val vprops = mv.view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    if (!vprops.get("graft.mv.sourceVersion").map(_.toLong)
        .contains(mv.source.version)) return None
    if (!scansCurrent(l, mv.source) || !scansCurrent(r, mv.dim)) return None
    val joinKeys = vprops.getOrElse(
        graft.lake.MaterializedOuterJoin.OuterJoinKeysKey, "")
      .split(",").filter(_.nonEmpty).toSet
    if (!equiJoinKeys(l, r, cond).contains(joinKeys)) return None
    val groupCols = vprops.getOrElse(
        graft.lake.MaterializedOuterJoin.OuterGroupKey, "")
      .split(",").toSeq.filter(_.nonEmpty)
    val groupNames = groupingExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    val exact = groupNames.toSet == groupCols.toSet
    val rollup = !exact && groupNames.toSet.subsetOf(groupCols.toSet) &&
      groupNames.toSet.size == groupNames.size
    if (!exact && !rollup) return None
    // fact-side aggregates live in state; dim-side ones are expanded
    // by the view's read — toDF exposes BOTH under the same mv_*
    // names, so the projection mapping treats them uniformly
    def set(k: String): Set[String] =
      vprops.getOrElse(k, "").split(",").filter(_.nonEmpty).toSet
    val sumCols = set("graft.mv.sumCols") ++
      set(graft.lake.MaterializedOuterJoin.OuterDimSumKey)
    val minCols = set("graft.mv.minCols") ++
      set(graft.lake.MaterializedOuterJoin.OuterDimMinKey)
    val maxCols = set("graft.mv.maxCols") ++
      set(graft.lake.MaterializedOuterJoin.OuterDimMaxKey)
    val mvPlan = mv.toDF.queryExecution.analyzed
    val mvOut: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    val projections = stateProjections(aggExprs, mvOut, groupCols, sumCols,
      minCols, maxCols, rollup).getOrElse(return None)
    statePlan(mvPlan, mvOut, projections, None, groupNames, exact)
  }

  /** The replacement plan over the view state: the admissible WHERE
    * re-targeted at the state's columns (same names, same types — a
    * type drift declines), then the projections as-is for exact keys
    * or re-aggregated by `groupNames` for a rollup.
    */
  private def statePlan(mvPlan: LogicalPlan, mvOut: Map[String, Attribute],
      projections: Seq[NamedExpression], filter: Option[Expression],
      groupNames: Seq[String], exact: Boolean): Option[LogicalPlan] = {
    val base = filter.fold(mvPlan) { cond =>
      Filter(cond.transform {
        case a: AttributeReference =>
          val c = mvOut.get(a.name).getOrElse(return None)
          if (c.dataType != a.dataType) return None
          c
      }, mvPlan)
    }
    if (exact) Some(Project(projections, base))
    else Some(Aggregate(groupNames.map(n => mvOut.get(n).getOrElse(return None)),
      projections, base))
  }

  private def stateProjections(aggExprs: Seq[NamedExpression],
      mvOut: Map[String, Attribute], groupCols: Seq[String],
      sumCols: Set[String], minCols: Set[String], maxCols: Set[String],
      rollup: Boolean): Option[Seq[NamedExpression]] = {
    def mvCol(n: String): Option[Attribute] = mvOut.get(n)
    def fold(fn: Expression => org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
        e: Expression): Expression =
      if (!rollup) e
      else AggregateExpression(fn(e), org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
        isDistinct = false)
    def sumSource(e: Expression): Option[String] = e match {
      case a: AttributeReference if sumCols.contains(a.name) => Some(a.name)
      case Cast(a: AttributeReference, _, _, _) if sumCols.contains(a.name) =>
        Some(a.name)
      case _ => None
    }
    Some(aggExprs.map {
      case a: AttributeReference if groupCols.contains(a.name) =>
        val c = mvCol(a.name).getOrElse(return None)
        Alias(Cast(c, a.dataType), a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), name) =>
        val c = mvCol(MaterializedAgg.CountCol).getOrElse(return None)
        Alias(Cast(fold(Sum(_), c), al.dataType), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(Sum(e, _), _, false, None, _), name) =>
        val c = sumSource(e).getOrElse(return None)
        val st = mvCol(MaterializedAgg.sumName(c)).getOrElse(return None)
        Alias(Cast(fold(Sum(_), st), al.dataType), name)(exprId = al.exprId)
      // AVG = stored sum / stored NON-NULL count (exact even when the
      // averaged column has NULLs — count(*) would be wrong there).
      // A group whose values are all NULL has a NULL stored sum, so
      // the division yields NULL like avg does; no divide-by-zero.
      case al @ Alias(AggregateExpression(Average(e, _), _, false, None, _), name) =>
        val c = sumSource(e).getOrElse(return None)
        val st = mvCol(MaterializedAgg.sumName(c)).getOrElse(return None)
        val ct = mvCol(MaterializedAgg.cntName(c)).getOrElse(return None)
        Alias(Cast(Divide(
          Cast(fold(Sum(_), st), DoubleType),
          Cast(fold(Sum(_), ct), DoubleType)), al.dataType),
          name)(exprId = al.exprId)
      // count(col) = stored non-null count for a maintained column
      case al @ Alias(AggregateExpression(Count(Seq(a: AttributeReference)), _, false, None, _), name)
          if sumCols.contains(a.name) =>
        val ct = mvCol(MaterializedAgg.cntName(a.name)).getOrElse(return None)
        Alias(Cast(fold(Sum(_), ct), al.dataType), name)(exprId = al.exprId)
      // min/max answer from their native-typed state columns (and fold
      // by min-of-mins / max-of-maxes under rollup)
      case al @ Alias(AggregateExpression(Min(a: AttributeReference), _, false, None, _), name)
          if minCols.contains(a.name) =>
        val st = mvCol(MaterializedAgg.minName(a.name)).getOrElse(return None)
        Alias(Cast(fold(Min(_), st), al.dataType), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(Max(a: AttributeReference), _, false, None, _), name)
          if maxCols.contains(a.name) =>
        val st = mvCol(MaterializedAgg.maxName(a.name)).getOrElse(return None)
        Alias(Cast(fold(Max(_), st), al.dataType), name)(exprId = al.exprId)
      case _ => return None
    })
  }
}
