package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate materialized view (the
  * lakehouse MV shape): the view's state is itself a [[GraftTable]]
  * holding group keys + RETRACTABLE aggregates (count, sums, and
  * per-column non-null counts — algebraic, so row-level change images
  * maintain them exactly; AVG derives as sum/cnt), plus optional
  * MIN/MAX columns maintained insert-only with recompute-on-retract
  * (a retraction can remove the extreme, which no fold recovers — the
  * affected GROUPS re-aggregate from a dirty-key-scoped source scan,
  * everything else keeps the fold), and `refresh()` advances it from
  * the source's change feed instead of re-aggregating the source.
  *
  * Why it scales: a refresh reads only the rows that CHANGED since
  * the stamped source version (CDC sidecars when present, exact
  * per-version diffs otherwise — updates arrive as retract+insert
  * pairs either way), aggregates them map-side to per-group deltas,
  * and folds them into the KB–GB-scale view state. A 100 TB source
  * with a million changed rows costs a million-row refresh, not a
  * 100 TB scan. The new state and its source-version stamp commit
  * ATOMICALLY ([[GraftTable.overwriteWithProperties]]) so a crashed
  * refresh can never double-apply a delta; an unchanged source is a
  * version-check no-op.
  *
  * Sums retract exactly for integral/decimal columns; float sums
  * would drift under retraction (standard MV caveat — store cents,
  * not dollars).
  */
final class MaterializedAgg private (val spark: SparkSession,
    val view: GraftTable, val source: GraftTable,
    val dim: Option[GraftTable] = None) {
  import MaterializedAgg._

  private def props: Map[String, String] =
    view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)

  private def groupCols: Seq[String] =
    props(GroupKey).split(",").toSeq.filter(_.nonEmpty)
  private def sumCols: Seq[String] =
    props(SumKey).split(",").toSeq.filter(_.nonEmpty)
  private def minCols: Seq[String] =
    props.getOrElse(MinKey, "").split(",").toSeq.filter(_.nonEmpty)
  private def maxCols: Seq[String] =
    props.getOrElse(MaxKey, "").split(",").toSeq.filter(_.nonEmpty)

  private def joinKeys: Seq[String] =
    props.getOrElse(JoinKeysKey, "").split(",").toSeq.filter(_.nonEmpty)

  /** The view's INPUT frame at a source version: the source alone, or
    * the fact⋈dim inner join for join views (dim read at its CURRENT
    * version — the incremental branch only runs when that version
    * still equals the stamp).
    */
  private def inputAt(v: Long): DataFrame = dim match {
    case Some(d) => source.toDFAt(v).join(d.toDF, joinKeys)
    case None => source.toDFAt(v)
  }

  def toDF: DataFrame = view.toDF

  /** Fold source (and, for join views, dim) changes since the stamped
    * versions into the view. Returns the view version (unchanged when
    * nothing moved).
    */
  def refresh(): Long = {
    val from = props(VersionKey).toLong
    val to = source.version
    def rematerialize(reason: String = ""): Long = {
      // a log ending below its stamp (table recreated at the same
      // path, or history truncated) has no forward change feed —
      // re-materialize from the current snapshots; silently keeping
      // the newer state would serve phantom rows. The reason rides
      // the commit info so a lost O(delta) contract is auditable in
      // DESCRIBE HISTORY rather than invisible.
      val init = MaterializedAgg.aggregate(inputAt(to), groupCols,
        sumCols, minCols, maxCols)
      view.overwriteWithProperties(init,
        Map(VersionKey -> to.toString) ++
          dim.map(d => DimVersionKey -> d.version.toString), "MV REMATERIALIZE",
        infoParams =
          if (reason.isEmpty) Map.empty else Map("graft.mv.reason" -> reason))
    }
    if (to < from) return rematerialize("source log ends below stamp")
    val dimFromTo: Option[(GraftTable, Long, Long)] = dim.map { d =>
      val st = props.get(DimVersionKey).map(_.toLong)
        .getOrElse(return rematerialize("missing dim version stamp"))
      if (d.version < st) return rematerialize("dim log ends below stamp")
      (d, st, d.version)
    }
    val dimMoved = dimFromTo.exists { case (_, f, t) => f != t }
    if (to == from && !dimMoved) return view.version
    // Each change image carries a fold sign; both fold directions
    // produce the same (group, agg-source, __sign) row shape, so one
    // union + one aggregate folds everything.
    def signed(cf: DataFrame): DataFrame = cf.withColumn("__sign",
      when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)))
    val needed = (groupCols ++ sumCols ++ minCols ++ maxCols).distinct
    val outShape = needed :+ "__sign"
    // Join views fold BOTH feeds, telescoping through dim@stamp:
    //   state                       = Σ fact@from ⋈ dim@dimFrom
    //   + Δfact(from→to) ⋈ dim@dimFrom  → Σ fact@to ⋈ dim@dimFrom
    //   + Δdim(dimFrom→dimTo) ⋈ fact@to → Σ fact@to ⋈ dim@dimTo
    // Exact for every algebraic aggregate (the join is bilinear in
    // its sides); min/max retract groups recompute below. The dim
    // fold reads the fact through dynamic file pruning on the dim
    // delta's keys — O(fact files touching dirty keys), not a full
    // fact scan, which is what makes an SCD dim update affordable
    // against a 100 TB fact. A fact row whose key misses the dim
    // contributes nothing in either direction, exactly like the full
    // aggregate.
    val deltaParts: Seq[DataFrame] = try dimFromTo match {
      case None =>
        Seq(signed(source.rawChangeFeed(from, to))
          .select(outShape.map(col): _*))
      case Some((d, dimFrom, dimTo)) =>
        val factFields = source.snapshot.schema.fieldNames.toSet
        val dimFields = d.snapshot.schema.fieldNames.toSet
        def sideCols(fields: Set[String]): Seq[String] =
          needed.filter(fields.contains).filterNot(joinKeys.contains)
        val factPart =
          if (to == from) None
          else Some(
            signed(source.rawChangeFeed(from, to))
              .select((joinKeys ++ sideCols(factFields) :+ "__sign").map(col): _*)
              .join(d.toDFAt(dimFrom), joinKeys)
              .select(outShape.map(col): _*))
        val dimPart =
          if (dimFrom == dimTo) None
          else {
            val dcf = signed(d.rawChangeFeed(dimFrom, dimTo))
              .select((joinKeys ++ sideCols(dimFields) :+ "__sign").map(col): _*)
            val fact = source.readDynamicallyPrunedMulti(dcf, joinKeys,
              versionAsOf = Some(to))
            Some(dcf.join(fact, joinKeys).select(outShape.map(col): _*))
          }
        Seq(factPart, dimPart).flatten
    } catch {
      // ONLY the missing-commit/version-unreadable failure (TxnLog
      // throws IllegalStateException when a fold window reaches below
      // a log-cleaned checkpoint) degrades to a re-materialization —
      // correct state at full-aggregate cost, same contract as the
      // index refreshes' rebuild fallback, with the reason stamped in
      // the commit info. Any other failure (e.g. an analysis error
      // from an ambiguous column) is a genuine fold bug and must
      // surface, not silently cost a full rebuild on every refresh.
      case e: IllegalStateException =>
        return rematerialize(s"change feed unavailable: ${e.getMessage}")
    }
    // referenced by the fold aggregate AND (for min/max views) the
    // dirty-key set: persist only when that second consumer exists —
    // a sum/count view reads the delta once, and persisting it would
    // add a cache-write pass for nothing (r17, guide §5)
    val needsDirty = minCols.nonEmpty || maxCols.nonEmpty
    val deltaRows0 = deltaParts.reduce(_ unionByName _)
    val deltaRows = if (needsDirty) deltaRows0.persist() else deltaRows0
    try {
      val isInsert = col("__sign") > 0
      // min/max fold only INSERT-side values (retract rows contribute
      // null, which min/max ignore) — valid for groups with no retracts;
      // retracted groups are recomputed below
      val deltaAggs =
        sum(col("__sign")).as(CountCol) +: (sumCols.flatMap(c => Seq(
          sum(col("__sign") * col(c).cast("long")).as(sumName(c)),
          sum(col("__sign") * when(col(c).isNotNull, 1L).otherwise(0L)).as(cntName(c)))) ++
          minCols.map(c => min(when(isInsert, col(c))).as(minName(c))) ++
          maxCols.map(c => max(when(isInsert, col(c))).as(maxName(c))))
      val delta = deltaRows
        .groupBy(groupCols.map(col): _*)
        .agg(deltaAggs.head, deltaAggs.tail: _*)
      // fold = union + re-aggregate: groups NULL keys together (a join
      // on keys would not) and never names columns ambiguously; the
      // union is view-state-sized + delta-sized, both far below source
      val stateCols = CountCol +: (sumCols.flatMap(c => Seq(sumName(c), cntName(c))) ++
        minCols.map(minName) ++ maxCols.map(maxName))
      val outCols = groupCols ++ stateCols
      val foldAggs = stateCols.map {
        case c if c.startsWith("mv_min_") => min(c).as(c)
        case c if c.startsWith("mv_max_") => max(c).as(c)
        case c => sum(c).as(c)
      }
      val folded = view.toDF.select(outCols.map(col): _*)
        .unionByName(delta.select(outCols.map(col): _*))
        .groupBy(groupCols.map(col): _*)
        .agg(foldAggs.head, foldAggs.tail: _*)
        .filter(col(CountCol) > 0) // fully-retracted groups disappear
      // recompute-on-retract: a retraction may have removed a group's
      // current min/max, which no fold can recover — every group the
      // change feed RETRACTED from is re-aggregated from the source at
      // `to`, scoped by a (broadcastable) dirty-key semi-join; clean
      // groups keep the fold. Null-safe key equality so NULL-keyed
      // groups route correctly. Without min/max columns the dirty set
      // is irrelevant (count/sum/cnt fold exactly) and is skipped.
      val next =
        if (!needsDirty) folded
        else {
          val dirty = deltaRows.filter(!isInsert)
            .select(groupCols.map(col): _*).distinct()
          val dAlias = dirty.alias("__dk")
          def keyEq(l: DataFrame): Column = groupCols.map(k =>
            l(k) <=> org.apache.spark.sql.functions.col(s"__dk.$k")).reduce(_ && _)
          val clean = folded.join(dAlias, keyEq(folded), "left_anti")
          val src = inputAt(to)
          val recomputed = MaterializedAgg.aggregate(
            src.join(dAlias, keyEq(src), "left_semi"),
            groupCols, sumCols, minCols, maxCols)
          clean.unionByName(recomputed)
        }
      view.overwriteWithProperties(next,
        Map(VersionKey -> to.toString) ++
          dimFromTo.map { case (_, _, dimTo) => DimVersionKey -> dimTo.toString },
        "MV REFRESH")
    } finally if (needsDirty) { deltaRows.unpersist(); () }
  }
}

object MaterializedAgg {
  private val SourceKey = "graft.mv.source"
  private val GroupKey = "graft.mv.groupCols"
  private val SumKey = "graft.mv.sumCols"
  private val MinKey = "graft.mv.minCols"
  private val MaxKey = "graft.mv.maxCols"
  private val VersionKey = "graft.mv.sourceVersion"
  val DimKey = "graft.mv.dim"
  private val DimVersionKey = "graft.mv.dimVersion"
  private val JoinKeysKey = "graft.mv.joinKeys"
  val CountCol = "mv_count"
  def sumName(c: String): String = s"mv_sum_$c"
  /** Per-column NON-NULL count: with [[sumName]] it derives an exact
    * AVG (`sum/cnt`, not `sum/count(*)` — the two differ whenever the
    * averaged column has NULLs), retractable like the sums.
    */
  def cntName(c: String): String = s"mv_cnt_$c"
  /** MIN/MAX state, kept in the column's NATIVE type (no long cast —
    * extremes don't need retraction-exact integer arithmetic, they
    * need order). Maintained insert-only by fold; retracting groups
    * recompute (see refresh).
    */
  def minName(c: String): String = s"mv_min_$c"
  def maxName(c: String): String = s"mv_max_$c"

  private[lake] def aggregate(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): DataFrame = {
    val aggs = count(lit(1)).as(CountCol) +: (sumCols.flatMap(c => Seq(
      sum(col(c).cast("long")).as(sumName(c)),
      count(col(c)).as(cntName(c)))) ++
      minCols.map(c => min(col(c)).as(minName(c))) ++
      maxCols.map(c => max(col(c)).as(maxName(c))))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Materialize `SELECT groupCols, count(*), sum(sumCols…),
    * min(minCols…), max(maxCols…) FROM source GROUP BY groupCols` at
    * `path`, stamped with the source version the initial full
    * aggregation read.
    */
  def create(spark: SparkSession, path: String, source: GraftTable,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      extraProps: Map[String, String] = Map.empty): MaterializedAgg = {
    require(groupCols.nonEmpty, "materialized aggregate needs group columns")
    val schema = source.snapshot.schema
    val fields = schema.fieldNames.toSet
    (groupCols ++ sumCols ++ minCols ++ maxCols).foreach(c =>
      require(fields.contains(c), s"no such source column: $c"))
    // SUM/AVG state lives in exact long arithmetic so retractions are
    // lossless; a fractional column would be silently truncated per
    // row and every rewritten SUM/AVG would be wrong — refuse loudly
    // (store cents, not dollars). MIN/MAX keep native types: any
    // orderable column is fine there.
    sumCols.foreach { c =>
      import org.apache.spark.sql.types._
      val ok = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok,
        s"materialized SUM/AVG column '$c' must be integral, got " +
          s"${schema(c).dataType.simpleString}: sums/averages maintain in " +
          "exact long arithmetic — scale fractional values to integers first")
    }
    val v = source.version
    val init = aggregate(source.toDFAt(v), groupCols, sumCols, minCols, maxCols)
    val t = GraftTable.create(spark, path, init, properties = Map(
      SourceKey -> source.path, GroupKey -> groupCols.mkString(","),
      SumKey -> sumCols.mkString(","), MinKey -> minCols.mkString(","),
      MaxKey -> maxCols.mkString(","), VersionKey -> v.toString) ++ extraProps)
    new MaterializedAgg(spark, t, source)
  }

  /** Join-view variant (the star-schema MV shape): materialize
    * `SELECT groupCols, count(*), sum(…), min/max(…) FROM source JOIN
    * dim ON joinKeys GROUP BY groupCols` — group/aggregate columns
    * may come from EITHER side of the inner join. BOTH sides fold
    * incrementally: fact changes join the dim at its stamped version,
    * dim changes join the fact at its refreshed version (read through
    * dynamic file pruning on the dim delta's keys, so an SCD dim
    * update costs O(fact files touching dirty keys), never a full
    * fact scan); the two folds telescope exactly (see refresh). A
    * full re-materialization happens only when a log was truncated or
    * recreated below its stamp. Duplicate dim join keys multiply fact
    * rows identically in the full and incremental paths, so results
    * stay self-consistent (but declare unique dims for sane
    * semantics).
    */
  /** `joinType` accepts only "inner" here — OUTER views are a
    * different state problem (a null-extended row's existence depends
    * on the other side's key membership, which group-grain state
    * cannot express) and live in their own class,
    * [[MaterializedOuterJoin]], whose per-join-key fact
    * sub-aggregate state makes left/right/full outer folds exact.
    */
  def createJoin(spark: SparkSession, path: String, source: GraftTable,
      dim: GraftTable, joinKeys: Seq[String], groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      joinType: String = "inner"): MaterializedAgg = {
    require(joinType.equalsIgnoreCase("inner"),
      s"createJoin maintains INNER joins, got '$joinType': use " +
        "MaterializedOuterJoin.create(joinType = \"left\"|\"right\"|" +
        "\"full\") — outer views keep per-join-key fact sub-aggregate " +
        "state, which group-grain inner state cannot express")
    require(groupCols.nonEmpty, "materialized aggregate needs group columns")
    require(joinKeys.nonEmpty, "join view needs join key columns")
    val sf = source.snapshot.schema.fieldNames.toSet
    val df2 = dim.snapshot.schema.fieldNames.toSet
    joinKeys.foreach(k => require(sf.contains(k) && df2.contains(k),
      s"join key $k must exist on both sides"))
    val joined = sf ++ df2
    (groupCols ++ sumCols ++ minCols ++ maxCols).foreach(c =>
      require(joined.contains(c), s"no such column on either side: $c"))
    sumCols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = if (sf.contains(c)) source.snapshot.schema(c).dataType
        else dim.snapshot.schema(c).dataType
      val ok = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"materialized SUM/AVG column '$c' must be integral, got " +
        s"${dt.simpleString}")
    }
    val v = source.version
    val init = aggregate(source.toDFAt(v).join(dim.toDF, joinKeys),
      groupCols, sumCols, minCols, maxCols)
    val t = GraftTable.create(spark, path, init, properties = Map(
      SourceKey -> source.path, GroupKey -> groupCols.mkString(","),
      SumKey -> sumCols.mkString(","), MinKey -> minCols.mkString(","),
      MaxKey -> maxCols.mkString(","), VersionKey -> v.toString,
      DimKey -> dim.path, JoinKeysKey -> joinKeys.mkString(","),
      DimVersionKey -> dim.version.toString))
    new MaterializedAgg(spark, t, source, Some(dim))
  }

  /** Reattach an existing view to its source (validated by path). A
    * join view reattaches its dim from the stored pointer too —
    * without it, refresh would fold the fact feed UNJOINED and
    * silently corrupt the state.
    */
  def forPath(spark: SparkSession, path: String,
      source: GraftTable): MaterializedAgg = {
    val t = GraftTable.forPath(spark, path)
    val stored = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    val srcPath = stored.getOrElse(SourceKey,
      throw new IllegalArgumentException(s"not a materialized view: $path"))
    // the stored pointer and the caller's handle may spell the path
    // differently — same location, same table
    require(GraftTable.location(srcPath) == source.location,
      s"view at $path materializes $srcPath, not ${source.path}")
    require(!stored.contains(MaterializedDistinct.DistinctKey),
      s"view at $path is a COUNT DISTINCT view — open it with " +
        "MaterializedDistinct.forPath")
    require(!stored.contains(MaterializedOuterJoin.OuterDimKey),
      s"view at $path is a LEFT-OUTER join view's state — open it with " +
        "MaterializedOuterJoin.forPath")
    val dim = stored.get(DimKey).map(GraftTable.forPath(spark, _))
    new MaterializedAgg(spark, t, source, dim)
  }

  /** Open a view table as a plain single-table MV handle with no kind
    * guard — the [[MaterializedOuterJoin]] wrapper's access to its
    * own state (which IS a plain fact MV at the key grain).
    */
  private[lake] def forPathAsState(spark: SparkSession, path: String,
      source: GraftTable): MaterializedAgg = {
    val t = GraftTable.forPath(spark, path)
    val stored = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    require(stored.get(SourceKey).map(GraftTable.location).contains(source.location),
      s"view at $path does not materialize ${source.path}")
    new MaterializedAgg(spark, t, source)
  }
}

/** OUTER join materialized views — LEFT, RIGHT, and FULL (the shapes
  * the inner-only L83 refused, made maintainable by choosing the
  * refusal's own missing STATE GRAIN): the view stores PER-JOIN-KEY
  * fact sub-aggregates — the fact grouped by (joinKeys ∪ fact-side
  * groupCols) — instead of the final group grain. That one move
  * dissolves every outer-join maintenance problem:
  *
  *  - FACT changes fold exactly: the state is a plain single-table
  *    MV of the fact ([[MaterializedAgg]] IS the maintainer — same
  *    signed-fold, min/max retract recompute, rebuild fallback), so
  *    refresh cost is O(fact delta), never a join.
  *  - DIM changes cost NOTHING: the read joins the CURRENT dim, so a
  *    dim insert "converting" a null-extended row into a matched row
  *    is just next read's join finding the key — no state move, no
  *    dim version stamp, no SCD fold at all. (The inner L83 view
  *    must fold dim deltas through DFP; here the dim feed vanishes.)
  *  - RIGHT/FULL need no dim sub-aggregates EITHER, because the dim
  *    join keys are required UNIQUE: a dim-unmatched key contributes
  *    exactly ONE null-extended row, so the read's
  *    `coalesce(mv_count, 1)` after a right/full join of state with
  *    the live dim is its entire contribution (fact-side aggregates
  *    over it are NULL, exactly SQL's null extension).
  *
  * Read = state ⟕/⟖/⟗ dim ⟶ re-aggregate to the requested group
  * grain — state-sized (≤ |dim| × |fact group values|), never
  * fact-sized. The price vs the inner view is that honest read-side
  * join; the state stays dim-scaled.
  *
  * Aggregate columns may come from EITHER side: fact-side ones live
  * in the state; DIM-side ones expand at read time as
  * Σ dim.c · weight (weight = the key's stored fact count, or 1 for
  * a right/full dim-unmatched key) — exact, because the weights are
  * the state's own integral counts. Contract (refused loudly
  * otherwise): dim join keys must be UNIQUE — duplicate dim keys
  * multiply fact rows AND break the one-null-extended-row accounting
  * (the star-schema contract, validated at create time).
  */
final class MaterializedOuterJoin private (val spark: SparkSession,
    val state: MaterializedAgg, val dim: GraftTable) {
  import MaterializedAgg.{cntName, maxName, minName, sumName, CountCol}

  def view: GraftTable = state.view
  def source: GraftTable = state.source

  private def props: Map[String, String] =
    view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
  private def csv(k: String): Seq[String] =
    props.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)

  /** Fold fact changes into the key-grain state. Dim changes need no
    * refresh at all — the read joins the live dim. */
  def refresh(): Long = state.refresh()

  /** "left" | "right" | "full" — stored at create time. */
  def joinType: String =
    props.getOrElse(MaterializedOuterJoin.OuterTypeKey, "left")

  /** The view's answer: (groupCols…, mv_count, mv_sum_…/mv_cnt_…,
    * mv_min_…/mv_max_…) under the view's outer semantics — unmatched
    * fact keys surface with NULL dim attributes (left/full), and a
    * dim-unmatched key contributes its single null-extended row
    * (right/full): count 1, NULL fact aggregates. `COUNT(col)` is
    * coalesced to 0 for all-null-extended groups, matching SQL.
    *
    * DIM-side aggregates expand at read time from the same state: a
    * matched key's dim value stands for `mv_count` joined rows, a
    * dim-unmatched key's for exactly one, so `SUM(dim.c)` is
    * Σ dim.c · weight with weight = mv_count (or its coalesce-1
    * under right/full), `COUNT(dim.c)` is the weighted non-null
    * count, and MIN/MAX are the plain extremes of the joined dim
    * values (multiplicity never moves an extreme). All exact — the
    * weights are the state's own integral counts.
    */
  def toDF: DataFrame = {
    val joinKeys = csv(MaterializedOuterJoin.OuterJoinKeysKey)
    val outGroup = csv(MaterializedOuterJoin.OuterGroupKey)
    val sumCols = csv("graft.mv.sumCols")
    val minCols = csv("graft.mv.minCols")
    val maxCols = csv("graft.mv.maxCols")
    val dimSums = csv(MaterializedOuterJoin.OuterDimSumKey)
    val dimMins = csv(MaterializedOuterJoin.OuterDimMinKey)
    val dimMaxs = csv(MaterializedOuterJoin.OuterDimMaxKey)
    val joined = view.toDF.join(dim.toDF, joinKeys, joinType match {
      case "left" => "left"; case "right" => "right"; case _ => "full"
    })
    // a state-less (dim-unmatched) row IS one null-extended output
    // row — never possible under "left", where state preserves
    val rowCount =
      if (joinType == "left") col(CountCol)
      else coalesce(col(CountCol), lit(1L))
    val aggs = sum(rowCount).as(CountCol) +: (sumCols.flatMap(c => Seq(
      sum(col(sumName(c))).as(sumName(c)),
      coalesce(sum(col(cntName(c))), lit(0L)).as(cntName(c)))) ++
      dimSums.flatMap(c => Seq(
        sum(col(c).cast("long") * rowCount).as(sumName(c)),
        coalesce(sum(when(col(c).isNotNull, rowCount)
          .otherwise(lit(0L))), lit(0L)).as(cntName(c)))) ++
      minCols.map(c => min(col(minName(c))).as(minName(c))) ++
      dimMins.map(c => min(col(c)).as(minName(c))) ++
      maxCols.map(c => max(col(maxName(c))).as(maxName(c))) ++
      dimMaxs.map(c => max(col(c)).as(maxName(c))))
    joined.groupBy(outGroup.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}

object MaterializedOuterJoin {
  val OuterDimKey = "graft.mv.outerDim"
  val OuterJoinKeysKey = "graft.mv.outerJoinKeys"
  val OuterGroupKey = "graft.mv.outerGroupCols"
  val OuterTypeKey = "graft.mv.outerType"
  val OuterDimSumKey = "graft.mv.outerDimSumCols"
  val OuterDimMinKey = "graft.mv.outerDimMinCols"
  val OuterDimMaxKey = "graft.mv.outerDimMaxCols"

  def create(spark: SparkSession, path: String, source: GraftTable,
      dim: GraftTable, joinKeys: Seq[String], groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      joinType: String = "left"): MaterializedOuterJoin = {
    require(Seq("left", "right", "full").contains(joinType.toLowerCase),
      s"outer join views maintain left/right/full, got '$joinType'")
    require(groupCols.nonEmpty, "materialized aggregate needs group columns")
    require(joinKeys.nonEmpty, "outer join view needs join key columns")
    val factFields = source.snapshot.schema.fieldNames.toSet
    val dimFields = dim.snapshot.schema.fieldNames.toSet
    joinKeys.foreach(k => require(factFields.contains(k) && dimFields.contains(k),
      s"join key $k must exist on both sides"))
    groupCols.foreach(c => require(
      factFields.contains(c) || dimFields.contains(c),
      s"no such column on either side: $c"))
    // aggregate columns may come from EITHER side: fact-side ones are
    // maintained in the state, dim-side ones expand at read time as
    // Σ dim.c · weight (fact-side wins when both sides own the name —
    // the state can maintain it exactly)
    (sumCols ++ minCols ++ maxCols).foreach(c => require(
      factFields.contains(c) || dimFields.contains(c),
      s"no such column on either side: $c"))
    val (factSums, dimSums) = sumCols.partition(factFields.contains)
    val (factMins, dimMins) = minCols.partition(factFields.contains)
    val (factMaxs, dimMaxs) = maxCols.partition(factFields.contains)
    dimSums.foreach { c =>
      import org.apache.spark.sql.types._
      val ok = dim.snapshot.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"materialized SUM/AVG column '$c' must be integral, got " +
        s"${dim.snapshot.schema(c).dataType.simpleString}: the weighted " +
        "dim expansion multiplies in exact long arithmetic")
    }
    // star-schema contract: dim join keys must be unique, or the
    // outer join multiplies fact rows, every count/sum is wrong, AND
    // the one-null-extended-row accounting for right/full breaks
    val dups = dim.toDF.groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(dups == 0,
      s"dim join keys ${joinKeys.mkString(",")} are not unique — an " +
        "outer view needs a keyed dim (the star-schema contract)")
    val stateKeys = (joinKeys ++ groupCols.filter(factFields.contains)).distinct
    val state = MaterializedAgg.create(spark, path, source, stateKeys,
      factSums, factMins, factMaxs, extraProps = Map(
        OuterDimKey -> dim.path, OuterJoinKeysKey -> joinKeys.mkString(","),
        OuterGroupKey -> groupCols.mkString(","),
        OuterTypeKey -> joinType.toLowerCase,
        OuterDimSumKey -> dimSums.mkString(","),
        OuterDimMinKey -> dimMins.mkString(","),
        OuterDimMaxKey -> dimMaxs.mkString(",")))
    new MaterializedOuterJoin(spark, state, dim)
  }

  def forPath(spark: SparkSession, path: String,
      source: GraftTable): MaterializedOuterJoin = {
    val t = GraftTable.forPath(spark, path)
    val stored = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    val dimPath = stored.getOrElse(OuterDimKey,
      throw new IllegalArgumentException(
        s"not a LEFT-OUTER join view: $path"))
    val state = MaterializedAgg.forPathAsState(spark, path, source)
    new MaterializedOuterJoin(spark, state, GraftTable.forPath(spark, dimPath))
  }
}

/** Exactly-maintained `COUNT(DISTINCT x) GROUP BY keys` materialized
  * view — the classically "non-algebraic" aggregate made incremental
  * by choosing the right STATE GRAIN: the view stores per-(keys, x)
  * occurrence counts, which ARE algebraic (they fold by signed
  * addition under the change feed), and the distinct count reads back
  * as `COUNT(*)` over surviving state rows per group. A value leaves
  * the distinct set exactly when its occurrence count hits zero — no
  * approximation, no rescan.
  *
  * Scale honesty: state size is |distinct (keys, x) pairs| — not
  * KB-scale like sum/count views. That is the fundamental price of an
  * EXACT distinct (any smaller state admits undetectable retractions);
  * refreshes stay O(delta) fold + state-sized compact write, and the
  * read is an aggregate over state, never the 100 TB source.
  */
final class MaterializedDistinct private (val spark: SparkSession,
    val view: GraftTable, val source: GraftTable) {
  import MaterializedDistinct._

  private def props: Map[String, String] =
    view.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
  private def groupCols: Seq[String] =
    props(GroupKey).split(",").toSeq.filter(_.nonEmpty)
  private def distinctCol: String = props(DistinctKey)

  /** Raw state: (groupCols…, x, occ). */
  def stateDF: DataFrame = view.toDF

  /** The view's answer: (groupCols…, n_distinct). NULL state rows are
    * kept in state (they preserve group existence — an all-NULL group
    * must still surface with n_distinct=0, as SQL's COUNT(DISTINCT x)
    * does) but excluded from the count: count(col) skips NULLs. */
  def toDF: DataFrame =
    view.toDF.groupBy(groupCols.map(col): _*)
      .agg(count(col(distinctCol)).as("n_distinct"))

  def refresh(): Long = {
    val from = props(VersionKey).toLong
    val to = source.version
    def rematerialize(reason: String = ""): Long =
      view.overwriteWithProperties(
        stateOf(source.toDFAt(to), groupCols, distinctCol),
        Map(VersionKey -> to.toString), "MV REMATERIALIZE",
        infoParams =
          if (reason.isEmpty) Map.empty else Map("graft.mv.reason" -> reason))
    if (to < from) return rematerialize("source log ends below stamp")
    if (to == from) return view.version
    val delta = try {
      source.rawChangeFeed(from, to)
        .withColumn("__sign",
          when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
            .otherwise(lit(-1L)))
        .select((groupCols :+ distinctCol :+ "__sign").map(col): _*)
    } catch {
      // narrow catch, mirroring MaterializedAgg.refresh: only the
      // log-cleanup IllegalStateException earns the rebuild fallback
      case e: IllegalStateException =>
        return rematerialize(s"change feed unavailable: ${e.getMessage}")
    }
    val keys = groupCols :+ distinctCol
    val next = view.toDF.select((keys :+ "occ").map(col): _*)
      .unionByName(delta.groupBy(keys.map(col): _*)
        .agg(sum("__sign").as("occ")))
      .groupBy(keys.map(col): _*)
      .agg(sum("occ").as("occ"))
      .filter(col("occ") > 0) // value left the group's distinct set
    view.overwriteWithProperties(next, Map(VersionKey -> to.toString),
      "MV REFRESH")
  }
}

object MaterializedDistinct {
  private val SourceKey = "graft.mv.source"
  private val GroupKey = "graft.mv.groupCols"
  private val VersionKey = "graft.mv.sourceVersion"
  val DistinctKey = "graft.mv.distinctCol"

  private def stateOf(df: DataFrame, groupCols: Seq[String],
      x: String): DataFrame =
    df.groupBy((groupCols :+ x).map(col): _*).agg(count(lit(1)).as("occ"))

  def create(spark: SparkSession, path: String, source: GraftTable,
      groupCols: Seq[String], distinctCol: String): MaterializedDistinct = {
    require(groupCols.nonEmpty, "distinct view needs group columns")
    val fields = source.snapshot.schema.fieldNames.toSet
    (groupCols :+ distinctCol).foreach(c =>
      require(fields.contains(c), s"no such source column: $c"))
    val v = source.version
    val t = GraftTable.create(spark, path,
      stateOf(source.toDFAt(v), groupCols, distinctCol), properties = Map(
        SourceKey -> source.path, GroupKey -> groupCols.mkString(","),
        DistinctKey -> distinctCol, VersionKey -> v.toString))
    new MaterializedDistinct(spark, t, source)
  }

  def forPath(spark: SparkSession, path: String,
      source: GraftTable): MaterializedDistinct = {
    val t = GraftTable.forPath(spark, path)
    val stored = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    require(stored.get(SourceKey).map(GraftTable.location).contains(source.location) &&
      stored.contains(DistinctKey),
      s"not a COUNT DISTINCT view of ${source.path}: $path")
    new MaterializedDistinct(spark, t, source)
  }
}
