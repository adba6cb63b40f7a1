package graft.sources

import graft.lake.GraftTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Batch-read relation for `spark.read.format("graftlake").load(path)`
  * (and `CREATE ... USING graftlake OPTIONS (path ...)`). Every
  * snapshot read — live, `versionAsOf`/`timestampAsOf`/`tagAsOf`, or
  * `rowIds` — is one call to GraftTable's governed read: pushed
  * filters drive file skipping (partition values, footer min/max
  * stats, bloom sidecars) before any scan task launches, and the row
  * filter and masks apply. Spark still re-applies the full predicate,
  * so unsupported shapes simply skip the pruning, never correctness.
  */
final class GraftRelation(
    override val sqlContext: SQLContext,
    path: String,
    options: Map[String, String] = Map.empty) extends BaseRelation with PrunedFilteredScan {

  private val table = GraftTable.forPath(sqlContext.sparkSession, path)
  private val opts = options.map { case (k, v) => k.toLowerCase -> v }

  /** Batch change-feed read (Delta parity):
    * `.option("readChangeFeed", true)` with optional
    * `startingVersion`/`endingVersion` (inclusive) returns the
    * operation-level feed instead of the snapshot.
    */
  private val cdfRead = opts.getOrElse("readchangefeed", "false").toBoolean
  private def cdfStart = opts.get("startingversion").map(_.toLong).getOrElse {
    // default: full history; on a log-cleaned table versions below the
    // checkpoint cannot be reconstructed — start just above it instead
    // of failing on a nonsensical "version -1" replay
    if (table.log.hasCommit(0)) 0L
    else table.log.checkpointVersion.map(_ + 1).getOrElse(0L)
  }
  private def cdfEnd = opts.get("endingversion").map(_.toLong)
    .getOrElse(table.version)

  /** Time travel through the reader, Delta-style:
    * `.option("versionAsOf", n)` / `.option("timestampAsOf", ts)`.
    */
  private val pinnedVersion: Option[Long] =
    opts.get("versionasof").map(_.toLong)
      .orElse(opts.get("tagasof").map(table.tagVersion)) // L112 refs
      .orElse(opts.get("timestampasof").map(ts =>
        graft.lake.Snapshot.versionAtTimestamp(table.log,
          graft.lake.Snapshot.parseTsMillis(ts))))

  // replaying the log per planner call would repeat checkpoint reads
  // several times within one query's analysis
  private lazy val pinnedSnapshot = pinnedVersion.map(table.snapshotAt)

  /** Row tracking through the reader (Delta parity):
    * `.option("rowIds", true)` appends the stable `row_id` column —
    * requires `graft.rowTracking=true` on the table. Live-snapshot
    * reads only (a pinned version's files may predate id assignment).
    */
  private val withRowIds = opts.getOrElse("rowids", "false").toBoolean
  require(!withRowIds || (!cdfRead && pinnedVersion.isEmpty),
    "rowIds cannot combine with readChangeFeed or time travel")

  override def schema: StructType = {
    val base0 = pinnedSnapshot.map(_.schema).getOrElse(table.snapshot.schema)
    val base =
      if (!withRowIds) base0
      else StructType(base0.fields :+
        org.apache.spark.sql.types.StructField("row_id",
          org.apache.spark.sql.types.LongType, nullable = true))
    if (!cdfRead) base
    else {
      // guard against tables that already carry the CDF columns (same
      // check as the streaming source's sourceSchema)
      val withType =
        if (base.fieldNames.contains("_change_type")) base
        else base.add("_change_type", "string")
      if (withType.fieldNames.contains("_commit_version")) withType
      else withType.add("_commit_version", "long")
    }
  }

  /** Planner cost input: on-disk bytes × a decompression factor (the
    * default BaseRelation size is "assume huge, never broadcast").
    * This is what lets a small GraftLake dimension auto-broadcast in
    * joins — the reference's §I point: statistics change plans. A
    * pinned version reports ITS size, not the live snapshot's.
    */
  override def sizeInBytes: Long =
    math.max(1L,
      pinnedSnapshot.map(_.sizeInBytes).getOrElse(table.snapshot.sizeInBytes)) * 3

  /** Analyzed statistics as Catalyst catalog stats, for
    * [[graft.plans.GraftStatsRule]] to attach to this relation's
    * LogicalRelation: row count + per-column NDV/null counts (min/max
    * only for numeric columns, where the catalog's external-string
    * representation round-trips safely). None when ANALYZE hasn't run,
    * or for CDF / time-travel reads whose shape or content the live
    * table's stats don't describe.
    */
  private[graft] def catalogStatistics
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    import org.apache.spark.sql.types.NumericType
    if (cdfRead || pinnedVersion.isDefined) return None
    val cs = graft.lake.Cbo.tableStats(table)
    if (cs.isEmpty) None
    else {
      val types = table.snapshot.schema.fields.map(f => f.name -> f.dataType).toMap
      val colStats = cs.flatMap { case (name, st) =>
        types.get(name).map { dt =>
          val (mn, mx) = dt match {
            case _: NumericType =>
              (Some(st.min).filter(_.nonEmpty), Some(st.max).filter(_.nonEmpty))
            case _ => (None, None)
          }
          // L101 equi-height histograms flow into Catalyst's OWN
          // estimator: FilterEstimation reads ColumnStat.histogram for
          // equality/range selectivity, so a skewed key's true mass
          // reaches Spark-native join planning — not just the explicit
          // Cbo side-API
          val hist = graft.lake.Cbo.histogram(table, name).map { h =>
            org.apache.spark.sql.catalyst.plans.logical.Histogram(
              h.rows.toDouble / h.buckets,
              (0 until h.buckets).map(i =>
                org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
                  h.bounds(i), h.bounds(i + 1),
                  math.max(1L, h.ndv(i)))).toArray)
          }
          name -> CatalogColumnStat(
            distinctCount = Some(BigInt(st.distinct)), min = mn, max = mx,
            nullCount = Some(BigInt(st.nulls)), avgLen = None, maxLen = None,
            histogram = hist, version = 2)
        }
      }
      val rows = cs.values.head.rows
      Some(CatalogStatistics(BigInt(sizeInBytes), Some(BigInt(rows)), colStats.toMap))
    }
  }

  /** We use filters only to skip files; report all as unhandled so
    * Spark keeps the exact post-scan Filter.
    */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  private def toColumn(f: Filter): Option[Column] = GraftFilters.toColumn(f)

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    if (cdfRead)
      // changeFeed's range is (from, to]; startingVersion is inclusive
      return table.changeFeed(cdfStart - 1, cdfEnd)
        .select(requiredColumns.map(col).toIndexedSeq: _*).rdd
    val pred = filters.flatMap(toColumn(_)).reduceOption(_ && _)
    // one governed read prunes files for live and pinned snapshots
    // alike; row ids ride the same skipping (ids are per-file, so
    // pruning can never change a surviving row's id)
    val df = table.read(pred, pinnedVersion,
        if (withRowIds) Set(table.RowIdCol) else Set.empty)
      .withColumnRenamed(table.RowIdCol, "row_id")
    pred.fold(df)(df.filter).select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }
}
