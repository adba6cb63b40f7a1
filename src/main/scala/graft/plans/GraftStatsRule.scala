package graft.plans

import graft.lake.{Cbo, GraftTable}
import graft.sources.GraftFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.NumericType

/** Injects GraftLake's ANALYZE statistics into Catalyst so the
  * optimizer's OWN join planning sees them (reference
  * docs/02-lab-optimizations.md:744-770 — `EXPLAIN EXTENDED` showing
  * row estimates, `optimizedPlan.stats` populated): a `LogicalRelation`
  * over a [[GraftFileIndex]] that scans its table's whole live snapshot
  * and names no catalog table gets a synthetic one carrying
  * `CatalogStatistics(rowCount, NDV, nulls, numeric min/max,
  * histograms)` from the `graft.stats.*` / `graft.hist.*` properties.
  * A pinned version or a pre-selected file subset keeps its plain
  * size: the live table's stats do not describe it.
  *
  * With `spark.sql.cbo.enabled=true`, Catalyst then derives
  * `sizeInBytes` from rowCount × row width instead of the raw file
  * size — which is what lets a pruned or compressed-on-disk dimension
  * broadcast when the size heuristic alone would shuffle both sides —
  * and fills `attributeStats` for filter/join cardinality estimation.
  * Without CBO, the size is the on-disk bytes × 3 (a decompression
  * factor). A post-hoc resolution rule of [[graft.GraftExtensions]]:
  * every read surface benefits with no API call (contrast
  * [[graft.lake.Cbo]], the explicit side-API the rule supersedes).
  */
case class GraftStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lr @ LogicalRelation(HadoopFsRelation(idx: GraftFileIndex, _, _, _, _, _), _, None, _, _)
        if analyzed(idx) =>
      catalogStatistics(idx.table).fold(lr)(stats => lr.copy(catalogTable = Some(CatalogTable(
        TableIdentifier(s"graft_${Integer.toHexString(System.identityHashCode(idx))}"),
        CatalogTableType.EXTERNAL, CatalogStorageFormat.empty, lr.schema,
        provider = Some("graftlake"), stats = Some(stats)))))
  }

  /** The index scans its table's whole live snapshot, which carries
    * ANALYZE stats (checked first: it needs no log read).
    */
  private def analyzed(idx: GraftFileIndex): Boolean =
    idx.snapshot.metadata.exists(_.properties.keys.exists(_.startsWith("graft.stats."))) &&
      idx.covers(idx.snapshot) && idx.snapshot.version == idx.table.version

  /** Stats keyed by the scan's physical column names; min/max only for
    * numeric columns, where the catalog's external-string form
    * round-trips safely.
    */
  private def catalogStatistics(table: GraftTable): Option[CatalogStatistics] = {
    val cs = Cbo.tableStats(table)
    val s = table.snapshot
    val colStats = cs.flatMap { case (name, st) =>
      s.schema.find(_.name == name).map { f =>
        def bound(v: String) = Some(v).filter(_.nonEmpty && f.dataType.isInstanceOf[NumericType])
        // L101 equi-height histograms: Catalyst's FilterEstimation
        // prices a skewed key at its true mass
        val hist = Cbo.histogram(table, name).map { h =>
          Histogram(h.rows.toDouble / h.buckets, (0 until h.buckets).map(i =>
            HistogramBin(h.bounds(i), h.bounds(i + 1), math.max(1L, h.ndv(i)))).toArray)
        }
        s.physicalName(name) -> CatalogColumnStat(Some(BigInt(st.distinct)),
          bound(st.min), bound(st.max), Some(BigInt(st.nulls)), None, None, hist, 2)
      }
    }
    cs.values.headOption.map(c => CatalogStatistics(
      BigInt(math.max(1L, s.sizeInBytes) * 3), Some(BigInt(c.rows)), colStats))
  }
}
