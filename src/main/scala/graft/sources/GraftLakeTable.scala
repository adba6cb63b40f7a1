package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.lake.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `Table` over a GraftLake path — what
  * [[GraftCatalog]] hands Spark so `spark.sql` SELECT / INSERT /
  * DELETE / UPDATE / MERGE / time travel work on catalog-named tables
  * with no temp views (the reference drives everything through bare
  * SQL: reference docs/02-lab-optimizations.md:116-187).
  *
  * It describes the table (schema, partitioning, properties, metadata
  * columns) and hands reads to [[graft.plans.GovernedReadRule]], which
  * replaces the relation with GraftTable's one governed read; without
  * `spark.sql.extensions=graft.GraftExtensions` a read fails. Writes
  * bridge to the transactional `append`/`overwrite` through
  * [[V1Write]]; DELETE / UPDATE / MERGE become [[graft.plans.GraftDml]],
  * which runs the same DML planner as the path API, and TRUNCATE TABLE
  * runs `GraftTable.truncate`. `pinnedVersion` carries `VERSION/TIMESTAMP AS OF` resolution from
  * the catalog's time-travel `loadTable` overloads into the read.
  */
final class GraftLakeTable(
    spark: SparkSession,
    val path: String,
    tableName: String,
    private[graft] val pinnedVersion: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite with TruncatableTable
  with SupportsMetadataColumns
  with org.apache.spark.sql.graftshim.GraftV1FallbackTable {

  private lazy val table = GraftTable.forPath(spark, path)

  override def name(): String = tableName

  /** `_graft_file` (the log-recorded data file path, a provenance
    * column users can SELECT) and `_graft_pos` (the row's index within
    * its file), plus `_graft_row_id` on
    * row-tracked tables (the stable id, resolved exactly like the
    * `rowIds` reader option). Selecting them is still a governed read:
    * the row filter and masks apply as they do to the plain columns.
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    def mc(n: String, dt: org.apache.spark.sql.types.DataType,
        nullable: Boolean): MetadataColumn = new MetadataColumn {
      override def name(): String = n
      override def dataType(): org.apache.spark.sql.types.DataType = dt
      override def isNullable: Boolean = nullable
    }
    val base = Array(
      mc("_graft_file", org.apache.spark.sql.types.StringType, false),
      mc("_graft_pos", org.apache.spark.sql.types.LongType, false))
    if (!table.rowTrackingOn(table.snapshot)) base
    else base :+ mc("_graft_row_id", org.apache.spark.sql.types.LongType, true)
  }

  /** V1 fallback identity for STREAMING by catalog name (Delta's own
    * mechanism): `spark.readStream.table(t)` and
    * `df.writeStream.format("graftlake").toTable(t)` have no DSv2
    * bridge here (MicroBatchStream / StreamingWrite are row-level
    * APIs, while this table's scan and commit paths are
    * DataFrame-level), so both engines fall back to the battle-tested
    * V1 [[graft.streaming.GraftSource]] / [[graft.streaming.GraftSink]]
    * through this descriptor — provider + location are all either
    * path needs. Reader OPTIONS don't survive Spark's own fallback
    * resolution (it builds the v1 relation with empty options), so
    * [[graft.plans.StreamingV1FallbackRule]] preempts it for reads.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    // UnresolvedCatalogRelation asserts a database-qualified
    // identifier, and the streaming write plan RE-RESOLVES this
    // identifier — without the catalog part it would look in the
    // session catalog and miss; keep all three parts
    val parts = tableName.split('.')
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      parts.last,
      Some(if (parts.length >= 2) parts(parts.length - 2) else "default"),
      if (parts.length >= 3) Some(parts(parts.length - 3)) else None)
    CatalogTable(
      identifier = ident,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(path).toUri),
        properties = Map("path" -> path)),
      schema = schema(),
      provider = Some("graftlake"))
  }

  override def schema(): StructType =
    pinnedVersion.map(table.snapshotAt(_).schema)
      .getOrElse(table.snapshot.schema)

  override def partitioning(): Array[Transform] =
    table.snapshot.partitionColumns
      .map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] = {
    val props = table.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    (props + (TableCatalog.PROP_LOCATION -> path) +
      (TableCatalog.PROP_PROVIDER -> "graftlake")).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  // --- read: handed to graft.plans.GovernedReadRule -----------------

  /** The governed read [[graft.plans.GovernedReadRule]] puts in this
    * table's place, under `session`'s handle (policies bind its
    * principal), with the `_graft_*` metadata columns `cols` names.
    */
  private[graft] def read(session: SparkSession, cols: Seq[String]): DataFrame = {
    val meta = cols.toSet.intersect(Set("_graft_file", "_graft_pos", "_graft_row_id"))
    // metadata columns are a live-snapshot read (a pinned version's
    // files may predate id assignment)
    require(pinnedVersion.isEmpty || meta.isEmpty,
      "metadata columns are a live-snapshot read")
    GraftTable.forPath(session, path).read(None, pinnedVersion, meta)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw graft.plans.GovernedReadRule.extensionRequired(tableName)

  // --- write: V1 InsertableRelation bridge --------------------------

  /** The full DataFrameWriterV2 / INSERT OVERWRITE surface on catalog
    * names, each mode routed to the matching transactional commit:
    * append → `append`; `.overwrite(lit(true))` / static INSERT
    * OVERWRITE → full `overwrite`; `.overwrite(cond)` → L20
    * `replaceWhere` (exact-only filter translation — untranslatable
    * conditions refuse via `canOverwrite` rather than over-delete,
    * same contract as DELETE). `.overwritePartitions()` / dynamic-mode
    * INSERT OVERWRITE can't ride the V1 bridge (Spark demands real
    * BATCH_WRITE there) — [[graft.plans.DynamicOverwriteRule]]
    * rewrites that plan shape to the atomic L63 commit instead.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      "cannot write to a time-travelled table snapshot")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      private var mode: DataFrame => Unit = df => { table.append(df); () }

      override def truncate(): WriteBuilder = {
        mode = df => { table.overwrite(df); () }; this
      }
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(GraftFilters.translatesFully)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        val cond = filters.flatMap(GraftFilters.toColumn)
          .reduceOption(_ && _).getOrElse(lit(true))
        mode = df => { table.replaceWhere(cond, df); () }; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(df: DataFrame, ignored: Boolean): Unit =
              mode(fillGenerated(df))
          }
      }
    }
  }

  /** V2 INSERT materializes omitted columns as NULL (there is no
    * "absent column" in `INSERT INTO t (a, b) VALUES ...` — Spark
    * pads), which would defeat the table layer's fill-when-absent
    * generated columns AND silently break derived partition pruning
    * if a writer supplied a wrong explicit value. So the bridge
    * enforces Delta's write-time invariant per generated column that
    * arrives in the frame: explicit non-NULL values must EQUAL the
    * generation expression (one count over the incoming frame — only
    * paid when the column is present), NULL slots fill from it.
    */
  private def fillGenerated(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr}
    val gens = table.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.") -> v }
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d
      else {
        val gen = expr(e).cast(d.schema(c).dataType)
        val bad = d.filter(col(c).isNotNull && !(col(c) <=> gen)).count()
        require(bad == 0, s"generated column $c: $bad incoming rows " +
          s"contradict its generation expression ($e)")
        d.withColumn(c, coalesce(col(c), gen))
      }
    }
  }

  // --- TRUNCATE TABLE: one metadata-only commit of every remove

  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty, "cannot truncate a table snapshot")
    table.truncate()
    true
  }
}
