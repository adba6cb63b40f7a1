package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import graft.lake.{GraftTable, Snapshot, TxnLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` for GraftLake — registers via session config:
  *
  *   spark.sql.catalog.graft=graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse=/path/to/warehouse
  *
  * after which bare `spark.sql` runs the reference's usage mode with
  * no temp views (reference docs/02-lab-optimizations.md:116-187):
  * CREATE TABLE / CTAS, SELECT (incl. `VERSION/TIMESTAMP AS OF` time
  * travel through the `loadTable` overloads), INSERT INTO / INSERT
  * OVERWRITE, DELETE FROM, DROP/RENAME — plus [[graft.lake.GraftSql]]'s
  * statements routed on catalog names by [[GraftSqlParser]] (OPTIMIZE,
  * VACUUM, DESCRIBE HISTORY|DETAIL, RESTORE, REORG, FSCK, ANALYZE,
  * constraint DDL, MERGE WITH SCHEMA EVOLUTION, TABLE CHANGES, SHOW
  * PARTITIONS), which run through GraftSql's one statement table.
  *
  * Layout is filesystem-truthful, like a path-based lakehouse
  * catalog: `warehouse/ns…/tableName/_graft_log` IS the table — no
  * second metastore to drift from the transaction logs. External
  * tables (`LOCATION '…'`) are recorded as a one-line pointer file so
  * the namespace listing stays a directory walk.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(w).toAbsolutePath.normalize
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)(_.resolve(_))

  private def tableDir(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(ident.name)

  // external tables leave a pointer file where a managed table's
  // directory would be, so list/exists/drop see one namespace layout
  private def pointerFile(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(ident.name + ".graftlink")

  /** The backing path for an identifier: managed directory if its log
    * exists, else the external pointer target. Public for
    * [[GraftCatalog.resolve]], GraftSql's catalog name lookup.
    */
  def tablePath(ident: Identifier): Option[String] = {
    val dir = tableDir(ident)
    if (new TxnLog(dir.toString).exists) Some(dir.toString)
    else if (Files.isRegularFile(pointerFile(ident)))
      Some(new String(Files.readAllBytes(pointerFile(ident)),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    else None
  }

  override def tableExists(ident: Identifier): Boolean =
    tablePath(ident).isDefined

  override def loadTable(ident: Identifier): Table =
    tablePath(ident) match {
      case Some(p) => new GraftLakeTable(spark, p, fullName(ident))
      case None =>
        metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    }

  /** Iceberg-style metadata tables: `cat.ns.t.history` arrives as
    * Identifier(namespace = [ns, t], name = history). Tried only
    * after the real-table lookup misses, so a genuine table named
    * `history` always shadows the metadata surface.
    */
  private val metadataKinds = Set("history", "files", "detail", "partitions")

  private def metadataTable(ident: Identifier): Option[Table] = {
    val kind = ident.name.toLowerCase
    if (ident.namespace.isEmpty || !metadataKinds(kind)) None
    else {
      val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
      tablePath(parent).map(p =>
        new GraftMetadataTable(spark, p, kind, fullName(ident)))
    }
  }

  /** `SELECT … FROM t VERSION AS OF n` */
  override def loadTable(ident: Identifier, version: String): Table =
    tablePath(ident) match {
      case Some(p) =>
        new GraftLakeTable(spark, p, fullName(ident), Some(version.toLong))
      case None => throw new NoSuchTableException(ident)
    }

  /** `SELECT … FROM t TIMESTAMP AS OF ts` — micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tablePath(ident) match {
      case Some(p) =>
        val t = GraftTable.forPath(spark, p)
        val v = Snapshot.versionAtTimestamp(t.log, timestamp / 1000L)
        new GraftLakeTable(spark, p, fullName(ident), Some(v))
      case None => throw new NoSuchTableException(ident)
    }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val stream = Files.list(dir) // close the DirectoryStream: fd leak otherwise
    try stream.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p) && new TxnLog(p.toString).exists)
        Some(Identifier.of(namespace, n))
      else if (n.endsWith(".graftlink"))
        Some(Identifier.of(namespace, n.stripSuffix(".graftlink")))
      else None
    }.toArray
    finally stream.close()
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // Time-based partition TRANSFORMS (`PARTITIONED BY (days(ts))`)
    // map onto L54 generated columns — the Delta move: the table
    // physically partitions on a derived column whose generation
    // expression is one of the MONOTONE shapes Pruning.deriveGenerated
    // understands, so a query filtering only the raw source column
    // still prunes partitions (`ts >= L` ⇒ `ts_day >= CAST(L AS
    // DATE)`). Writers never compute the key by hand: the generated
    // column fills on every append.
    val genCols = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, org.apache.spark.sql.types.DataType)]
    val partitionBy = partitions.toSeq.map { t =>
      // stable Java API (the Scala case classes are private[sql]):
      // each supported transform carries exactly one column reference
      val ref =
        if (t.references.length == 1 && t.references()(0).fieldNames.length == 1)
          t.references()(0).fieldNames()(0)
        else null
      def derived(suffix: String, sql: String,
          dt: org.apache.spark.sql.types.DataType): String = {
        val c = s"${ref}_$suffix"
        genCols(c) = (sql, dt)
        c
      }
      t.name match {
        case "identity" if ref != null => ref
        case "days" if ref != null =>
          derived("day", s"CAST($ref AS DATE)",
            org.apache.spark.sql.types.DateType)
        case "years" if ref != null =>
          derived("year", s"year($ref)",
            org.apache.spark.sql.types.IntegerType)
        case "months" if ref != null =>
          derived("month", s"date_trunc('MONTH', $ref)",
            org.apache.spark.sql.types.TimestampType)
        case "hours" if ref != null =>
          derived("hour", s"date_trunc('HOUR', $ref)",
            org.apache.spark.sql.types.TimestampType)
        case "bucket" if ref != null =>
          // hash buckets: point lookups on the raw key prune to ONE
          // bucket via the equality-only derivation in Pruning
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value.asInstanceOf[Number].intValue()
          }.getOrElse(throw new UnsupportedOperationException(
            s"bucket transform needs a bucket count: ${t.describe}"))
          derived("bucket", s"pmod(hash($ref), $n)",
            org.apache.spark.sql.types.IntegerType)
        case _ => throw new UnsupportedOperationException(
          s"graftlake supports identity, years/months/days/hours, and " +
            s"bucket partitioning, got ${t.describe}")
      }
    }
    val props = properties.asScala.toMap
    val external = props.get(TableCatalog.PROP_LOCATION)
      .filter(_ => props.get(TableCatalog.PROP_IS_MANAGED_LOCATION).isEmpty)
    val dir = external.getOrElse(tableDir(ident).toString)
    Files.createDirectories(nsDir(ident.namespace))
    // engine-reserved keys (provider/location/owner/…) stay out of the
    // table's own property map
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_COMMENT)
    val tableProps = props.filterNot { case (k, _) => reserved.contains(k) } ++
      genCols.map { case (c, (sql, _)) => s"graft.generated.$c" -> sql }
    val fullSchema = genCols.foldLeft(schema) { case (sc, (c, (_, dt))) =>
      if (sc.fieldNames.contains(c)) sc else sc.add(c, dt, nullable = true)
    }
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), fullSchema)
    GraftTable.create(spark, dir, empty, partitionBy, tableProps)
    external.foreach { loc =>
      Files.write(pointerFile(ident),
        loc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    new GraftLakeTable(spark, dir, fullName(ident))
  }

  // --- CTAS / RTAS via staging ---------------------------------------
  // The staged table REPORTS the query's schema while the underlying
  // table may carry MORE columns (time-transform partitioning adds a
  // generated partition column) — Spark's write-arity check compares
  // against the staged schema, and the write itself flows through the
  // real table whose layer fills the generated column. Creation is
  // eager (a filesystem catalog has no two-phase commit); abort drops
  // the table — the same cleanup contract as the non-staging exec.

  private def stagedFor(requested: StructType, ident: Identifier,
      t: Table): StagedTable =
    new StagedTable with SupportsRead with SupportsWrite {
      private val gt = t.asInstanceOf[GraftLakeTable]
      override def name(): String = gt.name()
      override def schema(): StructType = requested
      override def partitioning(): Array[Transform] = gt.partitioning()
      override def properties(): util.Map[String, String] = gt.properties()
      override def capabilities(): util.Set[TableCapability] = gt.capabilities()
      override def newScanBuilder(o: CaseInsensitiveStringMap) =
        gt.newScanBuilder(o)
      override def newWriteBuilder(i: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
        gt.newWriteBuilder(i)
      override def commitStagedChanges(): Unit = ()
      override def abortStagedChanges(): Unit = { dropTable(ident); () }
    }

  private def columnsToSchema(columns: Array[Column]): StructType =
    columns.foldLeft(new StructType()) { (sc, c) =>
      sc.add(c.name, c.dataType, c.nullable)
    }

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val schema = columnsToSchema(columns)
    stagedFor(schema, ident, createTable(ident, schema, partitions, properties))
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    dropTable(ident)
    val schema = columnsToSchema(columns)
    stagedFor(schema, ident, createTable(ident, schema, partitions, properties))
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) dropTable(ident)
    val schema = columnsToSchema(columns)
    stagedFor(schema, ident, createTable(ident, schema, partitions, properties))
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = tablePath(ident).getOrElse(throw new NoSuchTableException(ident))
    val t = GraftTable.forPath(spark, path)
    changes.foreach {
      case set: TableChange.SetProperty =>
        t.setTableProperties(Map(set.property -> set.value))
      case add: TableChange.AddColumn if add.fieldNames.length == 1 =>
        t.addColumn(add.fieldNames()(0), add.dataType)
      case rn: TableChange.RenameColumn if rn.fieldNames.length == 1 =>
        t.renameColumn(rn.fieldNames()(0), rn.newName)
      case del: TableChange.DeleteColumn if del.fieldNames.length == 1 =>
        t.dropColumn(del.fieldNames()(0))
      case up: TableChange.UpdateColumnType if up.fieldNames.length == 1 =>
        // L61 metadata-only type widening; non-widening changes refuse
        // inside alterColumnType
        t.alterColumnType(up.fieldNames()(0), up.newDataType)
      case rm: TableChange.RemoveProperty =>
        t.commitRemoveProperty(rm.property)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER for graftlake: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tablePath(ident) match {
      case Some(_) =>
        // external: drop the pointer, keep the data (classic external-
        // table contract); managed: remove the table directory
        if (Files.isRegularFile(pointerFile(ident)))
          Files.delete(pointerFile(ident))
        else deleteRecursively(tableDir(ident))
        true
      case None => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(nsDir(newIdent.namespace))
    if (Files.isRegularFile(pointerFile(oldIdent)))
      Files.move(pointerFile(oldIdent), pointerFile(newIdent))
    else Files.move(tableDir(oldIdent), tableDir(newIdent))
  }

  // --- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val stream = Files.list(warehouse)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && !new TxnLog(p.toString).exists)
      .map(p => Array(p.getFileName.toString)).toArray
    finally stream.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(nsDir(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace))
      Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace).toString).asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graftlake namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) return false
    val empty = {
      val stream = Files.list(dir)
      try !stream.iterator().hasNext finally stream.close()
    }
    require(cascade || empty,
      s"namespace ${namespace.mkString(".")} is not empty")
    deleteRecursively(dir)
    true
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
}

object GraftCatalog {

  /** Split a multipart name on dots OUTSIDE backticks, stripping the
    * quotes — a quoted part may itself contain dots or dashes.
    */
  private[graft] def splitName(name: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    for (c <- name) c match {
      case '`' => inQ = !inQ
      case '.' if !inQ => parts += sb.toString; sb.clear()
      case other => sb.append(other)
    }
    parts += sb.toString
    parts.toSeq
  }

  /** Resolve a (possibly qualified) name to a GraftLake table path
    * through the session's catalogs: bare names use the current
    * catalog + namespace; a qualified head naming a registered
    * catalog resolves there. None when the name doesn't land on a
    * [[GraftCatalog]] table.
    */
  private[graft] def resolve(spark: SparkSession,
      tableName: String): Option[String] =
    try {
      val cm = spark.sessionState.catalogManager
      val parts = splitName(tableName)
      val resolved: Option[(GraftCatalog, Identifier)] = parts match {
        case Seq(one) => cm.currentCatalog match {
          case g: GraftCatalog =>
            Some((g, Identifier.of(cm.currentNamespace, one)))
          case _ => None
        }
        case head +: rest if cm.isCatalogRegistered(head) =>
          cm.catalog(head) match {
            case g: GraftCatalog =>
              val ns =
                if (rest.init.isEmpty) g.defaultNamespace else rest.init.toArray
              Some((g, Identifier.of(ns, rest.last)))
            case _ => None
          }
        case init :+ last => cm.currentCatalog match {
          case g: GraftCatalog => Some((g, Identifier.of(init.toArray, last)))
          case _ => None
        }
      }
      resolved.flatMap { case (cat, ident) => cat.tablePath(ident) }
    } catch { case scala.util.control.NonFatal(_) => None }
}
