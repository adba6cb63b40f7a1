package graft.lake

import scala.util.matching.Regex

import graft.plans.{GraftDml, GraftDmlCommand}
import graft.sources.{GraftCatalog, GraftLakeTable, GraftSqlParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan,
  MergeIntoTable, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.StreamShim
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType,
  LongType, StringType, StructField, StructType}

/** SQL front-end for GraftLake maintenance statements — the exact
  * statement shapes the reference lab runs against Delta (reference
  * docs/02-lab-optimizations.md: `OPTIMIZE sales VORDER` §C,
  * `DESCRIBE HISTORY` / `VERSION AS OF` / `DELETE FROM` §D,
  * `VACUUM ... DRY RUN | RETAIN n HOURS` §E, `DESCRIBE DETAIL` §F),
  * plus RESTORE. DELETE, UPDATE and MERGE are Spark's grammar: each
  * is parsed by Spark's parser and lowered by [[graft.plans.GraftDml]],
  * as catalog DML is. Anything else falls through to `spark.sql` with
  * every registered table exposed as a temp view of its current
  * snapshot.
  *
  * The statement table lives in the companion: each shape declares
  * its pattern and its catalog route, which
  * [[graft.sources.GraftSqlParser]] reads to serve the same
  * statements on catalog names. A table name may be qualified or
  * backtick-quoted; it resolves in the local registry first, then
  * through the session's [[graft.sources.GraftCatalog]]s.
  */
final class GraftSql(spark: SparkSession) {
  import GraftSql._

  private val tables = scala.collection.mutable.Map[String, GraftTable]()
  private val matViews = scala.collection.mutable.Map[String, MaterializedAgg]()
  private val distinctViews =
    scala.collection.mutable.Map[String, MaterializedDistinct]()
  private val outerViews =
    scala.collection.mutable.Map[String, MaterializedOuterJoin]()

  def register(name: String, path: String): GraftTable = {
    val t = GraftTable.forPath(spark, path)
    tables(name) = t
    t
  }

  def registerCreate(name: String, path: String, df: DataFrame,
                     partitionBy: Seq[String] = Nil): GraftTable = {
    val t = GraftTable.create(spark, path, df, partitionBy)
    tables(name) = t
    t
  }

  def table(name: String): GraftTable = lookup(name).getOrElse(
    throw new IllegalArgumentException(s"unknown GraftLake table: $name"))

  /** The one name lookup: the local registry, then the catalogs. */
  private def lookup(name: String): Option[GraftTable] =
    local(name).orElse(GraftCatalog.resolve(spark, name)
      .map(GraftTable.forPath(spark, _)))

  /** A single-part name (backticks stripped) in the local registry. */
  private def local(name: String): Option[GraftTable] =
    GraftCatalog.splitName(name) match {
      case Seq(one) => tables.get(one)
      case _ => None
    }

  // a branch registers as `<table>_<branch>`, non-word chars mapped to _
  private def branchAlias(name: String, br: String): String =
    (GraftCatalog.splitName(name).mkString(".") + "_" + br)
      .replaceAll("[^A-Za-z0-9_]", "_")

  private def parseTsMillis(s: String): Long = Snapshot.parseTsMillis(s)

  /** Execute one statement; DDL/maintenance returns its metrics as a
    * DataFrame, queries return their result.
    */
  /** Multi-statement script execution: statements split on TOP-LEVEL
    * semicolons (string literals are masked first — a ';' inside a
    * quoted value never splits), each runs through [[sql]] in order
    * against the shared registry (a CREATE in statement 1 is visible
    * to statement 2), and the LAST statement's frame returns — the
    * psql/duckdb-CLI script contract. Blank segments (trailing ';',
    * blank lines between statements) are skipped; `--` comment lines
    * are stripped so saved scripts run verbatim.
    */
  def executeScript(script: String): DataFrame = {
    val noComments = script.linesIterator
      .filterNot(_.trim.startsWith("--")).mkString("\n")
    val masked = maskLiterals(noComments)
    val cuts = masked.zipWithIndex.collect { case (';', i) => i }
    val bounds = (-1 +: cuts :+ noComments.length).sliding(2).toSeq
    val stmts = bounds.map { case Seq(a, b) => noComments.substring(a + 1, b) }
      .map(_.trim).filter(_.nonEmpty)
    require(stmts.nonEmpty, "empty script")
    // transactions are script-scoped: a failing statement rolls an
    // open transaction back (nothing half-landed survives), and a
    // script that forgets COMMIT aborts loudly instead of leaking a
    // shadow
    val result =
      try stmts.map(sql).last
      catch { case e: Throwable => abortOpenTransaction(); throw e }
    if (transactionOpen) {
      abortOpenTransaction()
      throw new IllegalStateException(
        "script ended with an open transaction (rolled back) — " +
          "finish with COMMIT or ROLLBACK")
    }
    result
  }

  /** Expose every registered table as a temp view for the spark.sql
    * fallthrough, quoted so names like `my-sales` hold too.
    */
  private def exposeViews(): Unit =
    tables.foreach { case (n, tt) =>
      tt.toDF.createOrReplaceTempView("`" + n.replace("`", "``") + "`") }

  // ----------------------------------- cross-statement transactions

  private final case class ShadowEntry(base: GraftTable, baseVersion: Long,
      shadow: GraftTable, cloneVersion: Long)
  private final case class CreateEntry(finalLoc: String, tmpLoc: String)
  private final class TxnState {
    val shadows = scala.collection.mutable.LinkedHashMap[String, ShadowEntry]()
    val creates = scala.collection.mutable.LinkedHashMap[String, CreateEntry]()
  }
  private var txn: Option[TxnState] = None
  // test-only crash-injection seam for the multi-table COMMIT
  // protocol: TransactionSpec proves that a crash between the first
  // and second table's reservation — or right after the decision —
  // leaves every participant either advanced or unchanged. Hooks
  // throw [[GraftSql.SimulatedCrash]], which the COMMIT handler
  // re-throws WITHOUT any cleanup (a real crash runs none).
  private[lake] var txnCrashHook: String => Unit = _ => ()
  private def rollbackTxn(st: TxnState): Unit = {
    st.shadows.foreach { case (name, e) =>
      tables(name) = e.base
      e.shadow.deleteTransactionDir(e.shadow.path)
    }
    st.creates.foreach { case (name, c) =>
      tables.remove(name)
      // exposeViews may have published a temp view over the staged
      // table mid-transaction — a stale view outliving the rollback
      // would resolve reads against deleted files
      spark.catalog.dropTempView(name)
      // handle-free delete: the creates entry registers BEFORE the
      // CTAS runs, so a CTAS that failed (bad SELECT) leaves tmpLoc
      // missing — forPath would throw 'not a GraftLake table', mask
      // the original error, and wedge the transaction open
      GraftTable.deleteStagedDir(c.tmpLoc)
    }
    txn = None
    exposeViews() // re-publish base snapshots over any shadow views
  }

  /** Roll back an open transaction (used by executeScript's failure
    * path); no-op when none is open.
    */
  private[lake] def abortOpenTransaction(): Unit = txn.foreach(rollbackTxn)
  private[lake] def transactionOpen: Boolean = txn.isDefined

  /** Shadow every registered table the statement touches (shallow
    * clone at first touch — reads and writes inside the transaction
    * then see the shadow transparently) and stage CREATEs at a temp
    * location that moves into place at COMMIT.
    */
  private def txnPrepare(stmt: String): String = {
    val st = txn.get
    val masked = maskLiterals(stmt)
    if (txnForbiddenRe.matches(masked))
      throw new IllegalArgumentException(
        "maintenance/lifecycle statements are not allowed inside a " +
          s"transaction: ${stmt.trim.takeWhile(_ != '\n').take(60)}")
    // CREATE ... AS SELECT: stage at <location>.txn-<uuid>, move at COMMIT
    val redirected = stmt match {
      case ctasRe(name, _, location, _) if !tables.contains(name) =>
        val tmp = s"$location.txn-${java.util.UUID.randomUUID()}"
        st.creates(name) = CreateEntry(location, tmp)
        stmt.replace(s"'$location'", s"'$tmp'")
      case createOrReplaceRe(name, location, _)
          if !tables.contains(name) && location != null =>
        val tmp = s"$location.txn-${java.util.UUID.randomUUID()}"
        st.creates(name) = CreateEntry(location, tmp)
        stmt.replace(s"'$location'", s"'$tmp'")
      case _ => stmt
    }
    // first touch of a registered plain table -> swap in a shadow;
    // a name counts as touched bare or backtick-quoted
    val mvNames = matViews.keySet ++ distinctViews.keySet ++ outerViews.keySet
    tables.keys.toSeq.foreach { name =>
      val q = java.util.regex.Pattern.quote(name)
      val touched = s"(?i)(?<![\\w.`])$q(?![\\w.`])|`$q`".r
        .findFirstIn(masked).isDefined
      if (touched && !st.shadows.contains(name) &&
          !st.creates.contains(name) && !mvNames.contains(name)) {
        val base = tables(name)
        val tmpDir = s"${base.path}.txn-${java.util.UUID.randomUUID()}"
        val shadow = GraftTable.shallowClone(spark, base.path, tmpDir)
        st.shadows(name) = ShadowEntry(base, base.version, shadow,
          shadow.version)
        tables(name) = shadow
      }
    }
    redirected
  }

  /** BEGIN / COMMIT / ROLLBACK (script-scoped, Some(df) when handled).
    * COMMIT squashes each touched table's shadow into ONE optimistic
    * log commit and moves staged CREATEs into place — TWO-PHASE:
    * every table's heavy squash prep ([[GraftTable.prepareSquash]])
    * runs first with no log touched, then the appends
    * ([[GraftTable.commitSquash]]) land back-to-back, so the
    * cross-table non-atomic window is milliseconds of log appends.
    * Per-table commits are individually atomic and conflict-checked
    * against the BEGIN version; full cross-table atomicity would need
    * a coordinator log (each table's log is its own root of trust,
    * exactly like Delta).
    */
  private def txnControl(stmt: String): Option[DataFrame] = {
    import spark.implicits._
    stmt match {
      case beginRe() =>
        require(txn.isEmpty, "a transaction is already open")
        txn = Some(new TxnState)
        Some(Seq(("status", "transaction begun")).toDF("metric", "value"))
      case commitTxnRe() =>
        val st = txn.getOrElse(
          throw new IllegalStateException("COMMIT without BEGIN"))
        // pre-check every base is still at its BEGIN version so a
        // doomed multi-table commit aborts before touching any log
        st.shadows.values.find(e => e.base.version != e.baseVersion)
          .foreach { e =>
            rollbackTxn(st)
            throw new java.util.ConcurrentModificationException(
              s"transaction conflict: ${e.base.path} advanced past " +
                s"version ${e.baseVersion} — rolled back")
          }
        // set once reservations start: (decision path, txn id, reserved
        // plans) so the failure path can abort THE WHOLE transaction
        // with one decide, reclaim every table's phase-1 moved files,
        // and unpublish any gated creates
        var coordOf: Option[(String, String,
          Seq[(String, ShadowEntry, SquashPlan)])] = None
        // appended per iteration AS each create publishes (not assigned
        // after the whole map) so a failure publishing the Nth table
        // still lets the abort handler unpublish the first N-1
        val publishedCreates =
          scala.collection.mutable.ArrayBuffer[(String, CreateEntry)]()
        try {
          // PHASE 1: prepare every table's squash — all heavy work
          // (file moves, validation) with NO log touched
          val plans = st.shadows.toSeq.map { case (name, e) =>
            (name, e,
              if (e.shadow.version > e.cloneVersion)
                Some(e.base.prepareSquash(e.shadow, e.baseVersion))
              else None)
          }
          val changed = plans.collect { case (n, e, Some(p)) => (n, e, p) }
          if (changed.size + st.creates.size <= 1) {
            // single-participant transaction: the per-table optimistic
            // commit (or the single directory move below) is already
            // atomic — no coordinator needed
            changed.foreach { case (_, e, p) => e.base.commitSquash(p) }
          } else {
            // PHASE 2a: RESERVE each table's squash — full conflict
            // checks, but the version file is a marker invisible to
            // every reader until the decision lands
            val txnId = java.util.UUID.randomUUID().toString
            val coordHost = changed.headOption.map(_._2.base.path)
              .getOrElse(st.creates.head._2.finalLoc)
            val coordPath = java.nio.file.Paths
              .get(coordHost, "_graft_log", "_txncoord", s"$txnId.decision")
              .toAbsolutePath.toString
            coordOf = Some((coordPath, txnId, changed))
            // heartbeat: after each unit of phase-2 work, refresh every
            // already-landed reservation's mtime so a long multi-table
            // prepare (later tables' conflict-checked reservations,
            // CTAS directory moves) never ages a LIVE commit past the
            // pending-grace window — only crashed coordinators do
            val beats = scala.collection.mutable.ArrayBuffer[() => Unit]()
            def beatAll(): Unit = beats.foreach(_())
            val reserved = changed.zipWithIndex.map { case ((n, e, p), i) =>
              val v = e.base.reserveSquash(p, coordPath, txnId)
              beats += (() => e.base.log.refreshReservation(v))
              beatAll()
              txnCrashHook(s"after-reserve-$i")
              (e, v)
            }
            // gated CTAS publish: the staged table's log squashes into
            // one version-0 reservation bound to the SAME decision,
            // then the directory moves into place — visible only WITH
            // the decision, so created tables are atomic with the DML
            st.creates.toSeq.foreach { case (name, c) =>
              GraftTable.forPath(spark, c.tmpLoc)
                .gateCreateAsReservation(coordPath, txnId)
              val dest = java.nio.file.Paths.get(c.finalLoc)
              Option(dest.getParent)
                .foreach(java.nio.file.Files.createDirectories(_))
              java.nio.file.Files.move(
                java.nio.file.Paths.get(c.tmpLoc), dest)
              publishedCreates += ((name, c))
              // the created table's version-0 reservation must
              // heartbeat like the DML squashes: a long publish phase
              // (many creates, slow directory moves) would otherwise
              // age a LIVE create past the pending-grace window and
              // let a concurrent accessor grace-abort a healthy
              // in-flight commit
              beats += (() => new TxnLog(c.finalLoc).refreshReservation(0L))
              beatAll()
              txnCrashHook(s"after-create-publish-$name")
            }
            // PHASE 2b: THE atomic cross-table pointer swap — one
            // create-exclusive flips every reservation (DML squashes
            // AND gated creates) to committed at once; a crash on
            // either side leaves everything advanced or nothing
            // (pending markers past the grace window decide ABORT on
            // first access)
            val decision = new TxnLog(coordHost).decide(coordPath, "commit")
            if (decision != "commit")
              throw new java.util.ConcurrentModificationException(
                "transaction aborted by a concurrent accessor before " +
                  "the commit decision landed — rolled back")
            txnCrashHook("after-decision")
            // PHASE 2c: durable from here — seal the outcome into each
            // participant's OWN log first (commit durability must not
            // depend on the coordinator-host directory surviving a
            // later DROP TABLE), then deferred checkpoints and
            // created-table registration
            reserved.foreach { case (e, v) =>
              e.base.log.sealDecision(txnId, v, "commit")
              e.base.log.maybeCheckpoint(spark, v)
              // the per-commit artifact hooks never saw a reserved
              // commit — refresh now that the decided state is visible
              e.base.refreshExternalArtifacts()
            }
            publishedCreates.foreach { case (name, c) =>
              new TxnLog(c.finalLoc).sealDecision(txnId, 0L, "commit")
              val created = GraftTable.forPath(spark, c.finalLoc)
              // staged-time artifacts carry dead pre-move paths —
              // regenerate against the published location
              created.refreshExternalArtifacts()
              tables(name) = created
              st.creates.remove(name)
            }
          }
          plans.foreach { case (name, e, _) =>
            e.shadow.deleteTransactionDir(e.shadow.path)
            tables(name) = GraftTable.forPath(spark, e.base.path)
            st.shadows.remove(name)
          }
          st.creates.toSeq.foreach { case (name, c) =>
            val dest = java.nio.file.Paths.get(c.finalLoc)
            Option(dest.getParent)
              .foreach(java.nio.file.Files.createDirectories(_))
            java.nio.file.Files.move(java.nio.file.Paths.get(c.tmpLoc), dest)
            val created = GraftTable.forPath(spark, c.finalLoc)
            // staged-time manifest/Iceberg artifacts carry dead
            // pre-move paths — regenerate at the published location
            created.refreshExternalArtifacts()
            tables(name) = created
            st.creates.remove(name)
          }
        } catch {
          // test-only: a simulated crash behaves like a real one — no
          // rollback, no abort decision; recovery is the protocol's job
          case e: GraftSql.SimulatedCrash => txn = None; throw e
          case e: Throwable =>
            coordOf.foreach { case (coord, txnId, changed) =>
              val host = changed.headOption.map(_._2.base.path)
                .getOrElse(publishedCreates.headOption.map(_._2.finalLoc)
                  .getOrElse(st.creates.head._2.finalLoc))
              val d =
                try new TxnLog(host).decide(coord, "abort")
                catch { case _: Throwable => "abort" }
              // reclaim phase-1 moved files and unpublish gated
              // creates ONLY when abort actually won — if the decision
              // was already commit, they are live table data
              if (d == "abort") {
                changed.foreach { case (_, e2, p) => e2.base.reclaimMoved(p) }
                publishedCreates.foreach { case (_, c) =>
                  // the move would have failed on a pre-existing dir,
                  // but guard on OUR reservation id before deleting
                  if (new TxnLog(c.finalLoc).reservationTxnId(0L)
                      .contains(txnId))
                    GraftTable.deleteStagedDir(c.finalLoc)
                }
              }
            }
            rollbackTxn(st); throw e
        }
        txn = None
        exposeViews() // refresh any shadow-bound temp views to the base
        Some(Seq(("status", "committed")).toDF("metric", "value"))
      case rollbackTxnRe() =>
        val st = txn.getOrElse(
          throw new IllegalStateException("ROLLBACK without BEGIN"))
        rollbackTxn(st)
        Some(Seq(("status", "rolled back")).toDF("metric", "value"))
      case _ => None
    }
  }

  def sql(statement0: String): DataFrame = {
    import spark.implicits._
    txnControl(statement0) match {
      case Some(df) => return df
      case None => ()
    }
    val statement =
      if (txn.isDefined) txnPrepare(statement0) else statement0
    statement match {
      case optimizeRe(name, full, vorder1, zcols, vorder2, whereCond) =>
        val t = table(name)
        val metrics =
          if (zcols != null)
            t.zorderWhere(0L,
              Option(whereCond).map(expr),
              zcols.split(",").map(_.trim).toIndexedSeq: _*)
          else {
            // V-Order (02-lab:126-152): persist the property FIRST so
            // this very rewrite applies the physical layout — range-
            // clustered, within-file-sorted output (see
            // GraftTable.vorderColumns), not just a flag for DESCRIBE
            // EXTENDED to show
            if (vorder1 != null || vorder2 != null)
              t.setTableProperties(Map("graft.vorder" -> "true"))
            val m = t.optimize(where = Option(whereCond).map(expr),
              full = full != null)
            if (vorder1 != null || vorder2 != null) m + ("vorder" -> "true")
            else m
          }
        metrics.toSeq.sorted.toDF("metric", "value")
      case vacuumRe(name, lite, hours, dry) =>
        val h = Option(hours).map(_.toDouble).getOrElse(7 * 24.0)
        if (lite != null) table(name).vacuumLite(h, dryRun = dry != null)
        else table(name).vacuum(h, dryRun = dry != null)
      case historyRe(name, lim) => // LIMIT paginates to the newest N
        table(name).history(Option(lim).map(_.toInt).getOrElse(Int.MaxValue))
      case detailRe(name) => table(name).detailDF
      case clusteringRe(name, cols) =>
        table(name).clusteringReport(Option(cols).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case extendedRe(name) =>
        // schema rows followed by table properties (reference 02-lab:
        // 128-136 checks the VORDER property here)
        val s = table(name).snapshot
        val schemaRows = s.schema.fields.toSeq.map(f =>
          (f.name, f.dataType.simpleString))
        val propRows = s.metadata.toSeq.flatMap(_.properties.toSeq.sorted)
        (schemaRows ++ propRows).toDF("col_name", "data_type")
      case ctasRe(name, partBy, location, select) =>
        exposeViews()
        val df = spark.sql(select)
        val parts = Option(partBy).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        val t = GraftTable.create(spark, location, df, parts)
        tables(name) = t
        Seq(("location", location), ("numFiles",
          t.snapshot.numFiles.toString)).toDF("metric", "value")
      case createOrReplaceRe(name, location, select) =>
        exposeViews()
        val df = spark.sql(select)
        tables.get(name) match {
          case Some(t) =>
            // replace keeps the table's history (one OVERWRITE commit,
            // Delta CREATE OR REPLACE semantics), schema may change
            val v = t.overwrite(df, overwriteSchema = true)
            Seq(("replaced", name), ("version", v.toString))
              .toDF("metric", "value")
          case None =>
            val loc = Option(location).getOrElse(throw new IllegalArgumentException(
              s"CREATE OR REPLACE of unknown table $name needs LOCATION"))
            val t = GraftTable.create(spark, loc, df)
            tables(name) = t
            Seq(("location", loc), ("numFiles",
              t.snapshot.numFiles.toString)).toDF("metric", "value")
        }
      case truncateRe(name) =>
        table(name).truncate().toSeq.sortBy(_._1).toDF("metric", "value")
      case generateRe(name, mat) =>
        table(name).generateManifest(materialize = mat != null)
          .map(p => ("manifest", p)).toDF("metric", "value")
      case exportIcebergRe(name) =>
        val r = IcebergExport.export(table(name))
        (Seq(("metadata", r.metadataFile),
          ("manifest_list", r.manifestList)) ++
          r.manifests.map(("manifest", _)) ++
          Seq(("data_files", r.dataFiles.toString),
            ("delete_files", r.deleteFiles.toString),
            ("delete_rows", r.deleteRows.toString)))
          .toDF("metric", "value")
      case attachIcebergRe(src, name, loc, snap, ref) =>
        require(snap == null || ref == null,
          "ATTACH ICEBERG takes SNAPSHOT or REF, not both")
        // SNAPSHOT = pinned history; REF = follows the name on sync
        val t =
          if (ref != null) GraftTable.attachIcebergRef(spark, src, loc, ref)
          else GraftTable.attachIceberg(spark, src, loc,
            Option(snap).map(_.toLong))
        tables(name) = t
        Seq(("attached", name), ("source", src), ("location", loc),
          ("numFiles", t.snapshot.numFiles.toString),
          ("numDeletionVectors", t.snapshot.dvFiles.size.toString))
          .toDF("metric", "value")
      case syncAttachRe(name) =>
        table(name).resyncAttached().toSeq.sortBy(_._1)
          .toDF("metric", "value")
      case attachDeltaRe(src, name, loc, ver) =>
        val t = GraftTable.attachDelta(spark, src, loc,
          Option(ver).map(_.toLong))
        tables(name) = t
        Seq(("attached", name), ("source", src), ("location", loc),
          ("numFiles", t.snapshot.numFiles.toString))
          .toDF("metric", "value")
      case createTagRe(name, tag, v) =>
        val ver = table(name).createTag(tag,
          Option(v).map(_.toLong))
        Seq(("tag", tag), ("pinned_version",
          table(name).tagVersion(tag).toString),
          ("commit", ver.toString)).toDF("metric", "value")
      case dropTagRe(name, tag) =>
        val ver = table(name).dropTag(tag)
        Seq(("dropped", tag), ("commit", ver.toString))
          .toDF("metric", "value")
      case showTagsRe(name) =>
        table(name).tags.toSeq.sortBy(_._1).toDF("tag", "version")
      case setRowFilterRe(name, e0) =>
        val e = e0.replace("''", "'") // SQL-style quote escaping
        val v = table(name).setRowFilter(e)
        Seq(("rowFilter", e), ("commit", v.toString)).toDF("metric", "value")
      case dropRowFilterRe(name) =>
        val v = table(name).clearRowFilter()
        Seq(("dropped", "rowFilter"), ("commit", v.toString))
          .toDF("metric", "value")
      case setMaskRe(name, c, e0) =>
        val e = e0.replace("''", "'")
        val v = table(name).setColumnMask(c, e)
        Seq(("maskedColumn", c), ("expr", e), ("commit", v.toString))
          .toDF("metric", "value")
      case dropMaskRe(name, c) =>
        val v = table(name).clearColumnMask(c)
        Seq(("dropped", c), ("commit", v.toString)).toDF("metric", "value")
      case createBranchTagRe(name, br, tag) =>
        // fork at the version a TAG pins — "branch from the release"
        val t = table(name)
        val bt = t.createBranch(br, Some(t.tagVersion(tag)))
        val alias = branchAlias(name, br)
        tables(alias) = bt
        Seq(("branch", br), ("fromTag", tag),
          ("registered_as", alias), ("path", bt.path)).toDF("metric", "value")
      case createBranchRe(name, br, v) =>
        val bt = table(name).createBranch(br, Option(v).map(_.toLong))
        // the branch auto-registers as `<table>_<branch>` (non-word
        // chars mapped to _) so plain SQL reads and writes it like any
        // table; the handle is a full GraftTable either way
        val alias = branchAlias(name, br)
        tables(alias) = bt
        Seq(("branch", br), ("registered_as", alias), ("path", bt.path))
          .toDF("metric", "value")
      case dropBranchRe(name, br) =>
        table(name).dropBranch(br)
        tables.remove(branchAlias(name, br))
        Seq(("dropped", br)).toDF("metric", "value")
      case showBranchesRe(name) =>
        val t = table(name)
        t.branches.map { b =>
          val props = t.branch(b).snapshot.metadata
            .map(_.properties).getOrElse(Map.empty)
          (b, props.getOrElse(GraftTable.BranchBaseProp, ""),
            props.get(GraftTable.BranchSealedProp).contains("true"))
        }.toDF("branch", "base_version", "merged")
      case mergeBranchRe(br, name) =>
        val metrics = table(name).mergeBranch(br)
        metrics.toSeq.sortBy(_._1).toDF("metric", "value")
      case rebaseBranchRe(br, name) =>
        val metrics = table(name).rebaseBranch(br)
        metrics.toSeq.sortBy(_._1).toDF("metric", "value")
      case restoreTagRe(name, tag) =>
        val t = table(name)
        val pinned = t.tagVersion(tag)
        val nv = t.restore(pinned)
        Seq(("restoredToTag", tag), ("restoredToVersion", pinned.toString),
          ("newVersion", nv.toString)).toDF("metric", "value")
      case exportDeltaRe(name) =>
        val r = DeltaExport.export(table(name))
        Seq(("log_dir", r.logDir),
          ("version", r.version.toString),
          ("adds", r.adds.toString),
          ("removes", r.removes.toString),
          ("materialized_files", r.materializedFiles.toString))
          .toDF("metric", "value")
      case dropTableRe(name) =>
        // external-table semantics (the only kind here): unregister the
        // name, leave data + log for re-registration
        Seq(("dropped", tables.remove(name).isDefined.toString))
          .toDF("metric", "value")
      case showColumnsRe(name) =>
        table(name).snapshot.schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString))
          .toDF("col_name", "data_type")
      case createMvOuterRe(name, location, selectList, srcName, kind, dimName,
          using, groupBy) =>
        // OUTER view (L90): per-join-key fact sub-aggregate state;
        // fact-side aggregates only (the class refuses others)
        val groupCols = groupBy.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val joinKeys = using.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val items = selectList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val (sumCols, minColsSql, maxColsSql) = mvAggColumns(items, groupCols)
        val mv = MaterializedOuterJoin.create(spark, location, table(srcName),
          table(dimName), joinKeys, groupCols, sumCols, minColsSql, maxColsSql,
          joinType = kind.toLowerCase)
        outerViews(name) = mv
        tables(name) = mv.view
        graft.plans.MvCatalog.registerOuter(mv)
        Seq(("location", location), ("sourceVersion",
          table(srcName).version.toString)).toDF("metric", "value")
      case createMvOuterJoinRe(joinKind) =>
        throw new IllegalArgumentException(
          s"materialized ${joinKind.toUpperCase} JOIN views support the " +
            "`FROM fact <kind> JOIN dim USING (keys) GROUP BY …` shape " +
            "only — rewrite the ON clause as USING on shared key columns")
      case createMvJoinRe(name, location, selectList, srcName, dimName,
          using, groupBy) =>
        // join view (L83): same maintainable select surface, columns
        // may come from either side; fact deltas fold, dim changes
        // rebuild. Registered for the JOIN-SHAPE transparent rewrite
        // (the single-table rewrite declines dim-bearing views).
        val groupCols = groupBy.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val joinKeys = using.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val items = selectList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val (sumCols, minColsSql, maxColsSql) = mvAggColumns(items, groupCols)
        val mv = MaterializedAgg.createJoin(spark, location, table(srcName),
          table(dimName), joinKeys, groupCols, sumCols, minColsSql, maxColsSql)
        matViews(name) = mv
        tables(name) = mv.view
        graft.plans.MvCatalog.register(mv)
        Seq(("location", location), ("sourceVersion",
          table(srcName).version.toString)).toDF("metric", "value")
      case createMvRe(name, location, selectList, srcName, groupBy) =>
        val groupCols = groupBy.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val items = selectList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val distinctCols = items.flatMap {
          case mvCountDistinctItemRe(c) => Some(c); case _ => None }.distinct
        if (distinctCols.nonEmpty) {
          // a COUNT DISTINCT view keeps (keys, x)-grain state — its own
          // class; it cannot share a statement with other aggregates
          require(distinctCols.length == 1 &&
            items.forall(i => groupCols.contains(i) ||
              mvCountDistinctItemRe.findFirstIn(i).isDefined),
            "COUNT(DISTINCT x) views maintain group columns and exactly " +
              "one COUNT(DISTINCT col); mix other aggregates into a " +
              "separate view")
          val dv = MaterializedDistinct.create(spark, location,
            table(srcName), groupCols, distinctCols.head)
          distinctViews(name) = dv
          tables(name) = dv.view
          graft.plans.MvCatalog.registerDistinct(dv)
          return Seq(("location", location), ("sourceVersion",
            table(srcName).version.toString)).toDF("metric", "value")
        }
        val (sumCols, minColsSql, maxColsSql) = mvAggColumns(items, groupCols)
        val mv = MaterializedAgg.create(spark, location, table(srcName),
          groupCols, sumCols, minColsSql, maxColsSql)
        matViews(name) = mv
        tables(name) = mv.view
        // opt the view into transparent query rewrite for this session
        graft.plans.MvCatalog.register(mv)
        Seq(("location", location), ("sourceVersion",
          table(srcName).version.toString)).toDF("metric", "value")
      case refreshMvRe(name0) =>
        val name = GraftCatalog.splitName(name0).mkString(".")
        val v = matViews.get(name).map(_.refresh())
          .orElse(distinctViews.get(name).map(_.refresh()))
          .orElse(outerViews.get(name).map(_.refresh()))
          .getOrElse(throw new IllegalArgumentException(
            s"unknown materialized view: $name"))
        Seq(("version", v.toString)).toDF("metric", "value")
      case createSchemaRe(name, ddl, partBy, location) =>
        // explicit-schema create: an empty table whose schema comes
        // from the DDL column list, ready for INSERT/COPY INTO
        val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        val parts = Option(partBy).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        val df = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val t = GraftTable.create(spark, location, df, parts)
        tables(name) = t
        Seq(("location", location), ("schema", schema.simpleString))
          .toDF("metric", "value")
      case insertColsRe(name, colsStr, payload) =>
        // named-column INSERT: listed columns map positionally; omitted
        // columns fill from declared defaults, identity columns
        // allocate, everything else inserts NULL (standard semantics)
        val t = table(name)
        exposeViews()
        val schema = t.snapshot.schema
        val cols = colsStr.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"unknown column $c in INSERT column list for $name"))
        val src0 =
          if (payload.trim.toUpperCase.startsWith("VALUES"))
            spark.sql(s"SELECT * FROM $payload")
          else spark.sql(payload)
        require(src0.columns.length == cols.length,
          s"INSERT provides ${src0.columns.length} columns, " +
            s"column list names ${cols.length}")
        val named = src0.toDF(cols: _*).select(cols.map(c =>
          col(c).cast(schema(c).dataType).as(c)): _*)
        val props = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
        val autoFilled = props.keys.collect {
          case k if k.startsWith("graft.identity.") => k.stripPrefix("graft.identity.")
          case k if k.startsWith("graft.default.") => k.stripPrefix("graft.default.")
        }.toSet
        val filled = schema.fields
          .filterNot(f => cols.contains(f.name) || autoFilled(f.name))
          .foldLeft(named)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val v = t.append(filled)
        val inserted = t.log.readCommit(v)
          .collect { case a: AddFile => a.stats.map(_.numRecords).getOrElse(0L) }
          .sum
        Seq(("numInsertedRows", inserted.toString)).toDF("metric", "value")
      case insertRe(mode, name, payload) =>
        val t = table(name)
        // the payload may SELECT from any registered lake table —
        // including the target itself: toDF binds the PRE-insert
        // snapshot eagerly, so `INSERT INTO t SELECT * FROM t` reads
        // the old state while the write stages new files
        exposeViews()
        val src0 =
          if (payload.trim.toUpperCase.startsWith("VALUES"))
            spark.sql(s"SELECT * FROM $payload")
          else spark.sql(payload)
        // standard INSERT semantics: positional column mapping, values
        // coerced to the table schema (append() then enforces it)
        val schema = t.snapshot.schema
        require(src0.columns.length == schema.fields.length,
          s"INSERT provides ${src0.columns.length} columns, " +
            s"table $name has ${schema.fields.length}")
        val src = src0.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
        // row count comes from the committed files' stats, not a
        // pre-count: counting first would evaluate the source twice
        // and can disagree with the write for non-deterministic
        // payloads
        val inserted =
          if (mode.equalsIgnoreCase("OVERWRITE")) {
            t.replaceWhere(lit(true), src)
            t.snapshot.numRecords
          } else {
            val v = t.append(src)
            t.log.readCommit(v)
              .collect { case a: AddFile => a.stats.map(_.numRecords).getOrElse(0L) }
              .sum
          }
        Seq(("numInsertedRows", inserted.toString)).toDF("metric", "value")
      case showPropsRe(name) =>
        table(name).snapshot.metadata.toSeq
          .flatMap(_.properties.toSeq).sorted.toDF("key", "value")
      case showPartitionsRe(name) => table(name).partitionsDF
      case analyzeRe(name) => table(name).computeStats()
      case analyzeColumnsRe(name, forCols) =>
        // FOR COLUMNS: base stats (rows/NDV/min/max) PLUS the
        // equi-height histograms the CBO's skew-aware selectivity
        // reads — one ANALYZE statement, both artifacts
        val t = table(name)
        t.computeStats()
        t.computeHistogram(forCols.split(",").map(_.trim).toSeq
          .filter(_.nonEmpty))
      case showCreateRe(name) =>
        // Spark/Delta parity: one row, the re-runnable DDL — schema
        // with NOT NULL markers, partitioning, location, properties
        val t = table(name)
        val s = t.snapshot
        val cols = s.schema.fields.map(f =>
          s"  ${f.name} ${f.dataType.sql}${if (!f.nullable) " NOT NULL" else ""}")
          .mkString(",\n")
        val part =
          if (s.partitionColumns.isEmpty) ""
          else s"\nPARTITIONED BY (${s.partitionColumns.mkString(", ")})"
        val props = s.metadata.map(_.properties).getOrElse(Map.empty)
        // informational PK/FK render as their DDL clauses (re-runnable)
        val pkStr = props.get("graft.pk").map { v =>
          val Array(n, c) = v.split(":", 2)
          s",\n  CONSTRAINT $n PRIMARY KEY ($c) NOT ENFORCED"
        }.getOrElse("")
        val fkStr = props.toSeq.filter(_._1.startsWith("graft.fk."))
          .sortBy(_._1).map { case (k, v) =>
            val n = k.stripPrefix("graft.fk.")
            val Array(c, ref) = v.split(">", 2)
            val Array(rp, rc) = ref.split(":", 2)
            s",\n  CONSTRAINT $n FOREIGN KEY ($c) REFERENCES `$rp` ($rc) NOT ENFORCED"
          }.mkString
        val propStr =
          if (props.isEmpty) ""
          else "\nTBLPROPERTIES (" + props.toSeq.sortBy(_._1)
            .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")"
        Seq(s"CREATE TABLE $name (\n$cols$pkStr$fkStr\n)\nUSING graftlake$part" +
          s"\nLOCATION '${t.path}'$propStr").toDF("createtab_stmt")
      case createLikeRe(newName, srcName, destPath) =>
        val created = GraftTable.createLike(spark, table(srcName).path, destPath)
        tables(newName) = created
        Seq(("created", s"$newName LIKE $srcName")).toDF("metric", "value")
      case cloneRe(newName, mode, srcName, destPath, v, ts) =>
        val deep = mode.equalsIgnoreCase("DEEP")
        // TIMESTAMP AS OF resolves through the commit-time index, the
        // same clock RESTORE and SELECT time travel use
        val pinned: Option[Long] = Option(v).map(_.toLong).orElse(
          Option(ts).map(x =>
            Snapshot.versionAtTimestamp(table(srcName).log, parseTsMillis(x))))
        val cloned =
          if (deep) GraftTable.deepClone(spark, table(srcName).path,
            destPath, pinned)
          else GraftTable.shallowClone(spark, table(srcName).path,
            destPath, pinned)
        tables(newName) = cloned
        Seq(("cloned", s"$srcName -> $newName"),
          ("mode", mode.toLowerCase),
          ("location", destPath),
          ("sourceVersion", Option(v).getOrElse("latest")))
          .toDF("metric", "value")
      case reorgRe(name) =>
        table(name).reorgPurge().toSeq.sorted.toDF("metric", "value")
      case bloomRe(name, colName) =>
        val ver = table(name).computeBloomFilter(colName)
        Seq(("bloomColumn", colName), ("version", ver.toString))
          .toDF("metric", "value")
      case renameColRe(name, from, to) =>
        val v = table(name).renameColumn(from, to)
        Seq(("renamed", s"$from -> $to"), ("version", v.toString))
          .toDF("metric", "value")
      case dropColRe(name, colName) =>
        val v = table(name).dropColumn(colName)
        Seq(("dropped", colName), ("version", v.toString))
          .toDF("metric", "value")
      case addConstraintRe(name, cname, exprSql) =>
        val v = table(name).addConstraint(cname, exprSql)
        Seq(("constraint", cname), ("version", v.toString))
          .toDF("metric", "value")
      case addPkRe(name, cname, cols) =>
        val v = table(name).addPrimaryKey(cname,
          cols.split(",").map(_.trim).toSeq)
        Seq(("primaryKey", cname), ("version", v.toString))
          .toDF("metric", "value")
      case addFkRe(name, cname, cols, refName, refCols) =>
        // the referenced table resolves to its PATH so the pointer
        // outlives this session's name registry
        val v = table(name).addForeignKey(cname,
          cols.split(",").map(_.trim).toSeq, table(refName).path,
          refCols.split(",").map(_.trim).toSeq)
        Seq(("foreignKey", cname), ("version", v.toString))
          .toDF("metric", "value")
      case fsckRe(name, dry) =>
        table(name).fsckRepair(dryRun = dry != null)
      case dropConstraintRe(name, cname) =>
        val v = table(name).dropConstraint(cname)
        Seq(("droppedConstraint", cname), ("version", v.toString))
          .toDF("metric", "value")
      case addColRe(name, rest) =>
        // accept both `ADD COLUMN c TYPE` and `ADD COLUMNS (c TYPE)`
        val body0 = rest.trim
        val body = if (body0.startsWith("(") && body0.endsWith(")"))
          body0.substring(1, body0.length - 1).trim else body0
        val Array(colName, typeStr) = body.split("\\s+", 2)
        val dt = org.apache.spark.sql.types.StructType
          .fromDDL(s"$colName $typeStr").head.dataType
        val v = table(name).addColumn(colName, dt)
        Seq(("addedColumn", s"$colName ${dt.simpleString}"),
          ("version", v.toString)).toDF("metric", "value")
      case alterTypeRe(name, colName, typeStr) =>
        // widening type change: metadata-only, validated in the table
        val dt = org.apache.spark.sql.types.StructType
          .fromDDL(s"$colName $typeStr").head.dataType
        val v = table(name).alterColumnType(colName, dt)
        Seq(("alteredType", s"$colName ${dt.simpleString}"),
          ("version", v.toString)).toDF("metric", "value")
      case setNotNullRe(name, colName) =>
        val v = table(name).setNotNull(colName)
        Seq(("notNullSet", colName), ("version", v.toString))
          .toDF("metric", "value")
      case dropNotNullRe(name, colName) =>
        val v = table(name).dropNotNull(colName)
        Seq(("notNullDropped", colName), ("version", v.toString))
          .toDF("metric", "value")
      case setDefaultRe(name, colName, exprStr) =>
        val t = table(name)
        require(t.snapshot.schema.fieldNames.contains(colName),
          s"cannot set a default on unknown column $colName")
        val v = t.setTableProperties(Map(s"graft.default.$colName" -> exprStr))
        Seq(("defaultSet", s"$colName = $exprStr"), ("version", v.toString))
          .toDF("metric", "value")
      case dropDefaultRe(name, colName) =>
        val v = table(name).commitRemoveProperty(s"graft.default.$colName")
        Seq(("defaultDropped", colName), ("version", v.toString))
          .toDF("metric", "value")
      case clusterByRe(name, cols) =>
        val t = table(name)
        val v =
          if (cols == null)
            // NONE is an explicit choice: records the opt-out so
            // CLUSTER BY AUTO never re-picks over it (L120)
            t.clearClusterBy()
          else t.setTableProperties(Map("graft.clusterBy" ->
            cols.split(",").map(_.trim).filter(_.nonEmpty).mkString(",")))
        Seq(("clusterBy", Option(cols).getOrElse("NONE")),
          ("version", v.toString)).toDF("metric", "value")
      case setPropsRe(name, body) =>
        val props = propPairRe.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2)).toMap
        require(props.nonEmpty, s"no 'k'='v' pairs in TBLPROPERTIES: $body")
        val v = table(name).setTableProperties(props)
        (props.toSeq.sorted :+ ("version" -> v.toString))
          .toDF("metric", "value")
      case restoreRe(name, v, ts) =>
        val (to, nv) =
          if (v != null) (("restoredToVersion", v), table(name).restore(v.toLong))
          else (("restoredToTimestamp", ts),
            table(name).restoreToTimestamp(parseTsMillis(ts)))
        Seq(to, ("newVersion", nv.toString)).toDF("metric", "value")
      case copyIntoRe(name, src) =>
        table(name).copyInto(src).toSeq.sorted.toDF("metric", "value")
      case tableChangesRe(name, from, to, fromTs, toTs) =>
        val t = table(name)
        // BETWEEN is inclusive of both bounds; changeFeed's range is
        // (from, to]
        if (from != null) t.changeFeed(from.toLong - 1, to.toLong)
        else {
          // timestamp bounds (Delta CDF parity): start = first commit
          // AT-OR-AFTER the lower bound (the streaming startingTimestamp
          // contract — latest-at-or-before would replay earlier
          // changes), end = last commit at-or-before the upper; an
          // empty window clamps to an empty feed instead of erroring
          val fromV = Snapshot.versionAtOrAfterTimestamp(t.log, parseTsMillis(fromTs))
          val toV = Snapshot.versionAtTimestamp(t.log, parseTsMillis(toTs))
          t.changeFeed(math.min(fromV - 1, toV), toV)
        }
      case dmlRe() => dml(statement)
      case other =>
        // register snapshots (incl. any VERSION AS OF rewrites) and
        // delegate to Spark SQL
        var rewritten = other
        // a registered name read AS OF a tag/version/time reads a view
        // of that snapshot, named word-safe after the table
        def asOf(re: Regex, kind: String)(view: (GraftTable, String) => DataFrame)
            : Unit = re.findAllMatchIn(other).foreach { m =>
          local(m.group(1)).foreach { t =>
            val viewName = (GraftCatalog.splitName(m.group(1)).head +
              s"__${kind}_${m.group(2)}").replaceAll("\\W", "_")
            view(t, m.group(2)).createOrReplaceTempView(viewName)
            rewritten = rewritten.replace(m.matched, viewName)
          }
        }
        asOf(tagAsOfRe, "tag")((t, tag) => t.toDFAt(t.tagVersion(tag)))
        asOf(versionAsOfRe, "v")((t, v) => t.toDFAt(v.toLong))
        asOf(timestampAsOfRe, "ts")((t, ts) =>
          t.toDFAsOfTimestamp(parseTsMillis(ts)))
        exposeViews()
        spark.sql(rewritten)
    }
  }

  /** DELETE / UPDATE / MERGE, parsed by Spark's grammar and lowered
    * by [[graft.plans.GraftDml]] exactly as catalog DML is: the target
    * name resolves through [[lookup]] (inside a transaction, to its
    * shadow) and the statement answers the planner's metrics. Other
    * names (a MERGE source, an IN-subquery) read as in any query.
    * `MERGE WITH SCHEMA EVOLUTION` is analyzed as a plain MERGE over
    * the evolved schema, held in memory, and the source aligned to it;
    * the table evolves only once the statement has passed analysis, so
    * a refused statement commits nothing.
    */
  private def dml(statement: String): DataFrame = {
    import spark.implicits._
    val parsed = GraftSqlParser.sparkParser(spark).parsePlan(statement)
    // registered tables read through their temp views, published only
    // when the statement names a table besides its target
    if (parsed.collectWithSubqueries { case r: UnresolvedRelation => r }.size > 1) exposeViews()
    // the target, bare or aliased: its name becomes the table the
    // catalog route resolves it to, read in `evolveFor`'s evolved schema
    // when given
    def target(p: LogicalPlan, evolveFor: Option[StructType] = None)
        : (GraftTable, LogicalPlan) = p match {
      case a @ SubqueryAlias(_, child) =>
        val (t, r) = target(child, evolveFor)
        (t, a.copy(child = r))
      case r: UnresolvedRelation =>
        val name = r.multipartIdentifier
        val t = table(name.map(n => s"`$n`").mkString("."))
        val rel = DataSourceV2Relation.create(
          new GraftLakeTable(spark, t.path, name.mkString(".")), None, None)
        (t, SubqueryAlias(name, evolveFor.fold(rel)(src =>
          rel.copy(output = DataTypeUtils.toAttributes(t.evolvedSchema(src))))))
      case other => throw new IllegalArgumentException(
        s"unsupported DML target: ${other.nodeName}")
    }
    val (plan, evolve) = parsed match {
      case d: DeleteFromTable => (d.copy(table = target(d.table)._2), None)
      case u: UpdateTable => (u.copy(table = target(u.table)._2), None)
      case m: MergeIntoTable if m.withSchemaEvolution =>
        val src = StreamShim.ofRows(spark, m.sourceTable)
        val (t, tgt) = target(m.targetTable, Some(src.schema))
        // the aligned source keeps the qualifier its clauses name it by
        val aligned = t.alignToSchema(src, t.evolvedSchema(src.schema)).queryExecution.analyzed
        val qualifier = src.queryExecution.analyzed.output.head.qualifier
        (m.copy(targetTable = tgt, withSchemaEvolution = false,
          sourceTable = if (qualifier.isEmpty) aligned else SubqueryAlias(qualifier, aligned)),
          Some(() => t.evolveSchemaFor(src)))
      case m: MergeIntoTable => (m.copy(targetTable = target(m.targetTable)._2), None)
      case other => throw new IllegalArgumentException(
        s"not a DELETE, UPDATE or MERGE statement: ${other.nodeName}")
    }
    val qe = spark.sessionState.executePlan(GraftDml.markInsertStar(plan))
    qe.assertAnalyzed()
    qe.analyzed match {
      case c: GraftDmlCommand =>
        evolve.foreach(_())
        c.execute(spark).toSeq.sorted.toDF("metric", "value")
      case _ => throw new IllegalStateException("GraftSql DELETE / UPDATE / MERGE " +
        "need spark.sql.extensions=graft.GraftExtensions")
    }
  }

  /** The (SUM/AVG, MIN, MAX) source columns of a CREATE MATERIALIZED
    * VIEW select list, which must be exactly what a view can maintain:
    * group columns, COUNT(*), SUM/AVG(col) (avg stores its sum +
    * non-null count pair), MIN/MAX(col) (insert-only fold with
    * recompute-on-retract) — anything else refuses.
    */
  private def mvAggColumns(items: Seq[String], groupCols: Seq[String])
      : (Seq[String], Seq[String], Seq[String]) = {
    items.foreach {
      case mvSumItemRe(_) | mvAvgItemRe(_) | mvMinItemRe(_) |
           mvMaxItemRe(_) | mvCountItemRe() => ()
      case item if groupCols.contains(item) => ()
      case item => throw new IllegalArgumentException(
        s"materialized views maintain group columns, COUNT(*), " +
          s"SUM/AVG(col), and MIN/MAX(col) only; cannot maintain: $item")
    }
    def sources(pick: PartialFunction[String, String]): Seq[String] =
      items.collect(pick).distinct
    (sources { case mvSumItemRe(c) => c; case mvAvgItemRe(c) => c },
      sources { case mvMinItemRe(c) => c },
      sources { case mvMaxItemRe(c) => c })
  }
}

object GraftSql {

  /** How the session parser ([[graft.sources.GraftSqlParser]]) treats a
    * statement shape written against a catalog name.
    */
  sealed trait Route
  /** GraftSql only: on catalog names Spark's own grammar serves it. */
  case object Never extends Route
  /** A graft-only verb Spark's parser would reject: always intercepted,
    * answering with `out`.
    */
  final case class Always(out: StructType) extends Route
  /** A statement Spark also parses: intercepted only when the names in
    * groups `names` resolve to GraftLake tables, answering with `out`.
    */
  final case class IfGraft(out: StructType, names: Seq[Int] = Seq(1))
    extends Route
  /** Intercepted when the name in group 1 resolves to a GraftLake table
    * meeting `when`; the parser returns the statement's own lazy plan,
    * so its columns follow the table and data-sized output stays
    * distributed.
    */
  final case class Lazy(when: GraftTable => Boolean = _ => true)
    extends Route

  /** One statement of the grammar: the whole-statement pattern around
    * `body`, and its catalog route.
    */
  final class Shape private[GraftSql] (val route: Route, body: String) {
    private val re = ("(?is)^\\s*" + body + "\\s*;?\\s*$").r
    def unapplySeq(stmt: String): Option[List[String]] = re.unapplySeq(stmt)
  }

  // the shapes whose route is not Never, in declaration order
  private val routed = scala.collection.mutable.ArrayBuffer[Shape]()
  private def shape(body: String, route: Route = Never): Shape = {
    val s = new Shape(route, body)
    if (route != Never) routed += s
    s
  }

  /** The statements the session parser intercepts on catalog names. */
  private[graft] def catalogShapes: Seq[Shape] = routed.toSeq

  /** The route `stmt` takes on catalog names: the first routed shape
    * that matches, if its rule admits the statement. `tableOf` runs
    * only after a shape matched, so a plain query costs the routed
    * patterns and no catalog lookup.
    */
  private[graft] def catalogRoute(stmt: String,
      tableOf: String => Option[GraftTable]): Option[Route] =
    routed.iterator.flatMap(s => s.unapplySeq(stmt).map(s.route -> _))
      .nextOption().collect {
        case (r: Always, _) => r
        case (r @ IfGraft(_, names), g)
            if names.forall(i => tableOf(g(i - 1)).isDefined) => r
        case (r @ Lazy(when), g) if tableOf(g.head).exists(when) => r
      }

  // a table name: optionally catalog/namespace-qualified, each part a
  // plain word or a backtick-quoted segment (which may hold dots,
  // dashes or reserved words); exactly one capturing group
  private val id = """((?:\w+|`[^`]+`)(?:\.(?:\w+|`[^`]+`))*)"""

  private def columns(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val metricValue = columns("metric" -> StringType, "value" -> StringType)
  private val pathOut = columns("path" -> StringType)
  private val historyOut = columns("version" -> LongType,
    "timestamp" -> LongType, "operation" -> StringType,
    "parameters" -> StringType, "metrics" -> StringType)
  private val detailOut = columns("location" -> StringType,
    "version" -> LongType, "numFiles" -> IntegerType,
    "sizeInBytes" -> LongType, "partitionColumns" -> StringType,
    "numRecords" -> LongType, "clusteringColumns" -> StringType,
    "rowTracking" -> BooleanType, "indexes" -> StringType)
  private val statsOut = columns("column" -> StringType,
    "n_rows" -> LongType, "n_distinct" -> LongType, "n_nulls" -> LongType,
    "min" -> StringType, "max" -> StringType)
  private val missingOut = columns("missing_file" -> StringType)

  // ------------------------------------------------- statement shapes

  private val optimizeRe = shape(
    raw"""OPTIMIZE\s+$id(\s+FULL)?(\s+VORDER)?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?(\s+VORDER)?(?:\s+WHERE\s+(.+?))?""",
    Always(metricValue))
  private val vacuumRe = shape(
    raw"""VACUUM\s+$id(\s+LITE)?(?:\s+RETAIN\s+([0-9.]+)\s+HOURS)?(\s+DRY\s+RUN)?""",
    Always(pathOut))
  private val historyRe = shape(
    raw"""DESCRIBE\s+HISTORY\s+$id(?:\s+LIMIT\s+(\d+))?""", Always(historyOut))
  private val detailRe = shape(raw"""DESCRIBE\s+DETAIL\s+$id""", Always(detailOut))
  private val extendedRe = shape(raw"""DESCRIBE\s+EXTENDED\s+$id""")
  private val clusteringRe = shape(
    raw"""DESCRIBE\s+CLUSTERING\s+$id(?:\s*\(([\w,\s]+)\))?""")
  private val analyzeRe = shape(
    raw"""ANALYZE\s+TABLE\s+$id\s+COMPUTE\s+STATISTICS""", IfGraft(statsOut))
  private val analyzeColumnsRe = shape(
    raw"""ANALYZE\s+TABLE\s+$id\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s*\(([\w,\s]+)\)""")
  private val showCreateRe = shape(raw"""SHOW\s+CREATE\s+TABLE\s+$id""")
  private val createLikeRe = shape(
    raw"""CREATE\s+TABLE\s+(\w+)\s+LIKE\s+$id\s+LOCATION\s+'([^']+)'""")
  private val cloneRe = shape(
    raw"""CREATE\s+TABLE\s+(\w+)\s+(SHALLOW|DEEP)\s+CLONE\s+$id\s+LOCATION\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?""")
  private val reorgRe = shape(
    raw"""REORG\s+TABLE\s+$id\s+APPLY\s*\(\s*PURGE\s*\)""", Always(metricValue))
  private val bloomRe = shape(
    raw"""COMPUTE\s+BLOOM\s+(?:ON\s+)?$id\s*\(\s*(\w+)\s*\)""")
  private val renameColRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)""")
  private val dropColRe = shape(raw"""ALTER\s+TABLE\s+$id\s+DROP\s+COLUMN\s+(\w+)""")
  private val addColRe = shape(raw"""ALTER\s+TABLE\s+$id\s+ADD\s+COLUMNS?\s+(.+?)""")
  // constraint DDL: Spark has no v2 TableChange for these, so catalog
  // names route here too; a foreign key's referenced name must
  // resolve as well
  private val addConstraintRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)""",
    IfGraft(metricValue))
  private val addPkRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ADD\s+CONSTRAINT\s+(\w+)\s+PRIMARY\s+KEY\s*\(([^)]+)\)(?:\s+NOT\s+ENFORCED)?""",
    IfGraft(metricValue))
  private val addFkRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ADD\s+CONSTRAINT\s+(\w+)\s+FOREIGN\s+KEY\s*\(([^)]+)\)\s+REFERENCES\s+$id\s*\(([^)]+)\)(?:\s+NOT\s+ENFORCED)?""",
    IfGraft(metricValue, names = Seq(1, 4)))
  private val fsckRe = shape(
    raw"""FSCK\s+REPAIR\s+TABLE\s+$id(\s+DRY\s+RUN)?""", Always(missingOut))
  private val dropConstraintRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+DROP\s+CONSTRAINT\s+(\w+)""", IfGraft(metricValue))
  private val setPropsRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+SET\s+TBLPROPERTIES\s*\((.+)\)""")
  private val clusterByRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+CLUSTER\s+BY\s*(?:\(\s*([\w,\s]+?)\s*\)|NONE)""")
  private val setDefaultRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)""")
  private val dropDefaultRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT""")
  private val alterTypeRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(\w+)""")
  private val setNotNullRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL""")
  private val dropNotNullRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+NOT\s+NULL""")
  // new local names (CREATE / ATTACH / DROP TABLE) stay plain words:
  // they name registry entries, not existing tables
  private val ctasRe = shape(
    raw"""CREATE\s+TABLE\s+(\w+)(?:\s+PARTITIONED\s+BY\s*\(([\w,\s]+)\))?\s+LOCATION\s+'([^']+)'\s+AS\s+(SELECT\s+.+?)""")
  private val createOrReplaceRe = shape(
    raw"""CREATE\s+OR\s+REPLACE\s+TABLE\s+(\w+)(?:\s+LOCATION\s+'([^']+)')?\s+AS\s+(SELECT\s+.+?)""")
  private val truncateRe = shape(raw"""TRUNCATE\s+TABLE\s+$id""")
  private val generateRe = shape(
    raw"""GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+$id(\s+MATERIALIZE)?""")
  private val exportIcebergRe = shape(
    raw"""EXPORT\s+ICEBERG\s+METADATA\s+FOR\s+TABLE\s+$id""")
  private val createTagRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+CREATE\s+TAG\s+([\w.-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?""")
  private val dropTagRe = shape(raw"""ALTER\s+TABLE\s+$id\s+DROP\s+TAG\s+([\w.-]+)""")
  private val showTagsRe = shape(raw"""SHOW\s+TAGS\s+(?:IN\s+|FROM\s+|ON\s+)?$id""")
  private val restoreTagRe = shape(
    raw"""RESTORE\s+(?:TABLE\s+)?$id\s+TO\s+TAG\s+([\w.-]+)""")
  private val setRowFilterRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+SET\s+ROW\s+FILTER\s+'(.+)'""")
  private val dropRowFilterRe = shape(raw"""ALTER\s+TABLE\s+$id\s+DROP\s+ROW\s+FILTER""")
  private val setMaskRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+SET\s+MASK\s+(\w+)\s+AS\s+'(.+)'""")
  private val dropMaskRe = shape(raw"""ALTER\s+TABLE\s+$id\s+DROP\s+MASK\s+(\w+)""")
  private val createBranchRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+CREATE\s+BRANCH\s+([\w.-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?""")
  private val createBranchTagRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+CREATE\s+BRANCH\s+([\w.-]+)\s+AS\s+OF\s+TAG\s+'([\w.-]+)'""")
  private val dropBranchRe = shape(
    raw"""ALTER\s+TABLE\s+$id\s+DROP\s+BRANCH\s+([\w.-]+)""")
  private val showBranchesRe = shape(
    raw"""SHOW\s+BRANCHES\s+(?:IN\s+|FROM\s+|ON\s+)?$id""")
  private val mergeBranchRe = shape(
    raw"""MERGE\s+BRANCH\s+([\w.-]+)\s+INTO\s+$id""")
  private val rebaseBranchRe = shape(
    raw"""REBASE\s+BRANCH\s+([\w.-]+)\s+(?:ONTO|ON|IN)\s+$id""")
  private val exportDeltaRe = shape(raw"""EXPORT\s+DELTA\s+LOG\s+FOR\s+TABLE\s+$id""")
  // zero-copy attach of foreign tables (L111/L117): registers the
  // new GraftLake table under the given name in one statement
  private val attachIcebergRe = shape(
    raw"""ATTACH\s+ICEBERG\s+'([^']+)'\s+AS\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'(?:\s+SNAPSHOT\s+(\d+))?(?:\s+REF\s+'([\w.-]+)')?""")
  private val attachDeltaRe = shape(
    raw"""ATTACH\s+DELTA\s+'([^']+)'\s+AS\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'(?:\s+VERSION\s+(\d+))?""")
  private val syncAttachRe = shape(raw"""SYNC\s+ATTACHED\s+TABLE\s+$id""")
  private val dropTableRe = shape(raw"""DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)""")
  private val showColumnsRe = shape(raw"""SHOW\s+COLUMNS\s+(?:IN|FROM)\s+$id""")
  private val createMvRe = shape(
    raw"""CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+$id\s+GROUP\s+BY\s+([\w,\s]+?)""")
  private val createMvJoinRe = shape(
    raw"""CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+$id\s+JOIN\s+$id\s+USING\s*\(([\w,\s]+)\)\s+GROUP\s+BY\s+([\w,\s]+?)""")
  // LEFT/RIGHT/FULL OUTER join views route to the key-grain state
  // maintainer ([[MaterializedOuterJoin]]); an outer form the USING
  // shape doesn't match refuses LOUDLY — without the catch-all it
  // would miss every MV shape and silently fall through to the
  // plain-query path, never creating a view at all
  private val createMvOuterRe = shape(
    raw"""CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+$id\s+(LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\s+$id\s+USING\s*\(([\w,\s]+)\)\s+GROUP\s+BY\s+([\w,\s]+?)""")
  private val createMvOuterJoinRe = shape(
    raw"""CREATE\s+MATERIALIZED\s+VIEW\s+\w+\s+LOCATION\s+'[^']+'\s+AS\s+SELECT\s+.+?\s+(LEFT|RIGHT|FULL)(?:\s+OUTER)?\s+JOIN\s+.+""")
  private val refreshMvRe = shape(raw"""REFRESH\s+MATERIALIZED\s+VIEW\s+$id""")
  private val insertRe = shape(
    raw"""INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?$id\s+((?:SELECT|VALUES|TABLE)\s*.+?)""")
  private val insertColsRe = shape(
    raw"""INSERT\s+INTO\s+(?:TABLE\s+)?$id\s*\(([\w,\s]+)\)\s*((?:SELECT|VALUES|TABLE)\s*.+?)""")
  private val createSchemaRe = shape(
    raw"""CREATE\s+TABLE\s+(\w+)\s*\((.+?)\)\s*(?:USING\s+graftlake\s+)?(?:PARTITIONED\s+BY\s*\(([\w,\s]+)\)\s*)?LOCATION\s+'([^']+)'""")
  private val showPropsRe = shape(raw"""SHOW\s+TBLPROPERTIES\s+$id""")
  // SHOW PARTITIONS serves the log-metadata inventory (Spark's own
  // path needs SupportsPartitionManagement), so catalog names route
  // here when the table is partitioned
  private val showPartitionsRe = shape(raw"""SHOW\s+PARTITIONS\s+$id""",
    Lazy(_.snapshot.partitionColumns.nonEmpty))
  private val restoreRe = shape(
    raw"""RESTORE\s+(?:TABLE\s+)?$id\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')""",
    Always(metricValue))
  private val copyIntoRe = shape(raw"""COPY\s+INTO\s+$id\s+FROM\s+'([^']+)'""")
  // batch change feed as a statement (Delta's table_changes TVF
  // shape): a lazy plan, since the feed over a big version range is
  // data-sized and must execute distributed
  private val tableChangesRe = shape(
    raw"""TABLE\s+CHANGES\s+$id\s+BETWEEN\s+(?:(\d+)\s+AND\s+(\d+)|TIMESTAMP\s+'([^']+)'\s+AND\s+TIMESTAMP\s+'([^']+)')""",
    Lazy())
  // DELETE / UPDATE / MERGE: Spark's grammar parses them (GraftSql.dml),
  // after MERGE BRANCH and every other shape had its turn. On a catalog
  // name Spark's analyzer takes them to graft.plans.GraftDml directly;
  // only WITH SCHEMA EVOLUTION routes here, since GraftSql resolves the
  // MERGE against the evolved schema before the table evolves
  private val dmlRe = shape(raw"""(?:DELETE|UPDATE|MERGE)\s.+""")
  private val mergeEvolveRe = shape(
    raw"""MERGE\s+WITH\s+SCHEMA\s+EVOLUTION\s+INTO\s+$id\s.+""", IfGraft(metricValue))

  private val beginRe = shape(raw"""BEGIN(?:\s+TRANSACTION)?""")
  private val commitTxnRe = shape(raw"""COMMIT(?:\s+TRANSACTION)?""")
  private val rollbackTxnRe = shape(raw"""ROLLBACK(?:\s+TRANSACTION)?""")
  // statement classes whose effects cannot squash into one commit
  // (maintenance/layout/lifecycle verbs) refuse inside a transaction
  private val txnForbiddenRe: Regex =
    ("""(?is)^\s*(DROP\s+TABLE|VACUUM|RESTORE|OPTIMIZE|REORG|FSCK|""" +
      """GENERATE|EXPORT|ATTACH|SYNC\s+ATTACHED|COMPUTE\s+BLOOM|CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED|""" +
      """REFRESH\s+MATERIALIZED|CREATE\s+TABLE\s+\w+\s+(?:SHALLOW|DEEP)\s+CLONE)\b.*""").r

  // ------------------------------------------- in-statement patterns

  private val propPairRe: Regex = """'([^']+)'\s*=\s*'([^']*)'""".r
  // time travel inside a query: a registered name followed by AS OF
  private val tagAsOfRe: Regex =
    raw"""(?is)(?<![\w.`])$id\s+VERSION\s+AS\s+OF\s+'([\w.-]+)'""".r
  private val versionAsOfRe: Regex =
    raw"""(?is)(?<![\w.`])$id\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val timestampAsOfRe: Regex =
    raw"""(?is)(?<![\w.`])$id\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r
  private val mvSumItemRe: Regex =
    """(?i)^SUM\s*\(\s*(\w+)\s*\)(?:\s+AS\s+\w+)?$""".r
  private val mvAvgItemRe: Regex =
    """(?i)^AVG\s*\(\s*(\w+)\s*\)(?:\s+AS\s+\w+)?$""".r
  private val mvMinItemRe: Regex =
    """(?i)^MIN\s*\(\s*(\w+)\s*\)(?:\s+AS\s+\w+)?$""".r
  private val mvMaxItemRe: Regex =
    """(?i)^MAX\s*\(\s*(\w+)\s*\)(?:\s+AS\s+\w+)?$""".r
  private val mvCountItemRe: Regex =
    """(?i)^COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+\w+)?$""".r
  private val mvCountDistinctItemRe: Regex =
    """(?i)^COUNT\s*\(\s*DISTINCT\s+(\w+)\s*\)(?:\s+AS\s+\w+)?$""".r

  /** Same-length copy with every character inside a single-quoted SQL
    * string literal replaced by '_' ('' escapes stay masked): regexes
    * and keyword scanners run on the mask, content is lifted from the
    * original by position.
    */
  private def maskLiterals(s: String): String = {
    val b = s.toCharArray
    var inStr = false
    var i = 0
    while (i < b.length) {
      if (b(i) == '\'') inStr = !inStr
      else if (inStr) b(i) = '_'
      i += 1
    }
    new String(b)
  }

  /** Thrown by test crash hooks to simulate process death inside the
    * multi-table COMMIT protocol — the handler re-throws it without
    * rollback or abort, exactly like a real crash, so specs can then
    * verify the protocol's recovery from the on-disk state alone.
    */
  private[lake] final class SimulatedCrash(point: String)
    extends RuntimeException(s"simulated crash at $point")
}
