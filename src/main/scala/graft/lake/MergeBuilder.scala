package graft.lake

import org.apache.spark.sql.{Column, DataFrame}

/** Fluent conditional-MERGE builder (Delta-style clause surface):
  *
  * {{{
  * table.mergeBuilder(src, "id")
  *   .whenMatchedDelete(col("status") === "tombstone")
  *   .whenMatchedUpdateAll()
  *   .whenNotMatchedInsertAll()
  *   .whenNotMatchedBySourceDelete()
  *   .execute()
  * }}}
  *
  * Clause semantics: matched rows meeting the delete condition are
  * removed; remaining matched rows are replaced by the source row when
  * update-all is enabled (or rewritten by `whenMatchedUpdate`
  * assignments), gated by the optional condition evaluated on the
  * target row; unmatched source rows are inserted when insert is
  * enabled. `whenNotMatchedBySource*` clauses act on TARGET rows with
  * no source match (Delta's `WHEN NOT MATCHED BY SOURCE`), with the
  * condition evaluated on the target row.
  *
  * `whenMatchedUpdate` assignments see the target row's columns
  * unprefixed and the source row's columns as `src_<name>` — e.g.
  * `Map("qty" -> (col("qty") + col("src_qty")))`.
  *
  * The builder names its mode: copy-on-write unless `mergeOnRead()`.
  * The SQL front ends (`GraftSql`, catalog `spark.sql`) follow the
  * table's `graft.dml.mode` instead, through [[graft.plans.GraftDml]]. All
  * run the same clause planner (`GraftTable.executeDml`).
  */
final class MergeBuilder private[lake] (t: GraftTable, source: DataFrame, keys: Seq[String]) {
  private var updateAll = true
  private var updateCond: Option[Column] = None
  private var updateSet: Option[Map[String, Column]] = None
  private var deleteCond: Option[Column] = None
  // ordered WHEN NOT MATCHED clauses (first-match semantics, like
  // Delta); the default is one unconditional INSERT * until the first
  // explicit insert clause replaces it
  private var insertClauses: List[(Option[Column], Option[Map[String, Column]])] =
    List((None, None))
  private var insertDefault = true
  private var nmbsDelete: Option[Column] = None
  private var nmbsUpdate: Option[(Option[Column], Map[String, Column])] = None
  private var matchCond: Option[Column] = None
  private var mor = false

  private def addInsert(c: Option[Column], set: Option[Map[String, Column]]): Unit = {
    if (insertDefault) { insertClauses = Nil; insertDefault = false }
    insertClauses = insertClauses :+ ((c, set))
  }

  def whenMatchedUpdateAll(condition: Option[Column] = None): MergeBuilder = {
    updateAll = true; updateCond = condition; updateSet = None; this
  }
  /** Partial-column matched update: assignments may reference target
    * columns directly and source columns as `src_<name>`.
    */
  def whenMatchedUpdate(set: Map[String, Column],
                        condition: Option[Column] = None): MergeBuilder = {
    updateAll = true; updateCond = condition; updateSet = Some(set); this
  }
  def whenMatchedKeep(): MergeBuilder = {
    updateAll = false; updateCond = None; updateSet = None; this
  }
  def whenMatchedDelete(condition: Column): MergeBuilder = {
    deleteCond = Some(condition); this
  }
  /** Insert unmatched source rows, optionally only those meeting a
    * condition evaluated on the SOURCE row (Delta `WHEN NOT MATCHED
    * AND cond THEN INSERT *`). Repeated `whenNotMatchedInsert*` calls
    * build an ORDERED clause list: each unmatched row is inserted by
    * the FIRST clause whose condition it meets (Delta's semantics).
    */
  def whenNotMatchedInsertAll(condition: Option[Column] = None): MergeBuilder = {
    addInsert(condition, None); this
  }
  /** Explicit-column insert: assignments are evaluated on the SOURCE
    * row; omitted columns insert NULL, unassigned generated columns
    * derive from the built row (Delta `INSERT (cols) VALUES (…)`).
    */
  def whenNotMatchedInsert(set: Map[String, Column],
                           condition: Option[Column] = None): MergeBuilder = {
    addInsert(condition, Some(set)); this
  }
  def whenNotMatchedIgnore(): MergeBuilder = {
    insertClauses = Nil; insertDefault = false; this
  }

  /** Additional boolean match predicate ANDed onto the key equality
    * (Delta's arbitrary `ON` surface, e.g. `ON t.k = s.k AND s.ts >
    * t.ts`): reference target columns unprefixed and source columns as
    * `src_<name>`. The equality keys still drive file pruning and the
    * hash join; the residual rides as a predicate on the match join, so
    * a key-equal pair with a false (or NULL) residual is NOT matched —
    * the source row falls to the insert clauses and the target row to
    * the not-matched-by-source clauses, exactly like SQL MERGE.
    */
  def onCondition(residual: Column): MergeBuilder = {
    matchCond = Some(residual); this
  }

  /** Delete target rows that have no source match (optionally gated by
    * a condition on the target row). Without a condition this rewrites
    * every unmatched file — with one, stats pruning bounds the rewrite
    * to files that may hold matching rows.
    */
  def whenNotMatchedBySourceDelete(condition: Option[Column] = None): MergeBuilder = {
    nmbsDelete = Some(condition.getOrElse(org.apache.spark.sql.functions.lit(true))); this
  }
  /** Update target rows that have no source match; assignments see only
    * target columns (there is no source row by definition).
    */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column],
                                   condition: Option[Column] = None): MergeBuilder = {
    nmbsUpdate = Some((condition, set)); this
  }

  /** Execute merge-on-read: changed target rows are masked via a
    * deletion-vector sidecar and their post-images appended with the
    * inserts, so write cost is O(changed rows) instead of O(candidate
    * file bytes) — the right trade for a small delta merging into a
    * 100 TB table. Same clause planner and results as copy-on-write.
    */
  def mergeOnRead(): MergeBuilder = { mor = true; this }

  /** Append source columns the table lacks before merging (Delta
    * `withSchemaEvolution`): metadata-only ADD COLUMN per new field,
    * existing rows read NULL. NESTED depth too: source struct fields
    * the table's struct lacks evolve the struct type in place
    * (recursively, including structs inside arrays), and the source's
    * struct columns align to the evolved shape by NAME — field order
    * never refuses a merge. The source must still carry every
    * EXISTING top-level table column, and nested primitive type
    * CHANGES still refuse (evolution only adds).
    */
  def withSchemaEvolution(): MergeBuilder = { evolve = true; this }
  private var evolve = false

  def execute(): Map[String, String] = {
    // evolution first (flat + nested adds as metadata commits), then
    // align the source's struct columns onto the evolved shape by
    // NAME — a source struct listing fields in a different order, or
    // omitting a nested field, merges instead of refusing on a
    // field-order technicality
    val src = if (evolve) {
      t.evolveSchemaFor(source); t.alignToSchema(source)
    } else source
    t.executeDml("MERGE", Some(src), keys,
      DmlClauses(updateAll, updateCond, updateSet, deleteCond, insertClauses,
        nmbsUpdate, nmbsDelete, matchCond), mor)
  }
}

/** A DML statement's clauses as the one planner
  * ([[GraftTable.executeDml]]) reads them. MATCHED clauses act on
  * target rows with a source match (delete first, then update-all or
  * `updateSet` assignments, each gated by its condition on the target
  * row); `inserts` on unmatched source rows, ordered, the first clause
  * whose condition holds wins; `nmbs*` on target rows with no source
  * match — with no source at all that is every target row, which is
  * how DELETE and UPDATE run.
  */
private[graft] final case class DmlClauses(
    updateAll: Boolean = false,
    updateCond: Option[Column] = None,
    updateSet: Option[Map[String, Column]] = None,
    deleteCond: Option[Column] = None,
    inserts: Seq[(Option[Column], Option[Map[String, Column]])] = Nil,
    nmbsUpdate: Option[(Option[Column], Map[String, Column])] = None,
    nmbsDelete: Option[Column] = None,
    matchCond: Option[Column] = None)

private[graft] object DmlClauses {

  /** A SQL MERGE source in `t`'s schema, as the planner reads it:
    * each table column from the same-name source column (matched
    * case-insensitively), cast to the table's type, or a typed null
    * where the source has none; source columns the table lacks drop.
    */
  def alignSource(t: GraftTable, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val byName = src.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    src.select(t.snapshot.schema.fields.toIndexedSeq.map { f =>
      byName.get(f.name.toLowerCase(java.util.Locale.ROOT))
        .fold(lit(null))(c => col(s"`${c.replace("`", "``")}`"))
        .cast(f.dataType).as(f.name)
    }: _*)
  }
}
