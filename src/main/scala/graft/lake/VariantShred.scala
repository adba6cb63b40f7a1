package graft.lake

import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
import org.apache.spark.sql.functions.{col, try_variant_get}
import org.apache.spark.sql.types.{DataType, StringType, VariantType}
import org.apache.spark.unsafe.types.UTF8String

/** VARIANT shredding (L119 — Delta 4.0 / Parquet variant-shredding
  * parity, re-expressed on graft's own stats stack): a table property
  *
  * {{{ graft.variant.shred.<vcol> = "$.path::ddlType[;$.path2::type2…]" }}}
  *
  * declares typed JSON paths of a `VARIANT` column worth extracting.
  * Every data write then materializes each path into a HIDDEN physical
  * companion column (`_graft_shred_…`) beside the variant binary —
  * invisible to readers (scans bind the logical schema by name), but
  * present in every parquet footer, so the companions get min/max
  * stats like any other column. At read time a predicate over
  * `variant_get(vcol, path, type)` rewrites — for FILE PRUNING only —
  * to the companion attribute, and the existing stats/bloom skipping
  * stack takes over: a selective path predicate over a 100 TB table of
  * semi-structured payloads skips files without decoding a single
  * variant binary. The full original predicate is still applied
  * post-scan, so the rewrite is pure I/O reduction (the same contract
  * as every other pruning shape; reference docs/02-lab-optimizations
  * .md:591-599 stats skipping, applied to semi-structured columns).
  *
  * Companions hold `try_variant_get` semantics (cast-miss → null).
  * That is exactly what pruning soundness needs: null companions
  * contribute no min/max, and a file whose companion stats are
  * missing entirely (written before the spec existed, adopted by
  * CONVERT/attach) is always
  * kept. Strict `variant_get` error behavior is preserved on every
  * scanned row because the ORIGINAL predicate evaluates post-scan.
  */
object VariantShred {

  /** One declared shred: a typed path of a variant column and the
    * hidden physical companion it materializes into.
    */
  final case class Spec(vcol: String, path: String, dt: DataType,
                        shredCol: String)

  val PropPrefix = "graft.variant.shred."

  /** Hidden-companion prefix (same convention as [[GraftTable]]'s
    * `_graft_row_id`: physical-only, never part of the logical schema).
    */
  val ColPrefix = "_graft_shred_"

  /** Deterministic companion name: readable stem + a CRC of the raw
    * path AND the declared type, so two paths that sanitize identically
    * (`$.a.b` / `$.a_b`) never collide — and re-declaring an existing
    * path with a DIFFERENT type yields a fresh companion. Old files'
    * companions were computed under `try_variant_get` of the OLD type
    * (values that miss the old cast are null and absent from the
    * stats); if the new-typed read rewrite matched the old companion's
    * stale bounds, files holding rows that match under the new type
    * could be pruned — silently dropping rows from reads and from
    * DML candidate sets. A type-qualified name makes old-typed stats
    * structurally unmatchable instead.
    */
  def shredColName(vcol: String, path: String, dt: DataType): String = {
    val stem = path.stripPrefix("$").replaceAll("[^A-Za-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_")
    val crc = new CRC32
    crc.update(s"$path::${canonicalType(dt)}".getBytes("UTF-8"))
    f"$ColPrefix${vcol}__${stem}_${crc.getValue}%08x"
  }

  /** Canonical type string for the name CRC: DDL sql form is already
    * canonical for a parsed DataType (e.g. 'int' and 'INTEGER' both
    * parse to IntegerType whose .sql is 'INT').
    */
  private def canonicalType(dt: DataType): String = dt.sql

  /** Parse every `graft.variant.shred.*` property. Specs are keyed by
    * the variant column's LOGICAL name at declaration time; after a
    * later RENAME of the variant column the stale spec simply stops
    * matching (writes add no companions, reads rewrite nothing) —
    * conservative, never wrong. Malformed entries throw here, which
    * [[GraftTable.setVariantShred]] and the TBLPROPERTIES guard turn
    * into a failed COMMIT rather than a failed read.
    */
  def specsOf(props: Map[String, String]): Seq[Spec] =
    props.toSeq.sortBy(_._1).flatMap {
      case (k, v) if k.startsWith(PropPrefix) =>
        val vcol = k.stripPrefix(PropPrefix)
        v.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { entry =>
          val parts = entry.split("::", 2)
          require(parts.length == 2,
            s"variant shred entry '$entry' is not '<path>::<type>'")
          val (path, tpe) = (parts(0).trim, parts(1).trim)
          require(path.startsWith("$"),
            s"variant shred path '$path' must start with '$$'")
          val dt = DataType.fromDDL(tpe)
          Spec(vcol, path, dt, shredColName(vcol, path, dt))
        }
      case _ => Nil
    }

  /** Write-side materialization: add each missing companion to a
    * frame about to be staged. `physName` maps the spec's logical
    * variant-column name to the frame's physical one (column
    * mapping); frames that do not carry the variant column at all
    * (partial writes, foreign layouts) skip the spec — readers treat
    * the resulting stat gap conservatively.
    */
  def applyShreds(df: DataFrame, specs: Seq[Spec],
                  physName: String => String): DataFrame =
    specs.foldLeft(df) { (d, sp) =>
      val pv = physName(sp.vcol)
      if (!d.columns.contains(pv) || d.columns.contains(sp.shredCol)) d
      else d.withColumn(sp.shredCol,
        try_variant_get(col(pv), sp.path, sp.dt.sql))
    }

  /** Pruning-side rewrite: replace every resolved `variant_get` /
    * `try_variant_get(vcol, path, type)` whose (column, path, type)
    * triple matches a declared shred with the companion column, an
    * attribute of the shred's declared type. The result is ONLY ever
    * handed to [[Pruning.prune]], which types each companion bound by
    * that attribute as it types any column's — never evaluated against
    * rows.
    */
  def rewrite(conjuncts: Seq[Expression], specs: Seq[Spec]): Seq[Expression] =
    if (specs.isEmpty) conjuncts
    else conjuncts.map(_.transformUp {
      case vg @ VariantGet(a: Attribute, Literal(p: UTF8String, StringType), dt, _, _) =>
        specs.find(sp => sp.vcol == a.name && sp.path == p.toString && sp.dt == dt)
          .map(sp => AttributeReference(sp.shredCol, sp.dt)()).getOrElse(vg)
    })

  /** Validation shared by the dedicated API and the generic
    * TBLPROPERTIES path: the variant column must exist with VARIANT
    * type, and every entry must parse.
    */
  def validate(schema: org.apache.spark.sql.types.StructType,
               key: String, value: String): Unit = {
    val vcol = key.stripPrefix(PropPrefix)
    require(schema.fieldNames.contains(vcol), s"no such column: $vcol")
    require(schema(vcol).dataType == VariantType,
      s"column $vcol is ${schema(vcol).dataType.simpleString}, not variant")
    specsOf(Map(key -> value)) // throws on malformed entries
  }
}
