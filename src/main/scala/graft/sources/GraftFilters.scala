package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._

/** V1 `Filter` → `Column` translation for the catalog write bridge's
  * `overwrite(filters)` (`DataFrameWriterV2.overwrite(cond)` = L20
  * `replaceWhere`), where the caller must REFUSE untranslatable shapes
  * via [[translatesFully]] rather than replace the wrong rows.
  */
private[graft] object GraftFilters {

  def toColumn(f: Filter): Option[Column] = f match {
    // `.overwrite(lit(true))` arrives as [AlwaysTrue]
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNotNull(a) => Some(col(a).isNotNull)
    case IsNull(a) => Some(col(a).isNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case Not(c) =>
      // NOT is only sound over an EXACT translation: a half-translated
      // AND under a NOT would negate the wrong (narrower) predicate
      if (translatesFully(c)) toColumn(c).map(!_) else None
    case And(l, r) =>
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other) => one.orElse(other) // half an AND still prunes
      }
    case Or(l, r) =>
      // an OR may only translate when BOTH arms do — dropping one arm
      // would wrongly narrow the predicate
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a || b)
        case _ => None
      }
    case _ => None // unsupported shape: no pruning, Spark re-filters
  }

  /** Exact translation for DELETE: every filter must map, and AND may
    * not degrade to a single arm. */
  def translatesFully(f: Filter): Boolean = f match {
    case And(l, r) => translatesFully(l) && translatesFully(r)
    case Or(l, r) => translatesFully(l) && translatesFully(r)
    case Not(c) => translatesFully(c)
    case other => toColumn(other).isDefined
  }
}
