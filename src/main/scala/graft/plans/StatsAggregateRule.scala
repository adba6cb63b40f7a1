package graft.plans

import scala.util.Try

import graft.sources.GraftFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Metadata-only aggregates (Delta/Photon's `SELECT COUNT(*)`
  * optimization): a whole-table `count(*) / count(col) / min(col) /
  * max(col)` over a scan that covers EXACTLY a GraftLake snapshot's
  * active file set is answered by folding the log's per-file footer
  * stats — zero data I/O, O(#files) driver metadata, at any table
  * size. `Dataset.count()` on a 100 TB table becomes a log read.
  *
  * The scan names its table, snapshot and files through its
  * [[graft.sources.GraftFileIndex]], so a live read and a time-travel
  * read of any version fold that snapshot's own stats. Like Delta's
  * metadata-only count, a live fold opens no data file: a file lost
  * out of band goes unnoticed here (FSCK's job); pinned reads check
  * their files exist when they are built.
  *
  * Strictly gated, like [[MvRewriteRule]]: fires only when the
  * scanned files ARE the snapshot's active set, no deletion vectors
  * are outstanding (masked rows would overcount), every file carries
  * stats, and every output expression folds from stored stats —
  * count(*) from numRecords, count(col) from numRecords − nullCount,
  * min/max from typed min/max values over EXACT-round-trip types only
  * (integral, floating, boolean, date; strings/timestamps/decimals
  * decline — parquet may truncate or re-zone them). Anything else
  * leaves the plan untouched; output attribute ids are preserved.
  */
case class StatsAggregateRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Seq(), aggExprs, lr: LogicalRelation, _) =>
      rewrite(aggExprs, lr).getOrElse(agg)
  }

  private def rewrite(aggExprs: Seq[NamedExpression],
      lr: LogicalRelation): Option[LogicalPlan] = {
    val s = lr.relation match {
      case HadoopFsRelation(idx: GraftFileIndex, _, _, _, _, _)
          if idx.covers(idx.snapshot) => idx.snapshot
      case _ => return None
    }
    if (s.dvFiles.nonEmpty) return None
    // column mapping: stats are keyed by PHYSICAL names while the
    // scan's attributes may be either side of a rename (and a rename
    // chain can re-use a name for a different column) — decline
    // rather than fold another column's stats
    if (s.schema.fieldNames.exists(n => s.physicalName(n) != n)) return None
    val files = s.activeFiles
    if (files.exists(_.stats.isEmpty)) return None

    val rowCount = files.map(_.stats.get.numRecords).sum
    def nonNullCount(c: String): Option[Long] = {
      val per = files.map { f =>
        val st = f.stats.get
        if (st.numRecords == 0) Some(0L)
        else st.nullCounts.get(c).map(st.numRecords - _)
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    // min/max fold over files that HAVE the bound (an all-null file
    // contributes nothing, like the aggregate it replaces); a file
    // with rows but no bound for the column is only sound when its
    // rows are all null there — require nullCount == numRecords
    def fold(c: String, t0: DataType, takeMax: Boolean): Option[Option[Any]] = {
      val vals = scala.collection.mutable.Buffer[Any]()
      files.foreach { f =>
        val st = f.stats.get
        val bound = (if (takeMax) st.maxValues else st.minValues).get(c)
        bound match {
          case Some(raw) => vals += parseTyped(raw, t0).getOrElse(return None)
          case None =>
            // a zero-row file (a CoW rewrite that deleted everything)
            // trivially contributes nothing; otherwise the missing
            // bound must be excused by an all-null count
            if (st.numRecords != 0 &&
                !st.nullCounts.get(c).contains(st.numRecords)) return None
        }
      }
      if (vals.isEmpty) Some(None)
      else Some(Some(vals.reduce((a, b) =>
        if (compare(a, b, t0) >= 0 == takeMax) a else b)))
    }

    val values: Seq[Any] = aggExprs.map {
      case Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), _) =>
        rowCount
      case Alias(AggregateExpression(Count(Seq(a: AttributeReference)), _, false, None, _), _) =>
        nonNullCount(a.name).getOrElse(return None)
      case Alias(AggregateExpression(Min(a: AttributeReference), _, false, None, _), _) =>
        fold(a.name, a.dataType, takeMax = false).getOrElse(return None).orNull
      case Alias(AggregateExpression(Max(a: AttributeReference), _, false, None, _), _) =>
        fold(a.name, a.dataType, takeMax = true).getOrElse(return None).orNull
      case _ => return None
    }
    Some(LocalRelation(aggExprs.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values))))
  }

  /** Exact string→internal-value round trips only. */
  private def parseTyped(s: String, t: DataType): Option[Any] = t match {
    case LongType => Try(s.toLong).toOption
    case IntegerType => Try(s.toInt).toOption
    case ShortType => Try(s.toShort).toOption
    case ByteType => Try(s.toByte).toOption
    case DoubleType => Try(s.toDouble).toOption
    case FloatType => Try(s.toFloat).toOption
    case BooleanType => Try(s.toBoolean).toOption
    case DateType => Try(s.toInt).toOption.orElse(
      Try(java.time.LocalDate.parse(s).toEpochDay.toInt).toOption)
    case _ => None
  }

  private def compare(a: Any, b: Any, t: DataType): Int = t match {
    case LongType => a.asInstanceOf[Long].compare(b.asInstanceOf[Long])
    case IntegerType | DateType => a.asInstanceOf[Int].compare(b.asInstanceOf[Int])
    case ShortType => a.asInstanceOf[Short].compare(b.asInstanceOf[Short])
    case ByteType => a.asInstanceOf[Byte].compare(b.asInstanceOf[Byte])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case BooleanType => a.asInstanceOf[Boolean].compare(b.asInstanceOf[Boolean])
    case other => throw new MatchError(other)
  }
}
