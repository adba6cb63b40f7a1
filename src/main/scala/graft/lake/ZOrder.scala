package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Z-order (Morton) clustering: quantile-bucket each clustering
  * column, interleave the bucket bits into a single rank, then
  * range-partition by that rank so each output file covers a tight
  * hyper-rectangle of the clustered columns — min/max file stats
  * become selective for filters on ANY clustered column (reference
  * docs/02-lab-optimizations.md:118-163, Z-Order). The file-level
  * ranges come from the range partitioning; the order of rows inside
  * a file is the writer's.
  *
  * Quantile cuts come from `approxQuantile` (driver gets only the
  * cut points — KB-scale); bucketing is one codegen'd binary search
  * per column ([[graft.functions.QuantileBucket]]). String columns
  * fall back to hash buckets (no meaningful order).
  */
object ZOrder {

  private val MaxBitsPerCol = 6 // 64 buckets per column

  /** Bits per column of an n-column rank: 6, or fewer so that the n
    * columns' bits fit the 63 bits of a non-negative long.
    */
  private[graft] def bitsPerCol(n: Int): Int = {
    require(n >= 1 && n <= 63, s"z-order clusters 1 to 63 columns, not $n")
    math.min(MaxBitsPerCol, 63 / n)
  }

  /** Numeric view of a column for quantile bucketing (timestamps →
    * epoch seconds, dates → days).
    */
  private def numeric(c: Column, dt: DataType): Column = dt match {
    case TimestampType => c.cast("double")
    case TimestampNTZType => c.cast(TimestampType).cast("double")
    case DateType => datediff(c, lit("1970-01-01").cast("date")).cast("double")
    case _ => c.cast("double")
  }

  private def isOrdered(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | BooleanType => false
    case _ => true
  }

  /** Clustering rank of `cols`: [[quantileCuts]], then [[buckets]],
    * then [[curveKey]].
    */
  def zvalue(df: DataFrame, cols: Seq[String], curve: String = "morton"): Column =
    curveKey(buckets(df, cols, quantileCuts(df, cols)), curve)

  /** Ascending distinct quantile cuts of every ordered column of
    * `cols`, 2^bits − 1 probabilities each, from ONE `approxQuantile`
    * pass.
    */
  private[graft] def quantileCuts(df: DataFrame,
      cols: Seq[String]): Map[String, Array[Double]] = {
    val nBuckets = 1 << bitsPerCol(cols.size)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val ordered = cols.filter(c => isOrdered(df.schema(c).dataType))
    if (ordered.isEmpty) Map.empty
    else {
      val casted = df.select(ordered.map(c =>
        numeric(col(c), df.schema(c).dataType).as(c)): _*)
      ordered.zip(casted.stat.approxQuantile(ordered.toArray, probs, 0.01))
        .map { case (c, cuts) => c -> cuts.distinct.sorted }.toMap
    }
  }

  /** Per-column bucket in [0, 2^bits): for an ordered column the number
    * of its cuts at or below the value (0 for null), else a hash bucket.
    */
  private[graft] def buckets(df: DataFrame, cols: Seq[String],
      cuts: Map[String, Array[Double]]): Seq[Column] = {
    val nBuckets = 1L << bitsPerCol(cols.size)
    cols.map { c =>
      df.schema(c).dataType match {
        case dt if isOrdered(dt) =>
          GraftExpr.column(graft.functions.QuantileBucket(
            GraftExpr.expression(numeric(col(c), dt)), cuts(c)))
        case _ =>
          pmod(xxhash64(col(c)), lit(nBuckets)).cast("long")
      }
    }
  }

  /** The rank of per-column `buckets`: Morton bit-interleave by
    * default, or the d-dimensional Hilbert index (`curve = "hilbert"`)
    * whose adjacent cells are spatially adjacent — tighter per-file
    * bounding boxes for multi-column predicates at the cost of a
    * slightly heavier per-row kernel (still one codegen'd static call).
    */
  private[graft] def curveKey(buckets: Seq[Column], curve: String): Column = {
    val n = buckets.size
    val bits = bitsPerCol(n)
    curve match {
      case "hilbert" =>
        GraftExpr.column(graft.functions.HilbertIndex(
          GraftExpr.expression(array(buckets: _*)), bits))
      case _ =>
        (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
          buckets.zipWithIndex.foldLeft(acc) { case (a, (bk, i)) =>
            a.bitwiseOR(shiftleft(
              shiftright(bk, b).bitwiseAND(lit(1L)), b * n + i))
          }
        }
    }
  }
}
