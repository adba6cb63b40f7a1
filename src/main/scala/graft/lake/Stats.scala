package graft.lake

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level column statistics straight from parquet footers —
  * metadata-only reads (no data scan), distributed across executors,
  * so stats collection stays O(#files) footer fetches even at 100 TB.
  * Powers the data-skipping path the reference gets from Delta's
  * per-file stats (reference docs/02-lab-optimizations.md:591-599).
  */
object Stats {

  /** The driver's one Hadoop Configuration per JVM, for the table
    * layer's direct parquet reads and writes: building one parses its
    * XML resources (about 2 ms on a 4-core Xeon VM), a copy of this
    * one clones a loaded property table (about 70 µs). It is
    * thread-safe for reads; never mutate it — a site that sets keys
    * takes `new Configuration(hadoopConf)`.
    */
  @transient private[lake] lazy val hadoopConf = new Configuration()

  /** Footer stats for one local/hadoop-visible parquet file. */
  def statsForFile(absPath: String): FileStats = {
    val in = HadoopInputFile.fromPath(new HPath(absPath), hadoopConf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      var numRecords = 0L
      val mins = scala.collection.mutable.Map[String, Any]()
      val maxs = scala.collection.mutable.Map[String, Any]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val types = scala.collection.mutable.Map[String, PrimitiveType]()
      footer.getBlocks.asScala.foreach { block =>
        numRecords += block.getRowCount
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          if (st != null && !st.isEmpty) {
            nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            if (st.hasNonNullValue) {
              types(name) = cc.getPrimitiveType
              val (mn, mx) = (st.genericGetMin, st.genericGetMax)
              val cmp = st.comparator.asInstanceOf[java.util.Comparator[Any]]
              mins(name) = mins.get(name).map(m => if (cmp.compare(mn, m) < 0) mn else m).getOrElse(mn)
              maxs(name) = maxs.get(name).map(m => if (cmp.compare(mx, m) > 0) mx else m).getOrElse(mx)
            }
          }
        }
      }
      FileStats(
        numRecords,
        mins.map { case (k, v) => k -> render(v, types(k)) }.toMap,
        maxs.map { case (k, v) => k -> render(v, types(k)) }.toMap,
        nulls.toMap)
    } finally reader.close()
  }

  /** One footer min/max in the [[FileStats]] string form: a decimal
    * as its unscaled integer whether parquet stores it as INT32, INT64
    * or bytes (precision > 18), other binaries as UTF-8 text, the rest
    * as Java prints the physical value.
    */
  private def render(v: Any, t: PrimitiveType): String = v match {
    case b: Binary if t.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
      new java.math.BigInteger(b.getBytes).toString
    case b: Binary if t.getPrimitiveTypeName == PrimitiveTypeName.BINARY =>
      new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
    case _ => String.valueOf(v)
  }

  /** A stored bound of a `dt` column as the Catalyst internal value
    * that column's ordering compares: a decimal scaled by the column's
    * own scale, a date as its epoch day, a timestamp as epoch micros.
    * None for a type file skipping does not compare (binary, nested, a
    * string of any collation but the default, byte-ordered one) and for a string
    * no writer of this form produces, such as the `Binary{…}` text old
    * logs hold for wide decimals — the caller keeps the file.
    */
  def decode(stored: String, dt: DataType): Option[Any] = Try[Any](dt match {
    case ByteType => stored.toByte
    case ShortType => stored.toShort
    case IntegerType | DateType => stored.toInt
    case LongType | TimestampType | TimestampNTZType => stored.toLong
    case FloatType => stored.toFloat
    case DoubleType => stored.toDouble
    case d: DecimalType => Decimal(new java.math.BigDecimal(
      new java.math.BigInteger(stored), d.scale), d.precision, d.scale)
    case BooleanType => stored.toBoolean
    case st: StringType if st == StringType => UTF8String.fromString(stored)
  }).toOption

  /** Distributed footer-stats for a batch of files (abs paths). */
  def collect(spark: SparkSession, absPaths: Seq[String]): Map[String, FileStats] =
    if (absPaths.isEmpty) Map.empty
    else if (absPaths.size <= 4) absPaths.map(p => p -> statsForFile(p)).toMap
    else {
      val slices = math.min(absPaths.size, spark.sparkContext.defaultParallelism)
      spark.sparkContext.parallelize(absPaths, slices)
        .map(p => p -> Try(statsForFile(p)).toOption)
        .collect().collect { case (p, Some(s)) => p -> s }.toMap
    }
}
