package graft.lake

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSparkSpec

/** Z-order ranks: the compiled quantile bucket against the interpreted
  * expression it replaced, and the bits-per-column rule that keeps
  * every column's bits inside one long.
  */
class ZOrderSpec extends GraftSparkSpec {

  // ---- the reference: the rank as it was computed with a higher-order
  // function, 6 bits per column (valid up to 10 columns)

  private def refNumeric(c: Column, dt: DataType): Column = dt match {
    case TimestampType => c.cast("double")
    case TimestampNTZType => c.cast(TimestampType).cast("double")
    case DateType => datediff(c, lit("1970-01-01").cast("date")).cast("double")
    case _ => c.cast("double")
  }

  private def refBucket(df: DataFrame, c: String, cuts: Array[Double]): Column = {
    val cutsArr = array(cuts.map(lit).toIndexedSeq: _*)
    size(filter(cutsArr, cut => cut <= refNumeric(col(c), df.schema(c).dataType)))
      .cast("long")
  }

  private def refKey(buckets: Seq[Column], curve: String): Column = {
    val n = buckets.size
    curve match {
      case "hilbert" =>
        GraftExpr.column(graft.functions.HilbertIndex(
          GraftExpr.expression(array(buckets: _*)), 6))
      case _ =>
        (0 until 6).foldLeft(lit(0L)) { (acc, b) =>
          buckets.zipWithIndex.foldLeft(acc) { case (a, (bk, i)) =>
            a.bitwiseOR(shiftleft(
              shiftright(bk, b).bitwiseAND(lit(1L)), b * n + i))
          }
        }
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("k", LongType), StructField("z", DoubleType)))
  private val cols = schema.fieldNames.toSeq

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def day(d: Long): Date = Date.valueOf(java.time.LocalDate.ofEpochDay(d))
  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Random long, double, date and timestamp columns with heavy shares
    * of NaN, ±0.0 and ±Infinity (so ±0.0 and ±Infinity become cuts), a
    * constant column `k` and an all-null column `z`.
    */
  private def baseRows: Seq[Row] = {
    val rnd = new scala.util.Random(11)
    val specials = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)
    (0 until 3000).map { i =>
      def maybe[T](v: => T): Any = if (rnd.nextInt(40) == 0) null else v
      val d = if (rnd.nextInt(5) == 0) specials(rnd.nextInt(specials.size))
        else rnd.nextGaussian() * 100
      Row(maybe(rnd.nextInt(200000).toLong - 100000L), maybe(d),
        maybe(day(18000L + rnd.nextInt(3000))),
        maybe(micros(1600000000000000L + (rnd.nextLong() % 100000000000000L).abs)),
        7L, null)
    }
  }

  /** One row per value on either side of every cut (values equal to
    * each cut are the base rows the cuts were drawn from), and nulls,
    * NaN, ±0.0 and ±Infinity in the double columns.
    */
  private def probeRows(cuts: Map[String, Array[Double]]): Seq[Row] = {
    def only(c: String, v: Any): Row = Row(cols.map(x => if (x == c) v else null): _*)
    val sides = cols.flatMap { c =>
      cuts(c).toSeq.flatMap { cut =>
        c match {
          case "l" | "k" => Seq(cut.toLong - 1, cut.toLong + 1).map(only(c, _))
          case "d" | "z" => Seq(Math.nextDown(cut), Math.nextUp(cut)).map(only(c, _))
          case "dt" => Seq(cut.toLong - 1, cut.toLong + 1).map(v => only(c, day(v)))
          case "ts" =>
            val us = Math.round(cut * 1e6)
            Seq(us - 1, us + 1).map(v => only(c, micros(v)))
        }
      }
    }
    val specials = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0)
    sides ++ specials.flatMap(v => Seq(only("d", v), only("z", v))) ++
      cols.map(c => only(c, null)) ++
      Seq(only("l", Long.MinValue), only("l", Long.MaxValue))
  }

  test("compiled z-order buckets and ranks equal the interpreted reference") {
    val base = frame(baseRows)
    val cuts = ZOrder.quantileCuts(base, cols)
    assert(cuts("k").toSeq == Seq(7.0), "a constant column's cuts collapse to one")
    assert(cuts("z").isEmpty, "an all-null column has no cuts")
    // approxQuantile skips NaN, so NaN reaches the buckets only as a value
    assert(cuts("d").contains(Double.NegativeInfinity) &&
      cuts("d").contains(Double.PositiveInfinity) && cuts("d").contains(0.0),
      s"±Infinity and 0.0 should be cuts of d: ${cuts("d").mkString(",")}")
    val probe = frame(baseRows ++ probeRows(cuts))
    val got = ZOrder.buckets(probe, cols, cuts)
    val want = cols.map(c => refBucket(probe, c, cuts(c)))
    val compared = got ++ Seq(ZOrder.curveKey(got, "morton"), ZOrder.curveKey(got, "hilbert"))
    val reference = want ++ Seq(refKey(want, "morton"), refKey(want, "hilbert"))
    def check(): Unit = {
      val rows = probe.select(compared ++ reference: _*).collect()
      val w = compared.size
      rows.foreach { r =>
        val (g, e) = (0 until w).map(i => (r.get(i), r.get(w + i))).unzip
        assert(g == e, s"buckets, morton, hilbert differ on a row of $probe: $g vs $e")
      }
      assert(rows.map(_.getLong(0)).toSet.size > 60, "long buckets span the range")
    }
    check() // whole-stage codegen
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check())
  }

  test("z-order past 10 columns: distinct bucket tuples get distinct ranks; content stays") {
    val zcols = (0 until 11).map(i => s"c$i")
    val df = spark.range(0, 20000, 1, 4).select(zcols.zipWithIndex.map { case (c, i) =>
      pmod(xxhash64(col("id"), lit(i)), lit(100003L)).as(c)
    }: _*)
    assert(ZOrder.bitsPerCol(10) == 6 && ZOrder.bitsPerCol(11) == 5)
    val bs = ZOrder.buckets(df, zcols, ZOrder.quantileCuts(df, zcols))
    for (curve <- Seq("morton", "hilbert")) {
      val r = df.select(array(bs: _*).as("t"), ZOrder.curveKey(bs, curve).as("k"))
        .agg(countDistinct("t"), countDistinct("k"), max(array_max(col("t"))))
        .head()
      assert(r.getLong(0) > 10000, s"too few distinct bucket tuples: ${r.getLong(0)}")
      assert(r.getLong(1) == r.getLong(0),
        s"$curve: ${r.getLong(0)} distinct bucket tuples share ${r.getLong(1)} ranks")
      assert(r.getLong(2) == 31L, "5 bits per column: buckets in [0, 32)")

      val t = GraftTable.create(spark, tmpDir(s"zorder-11-$curve"), df,
        properties = Map("graft.layout.curve" -> curve))
      t.zorderBy(64L * 1024, zcols: _*)
      assert(t.snapshot.numFiles > 1)
      assert(t.toDF.exceptAll(df).isEmpty && df.exceptAll(t.toDF).isEmpty,
        s"$curve z-order on 11 columns must keep every row")
    }
  }
}
