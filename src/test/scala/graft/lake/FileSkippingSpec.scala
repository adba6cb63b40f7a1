package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSparkSpec
import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File skipping reads one form for every entry point: the predicate
  * resolved against the table's logical schema and optimized, each
  * file's bound typed by its column. Shapes that only the optimizer
  * turns into comparisons (`BETWEEN`, `NOT`, arithmetic on literals)
  * prune, a column name in the wrong case resolves, and a decimal bound
  * — stored unscaled in the footer stats — compares as the column's
  * value, so a decimal filter keeps the files that hold its rows.
  */
class FileSkippingSpec extends GraftSparkSpec {

  /** 80 rows, ids 0–79, one file per 10 ids: `v` alternates 0/1, `d`
    * and `w` are `id + 0.25` as a narrow and a wide decimal.
    */
  private def rows: DataFrame = spark.range(80).select(col("id"),
    (col("id") % 2).cast("int").as("v"),
    (col("id") + 0.25).cast("decimal(10,2)").as("d"),
    (col("id") + 0.25).cast("decimal(30,2)").as("w"))

  private def clustered(path: String): GraftTable = {
    val t = GraftTable.create(spark, path, rows.repartitionByRange(8, col("id")))
    assert(t.snapshot.activeFiles.size == 8)
    t
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("every predicate shape prunes through one resolved form; bounds type by the column") {
    val t = clustered(tmpDir("skip-shapes"))
    val cases = Seq(
      "v = 1 AND id BETWEEN 0 AND 9" -> 1,
      "NOT (id > 9)" -> 1,
      "id <=> 3" -> 1,
      "id = 1 + 2" -> 1,
      "ID = 3" -> 1,
      "d < 5.00" -> 1,
      "d = 12.25" -> 1,
      "w >= 70.25" -> 1)
    for ((p, kept) <- cases) {
      assert(t.pruneFiles(expr(p)) == (kept, 8), p)
      val expected = ids(rows.filter(expr(p)))
      assert(expected.nonEmpty, p)
      assert(ids(t.readWhere(expr(p))) == expected, s"readWhere: $p")
      assert(ids(spark.read.format("graftlake").load(t.path).filter(expr(p))) == expected,
        s"format read: $p")
    }
    // a wide decimal's bound is stored as its unscaled integer
    assert(t.snapshot.activeFiles.flatMap(_.stats).flatMap(_.minValues.get("w"))
      .contains("7025"))

    // a log written before that stored a wide decimal's bound as the
    // parquet binary's toString; such a bound decodes to no bound, so
    // the file is kept and the read still returns every row
    val old = tmpDir("skip-shapes-old-log")
    val src = Paths.get(t.path)
    val walk = Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(old).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getParent.getFileName.toString == "_graft_log" &&
          p.getFileName.toString.endsWith(".json"))
        Files.writeString(to, Files.readString(p)
          .replaceAll("\"w\": \"\\d+\"", "\"w\": \"Binary{13 reused bytes, [0, 0, 0]}\""))
      else Files.copy(p, to)
    } finally walk.close()
    val o = GraftTable.forPath(spark, old)
    assert(o.snapshot.activeFiles.flatMap(_.stats).flatMap(_.minValues.get("w"))
      .forall(_.startsWith("Binary{")))
    assert(o.pruneFiles(expr("w >= 70.25")) == (8, 8))
    assert(ids(o.readWhere(expr("w >= 70.25"))) == (70L until 80L).toSet)
  }

  test("decimal DELETE and UPDATE touch the rows they match through every entry point") {
    val warehouse = tmpDir("skip-dml-warehouse")
    spark.conf.set("spark.sql.catalog.graftskip", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftskip.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftskip.default")
    val gsql = new GraftSql(spark)
    val cond = "d < 5.00"
    def check(name: String, t: => GraftTable)(delete: GraftTable => Unit,
        update: GraftTable => Unit): Unit = {
      val d = t
      delete(d)
      assert(GraftTable.forPath(spark, d.path).toDF.count() == 75, s"$name DELETE")
      val u = t
      update(u)
      assert(GraftTable.forPath(spark, u.path).toDF.filter(col("v") === -1).count() == 5,
        s"$name UPDATE")
    }
    var n = 0
    def fresh(): GraftTable = { n += 1; clustered(tmpDir(s"skip-dml-path-$n")) }
    check("path API", fresh())(
      _.delete(expr(cond)), _.update(expr(cond), Map("v" -> lit(-1))))
    check("GraftSql", { val t = fresh(); gsql.register(s"skip_dml_$n", t.path); t })(
      _ => gsql.sql(s"DELETE FROM skip_dml_$n WHERE $cond").collect(),
      _ => gsql.sql(s"UPDATE skip_dml_$n SET v = -1 WHERE $cond").collect())
    def catalogTable(): GraftTable = {
      n += 1; clustered(Paths.get(warehouse, "default", s"skip_$n").toString)
    }
    try check("catalog", catalogTable())(
      _ => spark.sql(s"DELETE FROM graftskip.default.skip_$n WHERE $cond").collect(),
      _ => spark.sql(s"UPDATE graftskip.default.skip_$n SET v = -1 WHERE $cond").collect())
    finally (1 to n).foreach(i => spark.sql(s"DROP TABLE IF EXISTS graftskip.default.skip_$i"))
  }

  test("copy-on-write DML rewrites the files that hold its rows, not every file stats keep") {
    // four files whose id ranges all span 0–79: file i holds id % 4 == i
    def interleaved(path: String): GraftTable = {
      val t = GraftTable.create(spark, path, rows.filter(col("id") % 4 === 0).coalesce(1))
      (1 until 4).foreach(i => t.append(rows.filter(col("id") % 4 === i).coalesce(1)))
      assert(t.snapshot.activeFiles.size == 4 && t.pruneFiles(expr("id = 5")) == (4, 4))
      t
    }
    val d = interleaved(tmpDir("skip-touched-delete"))
    assert(d.delete(expr("id = 5"))("numRemovedFiles") == "1")
    assert(ids(d.toDF) == (0L until 80L).toSet - 5L)
    // no row left to delete: nothing is rewritten
    assert(d.delete(expr("id = 5"))("numRemovedFiles") == "0")
    assert(d.snapshot.activeFiles.size == 4)
    val u = interleaved(tmpDir("skip-touched-update"))
    assert(u.update(expr("id IN (2, 6)"), Map("v" -> lit(-1)))("numRemovedFiles") == "1")
    assert(ids(u.toDF.filter(col("v") === -1)) == Set(2L, 6L))
    assert(u.toDF.count() == 80)

    // ids 1 and 78 lie in two of the 8 range-clustered files; the key
    // range between them (and the new key 100) keeps all 8
    val g = clustered(tmpDir("skip-touched-merge"))
    val src = rows.filter(col("id").isin(1, 78)).withColumn("v", lit(-1))
      .unionByName(rows.filter(col("id") === 0).withColumn("id", lit(100L)))
    assert(g.merge(src, "id")("numRemovedFiles") == "2")
    assert(ids(g.toDF.filter(col("v") === -1)) == Set(1L, 78L))
    assert(ids(g.toDF) == (0L until 80L).toSet + 100L)
  }

  test("auto-collected stats after an append equal a fresh ANALYZE of the same rows") {
    val all = spark.range(60).select(col("id"),
      (col("id") + 0.25).cast("decimal(10,2)").as("d"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      concat(lit("s"), col("id").cast("string")).as("s"))
    val t = GraftTable.create(spark, tmpDir("skip-autostats"), all.filter(col("id") < 50),
      properties = Map("graft.stats.autoCollect" -> "true"))
    t.computeStats()
    t.append(all.filter(col("id") >= 50))
    val merged = Cbo.tableStats(t)
    assert(merged("d").max == "59.25" && merged("dt").min == "2024-01-01" &&
      merged("dt").max == "2024-02-29", merged)
    t.computeStats()
    val fresh = Cbo.tableStats(t)
    for (c <- Seq("id", "d", "dt", "s"))
      assert(merged(c).copy(distinct = 0) == fresh(c).copy(distinct = 0), c)
  }

  test("date_trunc and substring generated partitions prune from source-column predicates") {
    val src = spark.range(40).select(
      (lit("2024-01-01 00:00:00").cast("timestamp") +
        make_interval(lit(0), col("id").cast("int"))).as("ts"),
      concat(lit("k"), lpad(col("id").cast("string"), 2, "0")).as("k")).coalesce(1)
    // without footer stats, only the bounds derived for the generated
    // partition column can rule a file out
    def derived(t: GraftTable, p: Column): Int = {
      val s = t.snapshot
      t.candidates(s, s.activeFiles.map(_.copy(stats = None)), t.skippingConjuncts(s, p)).size
    }
    val m = GraftTable.create(spark, tmpDir("skip-gen-month"),
      src.withColumn("ts_month", date_trunc("MONTH", col("ts"))), Seq("ts_month"),
      properties = Map("graft.generated.ts_month" -> "date_trunc('MONTH', ts)"))
    assert(m.snapshot.activeFiles.size == 40)
    val cut = lit("2025-06-01 00:00:00").cast("timestamp")
    assert(derived(m, col("ts") >= cut) == 23)
    assert(derived(m, col("ts") < lit("2024-03-15 00:00:00").cast("timestamp")) == 3)
    assert(m.readWhere(col("ts") >= cut).count() == src.filter(col("ts") >= cut).count())
    val p = GraftTable.create(spark, tmpDir("skip-gen-prefix"),
      src.withColumn("k_pre", substring(col("k"), 1, 2)), Seq("k_pre"),
      properties = Map("graft.generated.k_pre" -> "substring(k, 1, 2)"))
    assert(p.snapshot.activeFiles.size == 4)
    assert(derived(p, col("k") === "k07") == 1)
    assert(derived(p, col("k") < "k10") == 2)
    assert(derived(p, col("k").isin("k01", "k25")) == 2)
    assert(p.readWhere(col("k") < "k10").count() == 10)
  }
}
