package graft.sources

import graft.GraftSparkSpec
import graft.lake.GraftTable
import org.apache.spark.sql.functions._

/** Delta-based (merge-on-read) native row-level operations, selected
  * by `graft.dml.mode = merge-on-read`: only CHANGED rows ship —
  * deletes become deletion-vector marks keyed by the scan's
  * (_graft_file, _graft_pos) row id, update post-images and merge
  * inserts append as new files, and NO candidate file is rewritten.
  */
class RowLevelMorSpec extends GraftSparkSpec {

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftmor",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmor.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftmor.default")
  }
  private lazy val warehouse = tmpDir("rlo-mor-warehouse")
  private def pathOf(tbl: String): String =
    java.nio.file.Paths.get(warehouse, "default", tbl).toString

  private def morTable(name: String, n: Int): GraftTable = {
    useCatalog()
    spark.range(n).withColumn("v", col("id"))
      .repartitionByRange(4, col("id"))
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"CREATE TABLE graftmor.default.$name USING graftlake " +
      s"AS SELECT * FROM ${name}_src")
    val t = GraftTable.forPath(spark, pathOf(name))
    t.setTableProperties(Map("graft.dml.mode" -> "merge-on-read"))
    t
  }

  test("MoR UPDATE ships only changed rows: no data file rewritten") {
    val t = morTable("upd", 400)
    val filesBefore = t.snapshot.activeFiles.map(_.path).toSet
    spark.sql("UPDATE graftmor.default.upd SET v = -1 WHERE id < 10")
    val t1 = GraftTable.forPath(spark, t.path)
    // every pre-existing file still active (masks, not rewrites)
    assert(filesBefore.subsetOf(t1.snapshot.activeFiles.map(_.path).toSet),
      "merge-on-read must not rewrite candidate files")
    assert(t1.snapshot.dvFiles.nonEmpty, "the update must add a DV mask")
    val metrics = t1.history(1).collect().head.getAs[String]("metrics")
      .split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    assert(metrics("numDeletionVectors").toInt == 1)
    // observable result identical to a CoW update
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.upd " +
      "WHERE v = -1").head().getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.upd")
      .head().getLong(0) == 400)
    assert(spark.sql("SELECT SUM(v) AS s FROM graftmor.default.upd")
      .head().getLong(0) == (10 until 400).map(_.toLong).sum - 10)
    spark.sql("DROP TABLE graftmor.default.upd")
  }

  test("MoR subquery DELETE masks rows and repeated DML composes") {
    val t = morTable("del", 300)
    spark.range(50, 80).createOrReplaceTempView("mor_del_keys")
    spark.sql("DELETE FROM graftmor.default.del WHERE id IN " +
      "(SELECT id FROM mor_del_keys)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.del")
      .head().getLong(0) == 270)
    val t1 = GraftTable.forPath(spark, t.path)
    assert(t1.snapshot.dvFiles.nonEmpty)
    // second DML over the masked table must not resurrect masked rows
    spark.sql("UPDATE graftmor.default.del SET v = 0 WHERE id >= 290")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.del")
      .head().getLong(0) == 270)
    // 10 updated rows plus the original (id=0, v=0) row
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.del " +
      "WHERE v = 0").head().getLong(0) == 11)
    // compaction materializes the masks physically
    t1.optimize(full = true)
    val t2 = GraftTable.forPath(spark, t.path)
    assert(t2.toDF.count() == 270)
    spark.sql("DROP TABLE graftmor.default.del")
  }

  test("MoR MERGE: matched updates mask+append, not-matched insert") {
    val t = morTable("mrg", 100)
    spark.range(95, 110).selectExpr("id", "CAST(-7 AS BIGINT) AS v")
      .createOrReplaceTempView("mor_mrg_src")
    spark.sql("MERGE INTO graftmor.default.mrg AS t " +
      "USING mor_mrg_src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.mrg")
      .head().getLong(0) == 110)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.mrg " +
      "WHERE v = -7").head().getLong(0) == 15)
    val t1 = GraftTable.forPath(spark, t.path)
    assert(t1.snapshot.dvFiles.nonEmpty,
      "matched updates must mask their pre-images")
    spark.sql("DROP TABLE graftmor.default.mrg")
  }

  test("partitioned MoR update keeps layout; inserts land in partitions") {
    useCatalog()
    spark.range(120)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(3))))
      .withColumn("v", col("id"))
      .createOrReplaceTempView("mor_part_src")
    spark.sql("CREATE TABLE graftmor.default.pt USING graftlake " +
      "PARTITIONED BY (part) AS SELECT * FROM mor_part_src")
    val t = GraftTable.forPath(spark, pathOf("pt"))
    t.setTableProperties(Map("graft.dml.mode" -> "merge-on-read"))
    spark.sql("UPDATE graftmor.default.pt SET v = 1000 " +
      "WHERE part = 'p2' AND id < 30")
    val t1 = GraftTable.forPath(spark, t.path)
    assert(t1.snapshot.activeFiles.forall(_.partitionValues.contains("part")))
    // post-image files carry the p2 partition value
    assert(t1.snapshot.activeFiles.exists(f =>
      f.partitionValues("part") == "p2" && f.dataChange))
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.pt " +
      "WHERE v = 1000").head().getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.pt")
      .head().getLong(0) == 120)
    // partition pruning still correct over mask + post-images
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.pt " +
      "WHERE part = 'p2'").head().getLong(0) == 40)
    spark.sql("DROP TABLE graftmor.default.pt")
  }

  test("catalog MoR UPDATE runs auto-REORG, as updateMergeOnRead does") {
    val t = morTable("areorg", 100)
    t.setTableProperties(Map("graft.autoReorg" -> "0.25"))
    spark.sql("UPDATE graftmor.default.areorg SET v = -1 WHERE id < 20")
    val ops = GraftTable.forPath(spark, t.path).history(3).collect()
      .map(r => (r.getAs[String]("operation"), r.getAs[String]("parameters")))
    assert(ops.exists { case (op, ps) => op == "REORG" && ps.contains("mode=auto") },
      s"a masked file past the threshold must be purged in-line: ${ops.toSeq}")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.areorg " +
      "WHERE v = -1").head().getLong(0) == 20)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftmor.default.areorg")
      .head().getLong(0) == 100)
    spark.sql("DROP TABLE graftmor.default.areorg")
  }

  test("_graft_pos metadata column is selectable and file-local") {
    val t = morTable("pos", 60)
    val rows = spark.sql("SELECT _graft_file, _graft_pos, id " +
      "FROM graftmor.default.pos").collect()
    assert(rows.length == 60)
    // positions restart at 0 within each file
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size == t.snapshot.activeFiles.count(
      _.stats.forall(_.numRecords > 0)))
    byFile.values.foreach { rs =>
      val ps = rs.map(_.getLong(1)).sorted
      assert(ps.head == 0 && ps.last == ps.length - 1,
        "positions must be a dense 0-based sequence per file")
    }
    spark.sql("DROP TABLE graftmor.default.pos")
  }
}
