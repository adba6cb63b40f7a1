package graft.sources

import graft.GraftSparkSpec
import graft.lake.GraftTable
import org.apache.spark.sql.functions._

/** Native `SupportsRowLevelOperations` behaviors: plan shape (the v2
  * ReplaceData rewrite, not an opaque command), runtime group
  * filtering (unmatched candidate files survive untouched), and the
  * table-layer invariants the native write must keep — partition
  * layout, deletion-vector masks, row-tracking ids, generated-column
  * regeneration, CHECK constraints, change-feed visibility.
  */
class RowLevelOpsSpec extends GraftSparkSpec {

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftrlo",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrlo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftrlo.default")
  }
  private lazy val warehouse = tmpDir("rlo-warehouse")
  private def pathOf(tbl: String): String =
    java.nio.file.Paths.get(warehouse, "default", tbl).toString

  test("UPDATE plans as a v2 row-level rewrite, not a command") {
    useCatalog()
    spark.range(100).withColumn("v", col("id") * 2)
      .createOrReplaceTempView("rlo_src")
    spark.sql("CREATE TABLE graftrlo.default.plan_tbl USING graftlake " +
      "AS SELECT * FROM rlo_src")
    val analyzed = spark.sessionState.sqlParser.parsePlan(
      "UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5")
    assert(!analyzed.getClass.getName.contains("GraftSqlCommand"),
      "the parser interception for UPDATE must be gone")
    val explained = spark.sql(
      "EXPLAIN EXTENDED UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5")
      .head().getString(0)
    assert(explained.contains("ReplaceData"),
      s"EXPLAIN must show the v2 row-level plan, got:\n${explained.take(800)}")
    assert(explained.contains("GraftRowLevelScan"),
      "the rewrite must read through the row-level scan")
    spark.sql("UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5")
    assert(spark.sql("SELECT SUM(v) AS s FROM graftrlo.default.plan_tbl")
      .head().getLong(0) == (5 until 100).map(_ * 2L).sum)
    spark.sql("DROP TABLE graftrlo.default.plan_tbl")
  }

  test("runtime group filtering: unmatched files are not rewritten") {
    useCatalog()
    // 8 files with disjoint id ranges; an UPDATE touching one range
    // must remove/rewrite ONE file, not all stats-pruned candidates
    spark.range(800).withColumn("v", lit(1L))
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("rlo_gf_src")
    spark.sql("CREATE TABLE graftrlo.default.gf_tbl USING graftlake " +
      "AS SELECT * FROM rlo_gf_src")
    val t = GraftTable.forPath(spark, pathOf("gf_tbl"))
    val filesBefore = t.snapshot.activeFiles.size
    assert(filesBefore >= 8, s"fixture needs multiple files, got $filesBefore")
    // the predicate is on v (same value everywhere -> stats cannot
    // prune), but only rows with id in one file's range match: the
    // GROUP filter must narrow the rewrite to that one file
    spark.sql("UPDATE graftrlo.default.gf_tbl SET v = 9 " +
      "WHERE v = 1 AND id BETWEEN 0 AND 9")
    val hist = t.history(1).collect().head
    assert(hist.getAs[String]("operation") == "UPDATE")
    val metrics = hist.getAs[String]("metrics").split(";")
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val removed = metrics("numRemovedFiles").toInt
    assert(removed == 1,
      s"group filter must narrow the rewrite to 1 file, removed $removed")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.gf_tbl " +
      "WHERE v = 9").head().getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.gf_tbl")
      .head().getLong(0) == 800)
    spark.sql("DROP TABLE graftrlo.default.gf_tbl")
  }

  test("partitioned table: rewrite keeps the partition layout and pruning") {
    useCatalog()
    spark.range(300)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(3))))
      .withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_part_src")
    spark.sql("CREATE TABLE graftrlo.default.part_tbl USING graftlake " +
      "PARTITIONED BY (part) AS SELECT * FROM rlo_part_src")
    spark.sql("UPDATE graftrlo.default.part_tbl SET v = -1 " +
      "WHERE part = 'p1' AND id < 100")
    val t = GraftTable.forPath(spark, pathOf("part_tbl"))
    // every file still carries its partition value in the log
    assert(t.snapshot.activeFiles.forall(_.partitionValues.contains("part")))
    assert(t.snapshot.activeFiles.exists(_.partitionValues("part") == "p1"))
    // only p1 files were rewritten
    val metrics = t.history(1).collect().head.getAs[String]("metrics")
      .split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    assert(metrics("numRemovedFiles").toInt < t.snapshot.activeFiles.size)
    val got = spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.part_tbl " +
      "WHERE v = -1").head().getLong(0)
    assert(got == (0 until 100).count(_ % 3 == 1))
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.part_tbl")
      .head().getLong(0) == 300)
    // partition pruning still works over the rewritten layout
    val plan = spark.sql(
      "SELECT * FROM graftrlo.default.part_tbl WHERE part = 'p1'")
    assert(plan.count() == 100)
    spark.sql("DROP TABLE graftrlo.default.part_tbl")
  }

  test("deletion-vector masks apply to the rewrite scan") {
    useCatalog()
    spark.range(100).withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_dv_src")
    spark.sql("CREATE TABLE graftrlo.default.dv_tbl USING graftlake " +
      "AS SELECT * FROM rlo_dv_src")
    val t = GraftTable.forPath(spark, pathOf("dv_tbl"))
    // MoR-delete half the rows, then natively UPDATE over the table:
    // a rewrite that misses the DV mask would resurrect them
    t.deleteMergeOnRead(col("id") < 50)
    assert(t.toDF.count() == 50)
    spark.sql("UPDATE graftrlo.default.dv_tbl SET v = v + 1000 WHERE id >= 50")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.dv_tbl")
      .head().getLong(0) == 50,
      "the rewrite must not resurrect DV-deleted rows")
    assert(spark.sql("SELECT MIN(v) AS m FROM graftrlo.default.dv_tbl")
      .head().getLong(0) == 1050)
    spark.sql("DROP TABLE graftrlo.default.dv_tbl")
  }

  test("row-tracking ids survive a native UPDATE") {
    useCatalog()
    spark.range(60).withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_rt_src")
    spark.sql("CREATE TABLE graftrlo.default.rt_tbl USING graftlake " +
      "AS SELECT * FROM rlo_rt_src")
    val t = GraftTable.forPath(spark, pathOf("rt_tbl"))
    t.setTableProperties(Map("graft.rowTracking" -> "true"))
    // ids assign on the first data-changing write AFTER enabling
    spark.sql("UPDATE graftrlo.default.rt_tbl SET v = v WHERE id >= 0")
    val before = t.readWhereWithRowIds(None)
      .select("id", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.values.toSet.size == 60, "ids must be unique")
    spark.sql("UPDATE graftrlo.default.rt_tbl SET v = v * 10 WHERE id < 30")
    val after = t.readWhereWithRowIds(None)
      .select("id", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before,
      "a native UPDATE must preserve every row's stable id")
    spark.sql("DROP TABLE graftrlo.default.rt_tbl")
  }

  test("generated columns regenerate when their source changes") {
    useCatalog()
    spark.range(40).selectExpr("id AS k", "CAST(id * 3 AS BIGINT) AS src",
      "CAST(id * 6 AS BIGINT) AS dbl")
      .createOrReplaceTempView("rlo_gen_src")
    spark.sql("CREATE TABLE graftrlo.default.gen_tbl USING graftlake " +
      "AS SELECT * FROM rlo_gen_src")
    GraftTable.forPath(spark, pathOf("gen_tbl"))
      .setTableProperties(Map("graft.generated.dbl" -> "src * 2"))
    spark.sql("UPDATE graftrlo.default.gen_tbl SET src = 1000 WHERE k = 5")
    val row = spark.sql(
      "SELECT src, dbl FROM graftrlo.default.gen_tbl WHERE k = 5").head()
    assert(row.getLong(0) == 1000 && row.getLong(1) == 2000,
      "the derived column must recompute from the updated source")
    // untouched rows keep consistent derived values
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.gen_tbl " +
      "WHERE dbl != src * 2").head().getLong(0) == 0)
    spark.sql("DROP TABLE graftrlo.default.gen_tbl")
  }

  test("CHECK constraints refuse a violating native UPDATE") {
    useCatalog()
    spark.range(20).withColumn("v", col("id") + 1)
      .createOrReplaceTempView("rlo_ck_src")
    spark.sql("CREATE TABLE graftrlo.default.ck_tbl USING graftlake " +
      "AS SELECT * FROM rlo_ck_src")
    spark.sql("ALTER TABLE graftrlo.default.ck_tbl " +
      "ADD CONSTRAINT pos CHECK (v > 0)")
    val e = intercept[Exception](
      spark.sql("UPDATE graftrlo.default.ck_tbl SET v = -5 WHERE id = 3"))
    assert(e.getMessage.contains("pos") ||
      Option(e.getCause).exists(_.getMessage.contains("pos")),
      s"violation must name the constraint, got ${e.getMessage.take(200)}")
    // the refused rewrite must not have changed the table
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.ck_tbl " +
      "WHERE v <= 0").head().getLong(0) == 0)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.ck_tbl")
      .head().getLong(0) == 20)
    spark.sql("DROP TABLE graftrlo.default.ck_tbl")
  }

  test("native commits stay visible in the change feed") {
    useCatalog()
    spark.range(30).withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_cdf_src")
    spark.sql("CREATE TABLE graftrlo.default.cdf_tbl USING graftlake " +
      "AS SELECT * FROM rlo_cdf_src")
    val t = GraftTable.forPath(spark, pathOf("cdf_tbl"))
    t.setTableProperties(Map("graft.cdf" -> "true"))
    val v0 = t.version
    spark.sql("UPDATE graftrlo.default.cdf_tbl SET v = 99 WHERE id < 3")
    val v1 = GraftTable.forPath(spark, t.path).version
    // no CDC sidecar on the native path -> the feed's exact diff
    // surfaces the change as delete+insert rows
    val feed = t.changeFeed(v0, v1)
    assert(feed.filter(col("_change_type") === "insert" &&
      col("v") === 99).count() == 3)
    assert(feed.filter(col("_change_type") === "delete").count() == 3)
    spark.sql("DROP TABLE graftrlo.default.cdf_tbl")
  }

  test("SELECT of the _graft_file metadata column reads log paths") {
    useCatalog()
    spark.range(50).withColumn("v", col("id"))
      .repartition(4).createOrReplaceTempView("rlo_meta_src")
    spark.sql("CREATE TABLE graftrlo.default.meta_tbl USING graftlake " +
      "AS SELECT * FROM rlo_meta_src")
    val t = GraftTable.forPath(spark, pathOf("meta_tbl"))
    // empty files (the catalog CTAS's create-then-insert leaves one)
    // carry no rows, so the provenance column can't surface them
    val logPaths = t.snapshot.activeFiles
      .filter(_.stats.forall(_.numRecords > 0)).map(_.path).toSet
    val seen = spark.sql(
      "SELECT DISTINCT _graft_file FROM graftrlo.default.meta_tbl")
      .collect().map(_.getString(0)).toSet
    assert(seen == logPaths,
      s"provenance column must emit the log-recorded paths: $seen vs $logPaths")
    spark.sql("DROP TABLE graftrlo.default.meta_tbl")
  }

  test("byte-range splits: a file larger than maxPartitionBytes reads in " +
      "parallel splits with exact DV/row math") {
    useCatalog()
    spark.range(20000)
      .withColumn("v", col("id"))
      .withColumn("pad", concat_ws("-", (0 until 8).map(_ => rand(7)): _*))
      .coalesce(1)
      .createOrReplaceTempView("rlo_split_src")
    spark.sql("CREATE TABLE graftrlo.default.split_tbl USING graftlake " +
      "AS SELECT * FROM rlo_split_src")
    val t = GraftTable.forPath(spark, pathOf("split_tbl"))
    // MoR-delete some rows so the split readers must apply the mask
    t.deleteMergeOnRead(col("id") % 100 === 0)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      spark.sql("UPDATE graftrlo.default.split_tbl SET v = -1 WHERE id < 500")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.split_tbl")
        .head().getLong(0) == 20000 - 200)
      // masked multiples of 100 stay deleted; surviving id<500 updated
      assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.split_tbl " +
        "WHERE v = -1").head().getLong(0) == 500 - 5)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.split_tbl " +
        "WHERE id % 100 = 0").head().getLong(0) == 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    spark.sql("DROP TABLE graftrlo.default.split_tbl")
  }

  test("a concurrent writer conflicts the CoW rewrite's commit") {
    useCatalog()
    spark.range(200).withColumn("v", col("id"))
      .repartitionByRange(4, col("id"))
      .createOrReplaceTempView("rlo_cc_src")
    spark.sql("CREATE TABLE graftrlo.default.cc_tbl USING graftlake " +
      "AS SELECT * FROM rlo_cc_src")
    val t = GraftTable.forPath(spark, pathOf("cc_tbl"))
    // interleave: a concurrent CoW delete lands while our UPDATE's
    // rewrite is planned against the older snapshot — the remove-set
    // overlap must abort the UPDATE instead of resurrecting rows.
    // Simulated with a commit hook shim: plan the update DF first via
    // a pinned operation, then race the delete in, then execute.
    val op = new GraftRowLevelOperation(spark, t,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    val builder = op.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val scan = builder.build().asInstanceOf[GraftRowLevelScan]
    // concurrent writer rewrites (and removes) the files our op read
    t.delete(col("id") < 50)
    val writeBuilder = op.newWriteBuilder(null)
    val write = writeBuilder.asInstanceOf[GraftRowLevelWrite]
    intercept[java.util.ConcurrentModificationException](
      write.commit(Array.empty))
    // the table keeps ONLY the concurrent delete's effect
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.cc_tbl")
      .head().getLong(0) == 150)
    spark.sql("DROP TABLE graftrlo.default.cc_tbl")
  }

  test("simple DELETE keeps the SupportsDelete path; subquery DELETE rewrites") {
    useCatalog()
    spark.range(100).withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_del_src")
    spark.sql("CREATE TABLE graftrlo.default.del_tbl USING graftlake " +
      "AS SELECT * FROM rlo_del_src")
    // translatable filter -> OptimizeMetadataOnlyDeleteFromTable
    // restores the SupportsDelete route in the OPTIMIZED plan (the
    // analyzed plan transiently shows the rewrite, so assert on the
    // physical EXPLAIN)
    val simple = spark.sql(
      "EXPLAIN DELETE FROM graftrlo.default.del_tbl WHERE id < 10")
      .head().getString(0)
    assert(!simple.contains("ReplaceData"),
      s"a translatable DELETE must stay on the SupportsDelete path:\n$simple")
    spark.sql("DELETE FROM graftrlo.default.del_tbl WHERE id < 10")
    // subquery condition -> the group-based rewrite
    spark.range(10, 20).createOrReplaceTempView("del_keys")
    val sub = spark.sql("EXPLAIN DELETE FROM " +
      "graftrlo.default.del_tbl WHERE id IN (SELECT id FROM del_keys)")
      .head().getString(0)
    assert(sub.contains("ReplaceData"),
      s"a subquery DELETE must take the row-level rewrite:\n$sub")
    spark.sql("DELETE FROM graftrlo.default.del_tbl " +
      "WHERE id IN (SELECT id FROM del_keys)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftrlo.default.del_tbl")
      .head().getLong(0) == 80)
    spark.sql("DROP TABLE graftrlo.default.del_tbl")
  }

  test("timestamp partitions keep sub-second precision through a rewrite") {
    useCatalog()
    // four partition values 250ms apart — a seconds-precision renderer
    // would collapse all four into one truncated partition on rewrite
    spark.range(40)
      .withColumn("ts", expr(
        "timestamp_micros(1700000000000000L + (id % 4) * 250000L)"))
      .withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_ts_src")
    spark.sql("CREATE TABLE graftrlo.default.ts_tbl USING graftlake " +
      "PARTITIONED BY (ts) AS SELECT * FROM rlo_ts_src")
    val byTs = "SELECT ts, COUNT(*) AS n FROM graftrlo.default.ts_tbl " +
      "GROUP BY ts ORDER BY ts"
    val before = spark.sql(byTs).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(before.length == 4, s"fixture needs 4 ts partitions: $before")
    // rewrite every row natively (group filter matches all files)
    spark.sql("UPDATE graftrlo.default.ts_tbl SET v = -1 WHERE v >= 0")
    val after = spark.sql(byTs).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(after == before,
      s"sub-second partition values must survive the rewrite:\n" +
        s"  before $before\n  after  $after")
    // the log's partition strings keep the '.SSSSSS' micros
    val t = GraftTable.forPath(spark, pathOf("ts_tbl"))
    assert(t.snapshot.activeFiles.exists(
      _.partitionValues.get("ts").exists(_.contains(".25"))),
      s"log partition values lost their micros: " +
        t.snapshot.activeFiles.flatMap(_.partitionValues.get("ts")).distinct)
    spark.sql("DROP TABLE graftrlo.default.ts_tbl")
  }
}
