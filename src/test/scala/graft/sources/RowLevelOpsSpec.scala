package graft.sources

import graft.GraftSparkSpec
import graft.lake.GraftTable
import org.apache.spark.sql.functions._

/** Catalog DML through the one planner (`graft.plans.GraftDml`): plan
  * shape (EXPLAIN names the graft command, its operation and table),
  * stats-pruned rewrites, and the table-layer invariants every DML
  * statement keeps — partition layout, deletion-vector masks,
  * row-tracking ids, generated-column regeneration, CHECK constraints,
  * change-feed visibility.
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

  /** EXPLAIN of `stmt` names the graft DML command, `op` and the table. */
  private def assertPlansAsGraftDml(stmt: String, op: String, table: String): Unit = {
    val explained = spark.sql(s"EXPLAIN $stmt").head().getString(0)
    assert(explained.contains(s"GraftDmlCommand $op $table"),
      s"EXPLAIN must show the graft DML command, got:\n${explained.take(800)}")
    assert(!explained.contains("ReplaceData") && !explained.contains("WriteDelta"),
      s"no v2 row-level rewrite may plan:\n${explained.take(800)}")
  }

  test("UPDATE plans as the graft DML command") {
    useCatalog()
    spark.range(100).withColumn("v", col("id") * 2)
      .createOrReplaceTempView("rlo_src")
    spark.sql("CREATE TABLE graftrlo.default.plan_tbl USING graftlake " +
      "AS SELECT * FROM rlo_src")
    val analyzed = spark.sessionState.sqlParser.parsePlan(
      "UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5")
    assert(!analyzed.getClass.getName.contains("GraftSqlCommand"),
      "the parser interception for UPDATE must be gone")
    assertPlansAsGraftDml("UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5",
      "UPDATE", "graftrlo.default.plan_tbl")
    val t = GraftTable.forPath(spark, pathOf("plan_tbl"))
    val v0 = t.version
    spark.sql("UPDATE graftrlo.default.plan_tbl SET v = 0 WHERE id < 5")
    assert(t.version == v0 + 1, "one UPDATE statement lands one commit")
    assert(spark.sql("SELECT SUM(v) AS s FROM graftrlo.default.plan_tbl")
      .head().getLong(0) == (5 until 100).map(_ * 2L).sum)
    spark.sql("DROP TABLE graftrlo.default.plan_tbl")
  }

  test("stats narrow the rewrite to 1 file") {
    useCatalog()
    // 8 files with disjoint id ranges; an UPDATE touching one range
    // must remove/rewrite ONE file: the id range prunes the rest
    spark.range(800).withColumn("v", lit(1L))
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("rlo_gf_src")
    spark.sql("CREATE TABLE graftrlo.default.gf_tbl USING graftlake " +
      "AS SELECT * FROM rlo_gf_src")
    val t = GraftTable.forPath(spark, pathOf("gf_tbl"))
    val filesBefore = t.snapshot.activeFiles.size
    assert(filesBefore >= 8, s"fixture needs multiple files, got $filesBefore")
    // v is the same everywhere, so only the id range's min/max stats
    // narrow the candidates, to the one file holding ids 0..9
    spark.sql("UPDATE graftrlo.default.gf_tbl SET v = 9 " +
      "WHERE v = 1 AND id BETWEEN 0 AND 9")
    val hist = t.history(1).collect().head
    assert(hist.getAs[String]("operation") == "UPDATE")
    val metrics = hist.getAs[String]("metrics").split(";")
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val removed = metrics("numRemovedFiles").toInt
    assert(removed == 1,
      s"stats must narrow the rewrite to 1 file, removed $removed")
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

  private type TypedRow = (Long, Option[java.sql.Date], Option[Int],
    Option[String], Option[java.sql.Timestamp], Option[java.time.LocalDateTime])

  test("partition values type the same through toDF, toDFAt, a shallow " +
      "clone and the row-level scan, null partitions included, in a " +
      "non-UTC session") {
    useCatalog()
    import spark.implicits._
    // timestamp partition directories hold session-local wall time:
    // every read and the row-level rewrite must use the session zone
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/Los_Angeles")
    try {
      val d1 = java.sql.Date.valueOf("2024-01-01")
      val d2 = java.sql.Date.valueOf("2024-02-29")
      // 10:30Z is 03:30 in Los Angeles, a 7-hour shift from UTC
      val ts1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-10T10:30:00Z"))
      val ts2 = java.sql.Timestamp.from(java.time.Instant.parse("2024-07-01T00:00:00.25Z"))
      val ntz = java.time.LocalDateTime.parse("2024-03-10T02:30:00.000001")
      val rows = Seq[TypedRow](
        (1L, Some(d1), Some(1), Some("a b"), Some(ts1), Some(ntz)),
        (2L, Some(d2), Some(2), Some("a%b"), Some(ts2), None),
        (3L, Some(d2), Some(-3), Some("k=v:w"), Some(ts1), Some(ntz)),
        (4L, None, None, None, None, None),
        (5L, Some(d1), Some(5), Some("é"), Some(ts2), None))
      rows.toDF("id", "d", "i", "s", "ts", "ntz").createOrReplaceTempView("rlo_typed_src")
      spark.sql("CREATE TABLE graftrlo.default.typed_tbl USING graftlake " +
        "PARTITIONED BY (d, i, s, ts, ntz) AS SELECT * FROM rlo_typed_src")
      val t = GraftTable.forPath(spark, pathOf("typed_tbl"))
      assert(t.snapshot.activeFiles.exists(
        _.partitionValues.get("s").contains("__HIVE_DEFAULT_PARTITION__")))
      assert(t.snapshot.activeFiles.exists(
        _.partitionValues.get("ts").contains("2024-03-10 03:30:00")))
      def read(df: org.apache.spark.sql.DataFrame) = {
        import org.apache.spark.sql.types._
        assert(Seq("d", "i", "s", "ts", "ntz").map(df.schema(_).dataType) ==
          Seq(DateType, IntegerType, StringType, TimestampType, TimestampNTZType))
        df.select("id", "d", "i", "s", "ts", "ntz").as[TypedRow].collect().toSet
      }
      val v = t.version
      assert(read(t.toDF) == rows.toSet)
      assert(t.toDF.filter(col("s") === "a%b").count() == 1)
      assert(t.toDF.filter(col("s") === "é").count() == 1)
      assert(t.toDF.filter(col("i").isNull).count() == 1)
      assert(t.toDF.filter(col("ts") === lit(ts1)).count() == 2)
      val clone = GraftTable.shallowClone(spark, t.path, tmpDir("rlo-typed-clone"))
      assert(read(clone.toDF) == rows.toSet)
      // UPDATE reads through the table scan, which types the partition
      // values it matches on and carries into the rewritten rows; the
      // rewrite renders them back under the same zone
      spark.sql("UPDATE graftrlo.default.typed_tbl SET id = id + 10")
      spark.sql("UPDATE graftrlo.default.typed_tbl SET id = id + 100 " +
        "WHERE ts = TIMESTAMP '2024-03-10 03:30:00'")
      val bumped = rows.map { case (id, d, i, s, ts, ntz) =>
        (id + 10 + (if (ts.contains(ts1)) 100 else 0), d, i, s, ts, ntz) }.toSet
      assert(read(t.toDF) == bumped)
      assert(read(spark.table("graftrlo.default.typed_tbl")) == bumped)
      assert(read(t.toDFAt(v)) == rows.toSet)
      spark.sql("DROP TABLE graftrlo.default.typed_tbl")
    } finally spark.conf.set(tzKey, prevTz)
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
    // the planner stages a CDC sidecar, so the feed types the update
    // as pre- and post-images, as the path API's does
    val feed = t.changeFeed(v0, v1)
    assert(feed.filter(col("_change_type") === "update_postimage" &&
      col("v") === 99).count() == 3)
    assert(feed.filter(col("_change_type") === "update_preimage").count() == 3)
    assert(feed.filter(col("_change_type").isin("insert", "delete")).count() == 0)
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

  test("simple and IN-subquery DELETE plan as the graft DML command") {
    useCatalog()
    spark.range(100).withColumn("v", col("id"))
      .createOrReplaceTempView("rlo_del_src")
    spark.sql("CREATE TABLE graftrlo.default.del_tbl USING graftlake " +
      "AS SELECT * FROM rlo_del_src")
    val t = GraftTable.forPath(spark, pathOf("del_tbl"))
    def oneCommit(stmt: String): Unit = {
      val v0 = t.version
      spark.sql(stmt)
      assert(t.version == v0 + 1, s"one commit per statement: $stmt")
    }
    // a plain filter runs as the planner's DELETE
    assertPlansAsGraftDml("DELETE FROM graftrlo.default.del_tbl WHERE id < 10",
      "DELETE", "graftrlo.default.del_tbl")
    oneCommit("DELETE FROM graftrlo.default.del_tbl WHERE id < 10")
    // an IN-subquery runs as GraftSql's keyed merge on the column
    spark.range(10, 20).createOrReplaceTempView("del_keys")
    val sub = "DELETE FROM graftrlo.default.del_tbl WHERE id IN (SELECT id FROM del_keys)"
    assertPlansAsGraftDml(sub, "MERGE", "graftrlo.default.del_tbl")
    oneCommit(sub)
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
    // rewrite every row (every file is a candidate)
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

  test("a rewrite staging more than 32 files validates them with no listing job") {
    useCatalog()
    // ~40 files: past Spark's 32-path parallel-listing threshold, where a
    // path-list parquet read of the staged files would start a job
    spark.range(400).withColumn("v", col("id"))
      .repartitionByRange(40, col("id"))
      .createOrReplaceTempView("rlo_many_src")
    spark.sql("CREATE TABLE graftrlo.default.many_tbl USING graftlake " +
      "AS SELECT * FROM rlo_many_src")
    val t = GraftTable.forPath(spark, pathOf("many_tbl"))
    assert(t.snapshot.numFiles > 32, s"fixture needs over 32 files, got ${t.snapshot.numFiles}")
    // one input split per file, so the rewrite stages one file per file
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prevSplit = spark.conf.get(splitKey)
    spark.conf.set(splitKey, "1")
    val (_, jobs) = try jobsStartedBy(
      spark.sql("UPDATE graftrlo.default.many_tbl SET v = v + 1 WHERE v >= 0"))
    finally spark.conf.set(splitKey, prevSplit)
    assert(t.snapshot.activeFiles.size > 32, "every file must have been rewritten")
    assert(!jobs.exists(_.contains("Listing leaf files")),
      s"staged files must be read through the log-style index, jobs: $jobs")
    assert(spark.sql("SELECT SUM(v) AS s FROM graftrlo.default.many_tbl")
      .head().getLong(0) == (0L until 400L).sum + 400L)
    spark.sql("DROP TABLE graftrlo.default.many_tbl")
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  for (mode <- Seq("copy-on-write", "merge-on-read")) {
    test(s"a MERGE source narrower than the table, with INT literals, aligns by name, $mode") {
      useCatalog()
      val tbl = s"graftrlo.default.narrow_${mode.take(1)}"
      spark.sql(s"CREATE TABLE $tbl USING graftlake TBLPROPERTIES ('graft.dml.mode' = '$mode') " +
        "AS SELECT id, id * 10 AS v, 'a' AS tag FROM range(10)")
      def rows = spark.sql(s"SELECT id, v, tag FROM $tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      // a key-only INT source against a BIGINT key
      spark.sql(s"MERGE INTO $tbl t USING (SELECT 3 AS id) s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      // INT values, no tag column: the inserted row's tag is NULL
      spark.sql(s"MERGE INTO $tbl t USING (SELECT * FROM VALUES (5, -5), (20, -20) AS s(id, v)) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
      assert(rows == (0L until 10L).filter(_ != 3)
        .map(i => (i, if (i == 5) -5L else i * 10, Option("a"))).toSet + ((20L, -20L, None)))
      // a clause reading a source column the table lacks refuses at analysis
      val e = intercept[Exception](spark.sql(s"MERGE INTO $tbl t " +
        "USING (SELECT 1 AS id, 2 AS w) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.w)"))
      assert(messages(e).contains(s"reads source column(s) w that $tbl does not have"), messages(e))
      spark.sql(s"DROP TABLE $tbl")
    }

    test(s"NOT IN, EXISTS and IN-with-a-conjunct conditions run; a correlated one refuses, $mode") {
      useCatalog()
      val tbl = s"graftrlo.default.subq_${mode.take(1)}"
      spark.sql(s"CREATE TABLE $tbl USING graftlake TBLPROPERTIES ('graft.dml.mode' = '$mode') " +
        "AS SELECT id, id * 10 AS v FROM range(20)")
      spark.range(5, 15).createOrReplaceTempView("rlo_subq_keys")
      def rows = spark.sql(s"SELECT id, v FROM $tbl").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.sql(s"DELETE FROM $tbl WHERE id NOT IN (SELECT id FROM rlo_subq_keys)")
      assert(rows == (5L until 15L).map(i => i -> i * 10).toMap)
      spark.sql(s"DELETE FROM $tbl WHERE id IN (SELECT id FROM rlo_subq_keys WHERE id < 8) " +
        "AND v > 50")
      assert(rows.keySet == (5L until 15L).toSet -- Set(6L, 7L))
      spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id > 12 AND " +
        "EXISTS (SELECT 1 FROM rlo_subq_keys WHERE id = 5)")
      spark.sql(s"UPDATE $tbl SET v = -2 WHERE id NOT IN " +
        "(SELECT id FROM rlo_subq_keys WHERE id < 11)")
      assert(rows == Map(5L -> 50L, 8L -> 80L, 9L -> 90L, 10L -> 100L,
        11L -> -2L, 12L -> -2L, 13L -> -2L, 14L -> -2L))
      val v0 = GraftTable.forPath(spark, pathOf(tbl.split('.').last)).version
      for (stmt <- Seq(
          s"UPDATE $tbl SET v = -1 WHERE EXISTS " +
            s"(SELECT 1 FROM rlo_subq_keys k WHERE k.id = $tbl.id)",
          s"DELETE FROM $tbl WHERE NOT EXISTS " +
            s"(SELECT 1 FROM rlo_subq_keys k WHERE k.id = $tbl.id + 1)")) {
        val e = intercept[Exception](spark.sql(stmt))
        assert(messages(e).contains("a correlated subquery condition is not supported"),
          s"$stmt\n${messages(e)}")
      }
      assert(GraftTable.forPath(spark, pathOf(tbl.split('.').last)).version == v0,
        "a refused statement commits nothing")
      spark.sql(s"DROP TABLE $tbl")
    }
  }
}
