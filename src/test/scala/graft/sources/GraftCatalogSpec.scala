package graft.sources

import graft.GraftSparkSpec
import org.apache.spark.sql.functions._

/** The reference lab's §C–§F flow driven ENTIRELY through bare
  * `spark.sql` against catalog-named tables — no temp views, no
  * GraftSql handle: the DSv2 [[GraftCatalog]] resolves names, reads,
  * writes and deletes; [[GraftSqlParser]] routes the maintenance
  * statements (reference docs/02-lab-optimizations.md:116-187 runs
  * OPTIMIZE / DESCRIBE HISTORY / VACUUM as plain SQL on catalog
  * tables — this is that usage mode).
  */
class GraftCatalogSpec extends GraftSparkSpec {

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftc",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftc.warehouse",
      tmpWarehouse)
  }
  private lazy val tmpWarehouse = tmpDir("catalog-warehouse")

  test("lab flow through bare spark.sql: CTAS, insert, optimize, delete, " +
      "time travel, restore, vacuum, detail") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")

    // §A equivalent: stage the synthetic sales rows, CTAS into the catalog
    val countries = Seq("US", "CA", "MX", "UK", "DE")
    spark.range(2000)
      .withColumn("order_id", col("id"))
      .withColumn("country", element_at(
        array(countries.map(lit): _*), (pmod(col("id") * 31L, lit(5)) + 1).cast("int")))
      .withColumn("total", round(pmod(col("id") * 7919L, lit(40000)) / 100.0, 2))
      .drop("id")
      .repartition(8)
      .createOrReplaceTempView("sales_src")
    spark.sql(
      "CREATE TABLE graftc.default.sales USING graftlake AS SELECT * FROM sales_src")

    def count(q: String = "graftc.default.sales"): Long =
      spark.sql(s"SELECT COUNT(*) AS n FROM $q").head().getLong(0)
    assert(count() == 2000)

    // predicate + projection through the DSv2 read path
    val us = spark.sql(
      "SELECT order_id FROM graftc.default.sales WHERE country = 'US'")
    assert(us.count() == spark.table("sales_src")
      .filter(col("country") === "US").count())

    // INSERT INTO (v2 append through the V1 bridge)
    spark.sql(
      "INSERT INTO graftc.default.sales VALUES (999999, 'US', 12.34)")
    assert(count() == 2001)

    // §C: OPTIMIZE through the injected parser compacts the files
    val before = spark.sql("DESCRIBE DETAIL graftc.default.sales")
      .head().getAs[Int]("numFiles")
    val metrics = spark.sql("OPTIMIZE graftc.default.sales VORDER")
    assert(metrics.columns.toSeq == Seq("metric", "value"))
    val after = spark.sql("DESCRIBE DETAIL graftc.default.sales")
      .head().getAs[Int]("numFiles")
    assert(after < before, s"optimize must compact: $before -> $after")

    // §D: DELETE, history, time travel, restore
    val vBeforeDelete = spark.sql("DESCRIBE HISTORY graftc.default.sales")
      .head().getLong(0)
    spark.sql("DELETE FROM graftc.default.sales WHERE country = 'US'")
    val usRows = 2001 - count()
    assert(usRows > 0)
    val ops = spark.sql("DESCRIBE HISTORY graftc.default.sales")
      .select("operation").collect().map(_.getString(0)).toSet
    assert(ops.contains("DELETE") && ops.contains("OPTIMIZE"))
    assert(count(s"graftc.default.sales VERSION AS OF $vBeforeDelete") == 2001,
      "VERSION AS OF must read the pre-delete snapshot")
    spark.sql(
      s"RESTORE TABLE graftc.default.sales TO VERSION AS OF $vBeforeDelete")
    assert(count() == 2001)

    // §E: VACUUM — DRY RUN lists, RETAIN 0 deletes, data intact
    assert(spark.sql("VACUUM graftc.default.sales DRY RUN").columns
      .toSeq == Seq("path"))
    spark.sql("VACUUM graftc.default.sales RETAIN 0 HOURS")
    assert(count() == 2001)

    // §F: DESCRIBE DETAIL fields
    val detail = spark.sql("DESCRIBE DETAIL graftc.default.sales").head()
    assert(detail.getAs[String]("location").endsWith("sales"))
    assert(detail.getAs[Long]("numRecords") == 2001)

    // INSERT OVERWRITE through TRUNCATE capability
    spark.sql("INSERT OVERWRITE graftc.default.sales " +
      "SELECT * FROM sales_src WHERE country = 'DE'")
    assert(count() == spark.table("sales_src")
      .filter(col("country") === "DE").count())

    // DESCRIBE HISTORY LIMIT paginates to the newest N commits
    val limited = spark.sql("DESCRIBE HISTORY graftc.default.sales LIMIT 2")
      .select("version").collect().map(_.getLong(0))
    assert(limited.length == 2 && limited.head == limited.max,
      "LIMIT must keep the newest commits, newest first")

    // TRUNCATE TABLE rides Spark's native v2 command: the table is a
    // TruncatableTable, so no parser interception is needed
    spark.sql("TRUNCATE TABLE graftc.default.sales")
    assert(count() == 0)
    assert(spark.sql("DESCRIBE HISTORY graftc.default.sales")
      .select("operation").head().getString(0) == "TRUNCATE",
      "truncate must commit through the table's metadata-only truncate")
  }

  test("USE graftc: bare names resolve through current catalog/namespace") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(100).withColumn("v", col("id") * 2)
      .createOrReplaceTempView("bare_src")
    spark.sql("USE graftc")
    try {
      spark.sql("CREATE TABLE bare USING graftlake AS SELECT * FROM bare_src")
      assert(spark.sql("SELECT COUNT(*) AS n FROM bare").head().getLong(0) == 100)
      // maintenance statement on a BARE name (current catalog + namespace)
      assert(spark.sql("DESCRIBE HISTORY bare").count() >= 1)
      spark.sql("OPTIMIZE bare")
      spark.sql("DELETE FROM bare WHERE id < 10")
      assert(spark.sql("SELECT COUNT(*) AS n FROM bare").head().getLong(0) == 90)
      assert(spark.sql("SHOW TABLES").collect()
        .map(_.getString(1)).contains("bare"))
      spark.sql("DROP TABLE bare")
      assert(!spark.sql("SHOW TABLES").collect()
        .map(_.getString(1)).contains("bare"))
    } finally spark.sql("USE spark_catalog")
  }

  test("partitioned catalog table: identity transform maps to layout, " +
      "pruning reaches the scan") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(300)
      .withColumn("country", element_at(array(lit("US"), lit("CA"), lit("MX")),
        (pmod(col("id"), lit(3)) + 1).cast("int")))
      .createOrReplaceTempView("part_src")
    spark.sql("CREATE TABLE graftc.default.by_country USING graftlake " +
      "PARTITIONED BY (country) AS SELECT * FROM part_src")
    val detail = spark.sql("DESCRIBE DETAIL graftc.default.by_country").head()
    assert(detail.getAs[String]("partitionColumns") == "country")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graftc.default.by_country WHERE country='US'")
      .head().getLong(0) == 100)
    // time travel by timestamp through loadTable(ident, micros).
    // DSv2 CTAS = createTable (empty v0) + append (v1) — pin v1, the
    // first version with the 300 rows, rendered in the session's UTC
    spark.sql("INSERT INTO graftc.default.by_country VALUES (9999, 'US')")
    val warehousePath = java.nio.file.Paths.get(tmpWarehouse, "default", "by_country")
    val t = graft.lake.GraftTable.forPath(spark, warehousePath.toString)
    val ts0 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(t.log.commitTimestamp(1)))
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.by_country " +
      s"TIMESTAMP AS OF '$ts0'").head().getLong(0) == 300)
    spark.sql("DROP TABLE graftc.default.by_country")
  }

  test("time-based partition transforms map to generated columns: " +
      "days(ts) partitions, fills on write, prunes on the source column") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.pt (event_id BIGINT, ts TIMESTAMP) " +
      "USING graftlake PARTITIONED BY (days(ts))")

    // schema gained the derived column; the table partitions on it
    assert(spark.table("graftc.default.pt").schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "ts_day"))
    assert(spark.sql("DESCRIBE DETAIL graftc.default.pt").head()
      .getAs[String]("partitionColumns") == "ts_day")

    // INSERT INTO with a column list: Spark pads ts_day with NULL —
    // the bridge must fill it from the generation expression
    spark.sql("INSERT INTO graftc.default.pt (event_id, ts) VALUES " +
      "(1, TIMESTAMP'2024-03-01 10:00:00'), " +
      "(2, TIMESTAMP'2024-03-01 23:59:00'), " +
      "(3, TIMESTAMP'2024-03-02 00:30:00')")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.pt " +
      "WHERE ts_day = DATE'2024-03-01'").head().getLong(0) == 2)
    // physical layout is date-partitioned
    val dir = java.nio.file.Paths.get(tmpWarehouse, "default", "pt")
    assert(java.nio.file.Files.exists(dir.resolve("ts_day=2024-03-01")) &&
      java.nio.file.Files.exists(dir.resolve("ts_day=2024-03-02")))

    // a contradictory EXPLICIT partition value must refuse (it would
    // silently break derived pruning)
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.default.pt VALUES " +
        "(4, TIMESTAMP'2024-03-03 08:00:00', DATE'2024-01-01')")
    }

    // derived pruning: a predicate on the RAW timestamp prunes date
    // partitions via the monotone generation expression
    val warehouseT = graft.lake.GraftTable.forPath(spark, dir.toString)
    val snap = warehouseT.snapshot
    val pruned = warehouseT.filesFor(
      col("ts") >= lit("2024-03-02 00:00:00").cast("timestamp"), snap)
    assert(pruned.forall(_.path.contains("ts_day=2024-03-02")) &&
      pruned.nonEmpty,
      s"ts predicate must prune to the 03-02 partition, kept: " +
        pruned.map(_.path).mkString(", "))

    // CTAS with a transform: generated column computed for the data
    spark.sql("CREATE TABLE graftc.default.pt2 USING graftlake " +
      "PARTITIONED BY (days(ts)) AS SELECT event_id, ts FROM graftc.default.pt")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.pt2 " +
      "WHERE ts_day = DATE'2024-03-02'").head().getLong(0) == 1)

    // bucket transform: writes spread across pmod(hash(k), n) dirs,
    // and a POINT LOOKUP on the raw key prunes to exactly one bucket
    // (equality-only derivation — range predicates must derive
    // nothing from a hash)
    spark.sql("CREATE TABLE graftc.default.pb (k BIGINT, v STRING) " +
      "USING graftlake PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftc.default.pb (k, v) SELECT id, " +
      "CAST(id AS STRING) FROM range(200)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.pb " +
      "WHERE k = 42").head().getLong(0) == 1)
    val bDir = java.nio.file.Paths.get(tmpWarehouse, "default", "pb")
    val bt = graft.lake.GraftTable.forPath(spark, bDir.toString)
    val bSnap = bt.snapshot
    val allBuckets = bSnap.activeFiles
      .flatMap(_.partitionValues.get("k_bucket")).distinct
    assert(allBuckets.size > 1, "200 keys must span multiple buckets")
    val point = bt.filesFor(col("k") === 42L, bSnap)
    assert(point.flatMap(_.partitionValues.get("k_bucket")).distinct.size == 1,
      "k = 42 must prune to a single bucket")
    // sanity: the surviving bucket actually holds the row
    assert(point.nonEmpty)
    // footer stats may still skip low-k files, but the survivors must
    // span MANY buckets — a hash-derived range bound would be unsound
    val ranged = bt.filesFor(col("k") >= 42L, bSnap)
    assert(ranged.flatMap(_.partitionValues.get("k_bucket")).distinct.size ==
      allBuckets.size,
      "a range predicate must not derive hash-bucket bounds")

    // transforms COMPOSE: days(ts) × bucket(4, k) — both generated
    // columns fill on a padded INSERT, and a conjunctive predicate on
    // the two RAW columns prunes on both derived partition keys
    spark.sql("CREATE TABLE graftc.default.pc (k BIGINT, ts TIMESTAMP) " +
      "USING graftlake PARTITIONED BY (days(ts), bucket(4, k))")
    spark.sql("INSERT INTO graftc.default.pc (k, ts) SELECT id, " +
      "TIMESTAMP'2024-05-01 00:00:00' + " +
      "make_interval(0, 0, 0, CAST(id % 3 AS INT), 0, 0, 0) FROM range(60)")
    val pcT = graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "pc").toString)
    assert(pcT.snapshot.partitionColumns == Seq("ts_day", "k_bucket"))
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.pc " +
      "WHERE k = 7 AND ts >= TIMESTAMP'2024-05-02 00:00:00'")
      .head().getLong(0) == 1)
    val prunedBoth = pcT.filesFor(
      col("k") === 7L && col("ts") >= java.sql.Timestamp.valueOf("2024-05-02 00:00:00"))
    assert(prunedBoth.flatMap(_.partitionValues.get("k_bucket")).distinct.size == 1,
      "the k = 7 conjunct must prune to one bucket")
    assert(!prunedBoth.flatMap(_.partitionValues.get("ts_day")).distinct
      .contains("2024-05-01"),
      "the ts range conjunct must prune the first day")

    Seq("pt", "pt2", "pb", "pc").foreach(t => spark.sql(s"DROP TABLE graftc.default.$t"))
  }

  test("ANALYZE intercepts only graft-resolvable names; graft-only verbs always") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(80).withColumn("g", pmod(col("id"), lit(4)))
      .createOrReplaceTempView("an_src")
    spark.sql("CREATE TABLE graftc.default.an_tbl USING graftlake " +
      "AS SELECT * FROM an_src")
    val warehousePath =
      java.nio.file.Paths.get(tmpWarehouse, "default", "an_tbl").toString
    val t = graft.lake.GraftTable.forPath(spark, warehousePath)
    // non-graft ANALYZE must fall through to the delegate parser (the
    // statement is valid Spark SQL for spark_catalog tables)
    assert(GraftSqlParser.intercept(spark,
      "ANALYZE TABLE not_graft COMPUTE STATISTICS", _ => None).isEmpty,
      "ANALYZE on a non-graft name must delegate to Spark")
    assert(GraftSqlParser.intercept(spark,
      "ANALYZE TABLE g COMPUTE STATISTICS", _ => Some(t)).isDefined)
    // graft-only verbs intercept regardless (Spark would reject them)
    assert(GraftSqlParser.intercept(spark,
      "OPTIMIZE whatever", _ => None).isDefined)
    // end-to-end: ANALYZE through the parser feeds the stats the CBO reads
    spark.sql("ANALYZE TABLE graftc.default.an_tbl COMPUTE STATISTICS")
    assert(graft.lake.Cbo.rowCount(t).contains(80L),
      "parser-routed ANALYZE must persist stats")
    spark.sql("DROP TABLE graftc.default.an_tbl")
  }

  test("UPDATE and MERGE on catalog tables route through the DML grammar") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(100).withColumn("v", col("id") * 10)
      .createOrReplaceTempView("dml_src")
    spark.sql("CREATE TABLE graftc.default.dml_tbl USING graftlake " +
      "AS SELECT * FROM dml_src")
    // UPDATE — resolved by Spark, run by the graft DML planner
    spark.sql("UPDATE graftc.default.dml_tbl SET v = v + 1 WHERE id < 10")
    assert(spark.sql("SELECT SUM(v) AS s FROM graftc.default.dml_tbl " +
      "WHERE id < 10").head().getLong(0)
      == (0 until 10).map(_ * 10 + 1).sum)
    // MERGE with a graft catalog SOURCE
    spark.range(5).withColumn("v", lit(7L))
      .createOrReplaceTempView("merge_upd")
    spark.sql("CREATE TABLE graftc.default.dml_delta USING graftlake " +
      "AS SELECT id + 95 AS id, CAST(-1 AS BIGINT) AS v FROM range(10)")
    spark.sql("MERGE INTO graftc.default.dml_tbl AS t " +
      "USING graftc.default.dml_delta AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    // rows 95..99 updated to -1; 100..104 inserted with -1
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.dml_tbl")
      .head().getLong(0) == 105)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.dml_tbl " +
      "WHERE v = -1").head().getLong(0) == 10)
    // MERGE with a TEMP VIEW source
    spark.sql("MERGE INTO graftc.default.dml_tbl AS t " +
      "USING merge_upd AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.dml_tbl " +
      "WHERE v = 7").head().getLong(0) == 5)
    // IN-subquery DELETE runs as GraftSql's keyed merge on the column
    spark.sql("DELETE FROM graftc.default.dml_tbl WHERE id IN " +
      "(SELECT id FROM merge_upd)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.dml_tbl")
      .head().getLong(0) == 100)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.dml_tbl " +
      "WHERE v = 7").head().getLong(0) == 0)
    // a literal containing the table name is kept as written
    spark.sql("CREATE TABLE graftc.default.lit_tbl USING graftlake " +
      "AS SELECT id, CAST('x' AS STRING) AS tag FROM range(5)")
    spark.sql("UPDATE graftc.default.lit_tbl " +
      "SET tag = 'graftc.default.lit_tbl' WHERE id = 1")
    assert(spark.sql("SELECT tag FROM graftc.default.lit_tbl WHERE id = 1")
      .head().getString(0) == "graftc.default.lit_tbl",
      "the table name inside a string literal must not be rewritten")
    spark.sql("DROP TABLE graftc.default.lit_tbl")
    // UPDATE on a non-graft name still takes Spark's path (and fails
    // with Spark's own error, not a graft resolution error)
    val e = intercept[Exception](
      spark.sql("UPDATE not_a_graft_table SET x = 1 WHERE x = 2"))
    assert(!e.getMessage.contains("GraftLake"),
      s"non-graft UPDATE must not be intercepted, got: ${e.getMessage.take(120)}")
    spark.sql("DROP TABLE graftc.default.dml_tbl")
    spark.sql("DROP TABLE graftc.default.dml_delta")
  }

  test("MERGE WITH SCHEMA EVOLUTION, REORG PURGE and RESTORE TO TIMESTAMP " +
      "on catalog names") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.evo USING graftlake " +
      "AS SELECT id, id * 10 AS v FROM range(10)")
    val path = java.nio.file.Paths.get(tmpWarehouse, "default", "evo").toString
    def one(q: String): org.apache.spark.sql.Row = spark.sql(q).head()
    def columns(): Seq[String] =
      spark.sql("SELECT * FROM graftc.default.evo").columns.toSeq
    // temp-view source carrying a column the target lacks
    spark.range(5, 15).selectExpr("id", "CAST(-1 AS BIGINT) AS v",
      "CAST('view' AS STRING) AS tag").createOrReplaceTempView("evo_view")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graftc.default.evo AS t " +
      "USING evo_view AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(columns() == Seq("id", "v", "tag"))
    assert(one("SELECT COUNT(*), COUNT(tag) FROM graftc.default.evo") ==
      org.apache.spark.sql.Row(15L, 10L))
    // a graft catalog table as the source
    spark.sql("CREATE TABLE graftc.default.evo_src USING graftlake " +
      "AS SELECT id, CAST(-2 AS BIGINT) AS v, CAST('cat' AS STRING) AS tag, " +
      "CAST(id AS DOUBLE) AS score FROM range(12, 18)")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graftc.default.evo AS t " +
      "USING graftc.default.evo_src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(columns() == Seq("id", "v", "tag", "score"))
    assert(one("SELECT COUNT(*), COUNT(score), COUNT_IF(tag = 'cat') " +
      "FROM graftc.default.evo") == org.apache.spark.sql.Row(18L, 6L, 6L))
    // a string literal equal to the target's qualified name stays as
    // written; the clause condition reads the target row
    spark.range(4, 8).selectExpr("id", "CAST(0 AS BIGINT) AS v",
      "CAST('lit' AS STRING) AS tag", "CAST(0 AS DOUBLE) AS score")
      .createOrReplaceTempView("evo_lit")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graftc.default.evo AS t " +
      "USING evo_lit AS s ON t.id = s.id " +
      "WHEN MATCHED AND t.id < 7 THEN UPDATE SET tag = 'graftc.default.evo'")
    val tags = spark.sql("SELECT id, tag FROM graftc.default.evo WHERE id " +
      "BETWEEN 4 AND 7").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags == Map(4L -> "graftc.default.evo", 5L -> "graftc.default.evo",
      6L -> "graftc.default.evo", 7L -> "view"))
    // REORG ... APPLY (PURGE) rewrites the deletion-vector masked files
    graft.lake.GraftTable.forPath(spark, path).deleteMergeOnRead(col("id") < 2)
    assert(graft.lake.GraftTable.forPath(spark, path).snapshot.dvFiles.nonEmpty)
    val reorg = spark.sql("REORG TABLE graftc.default.evo APPLY (PURGE)")
    assert(reorg.columns.toSeq == Seq("metric", "value"))
    val t = graft.lake.GraftTable.forPath(spark, path)
    assert(t.snapshot.dvFiles.isEmpty, "REORG must retire every DV sidecar")
    assert(one("SELECT COUNT(*) FROM graftc.default.evo").getLong(0) == 16L)
    // RESTORE TABLE ... TO TIMESTAMP AS OF the post-REORG commit
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    val ts = fmt.format(java.time.Instant.ofEpochMilli(
      t.log.commitTimestamp(t.version)))
    Thread.sleep(5) // the DELETE commit must land on a later millisecond
    spark.sql("DELETE FROM graftc.default.evo WHERE id >= 10")
    assert(one("SELECT COUNT(*) FROM graftc.default.evo").getLong(0) == 8L)
    val restored = spark.sql(
      s"RESTORE TABLE graftc.default.evo TO TIMESTAMP AS OF '$ts'")
    assert(restored.columns.toSeq == Seq("metric", "value"))
    assert(one("SELECT COUNT(*) FROM graftc.default.evo").getLong(0) == 16L)
    spark.sql("DROP TABLE graftc.default.evo")
    spark.sql("DROP TABLE graftc.default.evo_src")
  }

  test("FSCK REPAIR TABLE on a catalog name lists, then drops, a missing file") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(40).repartition(4).createOrReplaceTempView("fsck_src")
    spark.sql("CREATE TABLE graftc.default.fsck_tbl USING graftlake " +
      "AS SELECT * FROM fsck_src")
    val path = java.nio.file.Paths.get(tmpWarehouse, "default", "fsck_tbl")
    val victim = graft.lake.GraftTable.forPath(spark, path.toString)
      .snapshot.activeFiles.head
    java.nio.file.Files.delete(path.resolve(victim.path))
    val dry = spark.sql("FSCK REPAIR TABLE graftc.default.fsck_tbl DRY RUN")
    assert(dry.collect().map(_.getString(0)).toSeq == Seq(victim.path))
    assert(dry.columns.toSeq == Seq("missing_file"))
    spark.sql("FSCK REPAIR TABLE graftc.default.fsck_tbl")
    val lost = victim.stats.map(_.numRecords).getOrElse(0L)
    assert(spark.sql("SELECT COUNT(*) FROM graftc.default.fsck_tbl")
      .head().getLong(0) == 40L - lost, "the repaired table must read again")
    spark.sql("DROP TABLE graftc.default.fsck_tbl")
  }

  test("TABLE CHANGES and SHOW PARTITIONS on catalog names") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(60)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(3))))
      .createOrReplaceTempView("tvf_src")
    spark.sql("CREATE TABLE graftc.default.tvf_tbl USING graftlake " +
      "PARTITIONED BY (part) AS SELECT * FROM tvf_src")
    val t = graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "tvf_tbl").toString)
    val v1 = t.version
    spark.sql("DELETE FROM graftc.default.tvf_tbl WHERE id < 10")
    val v2 = graft.lake.GraftTable.forPath(spark, t.path).version
    // batch CDF through bare SQL, LAZY plan (no command collect)
    val changes = spark.sql(
      s"TABLE CHANGES graftc.default.tvf_tbl BETWEEN ${v1 + 1} AND $v2")
    assert(changes.columns.contains("_change_type") &&
      changes.columns.contains("_commit_version"))
    assert(changes.filter(col("_change_type") === "delete").count() == 10,
      "the delete window must surface 10 delete rows")
    assert(!changes.queryExecution.analyzed.getClass.getName
      .contains("Command"),
      "TABLE CHANGES must plan as a lazy read, not a collecting command")
    // timestamp bounds: start at-or-after / end at-or-before, so a
    // window pinned exactly on the delete commit yields only it
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    val ts2 = fmt.format(java.time.Instant.ofEpochMilli(t.log.commitTimestamp(v2)))
    val byTs = spark.sql("TABLE CHANGES graftc.default.tvf_tbl " +
      s"BETWEEN TIMESTAMP '$ts2' AND TIMESTAMP '$ts2'")
    assert(byTs.filter(col("_change_type") === "delete").count() == 10,
      "the timestamp-pinned window must surface exactly the delete commit")
    // an empty window (before any commit at-or-after it has happened)
    // clamps to an empty feed instead of erroring
    val tsLate = fmt.format(java.time.Instant
      .ofEpochMilli(t.log.commitTimestamp(v2) + 3600000L))
    assert(spark.sql("TABLE CHANGES graftc.default.tvf_tbl " +
      s"BETWEEN TIMESTAMP '$tsLate' AND TIMESTAMP '$tsLate'").count() == 0)
    // SHOW PARTITIONS from log metadata (no SupportsPartitionManagement)
    val parts = spark.sql("SHOW PARTITIONS graftc.default.tvf_tbl")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts.keySet == Set("p0", "p1", "p2"))
    assert(parts.values.sum == t.snapshot.numFiles ||
      parts.values.sum > 0)
    spark.sql("DROP TABLE graftc.default.tvf_tbl")
  }

  test("metadata tables on catalog names: t.history/files/detail/partitions " +
      "compose with plain SQL") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(40)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(2))))
      .createOrReplaceTempView("meta_src")
    spark.sql("CREATE TABLE graftc.default.mt USING graftlake " +
      "PARTITIONED BY (part) AS SELECT * FROM meta_src")
    spark.sql("INSERT INTO graftc.default.mt VALUES (999, 'p0')")
    val t = graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "mt").toString)

    // history: same rows DESCRIBE HISTORY reports, but a composable
    // relation — aggregate over it in the same statement
    val ops = spark.sql("SELECT operation FROM graftc.default.mt.history " +
      "ORDER BY version").collect().map(_.getString(0))
    assert(ops.length == t.history.count() && ops.contains("APPEND"))
    assert(spark.sql("SELECT MAX(version) AS v FROM graftc.default.mt.history")
      .head().getLong(0) == t.version)

    // files: one row per active file, metadata only; projection prunes
    val nf = spark.sql("SELECT COUNT(*) AS n FROM graftc.default.mt.files")
      .head().getLong(0)
    assert(nf == t.snapshot.numFiles)
    assert(spark.sql("SELECT SUM(size_bytes) AS s FROM graftc.default.mt.files")
      .head().getLong(0) == t.snapshot.sizeInBytes)
    // partition_values map survives the bridge
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.mt.files " +
      "WHERE partition_values['part'] = 'p0'").head().getLong(0) > 0)

    // detail: the DESCRIBE DETAIL row as a queryable relation
    assert(spark.sql("SELECT numFiles FROM graftc.default.mt.detail")
      .head().getAs[Int]("numFiles") == t.snapshot.numFiles)

    // partitions: joins against the files inventory
    val parts = spark.sql("SELECT part, num_files FROM " +
      "graftc.default.mt.partitions").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts.keySet == Set("p0", "p1") &&
      parts.values.sum == t.snapshot.numFiles)

    // a REAL table named like a metadata kind shadows the surface
    spark.sql("CREATE TABLE graftc.default.history (x INT) USING graftlake")
    spark.sql("INSERT INTO graftc.default.history VALUES (7)")
    assert(spark.sql("SELECT x FROM graftc.default.history")
      .head().getInt(0) == 7)

    // metadata tables refuse writes (no SupportsWrite capability)
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.default.mt.history VALUES " +
        "(0, 0, 'x', 'y', 'z')")
    }
    Seq("mt", "history").foreach(n =>
      spark.sql(s"DROP TABLE graftc.default.$n"))
  }

  test("DataFrameReader time-travel options route through catalog loadTable") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(30).createOrReplaceTempView("tt_src")
    spark.sql("CREATE TABLE graftc.default.tt_tbl USING graftlake " +
      "AS SELECT * FROM tt_src")
    val t = graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "tt_tbl").toString)
    val v1 = t.version
    spark.sql("INSERT INTO graftc.default.tt_tbl VALUES (999)")
    assert(spark.read.option("versionAsOf", v1)
      .table("graftc.default.tt_tbl").count() == 30,
      "versionAsOf read option must pin the pre-insert snapshot")
    assert(spark.read.table("graftc.default.tt_tbl").count() == 31)
    spark.sql("DROP TABLE graftc.default.tt_tbl")
  }

  test("metadata-column reads are governed: selecting _graft_file, " +
      "_graft_pos or _graft_row_id returns the rows and values of the plain read") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(10).withColumn("secret", col("id") * 100)
      .repartition(2).createOrReplaceTempView("gov_meta_src")
    spark.sql("CREATE TABLE graftc.default.gov_meta USING graftlake " +
      "TBLPROPERTIES ('graft.rowTracking' = 'true') AS SELECT * FROM gov_meta_src")
    val t = graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "gov_meta").toString)
    // the policy verbs have no catalog route; install them on the path
    t.setRowFilter("id < 5")
    t.setColumnMask("secret", "-1")
    def rows(extra: String, where: String = ""): Seq[(Long, Long)] =
      spark.sql(s"SELECT id, secret$extra FROM graftc.default.gov_meta $where")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val plain = rows("")
    assert(plain == (0L until 5L).map(_ -> -1L))
    Seq("_graft_file", "_graft_pos", "_graft_row_id").foreach { c =>
      assert(rows(s", $c") == plain,
        s"selecting $c must not bypass the row filter or the mask")
      assert(rows(s", $c", "WHERE id >= 3") == plain.filter(_._1 >= 3),
        s"a pushed filter next to $c must not bypass the policy either")
    }
    spark.sql("DROP TABLE graftc.default.gov_meta")
  }

  test("a row-filtered source of a catalog MERGE and of an IN-subquery DELETE is governed") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.gov_dml_src USING graftlake " +
      "AS SELECT id, CAST(-1 AS BIGINT) AS v FROM range(10)")
    spark.sql("CREATE TABLE graftc.default.gov_dml_tgt USING graftlake " +
      "AS SELECT id, id AS v FROM range(10)")
    graft.lake.GraftTable.forPath(spark,
      java.nio.file.Paths.get(tmpWarehouse, "default", "gov_dml_src").toString)
      .setRowFilter("current_user() = 'admin' OR id < 4")
    def n(where: String): Long = spark.sql(
      s"SELECT COUNT(*) FROM graftc.default.gov_dml_tgt WHERE $where").head().getLong(0)
    val key = graft.lake.GraftTable.PrincipalConf
    spark.conf.set(key, "analyst")
    try {
      spark.sql("MERGE INTO graftc.default.gov_dml_tgt AS t " +
        "USING graftc.default.gov_dml_src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
      assert(n("v = -1") == 4, "only the source rows the principal sees may match")
      spark.sql("DELETE FROM graftc.default.gov_dml_tgt " +
        "WHERE id IN (SELECT id FROM graftc.default.gov_dml_src)")
      assert(n("true") == 6 && n("id < 4") == 0,
        "only the subquery rows the principal sees may delete")
    } finally spark.conf.unset(key)
    Seq("gov_dml_src", "gov_dml_tgt").foreach(t => spark.sql(s"DROP TABLE graftc.default.$t"))
  }

  test("catalog-named dimension broadcasts at runtime via AQE sizes") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    graft.Tables(spark, sfDir, "nation").createOrReplaceTempView("bc_nation")
    graft.Tables(spark, sfDir, "orders").createOrReplaceTempView("bc_orders")
    spark.sql("CREATE TABLE graftc.default.bc_dim USING graftlake " +
      "AS SELECT * FROM bc_nation")
    spark.sql("CREATE TABLE graftc.default.bc_fact USING graftlake " +
      "AS SELECT * FROM bc_orders")
    val joined = spark.sql(
      "SELECT n_name, COUNT(*) AS n FROM graftc.default.bc_fact f " +
        "JOIN graftc.default.bc_dim d ON f.o_custkey % 25 = d.n_nationkey " +
        "GROUP BY n_name")
    // a catalog read is the governed read's parquet scan, whose file
    // index reports the dim's size: the static planner already
    // broadcasts it, before AQE sees any runtime size
    val initialPlan = joined.queryExecution.executedPlan.toString
    assert(initialPlan.contains("isFinalPlan=false") &&
      initialPlan.contains("BroadcastHashJoin"),
      s"the pre-AQE plan must broadcast the dim:\n${initialPlan.take(1200)}")
    assert(joined.collect().nonEmpty) // materialize THIS plan → AQE final
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(200))
    assert(finalPlan.contains("BroadcastHashJoin"),
      "AQE must broadcast the KB-scale catalog dim at runtime, " +
        s"final plan:\n${finalPlan.take(1200)}")
    spark.sql("DROP TABLE graftc.default.bc_dim")
    spark.sql("DROP TABLE graftc.default.bc_fact")
  }

  test("streaming by catalog name: readStream.table with options, " +
      "writeStream.toTable exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")

    // --- read side: table as a stream, incremental by log version ---
    spark.sql("CREATE TABLE graftc.default.st_src (k INT, v STRING) USING graftlake")
    spark.sql("INSERT INTO graftc.default.st_src VALUES (1, 'a'), (2, 'b')")
    val q1 = spark.readStream.table("graftc.default.st_src")
      .writeStream.format("memory").queryName("cat_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    assert(spark.table("cat_stream_out").count() == 2)
    // a later commit arrives incrementally on restart of the same sink
    spark.sql("INSERT INTO graftc.default.st_src VALUES (3, 'c')")
    val q2 = spark.readStream.table("graftc.default.st_src")
      .writeStream.format("memory").queryName("cat_stream_out2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.table("cat_stream_out2").count() == 3)

    // --- reader OPTIONS must reach the V1 source (Spark's own V2->V1
    // fallback drops them; the injected rule is what carries them):
    // readChangeFeed changes the stream's schema itself
    val cdf = spark.readStream
      .option("readChangeFeed", "true")
      .table("graftc.default.st_src")
    assert(cdf.schema.fieldNames.contains("_change_type"),
      s"readChangeFeed option must flow to the source, " +
        s"got schema ${cdf.schema.simpleString}")
    val q3 = cdf.writeStream.format("memory").queryName("cat_stream_cdf")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    val changes = spark.table("cat_stream_cdf")
    assert(changes.count() == 3 &&
      changes.filter(col("_change_type") === "insert").count() == 3)

    // --- write side: toTable on an EXISTING catalog table ---
    spark.sql("CREATE TABLE graftc.default.st_dst (k INT, v STRING) USING graftlake")
    val srcDir = tmpDir("cat-stream-src")
    spark.range(10).selectExpr("cast(id as int) k", "cast(id as string) v")
      .repartition(2).write.parquet(srcDir)
    val q4 = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
      .writeStream.format("graftlake")
      .option("checkpointLocation", tmpDir("cat-stream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable("graftc.default.st_dst")
    q4.awaitTermination(120000)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.st_dst")
      .head().getLong(0) == 10)

    // the streamed-into table is a normal graft table: maintenance
    // SQL and batch reads see the same rows
    assert(spark.sql("DESCRIBE HISTORY graftc.default.st_dst").count() >= 1)

    Seq("st_src", "st_dst").foreach(t =>
      spark.sql(s"DROP TABLE graftc.default.$t"))
  }

  test("DataFrameWriterV2 on catalog names: append, overwrite(cond) = " +
      "replaceWhere, overwritePartitions = dynamic overwrite") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.w2 (k INT, part STRING) " +
      "USING graftlake PARTITIONED BY (part)")
    def rows(): Map[String, Long] =
      spark.sql("SELECT part, COUNT(*) AS n FROM graftc.default.w2 GROUP BY part")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    spark.range(4).selectExpr("cast(id as int) k", "'a' part")
      .writeTo("graftc.default.w2").append()
    spark.range(3).selectExpr("cast(id as int) k", "'b' part")
      .writeTo("graftc.default.w2").append()
    assert(rows() == Map("a" -> 4L, "b" -> 3L))

    // overwrite by condition routes to L20 replaceWhere: only the
    // matching slice is replaced, in one commit
    spark.range(2).selectExpr("cast(id + 100 as int) k", "'a' part")
      .writeTo("graftc.default.w2").overwrite(col("part") === "a")
    assert(rows() == Map("a" -> 2L, "b" -> 3L))
    assert(spark.sql("SELECT MIN(k) AS mn FROM graftc.default.w2 " +
      "WHERE part = 'a'").head().getInt(0) == 100)
    val hist = spark.sql("DESCRIBE HISTORY graftc.default.w2")
    assert(hist.filter(col("operation") === "REPLACE WHERE").count() == 1)

    // overwritePartitions: only partitions PRESENT in the new data
    // are replaced (L63); untouched partitions survive
    spark.range(1).selectExpr("cast(id + 200 as int) k", "'b' part")
      .writeTo("graftc.default.w2").overwritePartitions()
    assert(rows() == Map("a" -> 2L, "b" -> 1L))

    // an untranslatable overwrite condition must refuse, never
    // over-delete (same exact-only contract as DELETE FROM)
    val before = rows()
    intercept[Exception] {
      spark.range(1).selectExpr("cast(id as int) k", "'a' part")
        .writeTo("graftc.default.w2").overwrite(pmod(col("k"), lit(2)) === 0)
    }
    assert(rows() == before, "failed overwrite must leave the table untouched")

    // SQL INSERT OVERWRITE in dynamic mode rides the same path
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql("INSERT OVERWRITE graftc.default.w2 VALUES (300, 'a')")
      assert(rows() == Map("a" -> 1L, "b" -> 1L))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)

    spark.sql("DROP TABLE graftc.default.w2")
  }

  test("ALTER TABLE column surface on catalog names: add, rename, drop, " +
      "widen type, unset property") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.alt (k INT, v STRING) USING graftlake")
    spark.sql("INSERT INTO graftc.default.alt VALUES (1, 'a'), (2, 'b')")

    spark.sql("ALTER TABLE graftc.default.alt ADD COLUMN extra DOUBLE")
    assert(spark.table("graftc.default.alt").schema.fieldNames.toSeq ==
      Seq("k", "v", "extra"))
    // existing rows read the new column as null, no rewrite
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.alt " +
      "WHERE extra IS NULL").head().getLong(0) == 2)

    spark.sql("ALTER TABLE graftc.default.alt RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM graftc.default.alt ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))

    // L61 metadata-only widening: INT -> BIGINT, old files decode
    spark.sql("ALTER TABLE graftc.default.alt ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("graftc.default.alt").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT SUM(k) AS s FROM graftc.default.alt")
      .head().getLong(0) == 3L)
    // a NARROWING change must refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE graftc.default.alt ALTER COLUMN k TYPE INT")
    }

    spark.sql("ALTER TABLE graftc.default.alt DROP COLUMN extra")
    assert(spark.table("graftc.default.alt").schema.fieldNames.toSeq ==
      Seq("k", "label"))

    spark.sql("ALTER TABLE graftc.default.alt SET TBLPROPERTIES ('x' = '1')")
    spark.sql("ALTER TABLE graftc.default.alt UNSET TBLPROPERTIES ('x')")
    val props = spark.sql("SHOW TBLPROPERTIES graftc.default.alt")
      .collect().map(_.getString(0))
    assert(!props.contains("x"))

    // constraint DDL routes through the injected grammar: CHECK is
    // write-enforced, PK/FK are informational, DROP removes
    spark.sql("ALTER TABLE graftc.default.alt " +
      "ADD CONSTRAINT k_pos CHECK (k >= 0)")
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.default.alt (k) VALUES (-5)")
    }
    spark.sql("ALTER TABLE graftc.default.alt " +
      "ADD CONSTRAINT pk_k PRIMARY KEY (k) NOT ENFORCED")
    spark.sql("CREATE TABLE graftc.default.alt_ref (rid BIGINT) USING graftlake")
    spark.sql("ALTER TABLE graftc.default.alt ADD CONSTRAINT fk_r " +
      "FOREIGN KEY (k) REFERENCES graftc.default.alt_ref (rid) NOT ENFORCED")
    val cprops = spark.sql("SHOW TBLPROPERTIES graftc.default.alt")
      .collect().map(_.getString(0))
    assert(cprops.exists(_.contains("k_pos")),
      s"CHECK constraint must land in table properties: ${cprops.mkString(",")}")
    spark.sql("ALTER TABLE graftc.default.alt DROP CONSTRAINT k_pos")
    spark.sql("INSERT INTO graftc.default.alt (k) VALUES (-5)") // now allowed

    Seq("alt", "alt_ref").foreach(n =>
      spark.sql(s"DROP TABLE graftc.default.$n"))
  }

  test("external LOCATION table keeps data on DROP; ALTER SET TBLPROPERTIES") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    val ext = tmpDir("catalog-external")
    spark.range(50).createOrReplaceTempView("ext_src")
    spark.sql("CREATE TABLE graftc.default.ext_tbl USING graftlake " +
      s"LOCATION '$ext' AS SELECT * FROM ext_src")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.ext_tbl")
      .head().getLong(0) == 50)
    spark.sql("ALTER TABLE graftc.default.ext_tbl " +
      "SET TBLPROPERTIES ('graft.demo'='on')")
    assert(graft.lake.GraftTable.forPath(spark, ext).snapshot
      .metadata.get.properties.get("graft.demo").contains("on"))
    spark.sql("DROP TABLE graftc.default.ext_tbl")
    // external contract: pointer gone, data intact
    assert(new graft.lake.TxnLog(ext).exists,
      "dropping an external table must keep its data")
    intercept[Exception](
      spark.sql("SELECT * FROM graftc.default.ext_tbl").collect())
  }

  test("CREATE TABLE with an absolute LOCATION writes there and appends") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    val ext = java.nio.file.Paths.get(tmpDir("catalog-abs-location")).toAbsolutePath.toString
    spark.sql("CREATE TABLE graftc.default.abs_loc (id BIGINT, v STRING) " +
      s"USING graftlake LOCATION '$ext'")
    spark.sql("INSERT INTO graftc.default.abs_loc VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT COUNT(*) FROM graftc.default.abs_loc").head().getLong(0) == 2)
    assert(new graft.lake.TxnLog(ext).exists, "the table must live at its LOCATION")
    spark.sql("DROP TABLE graftc.default.abs_loc")
    assert(new graft.lake.TxnLog(ext).exists, "an external table keeps its data on DROP")
  }

  test("backtick-quoted hyphenated names route through the maintenance verbs") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.range(200).withColumn("v", col("id") * 2)
      .createOrReplaceTempView("bq_src")
    // Spark's own parser handles the backticks on CREATE/SELECT/DELETE;
    // the injected parser must do the same for the graft-only verbs
    // instead of letting `OPTIMIZE` fall through to a delegate parse error
    spark.sql("CREATE TABLE graftc.default.`my-sales` USING graftlake " +
      "AS SELECT * FROM bq_src")
    spark.range(10).selectExpr("id", "id * 3 AS v")
      .repartition(4)
      .writeTo("graftc.default.`my-sales`").append()
    val m = spark.sql("OPTIMIZE graftc.default.`my-sales`")
    assert(m.columns.toSeq == Seq("metric", "value"))
    val hist = spark.sql("DESCRIBE HISTORY graftc.default.`my-sales`")
    assert(hist.count() >= 3) // CTAS, append, optimize
    assert(hist.select("operation").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().contains("OPTIMIZE"))
    spark.sql("DELETE FROM graftc.default.`my-sales` WHERE id < 5")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.`my-sales`")
      .head().getLong(0) == 200L)
    assert(spark.sql("DESCRIBE DETAIL graftc.default.`my-sales`")
      .head().getAs[Long]("numRecords") == 200L)
    // quote-aware split: quoted part carrying a DOT still resolves
    spark.sql("CREATE TABLE graftc.default.`dotted.name` USING graftlake " +
      "AS SELECT * FROM bq_src")
    assert(spark.sql("DESCRIBE HISTORY graftc.default.`dotted.name`").count() >= 1)
  }

  test("generated-partition delta fast path: an UPDATE not touching the " +
      "source column commits without the restage pass") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.default")
    spark.sql("CREATE TABLE graftc.default.gen_mor " +
      "(event_id BIGINT, ts TIMESTAMP, v BIGINT) " +
      "USING graftlake PARTITIONED BY (days(ts))")
    val dir = java.nio.file.Paths.get(tmpWarehouse, "default", "gen_mor")
    val t = graft.lake.GraftTable.forPath(spark, dir.toString)
    t.setTableProperties(Map("graft.dml.mode" -> "merge-on-read"))
    spark.sql("INSERT INTO graftc.default.gen_mor (event_id, ts, v) VALUES " +
      "(1, TIMESTAMP'2024-03-01 10:00:00', 10), " +
      "(2, TIMESTAMP'2024-03-01 23:59:00', 20), " +
      "(3, TIMESTAMP'2024-03-02 00:30:00', 30)")

    def lastMetrics(): Map[String, String] =
      t.history(1).collect().head.getAs[String]("metrics")
        .split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap

    // an UPDATE that leaves ts (and ts_day) alone masks the rows and
    // appends post-images in their own partitions: nothing restages
    val files0 = t.snapshot.activeFiles.map(_.path).toSet
    spark.sql("UPDATE graftc.default.gen_mor SET v = v + 1 WHERE event_id <= 2")
    val fast = lastMetrics()
    assert(fast("numDeletionVectors") == "1", s"fixture must stay merge-on-read: $fast")
    assert(files0.subsetOf(t.snapshot.activeFiles.map(_.path).toSet),
      "merge-on-read must not rewrite a file")
    assert(t.snapshot.activeFiles.filterNot(f => files0(f.path))
      .forall(_.partitionValues.get("ts_day").contains("2024-03-01")),
      "post-images keep their partition")
    assert(spark.sql("SELECT SUM(v) AS s FROM graftc.default.gen_mor")
      .head().getLong(0) == 11 + 21 + 30)
    // partition pruning still intact after the masked commit
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.gen_mor " +
      "WHERE ts_day = DATE'2024-03-01'").head().getLong(0) == 2)

    // an UPDATE that MOVES ts across the derived boundary re-derives
    // ts_day, so the post-image lands in the new partition
    spark.sql("UPDATE graftc.default.gen_mor " +
      "SET ts = TIMESTAMP'2024-03-05 09:00:00' WHERE event_id = 1")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.gen_mor " +
      "WHERE ts_day = DATE'2024-03-05'").head().getLong(0) == 1,
      "the regenerated derived value must land in the new partition")
    assert(t.snapshot.activeFiles.exists(
      _.partitionValues.get("ts_day").contains("2024-03-05")))
    assert(spark.sql("SELECT COUNT(*) AS n FROM graftc.default.gen_mor " +
      "WHERE ts >= TIMESTAMP'2024-03-05 00:00:00'").head().getLong(0) == 1)
    spark.sql("DROP TABLE graftc.default.gen_mor")
  }
}
