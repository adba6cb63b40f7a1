package graft.sources

import graft.GraftSparkSpec
import graft.lake.{GraftSql, GraftTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Every read surface runs the same plan and prunes on the real read:
  * the path API (`readWhere`, `toDF.filter`), `GraftSql`, catalog
  * `spark.sql` (live, `VERSION AS OF`, metadata columns) and
  * `format("graftlake")` all execute a parquet scan over the table's
  * file index, whose `listFiles` skips files by partition value,
  * footer stats, bloom, generated-column bound, variant shred and
  * renamed column alike. The scan's own `numFiles` metric is the
  * evidence, not a side API.
  */
class ReadSurfaceSpec extends GraftSparkSpec with AdaptiveSparkPlanHelper {

  private lazy val warehouse = tmpDir("read-surface-warehouse")
  private val name = "graftrs.default.rs"

  /** 4000 rows in 8 files, clustered on `id`, over 4 `ts_day`
    * partitions generated from `ts`; a bloom on the scattered `k`, a
    * shred of `pay`'s `$.m.score`, one deletion vector and `r` renamed
    * to `r2`.
    */
  private lazy val table: GraftTable = {
    spark.conf.set("spark.sql.catalog.graftrs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrs.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftrs.default")
    val path = tmpDir("read-surface-table")
    spark.sql(s"CREATE TABLE $name (id BIGINT, k BIGINT, ts TIMESTAMP, r BIGINT, " +
      s"pay VARIANT) USING graftlake PARTITIONED BY (days(ts)) LOCATION '$path'")
    val t = GraftTable.forPath(spark, path)
    t.setVariantShred("pay", Seq("$.m.score" -> "bigint"))
    t.append(rows(0, 4000).repartitionByRange(8, col("id")))
    t.computeBloomFilter("k")
    t.deleteMergeOnRead(col("id") === 5L)
    t.renameColumn("r", "r2")
    t
  }

  private def rows(from: Int, until: Int): DataFrame =
    spark.range(from, until).select(
      col("id"),
      (col("id") * 7919L % 100003L).as("k"),
      expr("timestamp_seconds(1704067200L + (id DIV 1000) * 86400L + id % 1000)").as("ts"),
      (col("id") * 2L).as("r"),
      parse_json(format_string("{\"m\": {\"score\": %d}}", col("id"))).as("pay"))

  /** Each predicate prunes through a different mechanism. */
  private lazy val predicates = Seq(
    "stats range" -> "id < 300",
    "partition equality" -> "ts_day = DATE'2024-01-02'",
    "bloom equality" -> s"k = ${2500L * 7919L % 100003L}",
    "generated column's source" -> "ts < TIMESTAMP'2024-01-02 00:00:00'",
    "shredded variant_get" -> "variant_get(pay, '$.m.score', 'bigint') < 300",
    "renamed column" -> "r2 < 600")

  /** The ids `df` returns, and the files its table scans read. */
  private def run(df: DataFrame): (Seq[Long], Seq[Long]) = {
    val read = df.select("id")
    val ids = read.collect().map(_.getLong(0)).toSeq.sorted
    val plan = read.queryExecution.executedPlan
    val rddScans = collect(plan) { case p if rddScan(p) => p.nodeName }
    assert(rddScans.isEmpty && !plan.toString.contains("V1ScanWrapper"),
      s"the read must not run through an RDD scan: $rddScans\n$plan")
    val files = collect(plan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[GraftFileIndex] =>
        s.metrics("numFiles").value
    }
    assert(files.nonEmpty, s"no table scan in the plan:\n$plan")
    (ids, files)
  }

  private def rddScan(p: SparkPlan): Boolean =
    Set("RDDScanExec", "ExternalRDDScanExec", "RowDataSourceScanExec")
      .contains(p.getClass.getSimpleName)

  test("every read surface returns the same rows and prunes files at planning") {
    val t = table
    val total = t.snapshot.numFiles
    assert(total >= 8, s"fixture needs at least 8 files, got $total")
    assert(t.snapshot.dvFiles.nonEmpty && t.snapshot.colMap.nonEmpty)
    val gs = new GraftSql(spark)
    gs.register("rs", t.path)
    val v = t.version
    for ((what, p) <- predicates) {
      val expected = t.toDF.filter(expr(p)).select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(expected.nonEmpty, s"$what: the predicate must match rows")
      val surfaces = Seq(
        "readWhere" -> t.readWhere(expr(p)),
        "toDF.filter" -> t.toDF.filter(expr(p)),
        "GraftSql" -> gs.sql(s"SELECT * FROM rs WHERE $p"),
        "catalog" -> spark.sql(s"SELECT * FROM $name WHERE $p"),
        "catalog VERSION AS OF" -> spark.sql(s"SELECT * FROM $name VERSION AS OF $v WHERE $p"),
        "catalog metadata columns" ->
          spark.sql(s"SELECT id, _graft_file, _graft_pos FROM $name WHERE $p"),
        "format" -> spark.read.format("graftlake").load(t.path).filter(expr(p)))
      for ((surface, df) <- surfaces) {
        val (ids, files) = run(df)
        assert(ids == expected, s"$what via $surface returned other rows")
        assert(files.forall(n => n > 0 && n < total),
          s"$what via $surface must skip files at planning: scanned $files of $total")
      }
    }
  }

  test("a catalog or format DataFrame serves the snapshot it was analyzed " +
      "against; each new statement resolves afresh") {
    val t = table
    val catalog = spark.sql(s"SELECT id FROM $name")
    val format = spark.read.format("graftlake").load(t.path)
    val before = catalog.count()
    assert(format.count() == before)
    t.append(rows(4000, 4100).withColumnRenamed("r", "r2"))
    assert(catalog.count() == before && format.count() == before,
      "a held DataFrame keeps the snapshot resolved at analysis")
    assert(spark.sql(s"SELECT id FROM $name").count() == before + 100)
    assert(spark.read.format("graftlake").load(t.path).count() == before + 100)
    assert(spark.table(name).count() == before + 100)
  }
}
