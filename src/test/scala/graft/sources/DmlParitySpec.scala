package graft.sources

import graft.GraftSparkSpec
import graft.lake.{AddDV, GraftSql, GraftTable, RemoveFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The same DML statement through each entry point — the path API,
  * `GraftSql` on a registered name, and catalog `spark.sql` — lands
  * the same table. For DELETE / UPDATE / MERGE under copy-on-write
  * and merge-on-read (`graft.dml.mode`), on one fixture with change
  * data feed, row tracking and a partition column, every entry point
  * must agree on:
  *   - the final rows;
  *   - the stable `_graft_row_id` of every row that existed before;
  *   - the commit shape: a deletion vector and no removed file under
  *     merge-on-read, removed files and no deletion vector under
  *     copy-on-write, and the same files removed as the path API;
  *   - the change feed, as typed rows.
  */
class DmlParitySpec extends GraftSparkSpec {

  private lazy val warehouse = tmpDir("dml-parity-warehouse")
  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftdml", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdml.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdml.default")
  }

  private def fixture(path: String, mor: Boolean): GraftTable = {
    val rows = spark.range(60)
      .withColumn("part", concat(lit("p"), pmod(col("id"), lit(3)).cast("string")))
      .withColumn("v", col("id") * 10)
      .repartition(2)
    GraftTable.create(spark, path, rows, partitionBy = Seq("part"),
      properties = Map("graft.cdf" -> "true", "graft.rowTracking" -> "true") ++
        (if (mor) Map("graft.dml.mode" -> "merge-on-read") else Map.empty))
  }

  private def mergeSource(): DataFrame =
    spark.range(10, 16).select(col("id"),
        concat(lit("p"), pmod(col("id"), lit(3)).cast("string")).as("part"),
        lit(-1L).as("v"))
      .unionByName(spark.range(1000, 1003).select(col("id"), lit("p0").as("part"),
        (col("id") + 1).as("v")))

  private val deleteWhere = "id % 5 = 0 AND id < 40"
  private val updateWhere = "id < 20"
  private val mergeSql = "USING dml_par_src AS s ON t.id = s.id " +
    "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"

  /** One statement's observable outcome on one table. */
  private case class Outcome(rows: Set[(Long, String, Long)],
      ids: Map[Long, Long], dvAdded: Int, filesRemoved: Int,
      feed: Map[(Long, String, Long, String), Int])

  private def run(t: GraftTable)(statement: => Unit): Outcome = {
    val before = t.toDFWithRowIds.select("id", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v0 = t.version
    statement
    val t1 = GraftTable.forPath(spark, t.path)
    val v1 = t1.version
    assert(v1 == v0 + 1, s"one statement must make one commit: v$v0 -> v$v1")
    val actions = t1.log.readCommit(v1)
    val after = t1.toDFWithRowIds.select("id", "part", "v", "row_id").collect()
    val feed = t1.changeFeed(v0, v1).select("id", "part", "v", "_change_type")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .groupBy(identity).map { case (k, vs) => k -> vs.size }
    Outcome(
      after.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet,
      after.map(r => r.getLong(0) -> r.getLong(3)).toMap
        .filter { case (id, _) => before.contains(id) },
      actions.count(_.isInstanceOf[AddDV]),
      actions.count(_.isInstanceOf[RemoveFile]),
      feed)
  }

  private def parity(op: String, mor: Boolean)(
      pathApi: GraftTable => Unit, graftSql: String => String,
      catalog: String => String): Unit = {
    useCatalog()
    mergeSource().createOrReplaceTempView("dml_par_src")
    val tag = s"${op}_${if (mor) "mor" else "cow"}"
    val viaPath = {
      val t = fixture(tmpDir(s"dml-par-$tag-path"), mor)
      run(t)(pathApi(t))
    }
    val viaSql = {
      val gsql = new GraftSql(spark)
      val t = fixture(tmpDir(s"dml-par-$tag-sql"), mor)
      gsql.register(s"par_$tag", t.path)
      run(t)(gsql.sql(graftSql(s"par_$tag")).collect())
    }
    val viaCatalog = {
      val t = fixture(java.nio.file.Paths.get(warehouse, "default", tag).toString, mor)
      try run(t)(spark.sql(catalog(s"graftdml.default.$tag")).collect())
      finally spark.sql(s"DROP TABLE IF EXISTS graftdml.default.$tag")
    }
    for ((name, o) <- Seq("GraftSql" -> viaSql, "catalog" -> viaCatalog)) {
      assert(o.rows == viaPath.rows, s"$tag: $name final rows differ from the path API")
      assert(o.ids == viaPath.ids,
        s"$tag: $name changed the row ids of surviving rows")
      assert(o.filesRemoved == viaPath.filesRemoved,
        s"$tag: $name removed ${o.filesRemoved} files, the path API ${viaPath.filesRemoved}")
      assert(o.feed == viaPath.feed, s"$tag: $name change feed differs from the path API")
      if (mor) {
        assert(o.dvAdded == 1 && o.filesRemoved == 0,
          s"$tag: $name must mask (1 DV, 0 removes), " +
            s"got ${o.dvAdded} DV, ${o.filesRemoved} removes")
      } else {
        assert(o.dvAdded == 0 && o.filesRemoved > 0,
          s"$tag: $name must rewrite (0 DV, removes > 0), " +
            s"got ${o.dvAdded} DV, ${o.filesRemoved} removes")
      }
    }
    assert(viaPath.dvAdded == (if (mor) 1 else 0))
  }

  for (mor <- Seq(false, true)) {
    val mode = if (mor) "merge-on-read" else "copy-on-write"

    test(s"DELETE parity across entry points, $mode") {
      parity("delete", mor)(
        t => if (mor) t.deleteMergeOnRead(expr(deleteWhere)) else t.delete(expr(deleteWhere)),
        n => s"DELETE FROM $n WHERE $deleteWhere",
        n => s"DELETE FROM $n WHERE $deleteWhere")
    }

    test(s"UPDATE parity across entry points, $mode") {
      val set = Map("v" -> (col("v") + 100))
      parity("update", mor)(
        t => if (mor) t.updateMergeOnRead(expr(updateWhere), set)
          else t.update(expr(updateWhere), set),
        n => s"UPDATE $n SET v = v + 100 WHERE $updateWhere",
        n => s"UPDATE $n SET v = v + 100 WHERE $updateWhere")
    }

    test(s"MERGE parity across entry points, $mode") {
      parity("merge", mor)(
        { t =>
          val b = t.mergeBuilder(spark.table("dml_par_src"), "id")
            .whenMatchedUpdate(Map("v" -> col("src_v")))
            .whenNotMatchedInsertAll()
          (if (mor) b.mergeOnRead() else b).execute()
        },
        n => s"MERGE INTO $n AS t $mergeSql",
        n => s"MERGE INTO $n AS t $mergeSql")
    }
  }

  // statements whose shapes only a full SQL grammar reads: no WHERE on
  // an UPDATE, a subquery MERGE source, an aliased DELETE target
  test("an UPDATE with no WHERE agrees across entry points, copy-on-write") {
    parity("update_all", mor = false)(_.update(lit(true), Map("v" -> lit(0L))),
      n => s"UPDATE $n SET v = 0", n => s"UPDATE $n SET v = 0")
  }

  test("a MERGE whose source is a subquery agrees across entry points, merge-on-read") {
    val using = "USING (SELECT id, part, v * 2 AS v FROM dml_par_src WHERE id < 1002) AS s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    parity("merge_subquery", mor = true)(
      t => t.mergeBuilder(spark.sql("SELECT id, part, v * 2 AS v FROM dml_par_src WHERE id < 1002"),
          "id").whenMatchedUpdate(Map("v" -> col("src_v"))).whenNotMatchedInsertAll()
        .mergeOnRead().execute(),
      n => s"MERGE INTO $n AS t $using", n => s"MERGE INTO $n AS t $using")
  }

  test("a DELETE on an aliased target agrees across entry points, copy-on-write") {
    parity("delete_alias", mor = false)(_.delete(expr("id < 5 OR v = 300")),
      n => s"DELETE FROM $n AS x WHERE x.id < 5 OR x.v = 300",
      n => s"DELETE FROM $n AS x WHERE x.id < 5 OR x.v = 300")
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("UPDATE SET * / INSERT * refuse alike when the source has a column the table lacks") {
    useCatalog()
    spark.range(10, 13).selectExpr("id", "'p1' AS part", "id AS v", "'x' AS extra")
      .createOrReplaceTempView("dml_star_src")
    val gsql = new GraftSql(spark)
    val sqlT = fixture(tmpDir("dml-star-sql"), mor = false)
    gsql.register("star_sql", sqlT.path)
    val catT = fixture(java.nio.file.Paths.get(warehouse, "default", "star_cat").toString,
      mor = false)
    val using = "AS t USING dml_star_src AS s ON t.id = s.id"
    val msg = "would drop source column(s) extra that"
    try {
      for (tail <- Seq("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          "WHEN MATCHED THEN UPDATE SET *", "WHEN NOT MATCHED THEN INSERT *")) {
        val viaSql = intercept[Exception](gsql.sql(s"MERGE INTO star_sql $using $tail").collect())
        assert(messages(viaSql).contains(msg), s"GraftSql: $tail\n${messages(viaSql)}")
        val viaCatalog = intercept[Exception](
          spark.sql(s"MERGE INTO graftdml.default.star_cat $using $tail").collect())
        assert(messages(viaCatalog).contains(msg), s"catalog: $tail\n${messages(viaCatalog)}")
      }
      assert(sqlT.version == 0 && GraftTable.forPath(spark, catT.path).version == 0,
        "a refused MERGE commits nothing")
    } finally spark.sql("DROP TABLE IF EXISTS graftdml.default.star_cat")
  }

  test("an INSERT listing every column from a wider source agrees across entry points") {
    val using = "USING (SELECT *, 'x' AS extra FROM dml_par_src) AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.id, s.part, s.v)"
    parity("merge_insert_cols", mor = false)(
      _.mergeBuilder(spark.table("dml_par_src"), "id").whenMatchedUpdate(Map("v" -> col("src_v")))
        .whenNotMatchedInsertAll().execute(),
      n => s"MERGE INTO $n AS t $using", n => s"MERGE INTO $n AS t $using")
  }

  test("a refused MERGE WITH SCHEMA EVOLUTION leaves the table's version and schema") {
    useCatalog()
    spark.range(10, 13).selectExpr("id AS k", "'p1' AS part", "id AS v", "'x' AS extra")
      .createOrReplaceTempView("dml_evolve_src")
    val gsql = new GraftSql(spark)
    val sqlT = fixture(tmpDir("dml-evolve-sql"), mor = false)
    gsql.register("evolve_sql", sqlT.path)
    val catT = fixture(java.nio.file.Paths.get(warehouse, "default", "evolve_cat").toString,
      mor = false)
    def merge(n: String) = s"MERGE WITH SCHEMA EVOLUTION INTO $n AS t " +
      "USING dml_evolve_src AS s ON t.id = s.k WHEN MATCHED THEN DELETE"
    val schema = sqlT.snapshot.schema
    try {
      for ((via, stmt) <- Seq[(String, () => Unit)](
          "GraftSql" -> (() => gsql.sql(merge("evolve_sql")).collect()),
          "catalog" -> (() => spark.sql(merge("graftdml.default.evolve_cat")).collect()))) {
        val e = intercept[Exception](stmt())
        assert(messages(e).contains("MERGE ON needs at least one same-column key equality"),
          s"$via: ${messages(e)}")
      }
      for (t <- Seq(sqlT, catT).map(t => GraftTable.forPath(spark, t.path))) {
        assert(t.version == 0, s"${t.path}: a refused MERGE committed v${t.version}")
        assert(t.snapshot.schema == schema, s"${t.path}: schema became ${t.snapshot.schema}")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graftdml.default.evolve_cat")
  }

  test("BETWEEN conditions remove the same files through every entry point, copy-on-write") {
    val between = "part BETWEEN 'p0' AND 'p1' AND v BETWEEN 100 AND 400"
    parity("delete_between", mor = false)(_.delete(expr(between)),
      n => s"DELETE FROM $n WHERE $between", n => s"DELETE FROM $n WHERE $between")
    parity("update_between", mor = false)(_.update(expr(between), Map("v" -> (col("v") + 100))),
      n => s"UPDATE $n SET v = v + 100 WHERE $between",
      n => s"UPDATE $n SET v = v + 100 WHERE $between")
  }

  test("MERGE shapes the planner cannot express refuse alike in GraftSql and at catalog analysis") {
    useCatalog()
    spark.range(3).selectExpr("id AS k", "id", "CAST(0 AS BIGINT) AS v")
      .createOrReplaceTempView("dml_shape_src")
    val gsql = new GraftSql(spark)
    val sqlT = fixture(tmpDir("dml-shape-sql"), mor = false)
    gsql.register("shape_sql", sqlT.path)
    val catT = fixture(java.nio.file.Paths.get(warehouse, "default", "shape_cat").toString,
      mor = false)
    val using = "AS t USING dml_shape_src AS s"
    val shapes = Seq(
      s"$using ON t.id = s.k WHEN MATCHED THEN DELETE" ->
        "MERGE ON needs at least one same-column key equality",
      s"$using ON t.id = s.id WHEN MATCHED AND t.v > 5 THEN UPDATE SET v = s.v " +
        "WHEN MATCHED THEN UPDATE SET v = 0" ->
        "MERGE supports at most one WHEN MATCHED ... UPDATE clause",
      s"$using ON t.id = s.id WHEN MATCHED AND t.v > 5 THEN DELETE " +
        "WHEN MATCHED THEN DELETE" ->
        "MERGE supports at most one WHEN MATCHED ... DELETE clause",
      s"$using ON t.id = s.id WHEN NOT MATCHED BY SOURCE AND t.v > 5 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE" ->
        "MERGE supports at most one WHEN NOT MATCHED BY SOURCE ... DELETE clause",
      s"$using ON t.id = s.id WHEN MATCHED AND s.v > 0 THEN DELETE" ->
        "a WHEN MATCHED condition may read only target columns")
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    try {
      for ((tail, msg) <- shapes) {
        val viaSql = intercept[Exception](gsql.sql(s"MERGE INTO shape_sql $tail").collect())
        assert(messages(viaSql).contains(msg), s"GraftSql: $tail\n${messages(viaSql)}")
        // the catalog statement refuses while it analyzes, before it runs
        val stmt = s"MERGE INTO graftdml.default.shape_cat $tail"
        val viaCatalog = intercept[Exception](spark.sessionState
          .executePlan(spark.sessionState.sqlParser.parsePlan(stmt)).assertAnalyzed())
        assert(messages(viaCatalog).contains(msg), s"catalog: $tail\n${messages(viaCatalog)}")
      }
      assert(sqlT.version == 0 && GraftTable.forPath(spark, catT.path).version == 0,
        "a refused MERGE commits nothing")
    } finally spark.sql("DROP TABLE IF EXISTS graftdml.default.shape_cat")
  }
}
