package graft.sources

import graft.GraftSparkSpec
import graft.lake.{GraftSql, TxnLog}
import org.apache.spark.sql.DataFrame

/** Every statement shape the session parser intercepts on catalog
  * names answers `spark.sql` with the same columns (names and types)
  * that [[GraftSql]] answers for the same statement on a registered
  * name. Both sides run the statements in the same order against twin
  * tables, so each statement sees the same table state.
  */
class CatalogRouteParitySpec extends GraftSparkSpec {

  private lazy val warehouse = tmpDir("parity-warehouse")

  /** How one entry point names its table and its foreign-key target,
    * where the table lives, and how a statement runs.
    */
  private final case class Side(name: String, ref: String, path: String,
      run: String => DataFrame)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  private def ts(s: Side, v: Long): String = fmt.format(
    java.time.Instant.ofEpochMilli(new TxnLog(s.path).commitTimestamp(v)))

  // one row per intercepted shape (and per variant of its grammar);
  // stateful rows come in an order both sides can replay
  private val statements: Seq[(String, Side => String)] = Seq(
    "OPTIMIZE" -> (s => s"OPTIMIZE ${s.name}"),
    "OPTIMIZE ZORDER" -> (s => s"OPTIMIZE ${s.name} ZORDER BY (id)"),
    "VACUUM DRY RUN" -> (s => s"VACUUM ${s.name} DRY RUN"),
    "VACUUM RETAIN" -> (s => s"VACUUM ${s.name} RETAIN 200 HOURS"),
    "VACUUM LITE" -> (s => s"VACUUM ${s.name} LITE DRY RUN"),
    "DESCRIBE HISTORY" -> (s => s"DESCRIBE HISTORY ${s.name} LIMIT 3"),
    "DESCRIBE DETAIL" -> (s => s"DESCRIBE DETAIL ${s.name}"),
    "ANALYZE" -> (s => s"ANALYZE TABLE ${s.name} COMPUTE STATISTICS"),
    "ADD CHECK" -> (s =>
      s"ALTER TABLE ${s.name} ADD CONSTRAINT id_pos CHECK (id >= 0)"),
    "DROP CONSTRAINT" -> (s =>
      s"ALTER TABLE ${s.name} DROP CONSTRAINT id_pos"),
    "ADD PRIMARY KEY" -> (s => s"ALTER TABLE ${s.name} ADD CONSTRAINT pk_id " +
      "PRIMARY KEY (id) NOT ENFORCED"),
    "ADD FOREIGN KEY" -> (s => s"ALTER TABLE ${s.name} ADD CONSTRAINT fk_id " +
      s"FOREIGN KEY (id) REFERENCES ${s.ref} (id) NOT ENFORCED"),
    "MERGE WITH SCHEMA EVOLUTION" -> (s =>
      s"MERGE WITH SCHEMA EVOLUTION INTO ${s.name} AS t USING parity_src AS s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"),
    "REORG" -> (s => s"REORG TABLE ${s.name} APPLY (PURGE)"),
    "FSCK DRY RUN" -> (s => s"FSCK REPAIR TABLE ${s.name} DRY RUN"),
    "FSCK" -> (s => s"FSCK REPAIR TABLE ${s.name}"),
    "SHOW PARTITIONS" -> (s => s"SHOW PARTITIONS ${s.name}"),
    "TABLE CHANGES" -> (s => s"TABLE CHANGES ${s.name} BETWEEN 1 AND 2"),
    "TABLE CHANGES TIMESTAMP" -> (s => s"TABLE CHANGES ${s.name} BETWEEN " +
      s"TIMESTAMP '${ts(s, 1)}' AND TIMESTAMP '${ts(s, 2)}'"),
    "RESTORE VERSION" -> (s => s"RESTORE TABLE ${s.name} TO VERSION AS OF 1"),
    "RESTORE TIMESTAMP" -> (s =>
      s"RESTORE TABLE ${s.name} TO TIMESTAMP AS OF '${ts(s, 2)}'"),
  )

  test("catalog-routed statements return GraftSql's columns") {
    spark.conf.set("spark.sql.catalog.graftpar", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftpar.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftpar.default")
    spark.range(60).selectExpr("id", "id * 2 AS v",
      "CONCAT('p', CAST(id % 3 AS STRING)) AS part").repartition(4)
      .createOrReplaceTempView("parity_base")
    spark.range(50, 70).selectExpr("id", "-1L AS v",
      "CONCAT('p', CAST(id % 3 AS STRING)) AS part", "'new' AS extra")
      .createOrReplaceTempView("parity_src")
    Seq("par", "par_ref").foreach(t => spark.sql(
      s"CREATE TABLE graftpar.default.$t USING graftlake PARTITIONED BY (part) " +
        "AS SELECT * FROM parity_base"))
    val gsql = new GraftSql(spark)
    Seq("reg", "reg_ref").foreach(n => gsql.registerCreate(n,
      tmpDir(s"parity-$n"), spark.table("parity_base"), Seq("part")))
    val catalog = Side("graftpar.default.par", "graftpar.default.par_ref",
      java.nio.file.Paths.get(warehouse, "default", "par").toString, spark.sql)
    val registered = Side("reg", "reg_ref", gsql.table("reg").path, gsql.sql)
    def columns(df: DataFrame): Seq[(String, String)] =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
    val mismatches = statements.flatMap { case (label, stmt) =>
      val want = columns(registered.run(stmt(registered)))
      val got = columns(catalog.run(stmt(catalog)))
      if (got == want) None else Some(s"$label: catalog $got, GraftSql $want")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    // the table above reaches every shape the catalog route intercepts
    val texts = statements.map(_._2(catalog))
    assert(GraftSql.catalogShapes.forall(sh =>
      texts.exists(sh.unapplySeq(_).isDefined)))
    Seq("par", "par_ref").foreach(t => spark.sql(s"DROP TABLE graftpar.default.$t"))
  }
}
