package graft.sources

import graft.GraftSparkSpec
import graft.lake.{GraftSql, GraftTable}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Generated DELETE / UPDATE conditions land the same rows through
  * `GraftSql` and catalog SQL as through the path API's `expr(cond)`.
  * Conditions mix comparisons, BETWEEN, IN lists, NOT, AND and OR over
  * a key, a partition column and a value, and string literals that
  * hold a quote, a semicolon and the words WHEN and WHERE (one
  * partition holds such a value). The three tables restore to the same
  * first version before each statement, so every case starts alike.
  */
class DmlConditionPropertySpec extends GraftSparkSpec {

  private val odd = "q'; WHEN r WHERE s"

  private def quoted(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private val atom: Gen[String] = Gen.oneOf(
    for { op <- Gen.oneOf("<", "<=", "=", "<>", ">=", ">"); n <- Gen.choose(0, 60) }
      yield s"id $op $n",
    for { op <- Gen.oneOf("<", ">=", "="); n <- Gen.choose(0, 60) } yield s"v $op ${n * 10}",
    for { a <- Gen.choose(0, 50); w <- Gen.choose(0, 15) } yield s"id BETWEEN $a AND ${a + w}",
    Gen.nonEmptyListOf(Gen.choose(0, 60).map(_ * 10))
      .map(_.take(4).mkString("v IN (", ", ", ")")),
    Gen.atLeastOne("p0", "p1", odd, "p'x", "a;b", "WHEN", "WHERE")
      .map(_.map(quoted).mkString("part IN (", ", ", ")")),
    Gen.oneOf("p0", "p1", odd, "x WHERE y", "; WHEN").flatMap(p =>
      Gen.oneOf("=", "<>").map(op => s"part $op ${quoted(p)}")))

  private def cond(depth: Int): Gen[String] =
    if (depth == 0) atom
    else Gen.frequency(
      3 -> atom,
      1 -> cond(depth - 1).map(c => s"NOT ($c)"),
      2 -> (for { a <- cond(depth - 1); b <- cond(depth - 1); op <- Gen.oneOf("AND", "OR") }
        yield s"($a) $op ($b)"))

  private val statement: Gen[(Boolean, String)] =
    for { delete <- Gen.oneOf(true, false); c <- cond(2) } yield (delete, c)

  test("generated DELETE / UPDATE conditions agree across the path API, GraftSql and catalog SQL") {
    val warehouse = tmpDir("dml-prop-warehouse")
    spark.conf.set("spark.sql.catalog.graftprop", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftprop.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftprop.default")
    def fixture(path: String): GraftTable = GraftTable.create(spark, path,
      spark.range(60).select(col("id"),
        when(col("id") % 3 === 0, "p0").when(col("id") % 3 === 1, "p1").otherwise(odd)
          .as("part"),
        (col("id") * 10).as("v")).repartition(2),
      partitionBy = Seq("part"))
    val viaPath = fixture(tmpDir("dml-prop-path"))
    val viaSql = fixture(tmpDir("dml-prop-sql"))
    val viaCatalog = fixture(java.nio.file.Paths.get(warehouse, "default", "prop").toString)
    val gsql = new GraftSql(spark)
    gsql.register("prop_sql", viaSql.path)
    val tables = Seq(viaPath, viaSql, viaCatalog)
    val first = tables.map(_.version)
    def rows(t: GraftTable): Set[(Long, String, Long)] =
      GraftTable.forPath(spark, t.path).toDF.select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val agree = Prop.forAllNoShrink(statement) { case (delete, c) =>
      def sql(n: String): String =
        if (delete) s"DELETE FROM $n WHERE $c" else s"UPDATE $n SET v = v + 1 WHERE $c"
      tables.zip(first).foreach { case (t, v) =>
        val live = GraftTable.forPath(spark, t.path)
        if (live.version != v) live.restore(v)
      }
      val path = GraftTable.forPath(spark, viaPath.path)
      if (delete) path.delete(expr(c)) else path.update(expr(c), Map("v" -> (col("v") + 1)))
      gsql.sql(sql("prop_sql")).collect()
      spark.sql(sql("graftprop.default.prop")).collect()
      val want = rows(viaPath)
      Prop(rows(viaSql) == want) :| s"GraftSql: ${sql("t")}" &&
        Prop(rows(viaCatalog) == want) :| s"catalog: ${sql("t")}"
    }
    try {
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
        .withWorkers(1).withInitialSeed(Seed(20261021L)), agree)
      assert(result.passed, result.status.toString)
    } finally spark.sql("DROP TABLE IF EXISTS graftprop.default.prop")
  }
}
