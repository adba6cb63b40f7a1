package graft.sources

import graft.{GraftSparkSpec, Tables}
import graft.lake.GraftTable
import org.apache.spark.sql.functions._

/** Batch reads through `spark.read.format("graftlake")` — the third
  * leg of the format surface (batch read, streaming read, streaming
  * write).
  */
class GraftRelationSpec extends GraftSparkSpec {

  test("format('graftlake') batch WRITE: create, append, overwrite, modes") {
    val li = Tables(spark, sfDir, "lineitem").limit(500)
    val path = tmpDir("rel-write")
    // ErrorIfExists creates; a second create refuses
    li.write.format("graftlake").option("partitionBy", "l_returnflag")
      .mode("errorifexists").save(path)
    val t = GraftTable.forPath(spark, path)
    assert(t.toDF.count() == 500)
    assert(t.snapshot.partitionColumns == Seq("l_returnflag"))
    intercept[IllegalArgumentException] {
      li.write.format("graftlake").mode("errorifexists").save(path)
    }
    // Ignore is a no-op on an existing table
    li.limit(10).write.format("graftlake").mode("ignore").save(path)
    assert(t.toDF.count() == 500)
    // Append lands a new commit; reads through the format see it
    li.limit(100).write.format("graftlake").mode("append").save(path)
    assert(spark.read.format("graftlake").load(path).count() == 600)
    // Overwrite replaces data in one commit, history intact
    li.limit(50).write.format("graftlake").mode("overwrite").save(path)
    assert(t.toDF.count() == 50)
    assert(t.toDFAt(0).count() == 500, "time travel must survive overwrite")
  }

  test("format('graftlake') batch read matches the table API, filters push") {
    val li = Tables(spark, sfDir, "lineitem").limit(2000)
    val path = tmpDir("rel-table")
    val t = GraftTable.create(spark, path, li, Seq("l_returnflag"))
    t.deleteMergeOnRead(col("l_quantity") < 2.0) // DV must be honored

    val df = spark.read.format("graftlake").load(path)
    assert(df.count() == t.toDF.count())
    assert(df.schema.fieldNames.sorted.sameElements(t.toDF.schema.fieldNames.sorted))

    val expect = t.toDF.filter(col("l_returnflag") === "R")
      .agg(sum("l_quantity")).head.getDouble(0)
    val got = df.filter(col("l_returnflag") === "R")
      .agg(sum("l_quantity")).head.getDouble(0)
    assert(math.abs(got - expect) < 1e-6)

    // SQL surface: USING graftlake
    spark.sql("DROP VIEW IF EXISTS g_li")
    spark.sql(s"CREATE TEMPORARY VIEW g_li USING graftlake OPTIONS (path '$path')")
    assert(spark.table("g_li").count() == t.toDF.count())
    val sqlCnt = spark.sql(
      "SELECT COUNT(*) FROM g_li WHERE l_returnflag = 'R'").head.getLong(0)
    assert(sqlCnt == t.toDF.filter(col("l_returnflag") === "R").count())
  }

  test("versionAsOf time travel through the format reader") {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmpDir("rel-tt")
    val t = GraftTable.create(spark, path, nation) // v0
    t.append(nation.limit(5))                      // v1
    val v0 = spark.read.format("graftlake")
      .option("versionAsOf", "0").load(path)
    assert(v0.count() == nation.count())
    val live = spark.read.format("graftlake").load(path)
    assert(live.count() == nation.count() + 5)
    assert(v0.filter(col("n_nationkey") === 0).count() ==
      nation.filter(col("n_nationkey") === 0).count())
    // a pinned read prunes files by its own snapshot's stats; the rows
    // must equal the API time travel filtered by the same predicate
    val pred = col("n_nationkey") < 5 && col("n_regionkey") =!= 0
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    assert(sorted(v0.filter(pred)) == sorted(t.toDFAt(0).filter(pred)))
    assert(sorted(v0.filter(pred)).nonEmpty)
  }

  test("batch readChangeFeed returns the operation-level feed") {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmpDir("rel-cdf")
    val t = GraftTable.create(spark, path, nation,
      properties = Map("graft.cdf" -> "true"))        // v0
    t.update(col("n_regionkey") === 0, Map("n_name" -> lit("X")))  // v1
    t.delete(col("n_nationkey") === 1)                             // v2

    val feed = spark.read.format("graftlake")
      .option("readChangeFeed", "true").load(path)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val updated = nation.filter(col("n_regionkey") === 0).count()
    assert(byType.get("insert").contains(nation.count())) // v0 CTAS
    assert(byType.get("update_preimage").contains(updated))
    assert(byType.get("update_postimage").contains(updated))
    assert(byType.get("delete").contains(1L))

    // version-bounded: only v2's delete
    val v2only = spark.read.format("graftlake")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2").load(path)
    assert(v2only.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    assert(v2only.count() == 1)
  }

  test("rowIds option surfaces stable row_id through the format reader") {
    val path = tmpDir("rel-rowids")
    val df0 = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
    val t = GraftTable.create(spark, path, df0.repartition(4),
      properties = Map("graft.rowTracking" -> "true"))
    t.optimize() // ids must survive the rewrite through the reader too
    val viaReader = spark.read.format("graftlake")
      .option("rowIds", "true").load(path)
    assert(viaReader.schema.fieldNames.contains("row_id"))
    val readerIds = viaReader.select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val apiIds = t.toDFWithRowIds.select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(readerIds == apiIds)
    assert(readerIds.values.toSeq.sorted == (0L until 50L))
    // incompatible combinations refuse loudly
    intercept[Exception] {
      spark.read.format("graftlake").option("rowIds", "true")
        .option("versionAsOf", "0").load(path).count()
    }
  }

  test("small lake dimension auto-broadcasts from relation size stats") {
    val nationPath = tmpDir("rel-nation")
    val ordersPath = tmpDir("rel-orders")
    GraftTable.create(spark, nationPath, Tables(spark, sfDir, "nation"))
    GraftTable.create(spark, ordersPath, Tables(spark, sfDir, "orders"))
    val dim = spark.read.format("graftlake").load(nationPath)
    val fact = spark.read.format("graftlake").load(ordersPath)
    val joined = fact.join(dim,
      col("o_custkey") % 25 === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"KB-scale dim should auto-broadcast, plan:\n${plan.take(1500)}")
    assert(joined.count() > 0)
  }
}
