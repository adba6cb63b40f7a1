package graft.plans

import graft.GraftSparkSpec
import graft.lake.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Metadata-only aggregates: `count(*)/count(col)/min/max` over a
  * whole-table scan fold the log's footer stats into a LocalRelation
  * — zero data I/O at any table size.
  */
class StatsAggregateSpec extends GraftSparkSpec {

  private def metadataOnly(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    !plan.contains("FileScan") && !plan.contains("Scan parquet")
  }

  test("whole-table count/min/max answer from the log without a scan") {
    import spark.implicits._
    val data = (1 to 500).map(i =>
      (i.toLong, i * 3, i / 7.0, i % 2 == 0)).toDF("k", "v", "d", "b")
    val t = GraftTable.create(spark, tmpDir("statagg"), data)
    val q = t.toDF.agg(count(lit(1)).as("n"), min("k").as("mn"),
      max("v").as("mx"), max("d").as("dmx"), count("v").as("nv"))
    assert(metadataOnly(q), "stats-foldable aggregate must not scan data")
    val r = q.head
    assert(r.getLong(0) == 500 && r.getLong(1) == 1L &&
      r.getInt(2) == 1500 && r.getDouble(3) == 500 / 7.0 && r.getLong(4) == 500)
    // multi-file + deletes: the fold tracks the CURRENT active set
    t.append((501 to 600).map(i =>
      (i.toLong, i * 3, i / 7.0, true)).toDF("k", "v", "d", "b"))
    t.delete(col("k") > 550)
    val q2 = t.toDF.agg(count(lit(1)).as("n"), max("k").as("mx"))
    assert(metadataOnly(q2))
    val r2 = q2.head
    assert(r2.getLong(0) == 550 && r2.getLong(1) == 550L)
  }

  test("count(col) subtracts nulls; all-null column yields null min") {
    import spark.implicits._
    val data = (1 to 100).map(i =>
      (i.toLong, if (i % 4 == 0) Some(i * 2L) else None,
        Option.empty[Long])).toDF("k", "some", "none")
    val t = GraftTable.create(spark, tmpDir("statagg-null"), data)
    val q = t.toDF.agg(count(col("some")).as("c"), min("none").as("m"))
    assert(metadataOnly(q))
    val r = q.head
    assert(r.getLong(0) == 25 && r.isNullAt(1))
  }

  test("a time-travel read's count answers from the matching version's stats") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("statagg-tt"),
      (1 to 100).map(i => (i.toLong, i * 2L)).toDF("k", "v"))
    val v0 = t.version
    t.delete(col("k") > 60)
    t.append((101 to 110).map(i => (i.toLong, i * 2L)).toDF("k", "v"))
    val historical = t.toDFAt(v0).agg(count(lit(1)).as("n"), max("k").as("m"))
    assert(metadataOnly(historical), "a recent version's scan must fold its stats")
    val r = historical.head
    assert(r.getLong(0) == 100 && r.getLong(1) == 100L)
    val current = t.toDF.agg(count(lit(1)).as("n"))
    assert(metadataOnly(current) && current.head.getLong(0) == 70)
    // however far back the pinned version is
    (1 to 10).foreach(i => t.append(Seq((200L + i, 0L)).toDF("k", "v")))
    val old = t.toDFAt(v0).agg(count(lit(1)).as("n"), max("k").as("m"))
    assert(metadataOnly(old), "a version 12 commits back must fold its stats")
    assert(old.head.getLong(0) == 100 && old.head.getLong(1) == 100L)
  }

  test("a whole-table count over a table partitioned by four columns folds") {
    import spark.implicits._
    val data = (1 to 48).map(i => (i.toLong, i % 2, i % 3, i % 4 == 0, s"p${i % 4}"))
      .toDF("k", "a", "b", "c", "d")
    val t = GraftTable.create(spark, tmpDir("statagg-part4"), data,
      partitionBy = Seq("a", "b", "c", "d"))
    val q = t.toDF.agg(count(lit(1)).as("n"), max("k").as("m"))
    assert(metadataOnly(q), "data files four partition levels down must fold")
    assert(q.head.getLong(0) == 48 && q.head.getLong(1) == 48L)
  }

  test("a column-mapped (renamed) table declines: stats keys are physical names") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("statagg-rename"),
      (1 to 50).map(i => (i.toLong, i * 2L)).toDF("k", "v"))
    t.renameColumn("v", "w")
    // after the rename, toDF projects physical->logical names, so the
    // bare-aggregate shape doesn't appear; a raw parquet scan of the
    // same files would see PHYSICAL names that no longer mean what the
    // stats keys say under rename chains - the rule declines on any
    // mapping. Either way: real scan, right answer.
    val q = t.toDF.agg(max("w").as("m"))
    assert(q.head.getLong(0) == 100L)
    val raw = spark.read.parquet(t.snapshot.activeFiles.map(f =>
      s"${t.path}/${f.path}"): _*).agg(count(lit(1)).as("n"))
    assert(!metadataOnly(raw), "mapped tables must keep the real scan")
    assert(raw.head.getLong(0) == 50)
  }

  test("filters, deletion vectors, and string min/max decline the rewrite") {
    import spark.implicits._
    val data = (1 to 80).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    val t = GraftTable.create(spark, tmpDir("statagg-decline"), data)
    // a filter below the aggregate must keep the real scan
    val filtered = t.toDF.filter(col("k") > 10).agg(count(lit(1)).as("n"))
    assert(!metadataOnly(filtered), "filtered aggregates must scan")
    assert(filtered.head.getLong(0) == 70)
    // string bounds may be footer-truncated: decline
    val smin = t.toDF.agg(min("s").as("m"))
    assert(!metadataOnly(smin))
    // outstanding deletion vectors mask rows the stats still count
    t.deleteMergeOnRead(col("k") === 5)
    val afterDv = t.toDF.agg(count(lit(1)).as("n"))
    assert(!metadataOnly(afterDv), "a DV-masked table must scan")
    assert(afterDv.head.getLong(0) == 79)
  }
}
