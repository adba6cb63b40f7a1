package graft.streaming

import graft.{GraftSparkSpec, Tables}
import graft.lake.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface (SURVEY §2.7): windowed aggregation
  * with watermark, stateful sessionization, and the streaming →
  * GraftLake → OPTIMIZE small-file loop the reference calls out as
  * the origin of small-file problems (reference docs/00-overview.md:14
  * "many small files (from micro-batches or streaming)").
  */
class StreamingSpec extends GraftSparkSpec {

  private def eventsOnDisk(name: String): String = {
    val dir = tmpDir(name)
    Tables(spark, sfDir, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming dedup admits each normalized content once across batches") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text").limit(120)
    val dir = tmpDir("sdedup-src")
    docs.coalesce(1).write.mode("append").parquet(dir)
    // second micro-batch file: case/whitespace variants of 40 early
    // docs (duplicates under the canonical key) + 20 genuinely new
    docs.limit(40).select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  ")).as("text"))
      .unionAll(spark.range(20).select((col("id") + 200000).as("doc_id"),
        concat(lit("unique streaming doc "), col("id").cast("string")).as("text")))
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.dedupExact(stream, "text").writeStream
      .outputMode("append").format("memory").queryName("sdedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sdedup_out")
    val expectedDistinct = spark.read.parquet(dir)
      .select(StreamOps.contentKey(col("text")).as("k")).distinct().count()
    assert(got.count() == expectedDistinct,
      s"want one row per distinct content, got ${got.count()} vs $expectedDistinct")
    assert(got.select(StreamOps.contentKey(col("text")).as("k"))
      .groupBy("k").count().filter(col("count") > 1).count() == 0,
      "a content key must never be admitted twice")
  }

  test("watermark-bounded streaming dedup collapses time-local duplicates") {
    val base = Tables(spark, sfDir, "documents").select("doc_id", "text").limit(60)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val dir = tmpDir("sdedup-wm")
    base.coalesce(1).write.mode("append").parquet(dir)
    base.limit(30)
      .select((col("doc_id") + 500).as("doc_id"), col("text"),
        lit("2026-01-01 00:05:00").cast("timestamp").as("ts"))
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.dedupExactWithinWatermark(stream, "text", "ts", "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_wm_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("sdedup_wm_out").count() == 60,
      "duplicates arriving inside the watermark window must collapse")
  }

  test("windowed aggregation over a stream matches the batch result") {
    val dir = eventsOnDisk("win-src")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("win_out")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val expected = Tables(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("stream-stream attribution join with watermarks matches the batch join") {
    // the click-attribution shape: each purchase joins the same
    // user's clicks in the preceding hour — both sides unbounded
    // streams, state bounded by the watermark + time-range condition
    val ev = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "event_type")
    val clicksDir = tmpDir("ssj-clicks"); val buysDir = tmpDir("ssj-buys")
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .write.mode("overwrite").parquet(clicksDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("ts").as("buy_ts"))
      .write.mode("overwrite").parquet(buysDir)
    val cSchema = spark.read.parquet(clicksDir).schema
    val bSchema = spark.read.parquet(buysDir).schema
    val clicks = spark.readStream.schema(cSchema).parquet(clicksDir)
      .withWatermark("click_ts", "1 hour")
    val buys = spark.readStream.schema(bSchema).parquet(buysDir)
      .withWatermark("buy_ts", "1 hour")
    val joined = buys.join(clicks,
      col("buyer_id") === col("user_id") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("buy_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_out").count()
    val expected = spark.read.parquet(buysDir).join(
        spark.read.parquet(clicksDir),
        col("buyer_id") === col("user_id") &&
          col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("buy_ts")).count()
    assert(got == expected && got > 0,
      s"stream-stream join must equal batch: $got vs $expected")
  }

  test("stateful sessionization with flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = eventsOnDisk("sess-src")
    val schema = spark.read.parquet(dir).schema
    case class E(user_id: Long, ts: java.sql.Timestamp)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
    val counted = stream.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long)]) =>
          val prev = state.getOption.map(_._2).getOrElse(0L)
          val n = prev + rows.size
          state.update((uid, n))
          Iterator.single((uid, n))
      }
    val q = counted.toDF("user_id", "n_events").writeStream
      .outputMode("append").format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out").groupBy("user_id").agg(max("n_events").as("n"))
    val expected = Tables(spark, sfDir, "events").groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("watermarked stream-stream interval join matches the batch join") {
    val dir = eventsOnDisk("ss-join-src")
    val schema = spark.read.parquet(dir).schema
    def side(tpe: String, prefix: String) =
      spark.readStream.schema(schema).parquet(dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = side("purchase", "p").join(side("click", "c"),
      expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val e = Tables(spark, sfDir, "events")
    val expected = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
      .join(e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts")),
        expr("pu = cu AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts"))
      .count()
    assert(spark.table("ssjoin_out").count() == expected)
    assert(expected > 0)
  }

  test("streaming upsert via foreachBatch merge is exactly-once per epoch") {
    import graft.Tables
    val orders = Tables(spark, sfDir, "orders").limit(200)
    val t = GraftTable.create(spark, tmpDir("stream-upsert"), orders)
    val nBefore = t.toDF.count()
    val batch = orders.limit(50)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
    // epoch 0 applies: 50 keys updated, none inserted
    t.mergeStreamBatch("upserter", 0, batch, "o_orderkey")
    val afterFirst = t.toDF.agg(sum("o_totalprice")).head.getDouble(0)
    assert(t.toDF.count() == nBefore)
    // engine retry replays epoch 0: must be a no-op, not a re-doubling
    val m = t.mergeStreamBatch("upserter", 0, batch, "o_orderkey")
    assert(m.contains("skippedEpoch"))
    assert(math.abs(t.toDF.agg(sum("o_totalprice")).head.getDouble(0) - afterFirst) < 1e-6)
    // the next epoch inserts unmatched keys
    val inserts = orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
    t.mergeStreamBatch("upserter", 1, inserts, "o_orderkey")
    assert(t.toDF.count() == nBefore + 10)
  }

  test("ST21: the streaming MoR upsert loop under graft.autoReorg keeps " +
      "deletion-vector debt bounded; replayed epochs stay no-ops") {
    import spark.implicits._
    def mk(tag: String, props: Map[String, String]) =
      GraftTable.create(spark, tmpDir(s"stream-autoreorg-$tag"),
        (0L until 200L).map(i => (i, 0L)).toDF("k", "v"),
        properties = Map("graft.dml.mode" -> "merge-on-read") ++ props)
    val auto = mk("auto", Map("graft.autoReorg" -> "0.3"))
    val ctrl = mk("ctrl", Map.empty)
    // a production upsert stream: every epoch rewrites every key's
    // value (MoR: mask + post-image, so each epoch adds a sidecar)
    (0 until 5).foreach { e =>
      val batch = (0L until 200L).map(i => (i, e + 1L)).toDF("k", "v")
      auto.mergeStreamBatch("st21", e, batch, "k")
      ctrl.mergeStreamBatch("st21", e, batch, "k")
    }
    // without maintenance the debt grows one sidecar per epoch...
    val ctrlDvs = GraftTable.forPath(spark, ctrl.path).snapshot.dvFiles.size
    assert(ctrlDvs >= 4,
      s"control table must show the unbounded-debt baseline: $ctrlDvs")
    // ...with graft.autoReorg it stays bounded (each epoch's purge
    // covers all masked files and retires the vectors in-loop)
    val autoDvs = GraftTable.forPath(spark, auto.path).snapshot.dvFiles.size
    assert(autoDvs <= 1,
      s"auto-REORG must bound the streaming MoR debt: $autoDvs sidecars")
    assert(GraftTable.forPath(spark, auto.path).history(40).collect()
      .count(_.getAs[String]("operation") == "REORG") >= 4)
    // both tables read the same exact final state
    def state(t: GraftTable) = t.toDF.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (0L until 200L).map(i => (i, 5L)).toSet
    assert(state(GraftTable.forPath(spark, auto.path)) == expect)
    assert(state(GraftTable.forPath(spark, ctrl.path)) == expect)
    // exactly-once survives the maintenance: a replayed epoch no-ops
    // and must not fire a spurious REORG either
    val vBefore = GraftTable.forPath(spark, auto.path).version
    val m = GraftTable.forPath(spark, auto.path).mergeStreamBatch("st21", 4,
      (0L until 200L).map(i => (i, 99L)).toDF("k", "v"), "k")
    assert(m.contains("skippedEpoch"))
    assert(GraftTable.forPath(spark, auto.path).version == vBefore)
    assert(state(GraftTable.forPath(spark, auto.path)) == expect)
  }

  test("ST22: streaming ingest under graft.autoRecluster keeps the " +
      "declared clustering healthy in-loop; replayed epochs no-op") {
    import spark.implicits._
    // whole-domain interleaved epochs: the unsorted-ingest steady
    // state that destroys a declared CLUSTER BY one epoch at a time
    val t = GraftTable.create(spark,
      tmpDir("stream-autorecluster"),
      (0L until 1000L).filter(_ % 5 == 0).map(i => (i, 0L))
        .toDF("k", "v").coalesce(1),
      properties = Map("graft.clusterBy" -> "k",
        "graft.autoRecluster" -> "3"))
    (1 to 4).foreach { e =>
      GraftTable.forPath(spark, t.path).appendStreamBatch("st22", e,
        (0L until 1000L).filter(_ % 5 == e.toLong)
          .map(i => (i, e.toLong)).toDF("k", "v").coalesce(1))
    }
    // the loop itself kept depth bounded: at least one in-loop pass
    // fired and the report reads healthy at the end
    val hist = GraftTable.forPath(spark, t.path).history(40).collect()
      .map(_.getAs[String]("operation"))
    assert(hist.exists(_.contains("ZORDER")),
      s"in-loop maintenance must have fired: ${hist.toSeq}")
    val rep = GraftTable.forPath(spark, t.path).clusteringReport().head()
    assert(rep.getAs[Long]("max_overlap_depth") <= 3,
      s"streaming ingest must keep clustering bounded: $rep")
    // content exact: every key carries its epoch's value
    val out = GraftTable.forPath(spark, t.path).toDF.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == (0L until 1000L).map(i => (i, i % 5)).toSet)
    // exactly-once survives the maintenance: a replay no-ops
    val vBefore = GraftTable.forPath(spark, t.path).version
    GraftTable.forPath(spark, t.path).appendStreamBatch("st22", 4,
      (0L until 10L).map(i => (i, 99L)).toDF("k", "v"))
    assert(GraftTable.forPath(spark, t.path).version == vBefore,
      "a replayed epoch must stay a version-frozen no-op")
  }

  test("streaming ingestion keeps a materialized view fresh per epoch") {
    import graft.Tables
    import graft.lake.MaterializedAgg
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    val t = GraftTable.create(spark, tmpDir("stream-mv-src"), li.limit(100))
    val mv = MaterializedAgg.create(spark, tmpDir("stream-mv"), t,
      Seq("l_returnflag"), Seq("qty_c"))
    // the foreachBatch loop a production pipeline runs: exactly-once
    // epoch append, then an incremental MV refresh riding the epoch
    (0 until 3).foreach { epoch =>
      val batch = li.limit(200).filter(col("l_orderkey") % 3 === epoch)
      t.appendStreamBatch("mv-feeder", epoch, batch)
      mv.refresh()
      val expect = t.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("c"), sum("qty_c").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = mv.toDF.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"view must match source after epoch $epoch")
    }
    // an engine-retried epoch is deduped upstream, so the refresh
    // after it is a no-op and the view never double-counts
    val vBefore = mv.view.version
    t.appendStreamBatch("mv-feeder", 2,
      li.limit(200).filter(col("l_orderkey") % 3 === 2))
    mv.refresh()
    assert(mv.view.version == vBefore, "replayed epoch must not move the view")
  }

  test("streaming ingestion keeps a JOIN view fresh; a mid-stream dim change folds") {
    import spark.implicits._
    import graft.lake.MaterializedAgg
    val fact0 = (1 to 40).map(i => (i.toLong % 10, i.toLong, i * 2L))
      .toDF("fk", "seq", "v")
    val t = GraftTable.create(spark, tmpDir("stream-jmv-fact"), fact0,
      properties = Map("graft.cdf" -> "true"))
    val d = GraftTable.create(spark, tmpDir("stream-jmv-dim"),
      (0L until 10L).map(k => (k, s"g${k % 3}")).toDF("fk", "grp"))
    val mv = MaterializedAgg.createJoin(spark, tmpDir("stream-jmv"),
      t, d, Seq("fk"), Seq("grp"), Seq("v"))
    def check(epoch: Int): Unit = {
      val expect = t.toDF.join(d.toDF, "fk").groupBy("grp")
        .agg(count(lit(1)).as("c"), sum("v").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = mv.toDF.select(col("grp"), col("mv_count"), col("mv_sum_v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"join view must match fact'/dim after epoch $epoch")
    }
    (0 until 3).foreach { epoch =>
      val batch = (1 to 20).map(i => (i.toLong % 10, 1000L * epoch + i, i * 3L))
        .toDF("fk", "seq", "v")
      t.appendStreamBatch("jmv-feeder", epoch, batch)
      // epoch 1 also moves the dim (an SCD update landing mid-stream):
      // the same refresh folds BOTH feeds, no rebuild
      if (epoch == 1) d.update(col("fk") === 4, Map("grp" -> lit("gMoved")))
      mv.refresh()
      check(epoch)
    }
    assert(mv.view.history.filter(col("operation") === "MV REMATERIALIZE")
      .count() == 0, "the streaming loop must never pay a rebuild")
  }

  test("MoR streaming upsert: epochs commit DVs + appends, no candidate rewrites") {
    val orders = graft.Tables(spark, sfDir, "orders")
    val t = GraftTable.create(spark, tmpDir("stream-upsert-mor"),
      orders.repartition(4),
      properties = Map("graft.dml.mode" -> "merge-on-read"))
    val nBefore = t.toDF.count()
    val filesBefore = t.snapshot.activeFiles.map(_.path).toSet
    val batch = orders.limit(50)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
    t.mergeStreamBatch("mor-upserter", 0, batch, "o_orderkey")
    // MoR shape: original files untouched, masks + post-images appended
    assert(filesBefore.subsetOf(t.snapshot.activeFiles.map(_.path).toSet),
      "MoR epoch must not rewrite candidate files")
    assert(t.snapshot.dvFiles.size == 1, "epoch must commit a deletion vector")
    assert(t.toDF.count() == nBefore)
    val doubled = t.toDF.join(batch.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("want")), col("o_orderkey") === col("k"))
      .filter(col("o_totalprice") =!= col("want")).count()
    assert(doubled == 0, "post-images must carry the updated values")
    // replay of the same epoch is skipped (SetTxn rode the MoR commit)
    val m = t.mergeStreamBatch("mor-upserter", 0, batch, "o_orderkey")
    assert(m.contains("skippedEpoch"))
    // next epoch stacks another DV; inserts append
    val inserts = orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
    t.mergeStreamBatch("mor-upserter", 1,
      batch.limit(5).unionByName(inserts), "o_orderkey")
    assert(t.toDF.count() == nBefore + 10)
    assert(t.snapshot.dvFiles.size == 2)
    // maintenance materializes the masks back into plain files
    t.reorgPurge()
    assert(t.snapshot.dvFiles.isEmpty)
    assert(t.toDF.count() == nBefore + 10)
  }

  test("sink option optimizeEvery keeps the file count bounded while ingesting") {
    // many tiny micro-batches (one file per trigger) with in-loop
    // compaction: the end state must hold every row in FEWER files
    // than epochs — the small-file genesis story closed inside the sink
    val src = tmpDir("sink-opt-src")
    Tables(spark, sfDir, "events").repartition(6).write.parquet(src)
    val n = spark.read.parquet(src).count()
    val out = tmpDir("sink-opt-table")
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .repartition(4) // 4 files per epoch without compaction
      .writeStream.format("graftlake")
      .option("path", out)
      .option("checkpointLocation", tmpDir("sink-opt-ckpt"))
      .option("optimizeEvery", "2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t = GraftTable.forPath(spark, out)
    assert(t.toDF.count() == n, "compaction must not lose or duplicate rows")
    assert(t.history.filter(col("operation") === "OPTIMIZE").count() >= 1,
      "the sink must have run OPTIMIZE mid-ingest")
  }

  test("sink option refreshMv keeps a materialized view fresh per epoch") {
    import graft.lake.MaterializedAgg
    val src = tmpDir("sink-mv-src")
    Tables(spark, sfDir, "events")
      .select(col("event_type"), (col("value") * 100).cast("long").as("v_c"))
      .repartition(5).write.parquet(src)
    // seed the table + view from the first slice, then stream the rest
    val seed = spark.read.parquet(src).limit(0)
    val out = tmpDir("sink-mv-table")
    val t0 = GraftTable.create(spark, out, seed)
    val viewDir = tmpDir("sink-mv-view")
    MaterializedAgg.create(spark, viewDir, t0, Seq("event_type"), Seq("v_c"))
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.format("graftlake")
      .option("path", out)
      .option("checkpointLocation", tmpDir("sink-mv-ckpt"))
      .option("refreshMv", viewDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t = GraftTable.forPath(spark, out)
    val mv = MaterializedAgg.forPath(spark, viewDir, t)
    val expect = t.toDF.groupBy("event_type")
      .agg(count(lit(1)).as("c"), sum("v_c").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = mv.toDF.select(col("event_type"), col("mv_count"), col("mv_sum_v_c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, "in-loop refresh must leave the view current at stream end")
    assert(mv.view.history.filter(col("operation") === "MV REFRESH").count() >= 2,
      "each epoch must fold the view forward")
  }

  test("sink refreshMv routes a COUNT DISTINCT view through its class") {
    import graft.lake.MaterializedDistinct
    val src = tmpDir("sink-dv-src")
    Tables(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"))
      .repartition(4).write.parquet(src)
    val seed = spark.read.parquet(src).limit(0)
    val out = tmpDir("sink-dv-table")
    val t0 = GraftTable.create(spark, out, seed)
    val viewDir = tmpDir("sink-dv-view")
    MaterializedDistinct.create(spark, viewDir, t0,
      Seq("event_type"), "user_id")
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.format("graftlake")
      .option("path", out)
      .option("checkpointLocation", tmpDir("sink-dv-ckpt"))
      .option("refreshMv", viewDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t = GraftTable.forPath(spark, out)
    val expect = t.toDF.groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = MaterializedDistinct.forPath(spark, viewDir, t).toDF
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expect,
      "in-loop distinct refresh must land on the exact distinct counts")
  }

  test("sink refreshMv routes an OUTER join view; dim churn mid-stream is free") {
    import spark.implicits._
    import graft.lake.MaterializedOuterJoin
    val src = tmpDir("sink-oj-src")
    Tables(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("uid"), col("event_type"))
      .repartition(4).write.parquet(src)
    val seed = spark.read.parquet(src).limit(0)
    val out = tmpDir("sink-oj-table")
    val t0 = GraftTable.create(spark, out, seed,
      properties = Map("graft.cdf" -> "true"))
    // dim covers only even user ids → odd ids stay null-extended
    val dimDir = tmpDir("sink-oj-dim")
    val d = GraftTable.create(spark, dimDir,
      spark.read.parquet(src).select(col("uid")).distinct()
        .filter(col("uid") % 2 === 0)
        .withColumn("cohort", concat(lit("c"), pmod(col("uid"), lit(3)))))
    val viewDir = tmpDir("sink-oj-view")
    MaterializedOuterJoin.create(spark, viewDir, t0, d,
      Seq("uid"), Seq("cohort"), Nil)
    // dim moves BEFORE the stream runs more epochs — no refresh of the
    // dim feed ever happens, the in-loop refresh folds only the fact
    d.update(col("cohort") === "c0", Map("cohort" -> lit("cX")))
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.format("graftlake")
      .option("path", out)
      .option("checkpointLocation", tmpDir("sink-oj-ckpt"))
      .option("refreshMv", viewDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t = GraftTable.forPath(spark, out)
    val expect = t.toDF.join(d.toDF, Seq("uid"), "left").groupBy("cohort")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val got = MaterializedOuterJoin.forPath(spark, viewDir, t).toDF
      .select(col("cohort"), col("mv_count"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(expect.exists(_._1.isEmpty), "odd ids must be null-extended")
    assert(got == expect,
      "in-loop outer refresh + mid-stream dim move must land exactly")
  }

  test("streaming into GraftLake + OPTIMIZE compaction loop") {
    val dir = eventsOnDisk("lake-src")
    val schema = spark.read.parquet(dir).schema
    val seed = spark.read.parquet(dir).limit(0)
    val table = GraftTable.create(spark, tmpDir("stream-lake"), seed)
    val q = spark.readStream.schema(schema).parquet(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("stream-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        table.appendStreamBatch("events-ingest", epochId, batch)
        ()
      }.start()
    q.awaitTermination(120000)
    val rows = table.toDF.count()
    assert(rows == spark.read.parquet(dir).count())
    val filesBefore = table.snapshot.numFiles
    table.optimize()
    assert(table.snapshot.numFiles <= filesBefore)
    assert(table.toDF.count() == rows)
  }

  test("stream-static enrichment: a stream joined to a lake dim matches the batch join") {
    // the standard enrichment shape: micro-batches broadcast-join a
    // slowly-changing GraftLake dimension; per-batch snapshot reads
    // keep the dim consistent within an epoch
    import spark.implicits._
    val dim = GraftTable.create(spark, tmpDir("ss-dim"),
      (0 until 10).map(i => (i.toLong, s"seg-${i % 3}")).toDF("uid", "segment"))
    val src = tmpDir("ss-src")
    (0 until 200).map(i => (i.toLong, i % 10L)).toDF("ev_id", "uid")
      .repartition(4).write.parquet(src)
    val out = new java.util.concurrent.atomic.AtomicReference[Seq[(String, Long)]](Nil)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("ss-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val joined = batch.join(broadcast(dim.toDF), "uid")
          .groupBy("segment").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        out.updateAndGet(prev => prev ++ joined)
        ()
      }.start()
    q.awaitTermination(120000)
    val streamed = out.get.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val batch = spark.read.parquet(src).join(broadcast(dim.toDF), "uid")
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, "stream-static enrichment must match the batch join")
  }

  test("streaming ingest maintains the MinHash index incrementally via optimizeEvery") {
    // the 100 TB ingest loop end-to-end: micro-batch appends + in-loop
    // compaction, with the table's `graft.minhash.index` property
    // making every OPTIMIZE catch the dedup index up through the
    // change feed — ONE full build ever, every later pass O(delta)
    import spark.implicits._
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"streamed document $i with body ${i * 17}")).toDF("doc_id", "text")
    val table = GraftTable.create(spark, tmpDir("stream-mh-table"),
      docs(0 until 20),
      properties = Map("graft.minhash.index" -> "doc_id,text"))
    table.optimize() // full build on the seed
    val src = tmpDir("stream-mh-src")
    docs(20 until 60).repartition(4).write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.format("graftlake")
      .option("path", table.path)
      .option("checkpointLocation", tmpDir("stream-mh-ckpt"))
      .option("optimizeEvery", "2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    table.optimize() // settle the tail epochs
    assert(table.history.filter(col("operation") === "BUILD MINHASH INDEX")
      .count() == 1, "streaming ingest must never trigger a full re-sign")
    assert(table.history.filter(col("operation") === "REFRESH MINHASH INDEX")
      .count() >= 1, "maintenance passes must catch up incrementally")
    graft.functions.GraftFunctions.register(spark)
    val fresh = table.toDF.select(col("doc_id").as("id"),
        expr("graft_minhash32(text)").as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val stored = table.minhashSigs("text").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(stored == fresh,
      "the incrementally-maintained index must equal a fresh full signing")
  }
}
