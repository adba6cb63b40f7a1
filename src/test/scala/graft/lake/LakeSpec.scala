package graft.lake

import scala.jdk.CollectionConverters._

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.functions._

/** GraftLake behaviors the driver's content-oracle queries can't see:
  * file-count effects, pruning counts, checkpoints, schema
  * enforcement, vacuum listings, idempotent stream batches.
  */
class LakeSpec extends GraftSparkSpec {

  private def li = Tables(spark, sfDir, "lineitem")

  test("optimize reduces file count, preserves rows") {
    val t = GraftTable.create(spark, tmpDir("opt"), li.repartition(24))
    assert(t.snapshot.numFiles == 24)
    val before = t.toDF.count()
    t.optimize()
    assert(t.snapshot.numFiles < 24)
    assert(t.toDF.count() == before)
  }

  test("data skipping prunes files on a range-clustered table") {
    val ranged = li.repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
    val t = GraftTable.create(spark, tmpDir("skip"), ranged)
    val (kept, total) = t.pruneFiles(
      col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
    assert(total == 8)
    assert(kept < total, s"expected pruning, kept $kept of $total")
    // pruned read still returns exactly the right rows
    val expected = li.filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")).count()
    val got = t.readWhere(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")).count()
    assert(got == expected)
  }

  test("CLUSTER BY makes plain OPTIMIZE apply the z-order layout") {
    val path = tmpDir("clusterby")
    val t = GraftTable.create(spark, path, li.repartition(8))
    val g = new GraftSql(spark)
    g.register("cb", path)
    // single clustering column → pure range layout, so date skipping
    // is deterministic even with few output files (the multi-column
    // interleave itself is covered by the zorder suites)
    g.sql("ALTER TABLE cb CLUSTER BY (l_shipdate)")
    val expected = li.count()
    // tiny file target forces several outputs at sf0.001 so file-stats
    // selectivity is observable; no explicit zorder call — the spec drives it
    t.optimize(targetBytes = 32L * 1024)
    val (kept, total) = t.pruneFiles(
      col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
    assert(total > 1, "clustered optimize should emit several files")
    assert(kept < total,
      s"clustered layout must make date filters skip files ($kept/$total)")
    assert(t.toDF.count() == expected)
    // CLUSTER BY NONE reverts OPTIMIZE to plain bin-packing
    g.sql("ALTER TABLE cb CLUSTER BY NONE")
    assert(!t.snapshot.metadata.get.properties.contains("graft.clusterBy"))
    t.optimize()
    assert(t.toDF.count() == expected)
  }

  test("CLUSTER BY maintenance is incremental: later optimize touches only new files") {
    val path = tmpDir("clusterby-inc")
    val t = GraftTable.create(spark, path, li.repartition(8))
    val g = new GraftSql(spark)
    g.register("cbi", path)
    g.sql("ALTER TABLE cbi CLUSTER BY (l_shipdate)")
    val n0 = t.snapshot.numFiles
    val m1 = t.optimize(targetBytes = 32L * 1024)
    assert(m1("numRemovedFiles").toInt == n0, "first pass clusters the whole table")
    val clustered = t.snapshot.activeFiles.map(_.path).toSet
    // small append: the next pass must rewrite ONLY the appended files
    t.append(li.limit(500).repartition(2))
    val m2 = t.optimize(targetBytes = 32L * 1024)
    assert(m2("numRemovedFiles").toInt == 2,
      s"incremental pass must rewrite only the 2 new files, got ${m2("numRemovedFiles")}")
    assert(clustered.subsetOf(t.snapshot.activeFiles.map(_.path).toSet),
      "previously clustered files must survive an incremental pass untouched")
    // nothing new since the stamp -> maintenance is a no-op
    val m3 = t.optimize(targetBytes = 32L * 1024)
    assert(m3("numRemovedFiles").toInt == 0)
    assert(t.toDF.count() == li.count() + 500)
    // changing the clustering spec invalidates the stamp -> full rewrite
    g.sql("ALTER TABLE cbi CLUSTER BY (l_orderkey)")
    val nBefore = t.snapshot.numFiles
    val m4 = t.optimize(targetBytes = 32L * 1024)
    assert(m4("numRemovedFiles").toInt == nBefore,
      "a changed CLUSTER BY spec must re-cluster the whole table")
    assert(t.toDF.count() == li.count() + 500)
    // MoR masks must not accumulate under clustered maintenance: the
    // incremental pass folds masked files into its scope and retires
    // every DV (an incremental-only loop would otherwise never cover
    // all active files, so retirement could never fire)
    t.deleteMergeOnRead(col("l_orderkey") < 100)
    assert(t.snapshot.dvFiles.nonEmpty)
    val expected = t.toDF.count()
    t.optimize(targetBytes = 32L * 1024)
    assert(t.snapshot.dvFiles.isEmpty,
      "clustered incremental maintenance must retire deletion vectors")
    assert(t.toDF.count() == expected)
    assert(t.toDF.filter(col("l_orderkey") < 100).count() == 0,
      "materializing masks must not resurrect deleted rows")
    // OPTIMIZE t FULL ignores the stamp: whole-table re-cluster
    val nAll = t.snapshot.numFiles
    val mFull = g.sql("OPTIMIZE cbi FULL").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mFull("numRemovedFiles").toInt == nAll,
      "FULL must re-cluster every file despite a valid stamp")
    assert(t.toDF.count() == expected)
  }

  test("prefix and null-count predicates skip files") {
    // range-cluster on the string key so each file covers a disjoint
    // lexicographic slice — the shape prefix skipping needs
    val ranged = li.withColumn("ship_tag",
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")))
      .repartitionByRange(8, col("ship_tag"))
      .sortWithinPartitions("ship_tag")
    val t = GraftTable.create(spark, tmpDir("skipstr"), ranged)
    // ship_tag has few distinct values, so the range partitioner may
    // emit fewer than 8 non-empty files — only relative pruning matters
    val (kept, total) = t.pruneFiles(col("ship_tag").startsWith("R-"))
    assert(total >= 3)
    assert(kept < total, s"prefix pruning kept $kept of $total")
    assert(t.readWhere(col("ship_tag").startsWith("R-")).count() ==
      li.filter(col("l_returnflag") === "R").count())

    // IS NULL skips files that have no nulls at all (footer nullCount=0)
    val withNulls = li.withColumn("maybe_null",
      when(col("l_orderkey") < 100, lit(null).cast("string"))
        .otherwise(col("l_returnflag")))
      .repartitionByRange(8, col("l_orderkey"))
    val tn = GraftTable.create(spark, tmpDir("skipnull"), withNulls)
    val (keptN, totalN) = tn.pruneFiles(col("maybe_null").isNull)
    assert(keptN < totalN, s"IS NULL pruning kept $keptN of $totalN")
    assert(tn.readWhere(col("maybe_null").isNull).count() ==
      li.filter(col("l_orderkey") < 100).count())
    // IS NOT NULL keeps everything here (no all-null file), still correct
    assert(tn.readWhere(col("maybe_null").isNotNull).count() ==
      li.filter(col("l_orderkey") >= 100).count())
  }

  test("partition pruning keeps only matching partition files") {
    val t = GraftTable.create(spark, tmpDir("part"), li, Seq("l_returnflag"))
    val (kept, total) = t.pruneFiles(col("l_returnflag") === "R")
    assert(kept < total)
    assert(t.readWhere(col("l_returnflag") === "R").count() ==
      li.filter(col("l_returnflag") === "R").count())
  }

  test("append enforces schema; overwriteSchema changes it") {
    val t = GraftTable.create(spark, tmpDir("schema"), li)
    val bad = li.withColumn("extra", lit(1))
    intercept[IllegalArgumentException](t.append(bad))
    t.overwrite(bad, overwriteSchema = true)
    assert(t.toDF.columns.contains("extra"))
  }

  test("checkpoint speeds replay and preserves state across 12 commits") {
    val t = GraftTable.create(spark, tmpDir("ckpt"), li.limit(100))
    (1 to 12).foreach(_ => t.append(li.limit(10)))
    assert(t.version == 12)
    assert(t.toDF.count() == 100 + 120)
    // a fresh handle must reconstruct identical state via the checkpoint
    val t2 = GraftTable.forPath(spark, t.path)
    assert(t2.snapshot.activeFiles.map(_.path).toSet ==
      t.snapshot.activeFiles.map(_.path).toSet)

    // a torn _last_checkpoint (crash mid-write) must degrade to full
    // replay, never break reads or commits
    val ptr = java.nio.file.Paths.get(t.path, "_graft_log", "_last_checkpoint")
    java.nio.file.Files.write(ptr, Array.emptyByteArray)
    val t3 = GraftTable.forPath(spark, t.path)
    assert(t3.toDF.count() == 100 + 120)
    t3.append(li.limit(5)) // commit path also survives
    assert(t3.toDF.count() == 100 + 125)
  }

  test("protocol gating blocks too-old readers and writers, upgrades are monotone") {
    val t = GraftTable.create(spark, tmpDir("proto"), li.limit(10))
    t.upgradeProtocol(1, 1)
    assert(t.toDF.count() == 10)
    intercept[IllegalArgumentException](t.upgradeProtocol(0, 1)) // downgrade
    intercept[IllegalArgumentException](t.upgradeProtocol(2, 3)) // beyond client
    // a foreign newer writer raised the reader floor: reads fail fast
    t.log.commit(Seq(Protocol(2, 2)))
    intercept[UnsupportedOperationException](t.toDF.count())
    // writer-only floor raise (v3 > this client's v2): reads still
    // flow, commits refuse; v2 itself is supported (row tracking)
    val t2 = GraftTable.create(spark, tmpDir("proto2"), li.limit(10))
    t2.log.commit(Seq(Protocol(1, 3)))
    assert(t2.toDF.count() == 10)
    intercept[UnsupportedOperationException](t2.append(li.limit(5)))
  }

  test("named table features gate by capability and stamp on enablement") {
    // enabling row tracking stamps the feature name in the SAME commit
    val t = GraftTable.create(spark, tmpDir("feat"),
      li.limit(10).select("l_orderkey"),
      properties = Map("graft.rowTracking" -> "true"))
    val p0 = t.snapshot.protocol.get
    assert(p0.writerFeatures.contains("rowTracking") && p0.minWriterVersion == 2)
    // known features round-trip the log and keep the table writable
    t.upgradeProtocol(1, 2, readerFeatures = Seq("deletionVectors"),
      writerFeatures = Seq("checkConstraints"))
    t.append(li.limit(3).select("l_orderkey"))
    val p1 = GraftTable.forPath(spark, t.path).snapshot.protocol.get
    assert(p1.readerFeatures == Seq("deletionVectors"))
    assert(p1.writerFeatures.sorted == Seq("checkConstraints", "rowTracking"))
    // a feature name this client doesn't implement can't be demanded
    intercept[IllegalArgumentException](
      t.upgradeProtocol(1, 2, writerFeatures = Seq("futureMagic")))
    // a foreign table demanding an unknown WRITER feature still reads,
    // refuses commits with the feature named in the error
    val t2 = GraftTable.create(spark, tmpDir("feat2"), li.limit(10))
    t2.log.commit(Seq(Protocol(1, 2, writerFeatures = Seq("futureMagic"))))
    assert(t2.toDF.count() == 10)
    val e = intercept[UnsupportedOperationException](t2.append(li.limit(5)))
    assert(e.getMessage.contains("futureMagic"))
    // an unknown READER feature blocks the read itself
    val t3 = GraftTable.create(spark, tmpDir("feat3"), li.limit(10))
    t3.log.commit(Seq(Protocol(1, 1, readerFeatures = Seq("alienEncoding"))))
    val e2 = intercept[UnsupportedOperationException](
      GraftTable.forPath(spark, t3.path).toDF.count())
    assert(e2.getMessage.contains("alienEncoding"))
  }

  test("log cleanup drops pre-checkpoint commits; table stays fully usable") {
    val t = GraftTable.create(spark, tmpDir("logclean"), li.limit(50))
    (1 to 22).foreach(_ => t.append(li.limit(5)))          // checkpoints at 10, 20
    assert(t.version == 22)
    val deleted = t.cleanupLogs()
    assert(deleted == 20, s"expected commits 0..19 dropped, got $deleted")
    // fresh handle reconstructs through the checkpoint
    val t2 = GraftTable.forPath(spark, t.path)
    assert(t2.toDF.count() == 50 + 22 * 5)
    assert(t2.version == 22)
    // retained-window time travel still works; below the window fails loudly
    assert(t2.toDFAt(20).count() == 50 + 20 * 5)
    intercept[IllegalStateException](t2.toDFAt(5).count())
    // history shows only the retained window
    val versions = t2.history.select("version").collect().map(_.getLong(0)).toSet
    assert(versions == (20L to 22L).toSet)
    // commits continue from the right version
    t2.append(li.limit(5))
    assert(t2.version == 23)
    assert(t2.toDF.count() == 50 + 23 * 5)
    // after cleanup the checkpoint is load-bearing: a torn pointer must
    // recover by scanning _checkpoints/, not render the table unreadable
    val ptr = java.nio.file.Paths.get(t.path, "_graft_log", "_last_checkpoint")
    java.nio.file.Files.write(ptr, Array.emptyByteArray)
    val t4 = GraftTable.forPath(spark, t.path)
    assert(t4.toDF.count() == 50 + 23 * 5,
      "torn pointer after log cleanup must fall back to checkpoint scan")
    t4.append(li.limit(5))
    assert(t4.version == 24)
    // keepVersions headroom retains extra commit FILES (history /
    // change-stream consumers); snapshot reconstruction still needs
    // the checkpoint, so time travel below it fails either way
    val t3 = GraftTable.create(spark, tmpDir("logclean2"), li.limit(10))
    (1 to 12).foreach(_ => t3.append(li.limit(1)))         // checkpoint at 10
    t3.cleanupLogs(keepVersions = 4)                       // cutoff = min(10, 12-4)
    val kept = t3.history.select("version").collect().map(_.getLong(0)).toSet
    assert(kept == (8L to 12L).toSet, s"commits 8..12 should survive, got $kept")
    assert(t3.toDFAt(10).count() == 20)
  }

  test("copy into ingests external parquet idempotently by file identity") {
    val src = tmpDir("copy-src")
    li.limit(200).repartition(2).write.parquet(src)
    val t = GraftTable.create(spark, tmpDir("copy-tbl"), li.limit(0))
    val m1 = t.copyInto(src)
    assert(m1("numCopiedFiles").toInt == 2)
    assert(t.toDF.count() == 200)
    // re-running is a no-op — identities already ingested
    val m2 = t.copyInto(src)
    assert(m2("numCopiedFiles") == "0")
    assert(t.toDF.count() == 200)
    // idempotency survives compaction of the ingested data
    t.optimize()
    assert(t.copyInto(src)("numCopiedFiles") == "0")
    assert(t.toDF.count() == 200)
    // a NEW source file is picked up alone (content may overlap — COPY
    // INTO dedups by file identity, not row content)
    li.limit(50).coalesce(1).write.mode("append").parquet(src)
    val m3 = t.copyInto(src)
    assert(m3("numCopiedFiles").toInt == 1)
    assert(t.toDF.count() == 250)
    // schema mismatches are rejected before any write
    val badSrc = tmpDir("copy-bad")
    li.limit(5).withColumn("extra", lit(1)).write.parquet(badSrc)
    intercept[IllegalArgumentException](t.copyInto(badSrc))
  }

  test("restore to timestamp picks the version at that commit time") {
    val t = GraftTable.create(spark, tmpDir("restore-ts"), li.limit(100))
    Thread.sleep(5)
    val tsAfterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    t.delete(col("l_returnflag") === "R")
    assert(t.toDF.count() < 100)
    t.restoreToTimestamp(tsAfterV0)
    assert(t.toDF.count() == 100)
  }

  test("commit timestamps are monotonic even when the wall clock runs backwards") {
    val t = GraftTable.create(spark, tmpDir("ict"), li.limit(10))
    val log = new TxnLog(t.path)
    val v0Ts = log.commitTimestamp(0L)
    // a writer on a skewed host stamps a commit BEFORE the table's
    // creation time — the log must clamp it to predecessor+1, or
    // TIMESTAMP AS OF "latest ts <= t" becomes ill-defined
    val v = log.commit(Seq(
      CommitInfo(v0Ts - 60000, "SKEWED", Map.empty, Map.empty)))
    assert(log.commitTimestamp(v) == v0Ts + 1,
      s"expected clamp to ${v0Ts + 1}, got ${log.commitTimestamp(v)}")
    // normal forward-clock commits keep their own timestamp
    val v2 = log.commit(Seq(
      CommitInfo(System.currentTimeMillis() + 60000, "FUTURE", Map.empty, Map.empty)))
    assert(log.commitTimestamp(v2) > log.commitTimestamp(v))
    // time travel at a ts between the clamped pair resolves in order
    assert(Snapshot.versionAtTimestamp(log, v0Ts) == 0L)
    assert(Snapshot.versionAtTimestamp(log, v0Ts + 1) == v)
  }

  test("idempotent batch append skips replayed (appId, version) pairs") {
    val t = GraftTable.create(spark, tmpDir("idem"), li.limit(10))
    t.appendIdempotent("nightly-load", 1, li.limit(20))
    t.appendIdempotent("nightly-load", 1, li.limit(20)) // retry: skipped
    assert(t.toDF.count() == 30)
    t.appendIdempotent("nightly-load", 2, li.limit(5))
    assert(t.toDF.count() == 35)
    // a different app's version counter is independent
    t.appendIdempotent("backfill", 1, li.limit(2))
    assert(t.toDF.count() == 37)
  }

  test("vacuum spares property-referenced sidecars, reclaims stale ones") {
    val t = GraftTable.create(spark, tmpDir("vac-sidecar"),
      li.limit(3000).repartition(4, col("l_orderkey")))
    t.computeBloomFilter("l_orderkey")
    val rel1 = t.snapshot.metadata.get.properties("graft.bloom.l_orderkey")
    t.vacuum(0.0, dryRun = false)
    // active sidecar survives; pruned point lookup still works
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t.path, rel1)))
    val key = li.limit(3000).select(min("l_orderkey")).head.getLong(0)
    assert(t.readWhere(col("l_orderkey") === key).count() ==
      li.limit(3000).filter(col("l_orderkey") === key).count())
    // recompute supersedes the pointer; the stale sidecar is reclaimed
    t.computeBloomFilter("l_orderkey")
    val rel2 = t.snapshot.metadata.get.properties("graft.bloom.l_orderkey")
    assert(rel2 != rel1)
    t.vacuum(0.0, dryRun = false)
    def dataFiles(rel: String): Int = {
      val d = java.nio.file.Paths.get(t.path, rel)
      if (!java.nio.file.Files.exists(d)) 0
      else {
        val w = java.nio.file.Files.walk(d)
        try w.iterator().asScala.count(p =>
          p.getFileName.toString.endsWith(".parquet")) finally w.close()
      }
    }
    assert(dataFiles(rel1) == 0, "superseded bloom sidecar should be vacuumable")
    assert(dataFiles(rel2) > 0, "active bloom sidecar must survive")
  }

  test("dynamic file pruning: a selective dim filter skips fact files before the join") {
    // range-clustered fact table: tight per-file min/max on the key
    val fact = li.limit(6000).repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    val t = GraftTable.create(spark, tmpDir("dfp"), fact)
    val allFiles = t.toDF.inputFiles.length
    assert(allFiles >= 8)
    // selective dim: 3 keys from the low end of the range
    val lowKeys = li.limit(6000).select("l_orderkey").distinct()
      .orderBy("l_orderkey").limit(3)
    val pruned = t.readDynamicallyPruned(lowKeys, "l_orderkey")
    assert(pruned.inputFiles.length < allFiles,
      s"expected file skipping, scanned ${pruned.inputFiles.length}/$allFiles")
    // joined result identical to the unpruned join
    val j1 = pruned.join(lowKeys, "l_orderkey").count()
    val j2 = t.toDF.join(lowKeys, "l_orderkey").count()
    assert(j1 == j2 && j1 > 0)
    // empty dim side -> empty (schema-preserving) scan
    val empty = t.readDynamicallyPruned(lowKeys.limit(0), "l_orderkey")
    assert(empty.count() == 0 && empty.columns.sameElements(t.toDF.columns))
    // past maxKeys the key list degrades to a [min,max] range and still
    // prunes a range-clustered table
    val ranged = t.readDynamicallyPruned(lowKeys, "l_orderkey", maxKeys = 1)
    assert(ranged.inputFiles.length < allFiles)
    assert(ranged.join(lowKeys, "l_orderkey").count() == j2)
  }

  test("composite-key dynamic pruning conjoins per-column cuts; join stays exact") {
    import spark.implicits._
    // files clustered on (a) so the second column adds a further cut
    val fact = (0L until 4000L).map(i => (i / 500L, i % 40L, i))
      .toDF("a", "b", "v").repartitionByRange(8, col("a"))
      .sortWithinPartitions("a", "b")
    val t = GraftTable.create(spark, tmpDir("dfp-multi"), fact)
    val allFiles = t.toDF.inputFiles.length
    val dim = Seq((1L, 5L), (1L, 7L), (2L, 9L)).toDF("a", "b")
    val pruned = t.readDynamicallyPrunedMulti(dim, Seq("a", "b"))
    assert(pruned.inputFiles.length < allFiles,
      s"expected skipping, scanned ${pruned.inputFiles.length}/$allFiles")
    val j1 = pruned.join(dim, Seq("a", "b")).count()
    val j2 = t.toDF.join(dim, Seq("a", "b")).count()
    assert(j1 == j2 && j1 > 0,
      "the conjunction over-approximates tuples; the join must equalize")
  }

  test("bloom semi-join filter cuts scanned rows; join result is exact") {
    val fact = li.limit(6000).repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    val t = GraftTable.create(spark, tmpDir("bloomjoin"), fact)
    val total = t.toDF.count()
    // a dim far wider than DFP's exact-key budget would allow at scale
    val dim = li.limit(6000).select("l_orderkey").distinct()
      .orderBy("l_orderkey").limit(40)
    val exact = t.toDF.join(dim, "l_orderkey").count()
    val filtered = t.readBloomJoinFiltered(dim, "l_orderkey")
    val survivors = filtered.count()
    // advisory: never drops a matching row, and at fpp 0.01 the
    // survivor set is a sliver of the table, pre-shuffle
    assert(survivors >= exact, "bloom filter must never drop a match")
    assert(survivors < total / 2,
      s"expected row-level cut, kept $survivors/$total")
    assert(filtered.join(dim, "l_orderkey").count() == exact && exact > 0)
    // string keys probe through the same putString convention
    val st = GraftTable.create(spark, tmpDir("bloomjoin-s"),
      li.limit(3000).select("l_returnflag", "l_extendedprice"))
    val sdim = spark.createDataFrame(Seq(Tuple1("R"))).toDF("l_returnflag")
    val sf = st.readBloomJoinFiltered(sdim, "l_returnflag")
    assert(sf.count() ==
      st.toDF.filter(col("l_returnflag") === "R").count())
    // empty dim -> empty schema-preserving scan
    assert(t.readBloomJoinFiltered(dim.limit(0), "l_orderkey").count() == 0)
  }

  test("bloom sidecar is written with executor parallelism, not via the driver") {
    val t = GraftTable.create(spark, tmpDir("bloom-par"),
      li.limit(4000).repartition(8, col("l_orderkey")))
    t.computeBloomFilter("l_orderkey")
    val rel = t.snapshot.metadata.get.properties("graft.bloom.l_orderkey")
    val d = java.nio.file.Paths.get(t.path, rel)
    val w = java.nio.file.Files.walk(d)
    val parts = try w.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet")) finally w.close()
    // one bitset row per data file, written as a distributed parquet —
    // a driver-side coalesce(1) path would produce exactly one part.
    assert(parts > 1, s"expected multi-part bloom sidecar, got $parts part(s)")
    val key = li.limit(4000).select(min("l_orderkey")).head.getLong(0)
    assert(t.readWhere(col("l_orderkey") === key).count() ==
      li.limit(4000).filter(col("l_orderkey") === key).count())
  }

  test("vacuum dry run lists compacted-away files, real run deletes them") {
    val t = GraftTable.create(spark, tmpDir("vac"), li.repartition(16))
    t.optimize()
    val listed = t.vacuum(0.0, dryRun = true).count()
    assert(listed >= 16)
    val before = t.toDF.count()
    t.vacuum(0.0, dryRun = false)
    assert(t.vacuum(0.0, dryRun = true).count() == 0)
    assert(t.toDF.count() == before)
    // time travel to v0 is now broken — that's the documented trade-off
    intercept[Exception](t.toDFAt(0).count())
  }

  test("time travel by timestamp picks the right version") {
    val t = GraftTable.create(spark, tmpDir("tt"), li.limit(50))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(li.limit(25))
    assert(t.toDFAsOfTimestamp(afterV0).count() == 50)
    assert(t.toDFAsOfTimestamp(System.currentTimeMillis()).count() == 75)
  }

  test("streaming batch append is idempotent per (appId, epochId)") {
    val t = GraftTable.create(spark, tmpDir("stream"), li.limit(10))
    t.appendStreamBatch("app1", 0L, li.limit(5))
    t.appendStreamBatch("app1", 0L, li.limit(5)) // replay → no-op
    t.appendStreamBatch("app1", 1L, li.limit(5))
    assert(t.toDF.count() == 20)
  }

  test("zorder clusters both columns for skipping") {
    val t = GraftTable.create(spark, tmpDir("zo"), li.repartition(8))
    t.zorderBy(32L * 1024, "l_partkey", "l_suppkey")
    val (kept, total) = t.pruneFiles(col("l_partkey") <= 10L)
    assert(total > 1)
    assert(kept < total, s"zorder should make l_partkey skippable: $kept/$total")
    assert(t.toDF.count() == li.count())
  }

  test("merge inserts and updates the right rows") {
    val o = Tables(spark, sfDir, "orders")
    val t = GraftTable.create(spark, tmpDir("merge"), o)
    val src = o.limit(10).withColumn("o_totalprice", lit(1.0))
      .unionByName(o.limit(3).withColumn("o_orderkey", col("o_orderkey") + 5000000L))
    t.merge(src, "o_orderkey")
    assert(t.toDF.count() == o.count() + 3)
    assert(t.toDF.filter(col("o_totalprice") === 1.0).count() >= 10)
  }

  test("replaceWhere atomically swaps a partition's rows in one commit") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = GraftTable.create(spark, tmpDir("replw"), li, Seq("l_returnflag"))
    val v0 = t.version
    val replacement = li.filter(col("l_returnflag") === "R").limit(100)
      .withColumn("l_quantity", lit(999.0))
    t.replaceWhere(col("l_returnflag") === "R", replacement)
    assert(t.version == v0 + 1, "replaceWhere must be a single commit")
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 100)
    assert(t.toDF.filter(col("l_returnflag") === "R" && col("l_quantity") =!= 999.0).count() == 0)
    assert(t.toDF.filter(col("l_returnflag") =!= "R").count() ==
      li.filter(col("l_returnflag") =!= "R").count())
  }

  test("repartitionTable migrates the layout atomically; ids and history survive") {
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmpDir("repart"),
      li.limit(600).select("l_orderkey", "l_returnflag", "l_quantity"),
      properties = Map("graft.rowTracking" -> "true"))
    val n = t.toDF.count()
    val idsBefore = t.toDFWithRowIds.select("l_orderkey", "row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val v0 = t.version
    val m = t.repartitionTable(Seq("l_returnflag"))
    assert(t.version == v0 + 1, "migration must be one commit")
    assert(m("partitionBy") == "l_returnflag")
    // new layout: hive-style partition values on every file, pruning works
    assert(t.snapshot.partitionColumns == Seq("l_returnflag"))
    assert(t.snapshot.activeFiles.forall(_.partitionValues.contains("l_returnflag")))
    val (kept, total) = t.pruneFiles(col("l_returnflag") === "R")
    assert(kept < total, "partition pruning must work on the new layout")
    // rows, and row-tracked ids, are unchanged by the relocation
    assert(t.toDF.count() == n)
    val idsAfter = t.toDFWithRowIds.select("l_orderkey", "row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(idsAfter == idsBefore, "a layout migration must not reassign ids")
    // the old layout stays readable via time travel; de-partition works
    assert(t.toDFAt(v0).count() == n)
    t.repartitionTable(Nil)
    assert(t.snapshot.partitionColumns.isEmpty && t.toDF.count() == n)
    intercept[IllegalArgumentException](t.repartitionTable(Nil))
    intercept[IllegalArgumentException](t.repartitionTable(Seq("nope")))
  }

  test("dynamic partition overwrite replaces only the partitions in the frame") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = GraftTable.create(spark, tmpDir("dynover"), li, Seq("l_returnflag"))
    val untouchedBefore = t.snapshot.activeFiles
      .filter(_.partitionValues.get("l_returnflag").exists(_ != "R"))
      .map(_.path).toSet
    val v0 = t.version
    val backfill = li.filter(col("l_returnflag") === "R").limit(50)
      .withColumn("l_quantity", lit(777.0))
    val m = t.overwritePartitionsDynamic(backfill)
    assert(t.version == v0 + 1, "dynamic overwrite must be one commit")
    assert(m("numReplacedPartitions") == "1")
    // the R partition holds exactly the backfill; others keep their
    // FILES (not just their rows) — untouched partitions are
    // metadata-untouched
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 50)
    assert(t.toDF.filter(col("l_returnflag") === "R" &&
      col("l_quantity") =!= 777.0).count() == 0)
    val untouchedAfter = t.snapshot.activeFiles
      .filter(_.partitionValues.get("l_returnflag").exists(_ != "R"))
      .map(_.path).toSet
    assert(untouchedAfter == untouchedBefore)
    // unpartitioned tables refuse (that would be a full overwrite)
    val flat = GraftTable.create(spark, tmpDir("dynover-flat"), li.limit(10))
    intercept[IllegalArgumentException](
      flat.overwritePartitionsDynamic(li.limit(5)))
  }

  test("optimizeWrite coalesces many input tasks into target-sized files") {
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmpDir("optw"), li.limit(0))
    t.setTableProperties(Map("graft.optimizeWrite" -> "true"))
    val wide = li.limit(2000).repartition(16) // 16 tasks -> 16 small files without shaping
    t.append(wide)
    val appended = t.log.readCommit(t.version)
      .collect { case a: graft.lake.AddFile => a }
    assert(appended.size <= 2,
      s"optimizeWrite should bin-pack 16 input tasks, wrote ${appended.size} files")
    assert(t.toDF.count() == 2000)

    // partitioned table: shuffle lands on partition columns
    val pt = GraftTable.create(spark, tmpDir("optw-part"),
      li.limit(0), Seq("l_returnflag"))
    pt.setTableProperties(Map("graft.optimizeWrite" -> "true"))
    pt.append(li.limit(2000).repartition(16))
    val pAdded = pt.log.readCommit(pt.version)
      .collect { case a: graft.lake.AddFile => a }
    val nParts = li.limit(2000).select("l_returnflag").distinct().count()
    assert(pAdded.size <= nParts,
      s"expected ≤$nParts files (one per partition), got ${pAdded.size}")
    assert(pt.toDF.filter(col("l_returnflag").isNotNull).count() == 2000)
  }

  test("optimize compacts every partition to one file in a single pass") {
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmpDir("opt-multi"),
      li.limit(3000), Seq("l_returnflag", "l_linestatus"))
    (1 to 3).foreach(_ => t.append(li.limit(3000))) // small files per partition
    val parts = t.snapshot.activeFiles.map(_.partitionValues).distinct.size
    assert(t.snapshot.numFiles > parts)
    t.optimize()
    assert(t.snapshot.numFiles == parts,
      s"expected 1 file per partition ($parts), got ${t.snapshot.numFiles}")
    assert(t.toDF.count() == 4 * 3000)
    val byPart = li.limit(3000).groupBy("l_returnflag", "l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2) * 4).toMap
    val got = t.toDF.groupBy("l_returnflag", "l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == byPart)
  }

  test("autoOptimize compacts in-line once small files accumulate") {
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmpDir("autoopt"), li.limit(0))
    t.setTableProperties(Map(
      "graft.autoOptimize" -> "true",
      "graft.autoOptimize.minFiles" -> "4"))
    (1 to 5).foreach(i => t.append(li.limit(100)))
    assert(t.toDF.count() == 500)
    assert(t.snapshot.numFiles < 5,
      s"expected inline compaction, have ${t.snapshot.numFiles} files")
    assert(t.history.filter(col("operation") === "OPTIMIZE").count() >= 1)
  }

  test("stats computation persists to table properties") {
    val t = GraftTable.create(spark, tmpDir("stats"), li.limit(500))
    val stats = t.computeStats().collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(stats.contains("l_orderkey"))
    val props = t.snapshot.metadata.get.properties
    assert(props.keys.exists(_.startsWith("graft.stats.l_orderkey")))
  }

  test("SHOW CREATE TABLE emits re-runnable DDL with NOT NULL, partitioning, properties") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("showcreate"),
      (0 until 10).map(i => (i.toLong, s"p${i % 2}", i * 2L)).toDF("k", "part", "v"),
      partitionBy = Seq("part"),
      properties = Map("graft.cdf" -> "true"))
    t.setNotNull("k")
    val gsql = new GraftSql(spark)
    gsql.register("sct", t.path)
    val ddl = gsql.sql("SHOW CREATE TABLE sct").head.getString(0)
    assert(ddl.contains("k BIGINT NOT NULL"))
    assert(ddl.contains("PARTITIONED BY (part)"))
    assert(ddl.contains("USING graftlake"))
    assert(ddl.contains(s"LOCATION '${t.path}'"))
    assert(ddl.contains("'graft.cdf' = 'true'"))
  }

  test("CREATE TABLE LIKE copies schema/partitioning/config, never data-derived state") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("like-src"),
      (0 until 40).map(i => (i.toLong, s"p${i % 2}", s"doc body $i"))
        .toDF("doc_id", "part", "text"),
      partitionBy = Seq("part"),
      properties = Map("graft.minhash.index" -> "doc_id,text"))
    src.addConstraint("id_pos", "doc_id >= 0")
    src.optimize() // materializes the index -> sidecar/fingerprint props
    src.computeBloomFilter("doc_id")
    val t = GraftTable.createLike(spark, src.path, tmpDir("like-dst"))
    assert(t.toDF.count() == 0, "LIKE creates an empty table")
    assert(t.snapshot.schema == src.snapshot.schema)
    assert(t.snapshot.partitionColumns == Seq("part"))
    val props = t.snapshot.metadata.get.properties
    assert(props.get("graft.minhash.index").contains("doc_id,text"),
      "index DECLARATIONS are configuration and copy over")
    assert(props.contains("graft.constraint.id_pos"))
    assert(!props.keys.exists(k => k.contains(".sidecar") ||
      k.contains(".fingerprint") || k.startsWith("graft.bloom.")),
      "data-derived pointers must not copy (they reference the source's files)")
    // the copied constraint enforces on the new table
    val e = intercept[IllegalArgumentException](
      t.append(Seq((-1L, "p0", "bad")).toDF("doc_id", "part", "text")))
    assert(e.getMessage.contains("id_pos"))
    // SQL spelling
    val gsql = new GraftSql(spark)
    gsql.register("likesrc", src.path)
    gsql.sql(s"CREATE TABLE likedst LIKE likesrc LOCATION '${tmpDir("like-dst2")}'")
    assert(gsql.sql("SELECT COUNT(*) AS n FROM likedst").head.getLong(0) == 0)
  }

  test("VACUUM LITE reclaims exactly the log-tombstoned files, never untracked debris") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("vac-lite"),
      (0 until 40).map(i => (i.toLong, i * 2L)).toDF("k", "v"))
    // CoW DELETE + OPTIMIZE tombstone the rewritten originals
    t.delete(col("k") % 4 === 0)
    t.optimize()
    // untracked debris (an aborted writer's leftover): LITE must NOT
    // touch it — that is the full walk's job
    val junk = java.nio.file.Paths.get(t.path, "junk-leftover.parquet")
    java.nio.file.Files.write(junk, Array[Byte](1, 2, 3))
    val listed = t.vacuumLite(0.0, dryRun = true)
      .collect().map(_.getString(0)).toSet
    assert(listed.nonEmpty, "CoW rewrites must leave reclaimable tombstones")
    assert(!listed.exists(_.contains("junk-leftover")),
      "LITE candidates come from the log, not a filesystem walk")
    val active = t.snapshot.activeFiles.map(f =>
      java.nio.file.Paths.get(t.path, f.path).toAbsolutePath.normalize.toString).toSet
    assert(listed.intersect(active).isEmpty, "LITE must never touch live files")
    t.vacuumLite(0.0, dryRun = false)
    assert(listed.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(java.nio.file.Files.exists(junk), "debris survives LITE")
    assert(t.toDF.count() == 30, "table reads unaffected")
    // retention: a fresh tombstone inside the window is kept
    t.delete(col("k") === 1)
    assert(t.vacuumLite(24.0, dryRun = true).count() == 0)
    // SQL spelling, and tombstoned DV sidecars reclaim too
    t.deleteMergeOnRead(col("k") === 3)
    t.reorgPurge() // materializes the mask, retires the DV
    val gsql = new GraftSql(spark)
    gsql.register("vl", t.path)
    val viaSql = gsql.sql("VACUUM vl LITE RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0))
    assert(viaSql.exists(_.contains("_graft_dv")),
      "a retired deletion vector must be a LITE candidate")
    gsql.sql("VACUUM vl LITE RETAIN 0 HOURS")
    assert(viaSql.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(t.toDF.count() == 28)
  }

  test("executeScript: multi-statement scripts, literal semicolons, comments") {
    import spark.implicits._
    val gsql = new GraftSql(spark)
    gsql.registerCreate("scr_src", tmpDir("script-src"),
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    val out = gsql.executeScript(s"""
      |-- a saved maintenance script, run verbatim
      |CREATE TABLE scr_tbl LIKE scr_src LOCATION '${tmpDir("script-tbl")}';
      |INSERT INTO scr_tbl SELECT * FROM scr_src;
      |UPDATE scr_tbl SET s = 'a;b' WHERE id = 3;
      |OPTIMIZE scr_tbl;
      |SELECT COUNT(*) AS n FROM scr_tbl;
      |""".stripMargin)
    assert(out.columns.toSeq == Seq("n") && out.head().getLong(0) == 20,
      "the LAST statement's frame returns")
    // the literal ';' must have survived the split
    assert(gsql.sql("SELECT s FROM scr_tbl WHERE id = 3")
      .head().getString(0) == "a;b")
    // earlier statements' effects are visible to later ones (the
    // OPTIMIZE ran over the CREATE+INSERT state)
    assert(gsql.sql("DESCRIBE HISTORY scr_tbl").select("operation")
      .collect().map(_.getString(0)).contains("OPTIMIZE"))
    intercept[IllegalArgumentException](gsql.executeScript("  \n-- only\n"))
  }

  test("VACUUM LITE past 10k tombstones unlinks distributed, not serially") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("vac-lite-10k"),
      Seq((1L, 2L)).toDF("k", "v"))
    // forge a 10k+ tombstone window cheaply: real files on disk, one
    // commit of RemoveFile actions — exactly the state a long
    // retention over heavy churn leaves behind
    val n = 10501
    val rels = (0 until n).map(i => f"data/stale-$i%05d.parquet")
    rels.foreach { rel =>
      val p = java.nio.file.Paths.get(t.path, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array[Byte](0))
    }
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    t.log.commit(CommitInfo(System.currentTimeMillis(), "DELETE",
      Map.empty, Map.empty) +: rels.map(RemoveFile(_, old, dataChange = true)))
    // candidate discovery is driver-side log replay (no jobs); the
    // only Spark job inside the call is the distributed unlink. A
    // listener scoped to the call proves the parallel path took over
    // from the serial driver loop. (NOT a statusTracker count delta:
    // the tracker evicts past spark.ui.retainedJobs, so in a full-suite
    // JVM the count can DECREASE across the call even when the job ran.)
    val jobsDuringCall = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobsDuringCall.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(probe)
    val df = try {
      val r = t.vacuumLite(24.0, dryRun = false)
      // listener events post async — poll briefly for the JobStart
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobsDuringCall.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      r
    } finally spark.sparkContext.removeSparkListener(probe)
    assert(jobsDuringCall.get() > 0,
      "a >10k unlink must run as a Spark job (distributed), not a driver loop")
    val listed = df.collect().map(_.getString(0))
    assert(listed.length == n, s"all $n tombstones reclaim, got ${listed.length}")
    assert(listed.forall(p =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(t.toDF.count() == 1, "live data unaffected")
  }

  test("symlink manifest: Hive layout, DV refusal, SQL statement, vacuum survival") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, s"p${i % 3}", i * 10L))
      .toDF("k", "part", "v")
    val t = GraftTable.create(spark, tmpDir("manifest-spec"), df,
      partitionBy = Seq("part"))
    val manifests = t.generateManifest()
    // one manifest per partition, Hive subdir layout
    assert(manifests.size == 3)
    assert(manifests.forall(_.contains("_graft_manifest/part=")))
    val listed = spark.read.textFile(manifests: _*).collect().toSeq
    assert(spark.read.parquet(listed: _*).count() == 60)
    // regeneration after DML reflects the new snapshot
    t.delete(col("k") % 2 === 0)
    val listed2 = spark.read.textFile(t.generateManifest(): _*).collect().toSeq
    assert(spark.read.parquet(listed2: _*).count() == 30)
    // manifest files survive vacuum (external readers keep working)
    t.vacuum(0.0, dryRun = false)
    assert(spark.read.textFile(
      t.path + "/_graft_manifest/*/manifest").count() > 0)
    // a deletion-vector table refuses: raw parquet would resurrect rows
    t.deleteMergeOnRead(col("k") === 1)
    val e = intercept[UnsupportedOperationException](t.generateManifest())
    assert(e.getMessage.contains("deletion vectors"))
    // SQL spelling
    t.reorgPurge()
    val gsql = new GraftSql(spark)
    gsql.register("mtab", t.path)
    val out = gsql.sql("GENERATE symlink_format_manifest FOR TABLE mtab")
    assert(out.filter(col("metric") === "manifest").count() == 3)
  }

  test("manifest MATERIALIZE: live-DV table exports externally-readable " +
      "snapshot; regenerate after REORG drops the materialized dir") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, s"p${i % 3}", i * 10L))
      .toDF("k", "part", "v")
    val t = GraftTable.create(spark, tmpDir("manifest-mat"), df,
      partitionBy = Seq("part"))
    t.deleteMergeOnRead(col("k") % 2 === 0) // DVs stay LIVE
    t.updateMergeOnRead(col("k") === 1, Map("v" -> lit(9999L)))
    assert(t.snapshot.dvFiles.nonEmpty, "fixture must carry live DVs")
    val v0 = t.version
    val manifests = t.generateManifest(materialize = true)
    assert(manifests.size == 3, "one manifest per partition")
    val listed = spark.read.textFile(manifests: _*).collect().toSeq
    // external plain-parquet read: masked rows absent, post-image once
    val ext = spark.read.parquet(listed: _*)
    assert(ext.count() == 30, "externally-read row count must mask DVs")
    assert(ext.filter(col("k") % 2 === 0).count() == 0,
      "MoR-deleted rows must not resurrect through the manifest")
    assert(ext.filter(col("k") === 1).select("v").head().getLong(0) == 9999L,
      "the MoR update's post-image must be the visible row")
    assert(ext.filter(col("k") === 1).count() == 1,
      "pre-image masked + post-image listed: exactly one row")
    // materialized rewrites live INSIDE the manifest dir, snapshot-scoped
    assert(listed.exists(_.contains("_graft_manifest/_materialized/")),
      "masked files must be replaced by materialized paths")
    // NO table commit happened: version, DVs, time travel all untouched
    assert(t.version == v0, "MATERIALIZE must not commit to the table")
    assert(GraftTable.forPath(spark, t.path).snapshot.dvFiles.nonEmpty,
      "the table's own MoR debt must stay live")
    // engine read agrees with the external read
    assert(t.toDF.count() == 30)
    // vacuum must not reclaim the materialized export
    t.vacuum(0.0, dryRun = false)
    assert(spark.read.parquet(listed: _*).count() == 30,
      "vacuum must spare the materialized manifest export")
    // REORG retires the DVs; plain regeneration now lists table files
    // only, but the PRIOR materialized export survives the default
    // retention window — an external reader holding the old manifest
    // keeps its consistent view (the vacuum-retention guarantee,
    // extended to materialized rewrites)
    t.reorgPurge()
    val listed3 = spark.read.textFile(t.generateManifest(): _*).collect().toSeq
    assert(spark.read.parquet(listed3: _*).count() == 30)
    assert(listed3.forall(!_.contains("_materialized")),
      "post-REORG manifests list table files only")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      t.path, "_graft_manifest", "_materialized")),
      "prior materialized export must survive the retention window")
    assert(spark.read.parquet(listed: _*).count() == 30,
      "a reader holding the OLD manifest still reads its snapshot")
    // expire the window -> the next regeneration reclaims the export
    t.setTableProperties(Map("graft.manifest.exportRetentionHours" -> "0"))
    t.generateManifest()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      t.path, "_graft_manifest", "_materialized")),
      "regeneration must reclaim exports past their retention window")
    // SQL spelling
    val t2 = GraftTable.create(spark, tmpDir("manifest-mat-sql"),
      (0 until 20).map(i => (i.toLong, i * 2L)).toDF("k", "v"))
    t2.deleteMergeOnRead(col("k") < 5)
    val gsql = new GraftSql(spark)
    gsql.register("mmat", t2.path)
    val out = gsql.sql(
      "GENERATE symlink_format_manifest FOR TABLE mmat MATERIALIZE")
    val paths = out.filter(col("metric") === "manifest")
      .select("value").collect().map(_.getString(0)).toSeq
    assert(paths.size == 1, "unpartitioned: one manifest")
    val extRows = spark.read.parquet(
      spark.read.textFile(paths: _*).collect().toIndexedSeq: _*)
    assert(extRows.count() == 15 &&
      extRows.agg(min(col("k"))).head().getLong(0) == 5)
  }

  test("manifest MATERIALIZE: a partition whose files are ALL masked " +
      "still writes its manifest from the materialized side") {
    import spark.implicits._
    // one input partition -> exactly ONE file per partition dir, so
    // masking any p0 row masks p0's only file: its manifest group must
    // come from the materialized side ALONE
    val df = (0 until 30).map(i => (i.toLong, s"p${i % 3}", i * 10L))
      .toDF("k", "part", "v").repartition(1)
    val t = GraftTable.create(spark, tmpDir("manifest-allmask"), df,
      partitionBy = Seq("part"))
    t.deleteMergeOnRead(col("part") === "p0" && col("k") >= 15)
    val manifests = t.generateManifest(materialize = true)
    assert(manifests.size == 3,
      s"all three partitions need manifests, got ${manifests.size}")
    val p0 = manifests.filter(_.contains("part=p0"))
    assert(p0.size == 1)
    val p0paths = spark.read.textFile(p0: _*).collect().toIndexedSeq
    assert(p0paths.forall(_.contains("_materialized")),
      "p0's only table file is masked: every listed path is materialized")
    val extP0 = spark.read.parquet(p0paths: _*)
    assert(extP0.count() == 5, "p0: 10 rows minus 5 deleted")
    assert(extP0.agg(sum("v")).head().getLong(0) == 300,
      "surviving p0 rows are k in {0,3,6,9,12}: sum(v) = 300")
    // engine agrees
    assert(t.toDF.filter(col("part") === "p0").count() == 5)
  }

  test("auto REORG: steady MoR deletes cross the masked-fraction " +
      "threshold and purge exactly the offending files") {
    import spark.implicits._
    // two deterministic files: k in [0,50) and [50,100)
    val t0 = GraftTable.create(spark, tmpDir("auto-reorg"),
      (0L until 100L).map(i => (i, i * 10L)).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    assert(t0.snapshot.activeFiles.size == 2)
    t0.setTableProperties(Map("graft.autoReorg" -> "0.25"))
    val t = GraftTable.forPath(spark, t0.path)

    // masks 20/50 of file A (40% ≥ 0.25 → offending) and 1/50 of file
    // B (2% → NOT offending): the purge must scope to A alone and
    // KEEP the sidecar (B's mask still lives in it)
    t.deleteMergeOnRead(col("k") < 20 || col("k") === 60)
    val s1 = GraftTable.forPath(spark, t.path).snapshot
    assert(s1.dvFiles.nonEmpty,
      "partial-scope auto purge must keep the sidecar masking file B")
    val hist1 = GraftTable.forPath(spark, t.path).history(10).collect()
    val reorgs1 = hist1.filter(_.getAs[String]("operation") == "REORG")
    assert(reorgs1.length == 1, "exactly one auto REORG must have fired")
    assert(reorgs1.head.getAs[String]("parameters").contains("auto"),
      s"the REORG must be stamped auto: ${reorgs1.head}")
    val df1 = GraftTable.forPath(spark, t.path).toDF
    assert(df1.count() == 79, "100 - 20 (purged) - 1 (still masked)")
    assert(df1.filter(col("k") < 20 || col("k") === 60).count() == 0)
    // file A was rewritten: no active file still holds any masked-A row
    assert(df1.filter(col("k") >= 20 && col("k") < 50).count() == 30)

    // second steady delete pushes file B over the threshold → the
    // second auto purge covers ALL masked files and retires the DVs
    t.deleteMergeOnRead(col("k") >= 60 && col("k") < 85)
    val s2 = GraftTable.forPath(spark, t.path).snapshot
    assert(s2.dvFiles.isEmpty,
      "full-scope auto purge must retire every deletion vector")
    val df2 = GraftTable.forPath(spark, t.path).toDF
    assert(df2.count() == 55, "k in [20,60) ∪ [85,100) = 40 + 15")
    assert(df2.agg(sum("v")).head().getLong(0) ==
      ((20L until 60L) ++ (85L until 100L)).map(_ * 10).sum)
    val reorgs2 = GraftTable.forPath(spark, t.path).history(20).collect()
      .filter(_.getAs[String]("operation") == "REORG")
    assert(reorgs2.length == 2, "one auto REORG per threshold crossing")

    // below-threshold DML never triggers: a 1-row delete stays a mask
    t.deleteMergeOnRead(col("k") === 30)
    assert(GraftTable.forPath(spark, t.path).snapshot.dvFiles.nonEmpty)
    assert(GraftTable.forPath(spark, t.path).history(30).collect()
      .count(_.getAs[String]("operation") == "REORG") == 2)
    assert(GraftTable.forPath(spark, t.path).toDF.count() == 54)

    // best-effort end-to-end: a malformed property value must NOT
    // make the already-durable DML look failed — the hook logs and
    // skips (r12 advisory: only CME was swallowed before)
    t.setTableProperties(Map("graft.autoReorg" -> "not-a-number"))
    GraftTable.forPath(spark, t.path).deleteMergeOnRead(col("k") === 31)
    assert(GraftTable.forPath(spark, t.path).toDF.count() == 53,
      "the DML must commit even when the auto-REORG hook cannot parse")
  }

  test("OPTIMIZE WHERE x CLUSTER BY audit: scoped passes never stamp " +
      "the incremental clustering version, the next unscoped pass stays " +
      "incremental (untouched partitions keep their files), FULL restamps") {
    import spark.implicits._
    val path = tmpDir("optwhere-cluster")
    def props() = GraftTable.forPath(spark, path)
      .snapshot.metadata.get.properties
    val df = (0L until 300L).map(i => (i % 100, s"p${i % 3}", i))
      .toDF("k", "part", "v").repartition(2)
    val t0 = GraftTable.create(spark, path, df,
      partitionBy = Seq("part"),
      properties = Map("graft.clusterBy" -> "k"))
    // first unscoped pass: full apply, stamps the applying commit
    val m1 = GraftTable.forPath(spark, t0.path).optimize()
    val stamp1 = props()("graft.clusterBy.version")
    assert(stamp1 == m1("commitVersion"))
    assert(props()("graft.clusterBy.applied") == "k")
    // post-stamp traffic: an append into p0 only
    GraftTable.forPath(spark, t0.path).append(
      (300L until 400L).map(i => (i % 100, "p0", i))
        .toDF("k", "part", "v").coalesce(1))
    // scoped WHERE pass over p1: rewrites p1's files, MUST NOT claim
    // the incremental stamp (it covered part of the table)
    val mW = GraftTable.forPath(spark, t0.path)
      .optimize(where = Some(col("part") === "p1"))
    assert(mW("numRemovedFiles").toInt > 0, "the scope must rewrite p1")
    assert(props()("graft.clusterBy.version") == stamp1,
      "a WHERE-scoped pass must not stamp the clustering version")
    // p2 has seen no traffic since the stamp: its files must survive
    // the next unscoped pass untouched — incremental, never full
    val t2 = GraftTable.forPath(spark, t0.path)
    val p2files = t2.snapshot.activeFiles
      .filter(_.partitionValues.get("part").contains("p2")).map(_.path).toSet
    val total = t2.snapshot.activeFiles.size
    val m2 = t2.optimize()
    assert(m2("numRemovedFiles").toInt > 0 &&
      m2("numRemovedFiles").toInt < total,
      s"incremental pass must cover only post-stamp files: $m2 of $total")
    val after2 = GraftTable.forPath(spark, t0.path).snapshot.activeFiles
      .filter(_.partitionValues.get("part").contains("p2")).map(_.path).toSet
    assert(after2 == p2files, "untouched partition must keep its files")
    val stamp2 = props()("graft.clusterBy.version")
    assert(stamp2 == m2("commitVersion") && stamp2.toLong > stamp1.toLong)
    // content stable through every pass
    val out = GraftTable.forPath(spark, t0.path).toDF
    assert(out.count() == 400)
    assert(out.agg(sum("v")).head().getLong(0) == (0L until 400L).sum)
    // FULL pass rewrites everything and restamps
    val t3 = GraftTable.forPath(spark, t0.path)
    val total3 = t3.snapshot.activeFiles.size
    val m3 = t3.optimize(full = true)
    assert(m3("numRemovedFiles").toInt == total3,
      s"FULL must rewrite every active file: $m3 of $total3")
    assert(props()("graft.clusterBy.version") == m3("commitVersion"))
    assert(GraftTable.forPath(spark, t0.path).toDF.count() == 400)
  }

  test("auto manifest: layout-changing commits regenerate (MATERIALIZE " +
      "under live DVs); metadata-only commits leave it untouched") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("auto-manifest"),
      (0L until 20L).map(i => (i, i * 2L)).toDF("k", "v"),
      properties = Map("graft.manifest.autoGenerate" -> "true"))
    val mf = java.nio.file.Paths.get(t.path, "_graft_manifest", "manifest")
    def extRead() = spark.read.parquet(
      spark.read.textFile(mf.toString).collect().toIndexedSeq: _*)
    // the CREATE commit already generated it
    assert(java.nio.file.Files.exists(mf), "create must auto-generate")
    assert(extRead().count() == 20)
    // append regenerates: external readers see the new rows
    t.append((100L until 110L).map(i => (i, i)).toDF("k", "v"))
    assert(extRead().count() == 30)
    // a metadata-only commit must NOT touch the manifest
    val before = java.nio.file.Files.getLastModifiedTime(mf)
    t.setTableProperties(Map("graft.someUserProp" -> "x"))
    assert(java.nio.file.Files.getLastModifiedTime(mf) == before,
      "metadata-only commits must not regenerate the manifest")
    // MoR delete leaves DVs LIVE: the auto regeneration must run
    // MATERIALIZE — external read masks the rows, no manual GENERATE
    t.deleteMergeOnRead(col("k") < 5)
    assert(GraftTable.forPath(spark, t.path).snapshot.dvFiles.nonEmpty)
    val ext = extRead()
    assert(ext.count() == 25, "auto-materialized manifest must mask DVs")
    assert(ext.filter(col("k") < 5).count() == 0)
    assert(spark.read.textFile(mf.toString).collect()
      .exists(_.contains("_materialized")))
    // compaction regenerates again: listed paths are the live set
    t.reorgPurge()
    val after = extRead()
    assert(after.count() == 25)
    assert(spark.read.textFile(mf.toString).collect()
      .forall(!_.contains("_materialized")),
      "post-REORG regeneration lists table files only")
  }

  test("auto recluster: interleaved appends past the depth threshold " +
      "trigger in-line incremental cluster maintenance; clustered " +
      "ingest below it never fires; malformed threshold never fails " +
      "the append") {
    import spark.implicits._
    // clustered table (CLUSTER BY k) with auto-recluster at depth 3
    val path = tmpDir("auto-recluster")
    val t0 = GraftTable.create(spark, path,
      (0L until 1000L).filter(_ % 4 == 0).map(i => (i, i * 2L))
        .toDF("k", "v").coalesce(1),
      properties = Map("graft.clusterBy" -> "k",
        "graft.autoRecluster" -> "3"))
    // two more whole-domain appends: depth reaches 3, still <= limit
    (1 to 2).foreach { r =>
      GraftTable.forPath(spark, path).append(
        (0L until 1000L).filter(_ % 4 == r.toLong)
          .map(i => (i, i * 2L)).toDF("k", "v").coalesce(1))
    }
    def ops() = GraftTable.forPath(spark, path).history(30).collect()
      .map(_.getAs[String]("operation"))
    assert(!ops().exists(_.contains("ZORDER")),
      s"depth 3 is at (not past) the threshold — no pass yet: ${ops().toSeq}")
    // the fourth interleaved file pushes depth past 3: the append
    // itself runs the incremental pass and the report reads healthy
    GraftTable.forPath(spark, path).append(
      (0L until 1000L).filter(_ % 4 == 3L)
        .map(i => (i, i * 2L)).toDF("k", "v").coalesce(1))
    assert(ops().exists(_.contains("ZORDER")),
      s"past-threshold drift must trigger maintenance: ${ops().toSeq}")
    val rep = GraftTable.forPath(spark, path).clusteringReport().head()
    assert(rep.getAs[Long]("max_overlap_depth") <= 2,
      s"auto pass must restore clustering: $rep")
    // content intact
    val out = GraftTable.forPath(spark, path).toDF
    assert(out.count() == 1000)
    assert(out.agg(sum("v")).head().getLong(0) == (0L until 1000L).map(_ * 2).sum)
    // clustered (disjoint-range) ingest stays below the threshold: a
    // range-partitioned append must NOT fire a second pass
    val zorders = ops().count(_.contains("ZORDER"))
    GraftTable.forPath(spark, path).append(
      (1000L until 1200L).map(i => (i, i * 2L)).toDF("k", "v").coalesce(1))
    assert(ops().count(_.contains("ZORDER")) == zorders,
      "disjoint-range ingest must not trigger maintenance")
    // best-effort: a malformed threshold never fails the append
    GraftTable.forPath(spark, path).setTableProperties(
      Map("graft.autoRecluster" -> "not-a-number"))
    GraftTable.forPath(spark, path).append(
      (1200L until 1210L).map(i => (i, i)).toDF("k", "v"))
    assert(GraftTable.forPath(spark, path).toDF.count() == 1210)
  }

  test("clustering report: interleaved ingest reads degraded, ZORDER " +
      "restores depth ~1; fresh appends re-degrade (the re-cluster cue)") {
    import spark.implicits._
    // 4 interleaved single-file appends: every file spans the whole
    // key domain (the steady state of unsorted streaming ingest)
    val t = GraftTable.create(spark, tmpDir("clustering-report"),
      (0L until 1000L).filter(_ % 4 == 0).map(i => (i, i * 2L)).toDF("k", "v")
        .coalesce(1))
    (1 to 3).foreach { r =>
      t.append((0L until 1000L).filter(_ % 4 == r.toLong)
        .map(i => (i, i * 2L)).toDF("k", "v").coalesce(1))
    }
    val bad = t.clusteringReport(Seq("k")).head()
    assert(bad.getAs[Long]("n_files") >= 4)
    assert(bad.getAs[Long]("max_overlap_depth") >= 4,
      s"interleaved files all cover any value: $bad")
    assert(bad.getAs[Long]("avg_range_ppm") > 900000L,
      s"interleaved file ranges span ~the whole domain: $bad")
    // ZORDER on k: tight disjoint ranges, depth collapses
    t.zorderBy(4 * 1024, "k")
    val good = GraftTable.forPath(spark, t.path).clusteringReport(Seq("k")).head()
    assert(good.getAs[Long]("n_files") >= 2, s"need >1 file to mean anything: $good")
    assert(good.getAs[Long]("max_overlap_depth") <= 2,
      s"clustered ranges must be (near-)disjoint: $good")
    assert(good.getAs[Long]("avg_range_ppm") < 600000L, s"ranges tighten: $good")
    // a fresh whole-domain append degrades the report again — the cue
    val t2 = GraftTable.forPath(spark, t.path)
    t2.append((0L until 1000L by 7).map(i => (i, i)).toDF("k", "v").coalesce(1))
    val drift = GraftTable.forPath(spark, t.path).clusteringReport(Seq("k")).head()
    assert(drift.getAs[Long]("max_overlap_depth") >
      good.getAs[Long]("max_overlap_depth"),
      s"fresh ingest must read as clustering drift: $drift vs $good")
    // SQL spelling (declared CLUSTER BY defaults the column set)
    val gsql = new GraftSql(spark)
    gsql.register("crep", t.path)
    gsql.sql("ALTER TABLE crep CLUSTER BY (k)")
    val viaSql = gsql.sql("DESCRIBE CLUSTERING crep")
    assert(viaSql.columns.toSeq ==
      Seq("column", "n_files", "avg_range_ppm", "max_overlap_depth"))
    assert(viaSql.head().getString(0) == "k")
  }

  test("FSCK repairs out-of-band file loss; DRY RUN only lists") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("fsck"),
      (1L to 100L).toDF("id").repartition(4))
    val before = t.toDF.count()
    assert(before == 100)
    // lose one data file out-of-band (storage incident)
    val victim = t.snapshot.activeFiles.head.path
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.path, victim))
    // DRY RUN reports without committing
    val dry = t.fsckRepair(dryRun = true)
    assert(dry.collect().map(_.getString(0)).toSeq == Seq(victim))
    assert(t.snapshot.activeFiles.map(_.path).contains(victim),
      "DRY RUN must not commit")
    // repair drops exactly the missing reference; reads work again
    val v0 = t.version
    t.fsckRepair(dryRun = false)
    assert(t.version == v0 + 1)
    assert(!t.snapshot.activeFiles.map(_.path).contains(victim))
    val after = t.toDF.count()
    assert(after < before && after > 0,
      "surviving rows read honestly after repair")
    // an intact table is a no-op (no commit)
    val v1 = t.version
    assert(t.fsckRepair(dryRun = false).count() == 0)
    assert(t.version == v1)
    // SQL spelling
    val gsql = new GraftSql(spark)
    gsql.register("ftab", t.path)
    assert(gsql.sql("FSCK REPAIR TABLE ftab DRY RUN").count() == 0)
  }

  test("checkpoint WRITE shards into multiple parquet parts past " +
      "spark.graft.checkpoint.partActions; replay from the sharded " +
      "checkpoint alone is identical") {
    import spark.implicits._
    spark.conf.set("spark.graft.checkpoint.partActions", "10")
    try {
      // 25 files in one commit: metadata + protocol-ish actions + 25
      // adds ≈ 27 lines > 10 → ≥3 parquet parts
      val t = GraftTable.create(spark, tmpDir("ckpt_multipart"),
        spark.range(1, 26).selectExpr("id", "id * 2 AS v").repartition(25))
      t.append(Seq((100L, 200L)).toDF("id", "v"))
      t.log.writeCheckpoint(spark, t.version)
      val dir = t.log.logDir.resolve("_checkpoints")
        .resolve(f"ckpt-${t.version}%020d")
      assert(java.nio.file.Files.isDirectory(dir), s"no checkpoint at $dir")
      val parts = {
        val l = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
        } finally l.close()
      }
      assert(parts > 1, s"expected a sharded checkpoint, got $parts part(s)")
      // drop every commit below the checkpoint: replay must come from
      // the sharded parquet alone
      t.cleanupLogs()
      assert(!t.log.hasCommit(0L), "cleanup must delete the old commits")
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.toDF.count() == 26L)
      assert(t2.toDF.agg(sum("id")).head.getLong(0) == (1L to 25L).sum + 100L)
    } finally spark.conf.unset("spark.graft.checkpoint.partActions")
  }

  test("UPDATE assignments all see the pre-update row, CoW and MoR") {
    import spark.implicits._
    for (mor <- Seq(false, true)) {
      val t = GraftTable.create(spark, tmpDir(s"upd-simul-$mor"),
        Seq((0L, 1L, 2L), (5L, 3L, 4L)).toDF("k", "a", "b"))
      // the condition reads k, which the first assignment changes, and
      // the swap reads each other's old value
      val set = Map("k" -> (col("k") + 100), "a" -> col("b"), "b" -> col("a"))
      if (mor) t.updateMergeOnRead(col("k") === 0, set)
      else t.update(col("k") === 0, set)
      val rows = t.toDF.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((100L, 2L, 1L), (5L, 3L, 4L)), s"mor=$mor: $rows")
    }
  }

  test("building a read over 40 files starts no Spark job") {
    val t = GraftTable.create(spark, tmpDir("scan-nojob"), li.limit(4000).repartition(40))
    assert(t.snapshot.numFiles == 40)
    val (df, buildJobs) = jobsStartedBy(t.toDF)
    assert(buildJobs.isEmpty, s"building the read started jobs: $buildJobs")
    assert(df.count() == 4000)
  }

  test("a partition filter reads only that partition's files") {
    val sp = spark
    import sp.implicits._
    val t = GraftTable.create(spark, tmpDir("part-filter-files"),
      (0 until 60).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "part")
        .repartition(2), partitionBy = Seq("part"))
    val p1 = t.snapshot.activeFiles.filter(_.partitionValues("part") == "p1")
    assert(p1.nonEmpty && p1.size < t.snapshot.numFiles)
    val q = t.toDF.filter(col("part") === "p1")
    assert(q.count() == 20)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1)
    val read = scans.head.selectedPartitions.toPartitionArray.map(_.toPath.getName).toSet
    assert(read == p1.map(f => java.nio.file.Paths.get(f.path).getFileName.toString).toSet)
    // a leading partition column reads in the log's column order, with
    // and without deletion vectors masking the scan
    val lead = GraftTable.create(spark, tmpDir("part-filter-lead"),
      (0 until 6).map(i => (s"p${i % 2}", i.toLong, i * 10L)).toDF("part", "k", "v"),
      partitionBy = Seq("part"))
    assert(lead.toDF.columns.toSeq == Seq("part", "k", "v"))
    assert(lead.toDF.orderBy("k").head() == org.apache.spark.sql.Row("p0", 0L, 0L))
    lead.deleteMergeOnRead(col("k") === 0L)
    assert(lead.snapshot.dvFiles.nonEmpty)
    assert(lead.toDF.columns.toSeq == Seq("part", "k", "v"))
    assert(lead.toDF.orderBy("k").head() == org.apache.spark.sql.Row("p1", 1L, 10L))
  }

  test("a live read of a data file deleted out of band fails naming the file") {
    val sp = spark
    import sp.implicits._
    val t = GraftTable.create(spark, tmpDir("oob-delete"),
      (0 until 20).map(i => (i.toLong, i)).toDF("k", "v").repartition(2))
    val victim = t.snapshot.activeFiles.head.path
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.path, victim))
    val e = intercept[Exception](t.toDF.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(msgs.contains(java.nio.file.Paths.get(victim).getFileName.toString), msgs)
  }
}
