package graft.lake

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Delta-log export (L110): protocol conformance of the written
  * `_delta_log` (action shapes, version numbering, incremental
  * sync commits), DV materialization on export, column-mapping
  * round-trip, partition-spec reset, vacuum sparing, auto mode.
  */
class DeltaExportSpec extends GraftSparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def logDir(t: GraftTable) =
    java.nio.file.Paths.get(t.path, "_graft_delta", "_delta_log")

  private def actions(t: GraftTable, version: Long)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val f = logDir(t).resolve(f"$version%020d.json")
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq.map(mapper.readTree)
  }

  test("first export writes protocol + metaData + adds; schemaString " +
      "parses and stats carry record counts") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_first"),
      (1 to 100).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "b"),
      partitionBy = Seq("b"))
    val r = DeltaExport.export(t)
    assert(r.version == 0L && r.removes == 0)
    val acts = actions(t, 0L)
    assert(acts.head.has("commitInfo"), "commitInfo leads the commit")
    val proto = acts.find(_.has("protocol")).get.get("protocol")
    assert(proto.get("minReaderVersion").asInt() == 1 &&
      proto.get("minWriterVersion").asInt() == 2,
      "unmapped table exports at the baseline protocol")
    val md = acts.find(_.has("metaData")).get.get("metaData")
    assert(md.get("format").get("provider").asText() == "parquet")
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(md.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "v", "b"))
    assert(md.get("partitionColumns").elements().asScala
      .map(_.asText()).toSeq == Seq("b"))
    val adds = acts.filter(_.has("add")).map(_.get("add"))
    assert(adds.nonEmpty && adds.forall(_.get("path").asText().startsWith("file:")),
      "adds reference data files by absolute URI")
    assert(adds.forall(a => a.get("partitionValues").has("b")),
      "every add carries its partition value")
    val recs = adds.map(a => mapper.readTree(a.get("stats").asText())
      .get("numRecords").asLong()).sum
    assert(recs == 100L, s"stats numRecords must sum to the row count: $recs")
    // external replay sees the exact table
    val got = DeltaExport.externalRead(spark, t.path)
    assert(got.count() == 100L)
    assert(got.schema.fieldNames.sorted.toSeq == Seq("b", "id", "v"))
    assert(got.agg(sum("id")).head.getLong(0) == 5050L)
  }

  test("incremental sync: append adds only; CoW delete emits removes; " +
      "a no-change export appends nothing") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_incr"),
      (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(DeltaExport.export(t).version == 0L)
    val v0Adds = actions(t, 0L).count(_.has("add"))

    t.append((61 to 90).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val r1 = DeltaExport.export(t)
    assert(r1.version == 1L && r1.removes == 0 && r1.adds > 0)
    val a1 = actions(t, 1L)
    assert(!a1.exists(_.has("metaData")), "unchanged schema: no metaData resend")
    assert(!a1.exists(_.has("protocol")), "protocol only at version 0")

    t.delete(col("id") <= 30L) // CoW: the covered files rewrite
    val r2 = DeltaExport.export(t)
    assert(r2.version == 2L && r2.removes > 0 && r2.adds > 0,
      "a rewrite must emit removes for departed files and adds for their rewrites")

    val r3 = DeltaExport.export(t)
    assert(r3.version == 2L && r3.adds == 0 && r3.removes == 0,
      "no layout change, no new commit")
    assert(!java.nio.file.Files.exists(
      logDir(t).resolve(f"${3L}%020d.json")))

    val live = DeltaExport.parse(t.path).liveAdds
    assert(live.size == v0Adds + r1.adds + r2.adds - r2.removes ||
      live.nonEmpty, "replay bookkeeping sane")
    assert(DeltaExport.externalRead(spark, t.path)
      .agg(count(lit(1)), sum("id")).head() ==
      org.apache.spark.sql.Row(60L, (31L to 90L).sum),
      "external replay equals the table after append + delete")
  }

  test("live deletion vectors materialize on export: masked files are " +
      "replaced by rewrites under _materialized, externally exact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_dv"),
      (1 to 80).map(i => (i.toLong, i % 2)).toDF("id", "p"),
      partitionBy = Seq("p"))
    DeltaExport.export(t)
    t.deleteMergeOnRead(col("id") % 4 === 0) // DVs stay live
    assert(t.snapshot.dvFiles.nonEmpty, "precondition: MoR left live DVs")
    val r = DeltaExport.export(t)
    assert(r.materializedFiles > 0, "masked files must rewrite on export")
    val live = DeltaExport.parse(t.path).liveAdds.keys
    assert(live.exists(_.contains("_graft_delta/_materialized/")),
      "rewrites live under the export's own directory")
    val got = DeltaExport.externalRead(spark, t.path)
    assert(got.count() == 60L)
    assert(got.filter(col("id") % 4 === 0).count() == 0,
      "externally read rows must exclude every masked row")
    // partition values recovered from the rewrite layout
    assert(got.filter(col("p") === 0).count() == 20L)
  }

  test("column mapping exports as delta.columnMapping metadata and the " +
      "external read surfaces logical names") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_map"),
      (1 to 50).map(i => (i.toLong, s"n$i")).toDF("id", "name"))
    t.renameColumn("name", "label") // metadata-only: physical stays "name"
    val r = DeltaExport.export(t)
    val acts = actions(t, r.version)
    val proto = acts.find(_.has("protocol")).get.get("protocol")
    assert(proto.get("minReaderVersion").asInt() == 2 &&
      proto.get("minWriterVersion").asInt() == 5,
      "column mapping needs reader 2 / writer 5")
    val md = acts.find(_.has("metaData")).get.get("metaData")
    assert(md.get("configuration").get("delta.columnMapping.mode")
      .asText() == "name")
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(md.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val labelField = schema.fields.find(_.name == "label").get
    assert(labelField.metadata
      .getString("delta.columnMapping.physicalName") == "name",
      "the logical field maps to the on-disk physical name")
    val got = DeltaExport.externalRead(spark, t.path)
    assert(got.columns.toSeq.sorted == Seq("id", "label"))
    assert(got.agg(sum("id")).head.getLong(0) == (1L to 50L).sum)
  }

  test("external time travel: versionAsOf replay sees each exported state") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_tt"),
      (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(t)
    t.append((31 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(t)
    t.delete(col("id") > 40L)
    DeltaExport.export(t)
    // tombstoned-but-unreclaimed files keep older exported versions
    // readable for the retention window, exactly Delta's versionAsOf
    assert(DeltaExport.externalRead(spark, t.path, Some(0L)).count() == 30L)
    assert(DeltaExport.externalRead(spark, t.path, Some(1L)).count() == 50L)
    assert(DeltaExport.externalRead(spark, t.path).count() == 40L)
  }

  test("partition-spec change resets the external history to version 0") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_spec"),
      (1 to 40).map(i => (i.toLong, i % 3)).toDF("id", "g"))
    DeltaExport.export(t)
    t.append((41 to 60).map(i => (i.toLong, i % 3)).toDF("id", "g"))
    assert(DeltaExport.export(t).version == 1L)
    t.repartitionTable(Seq("g")) // partition spec changes
    val r = DeltaExport.export(t)
    assert(r.version == 0L, "Delta cannot express spec evolution: restart")
    assert(!java.nio.file.Files.exists(
      logDir(t).resolve(f"${1L}%020d.json")),
      "the old external history is gone")
    assert(DeltaExport.parse(t.path).partitionColumns == Seq("g"))
    assert(DeltaExport.externalRead(spark, t.path).count() == 60L)
  }

  test("L111 attachDelta: the export round-trips into a NEW graft table " +
      "zero-copy, with footer stats, evolving independently") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dexp_att_src"),
      (1 to 100).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "b"),
      partitionBy = Seq("b"))
    DeltaExport.export(src)
    val att = GraftTable.attachDelta(spark,
      src.path + "/_graft_delta", tmpDir("dexp_att"))
    assert(att.toDF.count() == 100L)
    assert(att.toDF.agg(sum("id")).head.getLong(0) == 5050L)
    assert(att.toDF.filter(col("b") === 1).count() == 25L,
      "partition values must flow from the Delta log")
    assert(att.snapshot.activeFiles.forall(_.path.startsWith("/")),
      "attached files are absolute references — zero bytes copied")
    assert(att.snapshot.activeFiles.forall(_.stats.exists(_.numRecords > 0)),
      "footer stats collect on attach (CONVERT discipline)")
    // independent evolution: a CoW delete on the attachment localizes
    // rewrites; the source table is untouched
    att.delete(col("id") <= 10L)
    assert(att.toDF.count() == 90L)
    assert(src.toDF.count() == 100L, "the source must never change")
  }

  test("L111 SQL surface: ATTACH DELTA registers the table in one " +
      "statement; the verb refuses in a txn") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dexp_sqlatt_src"),
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(src)
    val gsql = new GraftSql(spark)
    val out = gsql.sql(s"ATTACH DELTA '${src.path}/_graft_delta' " +
      s"AS TABLE datt LOCATION '${tmpDir("dexp_sqlatt_dst")}'")
    assert(out.filter(col("metric") === "attached").count() == 1)
    assert(gsql.sql("SELECT COUNT(*) AS n FROM datt").head().getLong(0) == 50)
    val ex = intercept[Exception](gsql.executeScript(
      s"BEGIN; ATTACH DELTA '${src.path}/_graft_delta' AS TABLE d2 " +
        s"LOCATION '${tmpDir("dexp_sqlatt_dst2")}'; COMMIT;"))
    assert(ex.getMessage.toLowerCase.contains("transaction"))
  }

  test("L118 resyncAttached pulls source evolution incrementally: " +
      "removes + adds in ONE commit; up-to-date no-ops; local DML " +
      "makes the fork refuse") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dexp_sync_src"),
      (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(src)
    val att = GraftTable.attachDelta(spark,
      src.path + "/_graft_delta", tmpDir("dexp_sync_att"))
    assert(att.toDF.count() == 60)
    // up-to-date: no source change -> no commit
    val v0 = att.snapshot.version
    assert(att.resyncAttached()("status") == "up-to-date")
    assert(GraftTable.forPath(spark, att.path).snapshot.version == v0)
    // source evolves: CoW delete + append, re-export (incremental)
    src.delete(col("id") <= 10L)
    src.append((61 to 70).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(GraftTable.forPath(spark, src.path))
    val r = att.resyncAttached()
    assert(r("status") == "synced")
    assert(r("numAdded").toInt > 0 && r("numRemoved").toInt > 0)
    val att2 = GraftTable.forPath(spark, att.path)
    assert(att2.toDF.count() == 60)
    assert(att2.toDF.agg(sum("id")).head.getLong(0) ==
      (11L to 70L).sum)
    assert(att2.snapshot.version == v0 + 1, "ONE sync commit")
    // fresh stats on the pulled files
    assert(att2.snapshot.activeFiles.forall(_.stats.exists(_.numRecords > 0)))
    // a second sync with no source change no-ops again
    assert(att2.resyncAttached()("status") == "up-to-date")
    // local DML forks the attachment: resync must refuse, not drop edits
    att2.delete(col("id") === 70L)
    src.append(Seq((71L, "v71")).toDF("id", "v"))
    DeltaExport.export(GraftTable.forPath(spark, src.path))
    val ex = intercept[IllegalArgumentException](
      GraftTable.forPath(spark, att.path).resyncAttached())
    assert(ex.getMessage.contains("independent fork"))
    // and a plain (non-attached) table refuses with provenance error
    val plain = GraftTable.create(spark, tmpDir("dexp_sync_plain"),
      Seq((1L, "a")).toDF("id", "v"))
    val ex2 = intercept[IllegalStateException](plain.resyncAttached())
    assert(ex2.getMessage.contains("graft.attach"))
  }

  test("attachDelta at a pinned VERSION adopts history — Delta time " +
      "travel INTO the engine; SQL VERSION form") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dexp_vatt_src"),
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(src) // external v0
    src.append((21 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(GraftTable.forPath(spark, src.path)) // v1: sync
    val old = GraftTable.attachDelta(spark, src.path + "/_graft_delta",
      tmpDir("dexp_vatt_old"), atVersion = Some(0L))
    assert(old.toDF.count() == 20)
    val cur = GraftTable.attachDelta(spark, src.path + "/_graft_delta",
      tmpDir("dexp_vatt_cur"))
    assert(cur.toDF.count() == 30)
    val gsql = new GraftSql(spark)
    val out = gsql.sql(s"ATTACH DELTA '${src.path}/_graft_delta' AS " +
      s"TABLE vatt LOCATION '${tmpDir("dexp_vatt_sql")}' VERSION 0")
    assert(out.filter(col("metric") === "attached").count() == 1)
    assert(gsql.sql("SELECT COUNT(*) AS n FROM vatt").head().getLong(0) == 20)
  }

  test("L118 metadata-only local commits do NOT fork the mirror; " +
      "Delta autoSync probes the log listing and pulls on read") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dauto_src"),
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(src)
    val att = GraftTable.attachDelta(spark,
      src.path + "/_graft_delta", tmpDir("dauto_att"))
    // property + tag commits are metadata-only: still pristine
    att.setTableProperties(Map("graft.attach.autoSync" -> "true",
      "some.user.prop" -> "x"))
    GraftTable.forPath(spark, att.path).createTag("pin")
    src.append((21 to 25).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(GraftTable.forPath(spark, src.path))
    assert(GraftTable.forPath(spark, att.path).toDF.count() == 25,
      "autoSync read must pull through metadata-only local history")
    // the local properties survive the sync's metadata refresh
    val props2 = GraftTable.forPath(spark, att.path)
      .snapshot.metadata.get.properties
    assert(props2.get("some.user.prop").contains("x"))
  }

  test("attachDelta reads a FOREIGN hand-authored Delta log with " +
      "relative paths") {
    import spark.implicits._
    val root = tmpDir("dexp_foreign")
    (1 to 60).map(i => (i.toLong, i % 3)).toDF("id", "g")
      .write.partitionBy("g").parquet(root)
    val rootP = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(rootP)
    val rels = try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => rootP.relativize(p)).toSeq
    finally walk.close()
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.IntegerType))).json
    val lines = Seq(
      """{"commitInfo":{"timestamp":0,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":["g"],"configuration":{},"createdTime":0}}""") ++
      rels.map { rel =>
        val g = rel.getName(0).toString.stripPrefix("g=")
        s"""{"add":{"path":"${rel.toString}","partitionValues":{"g":"$g"},"size":${java.nio.file.Files.size(rootP.resolve(rel))},"modificationTime":0,"dataChange":true}}"""
      }
    val ld = rootP.resolve("_delta_log")
    java.nio.file.Files.createDirectories(ld)
    java.nio.file.Files.write(ld.resolve(f"${0L}%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val att = GraftTable.attachDelta(spark, root, tmpDir("dexp_foreign_att"))
    assert(att.toDF.count() == 60L)
    assert(att.toDF.agg(sum("id")).head.getLong(0) == (1L to 60L).sum)
    assert(att.toDF.filter(col("g") === 2).count() == 20L)
  }

  test("materialized rewrites REUSE across exports: only files the new " +
      "DV sidecars touch rewrite again (O(delta), tag-fingerprinted)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_reuse"),
      (1 to 200).map(i => (i.toLong, i % 2)).toDF("id", "p"),
      partitionBy = Seq("p"))
    // first MoR wave masks rows in BOTH partitions
    t.deleteMergeOnRead(col("id") % 10 === 0)
    val r1 = DeltaExport.export(t)
    assert(r1.materializedFiles > 0)
    val mat1 = DeltaExport.parse(t.path).liveAdds.keys
      .filter(_.contains("_materialized")).toSet
    // second wave touches ONLY partition p=1 (odd ids)
    t.deleteMergeOnRead(col("id") % 10 === 1)
    val r2 = DeltaExport.export(t)
    val live2 = DeltaExport.parse(t.path).liveAdds.keys
      .filter(_.contains("_materialized")).toSet
    assert(mat1.intersect(live2).nonEmpty,
      "rewrites of files the new sidecar does not touch must be REUSED " +
        s"(v1 materialized: $mat1, v2: $live2)")
    assert(r2.materializedFiles > 0 &&
      r2.materializedFiles < live2.size,
      s"the second export must rewrite ONLY the touched files " +
        s"(${r2.materializedFiles} of ${live2.size} live rewrites)")
    val got = DeltaExport.externalRead(spark, t.path)
    assert(got.count() == 200L - 20L - 20L)
    assert(got.filter(col("id") % 10 === 0 || col("id") % 10 === 1)
      .count() == 0L)
  }

  test("a rename AFTER the first export re-emits the protocol upgrade " +
      "(readers at 1/2 must not hit column-mapped metadata)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_proto"),
      (1 to 30).map(i => (i.toLong, s"n$i")).toDF("id", "name"))
    DeltaExport.export(t)
    assert(actions(t, 0L).find(_.has("protocol")).get.get("protocol")
      .get("minReaderVersion").asInt() == 1)
    t.renameColumn("name", "label")
    val r = DeltaExport.export(t)
    val acts = actions(t, r.version)
    val proto = acts.find(_.has("protocol"))
    assert(proto.nonEmpty, "the mapping flip must re-emit protocol")
    assert(proto.get.get("protocol").get("minReaderVersion").asInt() == 2 &&
      proto.get.get("protocol").get("minWriterVersion").asInt() == 5)
    assert(acts.exists(_.has("metaData")), "and the mapped metaData")
    assert(DeltaExport.externalRead(spark, t.path)
      .columns.sorted.toSeq == Seq("id", "label"))
  }

  test("the export CHECKPOINTS its own log: _last_checkpoint lands on the " +
      "interval, expired JSON expires, replay stays exact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_selfck"),
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      properties = Map(
        "graft.delta.checkpointInterval" -> "2",
        "graft.manifest.exportRetentionHours" -> "0"))
    DeltaExport.export(t) // v0
    t.append((21 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(t) // v1
    t.append((31 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeltaExport.export(t) // v2 -> checkpoint + retention-0 cleanup
    val ck = logDir(t).resolve(f"${2L}%020d.checkpoint.parquet")
    assert(java.nio.file.Files.exists(ck), "checkpoint parquet at the interval")
    val last = mapper.readTree(java.nio.file.Files.readAllBytes(
      logDir(t).resolve("_last_checkpoint")))
    assert(last.get("version").asLong() == 2L)
    assert(!java.nio.file.Files.exists(logDir(t).resolve(f"${0L}%020d.json")),
      "JSON below the checkpoint expires at retention 0")
    assert(java.nio.file.Files.exists(logDir(t).resolve(f"${2L}%020d.json")),
      "the checkpointed version's own JSON commit survives")
    // replay seeds from the checkpoint and stays exact
    assert(DeltaExport.externalRead(spark, t.path).count() == 40L)
    assert(DeltaExport.externalRead(spark, t.path)
      .agg(sum("id")).head.getLong(0) == (1L to 40L).sum)
    // the typed stats survive the checkpoint round-trip
    val live = DeltaExport.parseTable(
      t.path + "/_graft_delta", spark = Some(spark)).liveAdds
    val withStats = live.values.count(_.hasNonNull("stats"))
    assert(withStats == live.size, "every checkpointed add keeps its stats")
    // a further incremental export keeps working on the seeded state
    t.delete(col("id") <= 5L)
    val r = DeltaExport.export(t) // v3
    assert(r.version == 3L && r.removes > 0)
    assert(DeltaExport.externalRead(spark, t.path).count() == 35L)
  }

  test("MULTI-PART self-checkpoint past checkpointPartSize: protocol " +
      "part naming, `parts` in _last_checkpoint, replay equals " +
      "single-part, attach seeds from the parts") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_multick"),
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4),
      properties = Map(
        "graft.delta.checkpointInterval" -> "1",
        "graft.delta.checkpointPartSize" -> "3")) // 4 adds + 2 -> 2 parts
    DeltaExport.export(t) // v0 checkpoints immediately (interval 1)... v0 % 1 == 0
    t.append((11 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3))
    DeltaExport.export(t) // v1 -> multi-part checkpoint (7 adds + 2 actions)
    val ld = logDir(t)
    val l = java.nio.file.Files.list(ld)
    val names =
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString).toList
      } finally l.close()
    val multiRe = """0*1\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    val parts = names.collect { case multiRe(i, n) => (i.toInt, n.toInt) }
    assert(parts.nonEmpty, s"expected multi-part checkpoint files in $names")
    val n = parts.head._2
    assert(parts.map(_._1).sorted == (1 to n).toList,
      s"1-based contiguous part numbering, got $parts")
    val last = mapper.readTree(java.nio.file.Files.readAllBytes(
      ld.resolve("_last_checkpoint")))
    assert(last.get("version").asLong() == 1L)
    assert(last.get("parts").asInt() == n)
    // replay (which globs all parts of the newest checkpoint) is exact
    assert(DeltaExport.externalRead(spark, t.path).count() == 20L)
    assert(DeltaExport.externalRead(spark, t.path)
      .agg(sum("id")).head.getLong(0) == (1L to 20L).sum)
    // a foreign attach seeds from the same multi-part checkpoint
    val att = GraftTable.attachDelta(spark, t.path + "/_graft_delta",
      tmpDir("dexp_multick_att"))
    assert(att.toDF.count() == 20L)
  }

  test("exported add stats carry TYPED per-column min/max/nullCount " +
      "(external data skipping food)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_stats"),
      (1 to 100).map(i => (i.toLong, s"s$i")).toDF("id", "v")
        .withColumn("d", (col("id") / 4).cast("decimal(10,2)")))
    DeltaExport.export(t)
    val adds = actions(t, 0L).filter(_.has("add")).map(_.get("add"))
    val sts = adds.map(a => mapper.readTree(a.get("stats").asText()))
    assert(sts.map(_.get("numRecords").asLong()).sum == 100L)
    assert(sts.forall(_.get("minValues").get("id").isIntegralNumber),
      "numeric min must be an unquoted JSON number")
    assert(sts.map(_.get("maxValues").get("id").asLong()).max == 100L)
    assert(sts.map(_.get("minValues").get("id").asLong()).min == 1L)
    assert(sts.forall(_.get("minValues").get("v").isTextual),
      "string min must be a JSON string")
    assert(sts.forall(_.get("nullCount").get("id").asLong() == 0L))
    // a decimal bound is the column's value, not the unscaled integer
    // the footer stats store
    assert(sts.map(st => BigDecimal(st.get("minValues").get("d").decimalValue())).min ==
      BigDecimal("0.25"))
    assert(sts.map(st => BigDecimal(st.get("maxValues").get("d").decimalValue())).max ==
      BigDecimal("25.00"))
  }

  test("attachDelta seeds from a classic checkpoint parquet when early " +
      "JSON commits are cleaned up (real Delta-writer log shape)") {
    import spark.implicits._
    val root = tmpDir("dexp_ck")
    // two data files written outside any partition dirs
    val rootP = java.nio.file.Paths.get(root)
    (1 to 30).map(i => i.toLong).toDF("id")
      .coalesce(1).write.mode("append").parquet(root)
    (31 to 50).map(i => i.toLong).toDF("id")
      .coalesce(1).write.mode("append").parquet(root)
    val walk = java.nio.file.Files.walk(rootP)
    val files = try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => rootP.relativize(p).toString).toSeq.sorted
    finally walk.close()
    assert(files.size == 2)
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    val ld = rootP.resolve("_delta_log")
    java.nio.file.Files.createDirectories(ld)
    // version 0 = checkpointed state carrying metaData + the FIRST
    // file; the JSON for it is deliberately ABSENT (cleaned up)
    val ckRows = Seq(
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("t",
          org.apache.spark.sql.Row("parquet"), schemaJson,
          Seq.empty[String], Map.empty[String, String]),
        null),
      org.apache.spark.sql.Row(null,
        org.apache.spark.sql.Row(files.head, Map.empty[String, String],
          java.nio.file.Files.size(rootP.resolve(files.head)), 0L, true)))
    val ckSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("metaData",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("format",
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("provider",
                org.apache.spark.sql.types.StringType)))),
          org.apache.spark.sql.types.StructField("schemaString",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("partitionColumns",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)),
          org.apache.spark.sql.types.StructField("configuration",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType))))),
      org.apache.spark.sql.types.StructField("add",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("partitionValues",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)),
          org.apache.spark.sql.types.StructField("size",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("modificationTime",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dataChange",
            org.apache.spark.sql.types.BooleanType))))))
    val tmpCk = tmpDir("dexp_ck_build")
    spark.createDataFrame(
        spark.sparkContext.parallelize(ckRows, 1), ckSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmpCk)
    val ckFile = java.nio.file.Files.list(java.nio.file.Paths.get(tmpCk))
      .iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(ckFile,
      ld.resolve(f"${0L}%020d.checkpoint.parquet"))
    java.nio.file.Files.write(ld.resolve("_last_checkpoint"),
      """{"version":0,"size":2}""".getBytes("UTF-8"))
    // version 1 = JSON tail adding the SECOND file
    java.nio.file.Files.write(ld.resolve(f"${1L}%020d.json"),
      (s"""{"add":{"path":"${files(1)}","partitionValues":{},""" +
        s""""size":${java.nio.file.Files.size(rootP.resolve(files(1)))},""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    val att = GraftTable.attachDelta(spark, root, tmpDir("dexp_ck_att"))
    assert(att.toDF.count() == 50L,
      "checkpoint adds + JSON-tail adds must both attach")
    assert(att.toDF.agg(sum("id")).head.getLong(0) == (1L to 50L).sum)
  }

  test("attachDelta refuses adds carrying Delta deletion vectors") {
    val root = tmpDir("dexp_dv_refuse")
    val ld = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(ld)
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    java.nio.file.Files.write(ld.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":40,"cardinality":6}}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      GraftTable.attachDelta(spark, root, tmpDir("dexp_dv_refuse_att"))
    }
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("attach of a column-mapped export surfaces logical names") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmpDir("dexp_att_map_src"),
      (1 to 40).map(i => (i.toLong, s"n$i")).toDF("id", "name"))
    src.renameColumn("name", "label")
    DeltaExport.export(src)
    val att = GraftTable.attachDelta(spark,
      src.path + "/_graft_delta", tmpDir("dexp_att_map"))
    assert(att.toDF.columns.sorted.toSeq == Seq("id", "label"),
      "Delta column mapping must translate to the graft mapping")
    assert(att.toDF.agg(sum("id")).head.getLong(0) == (1L to 40L).sum)
    assert(att.snapshot.colMap == Map("label" -> "name"))
  }

  test("vacuum spares the export; auto mode re-exports on layout commits") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("dexp_auto"),
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      properties = Map("graft.delta.autoExport" -> "true",
        "graft.vacuum.retentionHours" -> "0"))
    // the CREATE commit itself ran before the property existed in the
    // snapshot the hook read; the first layout commit exports
    t.append((51 to 70).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(java.nio.file.Files.exists(logDir(t)),
      "auto mode must export on a layout commit with no API call")
    val v = DeltaExport.parse(t.path).version
    t.delete(col("id") <= 20L)
    val v2 = DeltaExport.parse(t.path).version
    assert(v2 == v + 1, "every layout change appends one sync commit")
    t.vacuum(retentionHours = 0.0, dryRun = false)
    assert(DeltaExport.externalRead(spark, t.path).count() == 50L,
      "vacuum must spare the export artifacts")
  }

  test("partition values with '+', space, and '%' survive the external " +
      "read's path canonicalization (URI decode, not form decode)") {
    import spark.implicits._
    // '+' is legal in a Hive partition dir and must NOT decode to a
    // space (r14 advisory); a literal space Hive-escapes to %20 and a
    // literal '%' to %25 — all three must round-trip the join between
    // _metadata.file_path and the exported add URIs
    val t = GraftTable.create(spark, tmpDir("delta-plus"),
      Seq((1L, "a+b"), (2L, "a b"), (3L, "a%b"), (4L, "plain"))
        .toDF("id", "part"),
      partitionBy = Seq("part"))
    DeltaExport.export(t)
    val got = DeltaExport.externalRead(spark, t.path)
    assert(got.count() == 4L)
    val parts = got.select("part").collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("a b", "a%b", "a+b", "plain"),
      s"partition values must round-trip exactly, got: ${parts.toSeq}")
    assert(got.filter(col("part") === "a+b").select("id").head.getLong(0) == 1L)
  }
}
