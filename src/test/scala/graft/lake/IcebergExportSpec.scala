package graft.lake

import graft.GraftSparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Iceberg v2 metadata export (L105): spec-conformance of the written
  * artifacts (field-ids, sequence numbers, name mapping, partition
  * spec) plus the external merge-on-read read path and the
  * retention contract on repeated exports.
  */
class IcebergExportSpec extends GraftSparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readJson(p: java.nio.file.Path) =
    mapper.readTree(java.nio.file.Files.readAllBytes(p))

  private def metaDir(t: GraftTable) =
    java.nio.file.Paths.get(t.path, "_graft_iceberg", "metadata")

  private def currentMetadata(t: GraftTable) = {
    val hint = new String(java.nio.file.Files.readAllBytes(
      metaDir(t).resolve("version-hint.text"))).trim
    readJson(metaDir(t).resolve(s"v$hint.metadata.json"))
  }

  test("metadata.json carries the v2 contract: schema field-ids, " +
      "identity partition spec, name mapping, snapshot pointers") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-meta"),
      (0L until 40L).map(i => (i, s"p${i % 2}", i * 2.0)).toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    val r = IcebergExport.export(t)
    val m = currentMetadata(t)
    assert(m.get("format-version").asInt() == 2)
    assert(m.get("table-uuid").asText().nonEmpty)
    // deterministic uuid: re-export yields the same table identity
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(currentMetadata(t).get("table-uuid").asText() ==
      m.get("table-uuid").asText())
    // schema: preorder ids 1..n, last-column-id matches
    val fields = m.get("schemas").get(0).get("fields")
    val ids = (0 until fields.size).map(i => fields.get(i).get("id").asInt())
    assert(ids == Seq(1, 2, 3))
    assert(m.get("last-column-id").asInt() == 3)
    // identity partition spec sourced from the schema field id
    val spec = m.get("partition-specs").get(0)
    assert(spec.get("spec-id").asInt() == 0)
    val pf = spec.get("fields").get(0)
    assert(pf.get("name").asText() == "part")
    assert(pf.get("transform").asText() == "identity")
    assert(pf.get("source-id").asInt() == 2)
    assert(pf.get("field-id").asInt() == 1000)
    // name mapping (field-id-less parquet needs it, the migrated-
    // table convention)
    val nm = mapper.readTree(m.get("properties")
      .get("schema.name-mapping.default").asText())
    assert(nm.size() == 3)
    assert(nm.get(0).get("field-id").asInt() == 1)
    assert(nm.get(0).get("names").get(0).asText() == "k")
    // snapshot pointers resolve
    val snapId = m.get("current-snapshot-id").asLong()
    val snap = m.get("snapshots").get(0)
    assert(snap.get("snapshot-id").asLong() == snapId)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(snap.get("manifest-list").asText()).getPath)))
    assert(r.dataFiles > 0 && r.deleteFiles == 0)
  }

  test("manifest Avro schemas carry spec field-ids; a clean table " +
      "exports exactly one data manifest with typed partition values") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-avro"),
      (0L until 30L).map(i => (i, i % 3, i * 10L)).toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    IcebergExport.export(t)
    val p = IcebergExport.parse(t.path)
    assert(p.partitionColumns == Seq("part"))
    assert(p.deleteFiles.isEmpty)
    // LONG partition column arrives typed, one value per source file
    val parts = p.dataFiles.map(_._2("part")).distinct
    assert(parts.forall(_.isInstanceOf[java.lang.Long]),
      s"identity partition values must be typed: $parts")
    assert(parts.map(_.asInstanceOf[java.lang.Long].longValue()).sorted
      == Seq(0L, 1L, 2L))
    // the manifest list's Avro schema keeps the spec's field-ids
    val hint = new String(java.nio.file.Files.readAllBytes(
      metaDir(t).resolve("version-hint.text"))).trim
    val m = readJson(metaDir(t).resolve(s"v$hint.metadata.json"))
    val listPath = new java.net.URI(
      m.get("snapshots").get(0).get("manifest-list").asText()).getPath
    val rdr = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](
      new java.io.File(listPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    try {
      val sch = rdr.getSchema
      assert(sch.getField("manifest_path").getObjectProp("field-id") == 500)
      assert(sch.getField("content").getObjectProp("field-id") == 517)
      val entries = rdr.iterator()
      val first = entries.next()
      assert(first.get("content") == 0 && !entries.hasNext,
        "clean table: exactly one data manifest")
      assert(first.get("sequence_number") == 1L)
    } finally rdr.close()
  }

  test("live deletion vectors export as position-delete files: " +
      "content=1 manifest at a higher sequence number, spec-sorted " +
      "delete parquet, external MoR read equals the engine") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-dv"),
      (0L until 100L).map(i => (i, i * 10L)).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    t.deleteMergeOnRead(col("k") % 4 === 0)
    t.updateMergeOnRead(col("k") === 1, Map("v" -> lit(9999L)))
    assert(t.snapshot.dvFiles.nonEmpty, "precondition: DVs live")
    val r = IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(r.deleteFiles > 0 && r.deleteRows == 26,
      s"25 deletes + 1 update pre-image, got ${r.deleteRows}")
    val p = IcebergExport.parse(t.path)
    assert(p.deleteFiles.nonEmpty)
    // delete parquet is sorted by (file_path, pos) within each file —
    // the spec's requirement for position-delete files
    p.deleteFiles.foreach { f =>
      val rows = spark.read.parquet(f)
        .select("file_path", "pos").collect()
        .map(r0 => (r0.getString(0), r0.getLong(1))).toSeq
      assert(rows == rows.sorted, s"unsorted position deletes in $f")
    }
    // sequence numbers: deletes land ABOVE the data manifest so v2
    // readers apply them to the listed data files
    val m = currentMetadata(GraftTable.forPath(spark, t.path))
    assert(m.get("last-sequence-number").asLong() == 2L)
    // external MoR read = engine read, including the update post-image
    val ext = IcebergExport.externalRead(spark, t.path)
      .orderBy("k").collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq
    val eng = GraftTable.forPath(spark, t.path).toDF
      .orderBy("k").collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq
    assert(ext == eng)
    assert(ext.exists(_ == (1L, 9999L)), "post-image must be visible")
    assert(!ext.exists(_._1 % 4 == 0), "masked rows must be deleted")
    // vacuum must spare the export's own artifacts (delete rewrites,
    // avro manifests) — they live on the export's retention clock
    GraftTable.forPath(spark, t.path).vacuum(0.0, dryRun = false)
    assert(IcebergExport.externalRead(spark, t.path).count() == 75,
      "vacuum must not reclaim the Iceberg export's artifacts")
  }

  test("repeated exports keep prior position-delete rewrites inside " +
      "the retention window and reclaim them past it; SQL surface") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-retain"),
      (0L until 50L).map(i => (i, i)).toDF("k", "v"))
    t.deleteMergeOnRead(col("k") < 10)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val p1 = IcebergExport.parse(t.path)
    assert(p1.deleteFiles.nonEmpty)
    // more MoR debt at a later version; the re-export writes a new
    // _deletes/v<N> but must keep v<M> (an external reader holding
    // the previous metadata still resolves its delete files)
    GraftTable.forPath(spark, t.path).deleteMergeOnRead(col("k") === 20)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    p1.deleteFiles.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(
        new java.net.URI(f).getPath)),
      s"prior export's delete file must survive retention: $f"))
    // the NEW metadata covers the full debt
    assert(IcebergExport.externalRead(spark, t.path).count() == 39)
    // expired window -> next export reclaims old rewrites
    GraftTable.forPath(spark, t.path).setTableProperties(
      Map("graft.manifest.exportRetentionHours" -> "0"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val survivors = {
      val delRoot = java.nio.file.Paths.get(
        t.path, "_graft_iceberg", "_deletes")
      val l = java.nio.file.Files.list(delRoot)
      try l.iterator().asScala.toSeq.map(_.getFileName.toString)
      finally l.close()
    }
    assert(survivors.size == 1,
      s"expired exports must be reclaimed, left: $survivors")
    // SQL spelling returns the artifact listing
    val gsql = new GraftSql(spark)
    gsql.register("ice", t.path)
    val out = gsql.sql("EXPORT ICEBERG METADATA FOR TABLE ice")
    assert(out.filter(col("metric") === "metadata").count() == 1)
    assert(out.filter(col("metric") === "manifest").count() == 2,
      "data + delete manifests")
    // ...and refuses inside a transaction (maintenance verb)
    val ex = intercept[Exception](gsql.executeScript(
      "BEGIN; EXPORT ICEBERG METADATA FOR TABLE ice; COMMIT;"))
    assert(ex.getMessage.toLowerCase.contains("transaction"))
  }

  test("list and nested-struct columns export with element-ids and the " +
      "external read round-trips them (the embeddings-table shape)") {
    import spark.implicits._
    val df = spark.range(10).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), i -> CAST(id * 10 + i AS FLOAT)) AS emb",
      "named_struct('src', CAST(id % 3 AS STRING), " +
        "'w', CAST(id AS DOUBLE) * 1.5) AS meta")
    val t = GraftTable.create(spark, tmpDir("ice-list"), df)
    IcebergExport.export(t)
    val m = currentMetadata(t)
    val fields = m.get("schemas").get(0).get("fields")
    val embT = (0 until fields.size).map(fields.get)
      .find(_.get("name").asText() == "emb").get.get("type")
    assert(embT.get("type").asText() == "list" &&
      embT.get("element").asText() == "float" &&
      embT.get("element-id").asInt() > 3,
      s"list type must carry an allocated element-id: $embT")
    val metaT = (0 until fields.size).map(fields.get)
      .find(_.get("name").asText() == "meta").get.get("type")
    assert(metaT.get("type").asText() == "struct" &&
      metaT.get("fields").size() == 2)
    // nested ids are unique across the whole schema
    val ids = scala.collection.mutable.ArrayBuffer[Int]()
    def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (n.has("id")) ids += n.get("id").asInt()
      if (n.has("element-id")) ids += n.get("element-id").asInt()
      n.elements().asScala.foreach(walk)
    }
    walk(m.get("schemas").get(0))
    assert(ids.distinct.size == ids.size, s"field ids must be unique: $ids")
    assert(m.get("last-column-id").asInt() == ids.max)
    // the external read round-trips vectors and nested structs
    val ext = IcebergExport.externalRead(spark, t.path)
    assert(ext.count() == 10)
    assert(ext.selectExpr("sum(emb[3])").head().getDouble(0) ==
      (0 until 10).map(_ * 10 + 3).sum.toDouble)
    assert(ext.selectExpr("sum(meta.w)").head().getDouble(0) ==
      (0 until 10).map(_ * 1.5).sum)
  }

  test("column-mapping renames resolve through the name mapping: the " +
      "external read surfaces LOGICAL names over unrenamed data files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-rename"),
      (0L until 30L).map(i => (i, i * 3L)).toDF("k", "old_v"))
    t.renameColumn("old_v", "v2") // metadata-only: files keep old_v
    t.deleteMergeOnRead(col("k") < 5) // and DVs still resolve
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val p = IcebergExport.parse(t.path)
    assert(p.nameMapping == Map("old_v" -> "v2"),
      s"physical->logical mapping must surface: ${p.nameMapping}")
    val ext = IcebergExport.externalRead(spark, t.path)
    assert(ext.columns.toSeq == Seq("k", "v2"),
      s"external read must carry logical names: ${ext.columns.toSeq}")
    assert(ext.count() == 25)
    assert(ext.agg(sum("v2")).head().getLong(0) ==
      (5L until 30L).map(_ * 3).sum)
    // engine read agrees
    assert(GraftTable.forPath(spark, t.path).toDF
      .agg(sum("v2")).head().getLong(0) == (5L until 30L).map(_ * 3).sum)
  }

  test("external time travel: re-exports keep prior snapshots in " +
      "snapshots[]/snapshot-log and prior metadata files in " +
      "metadata-log; a reader pinning an old snapshot id sees that " +
      "version; expired snapshots prune") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-tt"),
      (0L until 20L).map(i => (i, i * 2L)).toDF("k", "v"))
    IcebergExport.export(t)
    val sid1 = currentMetadata(t).get("current-snapshot-id").asLong()
    GraftTable.forPath(spark, t.path)
      .append((100L until 110L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m2 = currentMetadata(t)
    val sid2 = m2.get("current-snapshot-id").asLong()
    assert(sid2 != sid1)
    val ids = m2.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq
    assert(ids == Seq(sid1, sid2),
      s"prior snapshot must stay listed: $ids")
    val log = m2.get("snapshot-log").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq
    assert(log == Seq(sid1, sid2), s"snapshot-log must chain: $log")
    val mlog = m2.get("metadata-log").elements().asScala.toSeq
    assert(mlog.size == 1, "one prior metadata file")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(mlog.head.get("metadata-file").asText()).getPath)))
    // pinned external read = the old version's content
    assert(IcebergExport.externalRead(spark, t.path, Some(sid1))
      .count() == 20)
    assert(IcebergExport.externalRead(spark, t.path).count() == 30)
    intercept[IllegalStateException] {
      IcebergExport.parse(t.path, Some(999L))
    }
    // expired window: the next export prunes the dead snapshots
    GraftTable.forPath(spark, t.path).setTableProperties(
      Map("graft.manifest.exportRetentionHours" -> "0"))
    Thread.sleep(5)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m3 = currentMetadata(t)
    assert(m3.get("snapshots").size() == 1,
      "expired snapshots must prune from the export")
    assert(IcebergExport.externalRead(spark, t.path).count() == 30)
  }

  test("partition-spec evolution resets the external snapshot history: " +
      "old manifests are never decoded against the new spec") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-specchange"),
      (0L until 30L).map(i => (i, i % 3, i * 2L)).toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    IcebergExport.export(t)
    val sid1 = currentMetadata(t).get("current-snapshot-id").asLong()
    // same spec: history carries
    GraftTable.forPath(spark, t.path)
      .append(Seq((100L, 0L, 1L)).toDF("k", "part", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(currentMetadata(t).get("snapshots").size() == 2)
    // atomic repartition to a DIFFERENT partition column: the next
    // export must NOT list pre-change snapshots (their manifests'
    // partition structs decode under the old spec)
    GraftTable.forPath(spark, t.path).repartitionTable(Seq("k"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m = currentMetadata(t)
    assert(m.get("snapshots").size() == 1,
      "a spec change must reset the external snapshot history")
    assert(m.get("partition-specs").get(0).get("fields").get(0)
      .get("name").asText() == "k")
    assert(!m.get("snapshots").elements().asScala
      .exists(_.get("snapshot-id").asLong() == sid1))
    // the fresh export still reads exactly
    assert(IcebergExport.externalRead(spark, t.path).count() == 31)
  }

  test("auto export: layout-changing commits re-export (DVs become " +
      "position deletes in-line); metadata-only commits leave it alone") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-auto"),
      (0L until 20L).map(i => (i, i * 2L)).toDF("k", "v"),
      properties = Map("graft.iceberg.autoExport" -> "true"))
    def extCount() = IcebergExport.externalRead(spark, t.path).count()
    val hint = java.nio.file.Paths.get(
      t.path, "_graft_iceberg", "metadata", "version-hint.text")
    // the CREATE commit already exported
    assert(java.nio.file.Files.exists(hint), "create must auto-export")
    assert(extCount() == 20)
    // append re-exports: the external Iceberg read tracks
    t.append((100L until 110L).map(i => (i, i)).toDF("k", "v"))
    assert(extCount() == 30)
    // metadata-only commit leaves the artifact untouched
    val before = java.nio.file.Files.getLastModifiedTime(hint)
    t.setTableProperties(Map("graft.someUserProp" -> "x"))
    assert(java.nio.file.Files.getLastModifiedTime(hint) == before,
      "metadata-only commits must not re-export")
    // MoR delete leaves DVs live: the re-export ships them as
    // position deletes and the external read stays exact
    t.deleteMergeOnRead(col("k") < 5)
    assert(GraftTable.forPath(spark, t.path).snapshot.dvFiles.nonEmpty)
    assert(extCount() == 25)
    assert(IcebergExport.externalRead(spark, t.path)
      .filter(col("k") < 5).count() == 0)
    assert(IcebergExport.parse(t.path).deleteFiles.nonEmpty)
    // REORG re-exports again: pure data manifests, no delete files
    GraftTable.forPath(spark, t.path).reorgPurge()
    assert(extCount() == 25)
    assert(IcebergExport.parse(t.path).deleteFiles.isEmpty)
  }

  test("L112 tags export as Iceberg refs: a native reader resolves the " +
      "tag NAME to its pinned snapshot; unexportable tags are skipped; " +
      "`main` points at the head") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ice-refs"),
      (0L until 20L).map(i => (i, i * 2L)).toDF("k", "v"))
    IcebergExport.export(t) // v0 → snapshot-id 1
    t.createTag("rel-1.0") // pins version 0 (the tag commit is v1)
    GraftTable.forPath(spark, t.path)
      .append((100L until 110L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m = currentMetadata(t)
    val refs = m.get("refs")
    assert(refs.get("main").get("type").asText() == "branch")
    assert(refs.get("main").get("snapshot-id").asLong() ==
      m.get("current-snapshot-id").asLong())
    assert(refs.get("rel-1.0").get("type").asText() == "tag")
    // the external-reader algorithm: name → snapshot-id → manifests
    assert(IcebergExport.resolveRef(t.path, "rel-1.0") == 1L)
    assert(IcebergExport.externalReadRef(spark, t.path, "rel-1.0")
      .count() == 20, "the tag ref must serve the PINNED version")
    assert(IcebergExport.externalReadRef(spark, t.path, "main")
      .count() == 30)
    intercept[IllegalArgumentException](
      IcebergExport.resolveRef(t.path, "nope"))
    // a tag pinning a version that never exported (or expired) is NOT
    // carried — a ref to a missing snapshot would break native readers
    val t2 = GraftTable.forPath(spark, t.path)
    t2.setTableProperties(Map("graft.manifest.exportRetentionHours" -> "0"))
    Thread.sleep(5)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m3 = currentMetadata(t)
    assert(m3.get("refs").get("rel-1.0") == null,
      "an expired snapshot's tag ref must drop from the export")
    assert(m3.get("refs").get("main") != null)
  }

  // ------------------------------------------------------- L117 attach

  test("L117 attachIceberg: export round-trips into a NEW graft table " +
      "— partitions, CoW removes, and position deletes become DV masks") {
    import spark.implicits._
    val days = Seq("2024-01-01", "2024-02-29").map(java.sql.Date.valueOf)
    val t = GraftTable.create(spark, tmpDir("iatt-src"),
      (0L until 60L).map(i => (i, s"p${i % 3}", i * 2.0, days((i % 2).toInt)))
        .toDF("k", "part", "v", "d"),
      partitionBy = Seq("part", "d"))
    t.optimize()
    t.delete(col("k") % 4 === 0)           // CoW: files rewritten
    t.deleteMergeOnRead(col("k") % 5 === 0) // DVs stay live
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val att = GraftTable.attachIceberg(spark, t.path, tmpDir("iatt-dst"))
    val want = GraftTable.forPath(spark, t.path).toDF
      .select("k", "part", "v", "d").collect().toSet
    val got = att.toDF.select("k", "part", "v", "d").collect().toSet
    assert(got == want, s"attached read must equal the source engine read")
    // zero data bytes copied: every adopted file is an absolute ref
    // into the source tree
    val snap = att.snapshot
    assert(snap.activeFiles.nonEmpty &&
      snap.activeFiles.forall(_.path.startsWith("/")))
    assert(snap.dvFiles.nonEmpty, "position deletes must adopt as DVs")
    // the manifest's epoch-day date values adopt in directory form,
    // the form the scan types partition values from
    assert(snap.activeFiles.map(_.partitionValues("d")).toSet ==
      Set("2024-01-01", "2024-02-29"))
    // a log attached before that stored the epoch day; it still types
    // to the same date
    val dt = org.apache.spark.sql.types.DateType
    assert(Seq("19723", "2024-01-01").map(v =>
      graft.sources.GraftFileIndex.partitionValue(Some(v), dt, "UTC")) == Seq(19723, 19723))
    // partition pruning works off the adopted partitionValues
    assert(att.toDF.filter(col("part") === "p1").count() ==
      want.count(_.getString(1) == "p1"))
    assert(att.toDF.filter(col("d") === days(1)).count() ==
      want.count(_.getDate(3) == days(1)))
    // footer stats landed (the CONVERT discipline): skipping-ready
    assert(snap.activeFiles.forall(_.stats.nonEmpty))
  }

  test("L117 attach independence: DML on the attached table never " +
      "touches the source; source files survive the clone's VACUUM") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iatt-ind-src"),
      (0L until 40L).map(i => (i, i * 10L)).toDF("k", "v"))
    t.deleteMergeOnRead(col("k") < 5)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val att = GraftTable.attachIceberg(spark, t.path,
      tmpDir("iatt-ind-dst"))
    val srcBefore = GraftTable.forPath(spark, t.path).toDF.count()
    att.delete(col("k") >= 30) // CoW on the attach localizes files
    att.vacuum(retentionHours = 0, dryRun = false)
    assert(GraftTable.forPath(spark, t.path).toDF.count() == srcBefore,
      "source must be untouched by the attach's DML + VACUUM")
    assert(att.toDF.count() == srcBefore - 10)
  }

  test("L117 attach at a pinned snapshotId serves that historical " +
      "state (external time travel INTO the engine)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iatt-tt-src"),
      (0L until 20L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val oldSnap = currentMetadata(t).get("current-snapshot-id").asLong()
    t.append((20L until 30L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val attOld = GraftTable.attachIceberg(spark, t.path,
      tmpDir("iatt-tt-old"), snapshotId = Some(oldSnap))
    assert(attOld.toDF.count() == 20)
    val attNew = GraftTable.attachIceberg(spark, t.path,
      tmpDir("iatt-tt-new"))
    assert(attNew.toDF.count() == 30)
  }

  test("L117 attach translates the name mapping to graft column " +
      "mapping: logical names over unrenamed data files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iatt-nm-src"),
      (0L until 30L).map(i => (i, i * 3L)).toDF("k", "old_v"))
    t.renameColumn("old_v", "v2") // metadata-only: files keep old_v
    t.deleteMergeOnRead(col("k") < 5)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val att = GraftTable.attachIceberg(spark, t.path, tmpDir("iatt-nm-dst"))
    assert(att.toDF.columns.toSeq == Seq("k", "v2"))
    assert(att.toDF.agg(sum("v2")).head().getLong(0) ==
      (5L until 30L).map(_ * 3).sum)
  }

  test("L117 attach resolves the STANDARD Iceberg layout " +
      "(<root>/metadata) — a foreign HadoopCatalog table, not just " +
      "our export's _graft_iceberg") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iatt-std-src"),
      (0L until 25L).map(i => (i, s"g${i % 2}", i * 1.5))
        .toDF("k", "grp", "v"), partitionBy = Seq("grp"))
    t.deleteMergeOnRead(col("k") % 6 === 0)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    // simulate a foreign table root: metadata/ in the standard spot;
    // manifests carry ABSOLUTE file URIs so the data stays in place
    val foreign = java.nio.file.Paths.get(tmpDir("iatt-std-root"))
    java.nio.file.Files.createDirectories(foreign)
    val src = java.nio.file.Paths.get(t.path, "_graft_iceberg", "metadata")
    val dst = foreign.resolve("metadata")
    java.nio.file.Files.createDirectories(dst)
    val walk = java.nio.file.Files.list(src)
    try walk.iterator().asScala.foreach(f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
    finally walk.close()
    val att = GraftTable.attachIceberg(spark, foreign.toString,
      tmpDir("iatt-std-dst"))
    assert(att.toDF.count() ==
      GraftTable.forPath(spark, t.path).toDF.count())
    assert(att.toDF.groupBy("grp").count().collect().toSet ==
      GraftTable.forPath(spark, t.path).toDF
        .groupBy("grp").count().collect().toSet)
  }

  test("L117 SQL surface: ATTACH ICEBERG registers the table in one " +
      "statement, SNAPSHOT pins, and the verb refuses in a txn") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iatt-sql-src"),
      (0L until 20L).map(i => (i, i * 2L)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val oldSnap = currentMetadata(t).get("current-snapshot-id").asLong()
    t.append((20L until 30L).map(i => (i, i * 2L)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val gsql = new GraftSql(spark)
    val out = gsql.sql(s"ATTACH ICEBERG '${t.path}' AS TABLE att " +
      s"LOCATION '${tmpDir("iatt-sql-dst")}'")
    assert(out.filter(col("metric") === "attached").count() == 1)
    assert(gsql.sql("SELECT COUNT(*) AS n FROM att").head().getLong(0) == 30)
    val out2 = gsql.sql(s"ATTACH ICEBERG '${t.path}' AS TABLE attOld " +
      s"LOCATION '${tmpDir("iatt-sql-dst2")}' SNAPSHOT $oldSnap")
    assert(out2.filter(col("metric") === "attached").count() == 1)
    assert(gsql.sql("SELECT COUNT(*) AS n FROM attOld").head().getLong(0) == 20)
    val ex = intercept[Exception](gsql.executeScript(
      s"BEGIN; ATTACH ICEBERG '${t.path}' AS TABLE a2 " +
        s"LOCATION '${tmpDir("iatt-sql-dst3")}'; COMMIT;"))
    assert(ex.getMessage.toLowerCase.contains("transaction"))
  }

  test("L118 resync over Iceberg: source MoR churn REBUILDS the DV " +
      "sidecar, adds/removes flow in one commit; SQL surface") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("isync-src"),
      (0L until 50L).map(i => (i, i * 2L)).toDF("k", "v"))
    t.deleteMergeOnRead(col("k") < 5) // position deletes at attach time
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val att = GraftTable.attachIceberg(spark, t.path, tmpDir("isync-dst"))
    assert(att.toDF.count() == 45)
    val dv0 = att.snapshot.dvFiles
    assert(dv0.nonEmpty)
    // source evolves: MORE MoR deletes + an append, re-export
    val t2 = GraftTable.forPath(spark, t.path)
    t2.deleteMergeOnRead(col("k") >= 5 && col("k") < 10)
    t2.append((50L until 60L).map(i => (i, i * 2L)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val r = att.resyncAttached()
    assert(r("status") == "synced")
    val att2 = GraftTable.forPath(spark, att.path)
    assert(att2.toDF.count() == 50, "10 masked, 10 appended")
    assert(att2.toDF.agg(sum("v")).head().getLong(0) ==
      (10L until 60L).map(_ * 2).sum)
    assert(att2.snapshot.dvFiles.nonEmpty &&
      att2.snapshot.dvFiles.toSet != dv0.toSet,
      "the DV sidecar must be REBUILT from the source's current deletes")
    // SQL spelling
    val gsql = new GraftSql(spark)
    gsql.register("syncatt", att.path)
    val out = gsql.sql("SYNC ATTACHED TABLE syncatt")
    assert(out.filter(col("metric") === "status")
      .head().getString(1) == "up-to-date")
  }

  test("L113 branches export as Iceberg BRANCH refs: a native reader " +
      "serves branch('dev') by name; diverged-schema and sealed " +
      "branches are skipped; attach-at-ref adopts the branch state") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("ibr-src"),
      (0L until 40L).map(i => (i, s"g${i % 2}", i))
        .toDF("k", "grp", "v"), partitionBy = Seq("grp"))
    val dev = t.createBranch("dev")
    dev.deleteMergeOnRead(col("k") < 8)    // branch MoR: DV debt
    dev.append((40L until 50L).map(i => (i, s"g${i % 2}", i))
      .toDF("k", "grp", "v"))
    t.append((50L until 55L).map(i => (i, s"g${i % 2}", i))
      .toDF("k", "grp", "v"))              // parent diverges too
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m = currentMetadata(t)
    val devRef = m.get("refs").get("dev")
    assert(devRef != null && devRef.get("type").asText() == "branch")
    // the external-reader algorithm serves the BRANCH state by name:
    // 40 - 8 masked + 10 branch-appended = 42 rows, parent 45
    val extDev = IcebergExport.externalReadRef(spark, t.path, "dev")
    assert(extDev.count() == 42)
    assert(extDev.agg(sum("v")).head().getLong(0) ==
      t.branch("dev").toDF.agg(sum("v")).head().getLong(0),
      "external branch read must equal the engine's branch read")
    assert(IcebergExport.externalReadRef(spark, t.path, "main")
      .count() == 45)
    // attach at the ref: the attached table IS the branch state
    val att = GraftTable.attachIcebergRef(spark, t.path,
      tmpDir("ibr-att"), "dev")
    assert(att.toDF.count() == 42)
    assert(att.snapshot.dvFiles.nonEmpty,
      "the branch's position deletes adopt as DV masks")
    // a branch whose schema diverged is SKIPPED (never mis-decoded)
    val wide = t.createBranch("wide")
    wide.addColumn("extra", org.apache.spark.sql.types.LongType)
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val m2 = currentMetadata(t)
    assert(m2.get("refs").get("wide") == null,
      "diverged-schema branch must not export a ref")
    assert(m2.get("refs").get("dev") != null)
    // a merged (sealed) branch drops out of the refs on re-export
    t.mergeBranch("dev")
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(currentMetadata(t).get("refs").get("dev") == null,
      "a sealed branch is history, not a live ref")
  }

  test("pin-vs-ref sync semantics: a SNAPSHOT-pinned attach REFUSES " +
      "resync (history follows nothing); a REF attach FOLLOWS the " +
      "branch name across re-exports; a tag ref never moves") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iref-src"),
      (0L until 20L).map(i => (i, i)).toDF("k", "v"))
    val dev = t.createBranch("dev")
    dev.append((100L until 110L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    // the tag pins an EXPORTED head version, so its ref is carried by
    // the next export (an unexported pin would be skipped, not dangled)
    GraftTable.forPath(spark, t.path).createTag("rel")
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val pinId = currentMetadata(t).get("current-snapshot-id").asLong()
    // 1. pinned: historical, resync refuses, autoSync skips
    val pinned = GraftTable.attachIceberg(spark, t.path,
      tmpDir("iref-pin"), snapshotId = Some(pinId))
    val exP = intercept[UnsupportedOperationException](
      pinned.resyncAttached())
    assert(exP.getMessage.contains("pinned"))
    pinned.setTableProperties(Map("graft.attach.autoSync" -> "true"))
    // 2. branch-ref: follows the NAME
    val mirror = GraftTable.attachIcebergRef(spark, t.path,
      tmpDir("iref-dev"), "dev")
    assert(mirror.toDF.count() == 30, "branch state: 20 + 10")
    dev.append((110L until 115L).map(i => (i, i)).toDF("k", "v"))
    t.append((200L until 220L).map(i => (i, i)).toDF("k", "v")) // head diverges
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(mirror.resyncAttached()("status") == "synced")
    assert(GraftTable.forPath(spark, mirror.path).toDF.count() == 35,
      "the ref attach must track the BRANCH head, not the main head")
    // 3. tag ref: the pin never moves — always up-to-date
    val relAtt = GraftTable.attachIcebergRef(spark, t.path,
      tmpDir("iref-rel"), "rel")
    assert(relAtt.toDF.count() == 20)
    assert(relAtt.resyncAttached()("status") == "up-to-date")
    // and the pinned attach still serves its history after all that
    assert(GraftTable.forPath(spark, pinned.path).toDF.count() == 20,
      "autoSync must skip a pinned attach")
  }

  test("L118 autoSync: a read of a stale attached mirror pulls the " +
      "source delta first; a FORKED attachment reads local state " +
      "silently") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("iauto-src"),
      (0L until 30L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    val att = GraftTable.attachIceberg(spark, t.path, tmpDir("iauto-dst"))
    // enabling the property is a METADATA commit — it must not fork
    att.setTableProperties(Map("graft.attach.autoSync" -> "true"))
    t.append((30L until 40L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    // plain read: no explicit resync anywhere
    assert(GraftTable.forPath(spark, att.path).toDF.count() == 40,
      "the read must pull the source's append before serving")
    // fork: local DML ends the mirror; reads serve local state
    val att2 = GraftTable.forPath(spark, att.path)
    att2.delete(col("k") < 10)
    t.append((40L until 45L).map(i => (i, i)).toDF("k", "v"))
    IcebergExport.export(GraftTable.forPath(spark, t.path))
    assert(GraftTable.forPath(spark, att.path).toDF.count() == 30,
      "a forked attachment must serve LOCAL state, not re-pull")
  }
}
