package graft.lake

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Merge-on-read deletes via deletion vectors: no rewrite on delete,
  * scan-side masking, retirement on full rewrite, time-travel safety.
  */
class DeletionVectorSpec extends GraftSparkSpec {

  private def li = Tables(spark, sfDir, "lineitem")

  test("merge-on-read delete masks rows without rewriting any data file") {
    val t = GraftTable.create(spark, tmpDir("dv"), li.repartition(4))
    val filesBefore = t.snapshot.activeFiles.map(_.path).toSet
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    assert(t.snapshot.activeFiles.map(_.path).toSet == filesBefore,
      "MoR delete must not rewrite data files")
    assert(t.snapshot.dvFiles.size == 1)
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 0)
    assert(t.toDF.count() == li.filter(col("l_returnflag") =!= "R").count())
    // time travel to v0 resurrects the rows (DV is versioned state)
    assert(t.toDFAt(0).count() == li.count())
  }

  test("REORG APPLY PURGE rewrites only DV'd files and retires all DVs") {
    // run on both sides of the sidecar driver-read gate: the masked-file
    // lookup answers on the driver under it and as a Spark job above
    // it, and both must purge the same rows into the same commit
    def purge(dir: String): (Seq[String], String) = {
      val t = GraftTable.create(spark, tmpDir(dir), li.repartition(8))
      // delete confined to one lineitem range so most files carry no mask
      t.deleteMergeOnRead(col("l_orderkey") < 50)
      val expected = t.toDF.count()
      val before = t.snapshot
      assert(before.dvFiles.nonEmpty)
      val dvPaths = spark.read.parquet(before.dvFiles.map(p => s"${t.path}/$p"): _*)
        .select("file_path").distinct().collect().map(_.getString(0)).toSet
      val untouched = before.activeFiles.map(_.path)
        .filterNot(rel => dvPaths.exists(_.endsWith("/" + rel))).toSet
      val m = t.reorgPurge()
      val after = t.snapshot
      assert(after.dvFiles.isEmpty, "purge must retire every DV")
      assert(untouched.subsetOf(after.activeFiles.map(_.path).toSet),
        "files without masked rows must survive purge untouched")
      assert(m("numRewrittenFiles").toInt ==
        before.activeFiles.size - untouched.size)
      assert(t.toDF.count() == expected, "purge must not change the row set")
      assert(t.toDF.filter(col("l_orderkey") < 50).count() == 0)
      // time travel before the purge still sees DV-masked state
      assert(t.toDFAt(before.version).count() == expected)
      val commit = t.history(1).head()
      (t.toDF.collect().map(_.toString).sorted.toSeq,
        s"${commit.getString(2)} ${commit.getString(3)} ${commit.getString(4)}")
    }
    val under = purge("dvpurge")
    val above = aboveSidecarGate(purge("dvpurge-gate0"))
    assert(above._2 == under._2, "the purge commits differ across the gate")
    assert(above._1 == under._1, "the purged rows differ across the gate")
  }

  test("REORG APPLY PURGE on a DV-free table is a metadata no-op") {
    val t = GraftTable.create(spark, tmpDir("dvpurge0"), li.limit(100))
    val files = t.snapshot.activeFiles.map(_.path).toSet
    val m = t.reorgPurge()
    assert(m("numRewrittenFiles") == "0")
    assert(t.snapshot.activeFiles.map(_.path).toSet == files)
  }

  test("two MoR deletes stack; zorder materializes and retires DVs") {
    val t = GraftTable.create(spark, tmpDir("dv2"), li.repartition(4))
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    t.deleteMergeOnRead(col("l_linenumber") === 1)
    val expected = li.filter(col("l_returnflag") =!= "R" && col("l_linenumber") =!= 1).count()
    assert(t.toDF.count() == expected)
    assert(t.snapshot.dvFiles.size == 2)
    t.zorderBy(32L * 1024, "l_partkey", "l_suppkey")
    assert(t.snapshot.dvFiles.isEmpty, "full rewrite must retire DVs")
    assert(t.toDF.count() == expected)
  }

  test("scoped zorder keeps DV masks for untouched files; full rewrite retires") {
    val t = GraftTable.create(spark, tmpDir("dv-scoped"),
      li.limit(3000), Seq("l_returnflag"))
    // mask rows inside partition A via merge-on-read
    t.deleteMergeOnRead(col("l_returnflag") === "A" && col("l_quantity") < 10.0)
    val maskedVisible = t.toDF
      .filter(col("l_returnflag") === "A" && col("l_quantity") < 10.0).count()
    assert(maskedVisible == 0)
    // scoped rewrite of a DIFFERENT partition must not drop A's masks
    t.zorderWhere(128L * 1024 * 1024, Some(col("l_returnflag") === "N"), "l_orderkey")
    assert(t.snapshot.dvFiles.nonEmpty, "partial rewrite must keep DVs")
    assert(t.toDF
      .filter(col("l_returnflag") === "A" && col("l_quantity") < 10.0).count() == 0,
      "scoped rewrite of N must not resurrect A's masked rows")
    // a predicate covering every file is a full rewrite -> DVs retire
    t.zorderWhere(128L * 1024 * 1024, Some(col("l_quantity") >= -1.0), "l_orderkey")
    assert(t.snapshot.dvFiles.isEmpty, "full-coverage rewrite must retire DVs")
    assert(t.toDF
      .filter(col("l_returnflag") === "A" && col("l_quantity") < 10.0).count() == 0)

    // typo'd predicate fails loudly instead of rewriting everything
    intercept[org.apache.spark.sql.AnalysisException] {
      t.zorderWhere(128L * 1024 * 1024, Some(col("l_returnflg") === "A"), "l_orderkey")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      t.optimize(where = Some(col("no_such_col") === 1))
    }
  }

  test("merge-on-read update masks originals and appends post-images only") {
    val t = GraftTable.create(spark, tmpDir("dv-upd"), li.repartition(4))
    val filesBefore = t.snapshot.activeFiles.map(_.path).toSet
    val nMatched = li.filter(col("l_returnflag") === "R").count()
    t.updateMergeOnRead(col("l_returnflag") === "R", Map("l_discount" -> lit(0.0)))
    // original files untouched; only post-image files appended
    assert(filesBefore.subsetOf(t.snapshot.activeFiles.map(_.path).toSet),
      "MoR update must not rewrite candidate files")
    assert(t.snapshot.dvFiles.size == 1)
    val postImageRows = t.snapshot.activeFiles
      .filterNot(f => filesBefore.contains(f.path))
      .flatMap(_.stats.map(_.numRecords)).sum
    assert(postImageRows == nMatched,
      s"appended $postImageRows rows for $nMatched matches")
    // observable result identical to a CoW update
    assert(t.toDF.count() == li.count())
    assert(t.toDF.filter(col("l_returnflag") === "R" && col("l_discount") =!= 0.0)
      .count() == 0)
    val untouchedSum = li.filter(col("l_returnflag") =!= "R")
      .agg(sum("l_discount")).head.getDouble(0)
    val gotSum = t.toDF.filter(col("l_returnflag") =!= "R")
      .agg(sum("l_discount")).head.getDouble(0)
    assert(math.abs(untouchedSum - gotSum) < 1e-6)
    // time travel to v0 shows pre-update state
    assert(t.toDFAt(0).filter(col("l_returnflag") === "R" && col("l_discount") > 0)
      .count() > 0)
  }

  test("merge-on-read update after MoR delete does not resurrect deleted rows") {
    val t = GraftTable.create(spark, tmpDir("dv-upd2"), li.repartition(4))
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    // the update predicate OVERLAPS deleted rows: R rows are already
    // masked, so they must not come back as post-images
    t.updateMergeOnRead(col("l_quantity") >= 0.0, Map("l_tax" -> lit(0.0)))
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 0,
      "MoR update must not resurrect MoR-deleted rows")
    assert(t.toDF.count() == li.filter(col("l_returnflag") =!= "R").count())
    assert(t.toDF.filter(col("l_tax") =!= 0.0).count() == 0)
    // full rewrite still materializes and retires all masks
    t.zorderBy(64L * 1024, "l_orderkey")
    assert(t.snapshot.dvFiles.isEmpty)
    assert(t.toDF.count() == li.filter(col("l_returnflag") =!= "R").count())
  }

  test("CoW ops on a DV'd table do not resurrect masked rows") {
    val t = GraftTable.create(spark, tmpDir("dv3"), li.repartition(4))
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    t.update(col("l_linestatus") === "O", Map("l_discount" -> lit(0.0)))
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 0)
    val expected = li.filter(col("l_returnflag") =!= "R").count()
    assert(t.toDF.count() == expected)
  }

  test("purge resolves DV masks on partition values URIs percent-encode") {
    // partition value with a space: the scan's _metadata.file_path URI
    // renders it %20 while log paths keep it literal — a suffix string
    // match misses every masked file, silently resurrecting deletes
    val df = li.limit(2000)
      .withColumn("grp", concat(col("l_returnflag"), lit(" x")))
    val t = GraftTable.create(spark, tmpDir("dv-uri"), df, Seq("grp"))
    t.deleteMergeOnRead(col("grp") === "R x")
    assert(t.snapshot.dvFiles.nonEmpty)
    val expected = df.filter(col("grp") =!= "R x").count()
    assert(t.toDF.count() == expected)
    val m = t.reorgPurge()
    assert(m("numRewrittenFiles").toInt > 0,
      "the masked file must be FOUND, not silently treated as unmasked")
    assert(t.snapshot.dvFiles.isEmpty)
    assert(t.toDF.count() == expected,
      "purge must not resurrect rows masked in an encoded-URI partition")
    assert(t.toDF.filter(col("grp") === "R x").count() == 0)

    // deep clone of a shallow clone with the same spacey partitions:
    // destRel rebuilds partition dirs — escaping must round-trip so
    // directory-inferred values agree with the log's partitionValues
    val sc = GraftTable.shallowClone(spark, t.path, tmpDir("dv-uri-sc"))
    val dc = GraftTable.deepClone(spark, sc.path, tmpDir("dv-uri-dc"))
    assert(dc.toDF.count() == expected)
    assert(dc.toDF.filter(col("grp") === "A x").count() ==
      df.filter(col("grp") === "A x").count())
  }

  test("vacuum spares active deletion vectors; restore brings DV state back") {
    val t = GraftTable.create(spark, tmpDir("dv4"), li.repartition(4))
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    val masked = t.toDF.count()
    t.vacuum(0.0, dryRun = false)
    assert(t.toDF.count() == masked, "vacuum must not delete active DVs")
    val vWithDv = t.version
    t.zorderBy(32L * 1024, "l_partkey")          // retires DVs
    t.restore(vWithDv)
    assert(t.snapshot.dvFiles.size == 1)
    assert(t.toDF.count() == masked)
  }
}
