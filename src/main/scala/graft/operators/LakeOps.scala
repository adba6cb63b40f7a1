package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.lake.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries for the GraftLake table layer (SURVEY §2.1).
  * Each query rebuilds an isolated table under `target/lakework/`,
  * exercises one maintenance/DML op end-to-end, and returns an
  * aggregate whose DuckDB oracle is computable from the ORIGINAL
  * parquet — proving the op preserved (or transformed) content
  * exactly as specified.
  */
object LakeOps {

  /** Path of a query's work table WITHOUT resetting it (for specs that
    * reopen the table a gate query built).
    */
  private[operators] def workDirPath(dir: String, name: String): String = {
    val sf = Paths.get(dir).getFileName.toString
    Paths.get("target", "lakework", s"$name-$sf").toString
  }

  private[operators] def workDir(dir: String, name: String): String = {
    val sf = Paths.get(dir).getFileName.toString
    val p = Paths.get("target", "lakework", s"$name-$sf")
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    p.toString
  }

  private def liAgg(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")

  val liAggOracle: String =
    "SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice),2) AS sum_price, " +
      "ROUND(SUM(l_quantity),2) AS sum_qty FROM %s GROUP BY l_returnflag ORDER BY l_returnflag"

  /** CTAS → read back: log/write/read round trip (L1). */
  def lakeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "roundtrip"),
      Tables(spark, dir, "lineitem"))
    liAgg(t.toDF)
  }

  /** DELETE WHERE, then full read (L4). */
  def lakeDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "delete"),
      Tables(spark, dir, "lineitem"))
    t.delete(col("l_returnflag") === "R")
    liAgg(t.toDF)
  }

  /** Merge-on-read DELETE via deletion vectors: same observable
    * result as copy-on-write, zero data files rewritten (L25).
    */
  def lakeDeleteMor(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "deletemor"),
      Tables(spark, dir, "lineitem").repartition(4))
    t.deleteMergeOnRead(col("l_returnflag") === "R")
    liAgg(t.toDF)
  }

  /** Time travel: VERSION AS OF 0 after a destructive delete (L2). */
  def lakeTimetravel(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "timetravel"),
      Tables(spark, dir, "lineitem"))
    t.delete(col("l_returnflag") === "R")
    liAgg(t.toDFAt(0))
  }

  /** Named TAG pinning end-to-end (L112): tag the pristine version,
    * then pile on everything that would normally reclaim it — CoW
    * delete, MoR delete (live DVs), OPTIMIZE, retention-0 VACUUM, and
    * a retention-0 LOG CLEANUP — and read `VERSION AS OF 'tag'`
    * through the SQL surface. The aggregate must equal the ORIGINAL
    * table: the tag pinned its files against vacuum and its replay
    * against log cleanup (via a pointer-neutral historical
    * checkpoint), the whole point of release tags on a training
    * corpus.
    */
  def lakeTag(spark: SparkSession, dir: String): DataFrame = {
    val loc = workDir(dir, "tag")
    val t = GraftTable.create(spark, loc, Tables(spark, dir, "lineitem"))
    t.createTag("release-v0")
    t.delete(col("l_returnflag") === "R") // CoW rewrites
    t.deleteMergeOnRead(col("l_orderkey") % 4 === 0) // live DVs
    t.optimize()
    t.vacuum(retentionHours = 0.0, dryRun = false)
    t.cleanupLogs()
    val gsql = new graft.lake.GraftSql(spark)
    gsql.register("tagged", loc)
    gsql.sql(
      "SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_price, " +
        "ROUND(SUM(l_quantity),2) AS sum_qty " +
        "FROM tagged VERSION AS OF 'release-v0' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
  }

  /** Writable BRANCH end-to-end (L113): fork the pristine table,
    * diverge on the branch with all three write shapes (CoW DELETE,
    * MoR DELETE leaving live DVs, append) while the PARENT also
    * advances with a commuting append, then MERGE BRANCH back through
    * the reservation/decision protocol and read the parent. The
    * aggregate must equal the linear-history result computed by the
    * oracle from the raw parquet — branch isolation, DV survival
    * across the merge, and the commute rule all verified at once.
    */
  def lakeBranch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val t = GraftTable.create(spark, workDir(dir, "branch"),
      li.repartition(4))
    val bt = t.createBranch("trial")
    bt.delete(col("l_returnflag") === "R")
    bt.deleteMergeOnRead(col("l_quantity") > 45)
    bt.append(li.filter(col("l_orderkey") < 50))
    // the parent advances AFTER the fork: pure appends commute with
    // the merge (the serializable squash only conflicts on its read set)
    t.append(li.filter(col("l_orderkey") >= 50 && col("l_orderkey") < 100))
    t.mergeBranch("trial")
    liAgg(t.toDF)
  }

  /** REBASE BRANCH end-to-end (L115): partition-disjoint rewrites on
    * parent and branch make the direct merge CONFLICT (the parent
    * rewrote base files the branch read); the query proves the
    * conflict fires, rebases (adopting the parent's partition-A
    * rewrite + append into the branch), merges, and aggregates the
    * parent — the DuckDB oracle recomputes the LINEAR history (both
    * deletes + both appends) from raw parquet.
    */
  def lakeRebase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val t = GraftTable.create(spark, workDir(dir, "rebase"), li,
      partitionBy = Seq("l_returnflag"))
    val bt = t.createBranch("trial")
    // branch writes only partition R; parent writes only partition A —
    // disjoint WRITE sets, so the rebase is clean by construction
    bt.delete(col("l_returnflag") === "R" && col("l_quantity") > 40)
    bt.append(li.filter(col("l_orderkey") < 50))
    t.delete(col("l_returnflag") === "A" && col("l_quantity") > 45)
    t.append(li.filter(col("l_orderkey") >= 50 && col("l_orderkey") < 100))
    val conflicted =
      try { t.mergeBranch("trial"); false }
      catch { case _: java.util.ConcurrentModificationException => true }
    require(conflicted,
      "fixture expects the pre-rebase merge to conflict on the parent's rewrite")
    t.rebaseBranch("trial")
    t.mergeBranch("trial")
    liAgg(t.toDF)
  }

  /** Principal-bound policy end-to-end (L116): ONE stored policy whose
    * row filter AND mask branch on `current_user()`; the session binds
    * principal `auditor`, so the visible slice (and the unmasked
    * price) must equal the oracle's literal `auditor` branch — if the
    * binding broke (e.g. fell back to the OS user), the ELSE branch's
    * different filter and zeroed mask would hash-mismatch.
    */
  def lakePrincipal(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "principal"),
      Tables(spark, dir, "lineitem"))
    t.setRowFilter("CASE WHEN current_user() = 'auditor' " +
      "THEN l_quantity <= 45 ELSE l_quantity <= 20 END")
    t.setColumnMask("l_extendedprice",
      "CASE WHEN current_user() = 'auditor' THEN l_extendedprice " +
        "ELSE CAST(0.0 AS DOUBLE) END")
    val prev = spark.conf.getOption("spark.graft.principal")
    spark.conf.set("spark.graft.principal", "auditor")
    // the principal folds into the PLAN here — resetting the conf
    // after construction cannot change the captured literal
    try liAgg(t.toDF)
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.principal", v)
      case None => spark.conf.unset("spark.graft.principal")
    }
  }

  /** Row filter + column mask end-to-end (L114): install
    * `graft.rowFilter` and a `graft.colMask.<col>` on a fresh table,
    * then aggregate through the PUBLIC read path. The DuckDB oracle
    * applies the same expressions to the raw parquet — proving the
    * filter narrows exactly and the mask rewrites exactly (and, since
    * the aggregate sums the masked column, that no raw value leaks).
    */
  def lakeRowFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "rowfilter"),
      Tables(spark, dir, "lineitem"))
    t.setRowFilter("l_quantity <= 45")
    t.setColumnMask("l_extendedprice", "CAST(l_orderkey % 100 AS DOUBLE)")
    liAgg(t.toDF)
  }

  /** VARIANT column + shredded data skipping (L119): documents fold
    * into a semi-structured payload table, typed shred paths are
    * declared, and both the DML predicate and the final read drive
    * `variant_get` through the hidden companions' footer stats — the
    * oracle recomputes from the typed source columns directly.
    */
  def lakeVariantShred(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val payload = docs.select(col("doc_id"), parse_json(to_json(struct(
      col("lang"), col("source"), col("n_chars")))).as("pay"))
    val t = GraftTable.create(spark, workDir(dir, "variantshred"), payload)
    t.setVariantShred("pay",
      Seq("$.lang" -> "string", "$.n_chars" -> "bigint"))
    t.delete(variant_get(col("pay"), "$.lang", "string") === "de")
    t.readWhere(variant_get(col("pay"), "$.n_chars", "bigint") > 500L)
      .groupBy(variant_get(col("pay"), "$.source", "string").as("source"))
      .agg(count(lit(1)).as("n"),
        sum(variant_get(col("pay"), "$.n_chars", "bigint")).as("sum_chars"))
      .orderBy("source")
  }

  /** CLUSTER BY AUTO (L120): the table observes a quantity-heavy
    * read workload, OPTIMIZE picks the clustering keys itself from
    * that history and applies them, and the final aggregate reads
    * through the auto-clustered layout — the oracle recomputes the
    * same aggregate raw (clustering must never change results).
    */
  def lakeClusterAuto(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "clusterauto"),
      Tables(spark, dir, "lineitem").repartition(8))
    t.setTableProperties(Map("graft.clusterAuto" -> "true"))
    t.readWhere(col("l_quantity") > 45).count()
    t.readWhere(col("l_quantity") <= 5).count()
    t.readWhere(col("l_orderkey") < 100).count()
    t.optimize()
    t.readWhere(col("l_quantity") > 45)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** UPDATE SET l_discount=0 WHERE returnflag='R' (L5). */
  def lakeUpdate(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "update"),
      Tables(spark, dir, "lineitem"))
    t.update(col("l_returnflag") === "R", Map("l_discount" -> lit(0.0)))
    t.toDF.groupBy("l_returnflag")
      .agg(round(sum("l_discount"), 4).as("sum_disc"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Merge-on-read UPDATE via deletion vector + post-image append:
    * same observable result as copy-on-write update (L33).
    */
  def lakeUpdateMor(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "updatemor"),
      Tables(spark, dir, "lineitem").repartition(4))
    t.updateMergeOnRead(col("l_returnflag") === "R", Map("l_discount" -> lit(0.0)))
    t.toDF.groupBy("l_returnflag")
      .agg(round(sum("l_discount"), 4).as("sum_disc"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** MERGE: update keys <100 (price×2), insert 50 new keys (L6). */
  def lakeMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val t = GraftTable.create(spark, workDir(dir, "merge"), o)
    val updates = o.filter(col("o_orderkey") < 100)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
    val inserts = o.filter(col("o_orderkey") < 50)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    t.merge(updates.unionByName(inserts), "o_orderkey")
    t.toDF.agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
  }

  /** Composite-key MERGE on the tuple (l_orderkey, l_linenumber):
    * the target is the deterministic per-tuple aggregate of lineitem
    * (the raw synthetic table has duplicate tuples), so every order
    * carries several lines — a single-key merge on l_orderkey would
    * collapse them; the tuple key updates each line independently
    * (qty×2 on a slice, shifted inserts) (L70).
    */
  def lakeMergeComposite(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "lineitem")
      .groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("qty"))
    val t = GraftTable.create(spark, workDir(dir, "mergecomp"), base)
    val updates = base.filter(col("l_orderkey") < 100)
      .withColumn("qty", col("qty") * 2)
    val inserts = base.filter(col("l_orderkey") < 50)
      .withColumn("l_orderkey", col("l_orderkey") + 10000000L)
    t.merge(updates.unionByName(inserts), Seq("l_orderkey", "l_linenumber"))
    t.toDF.agg(count(lit(1)).as("n"), round(sum("qty"), 2).as("sum_qty"))
  }

  /** MERGE with an arbitrary ON predicate (L73 — Delta's full `ON`
    * surface): the equality key still drives key-range file pruning
    * and the hash join; the `src price > target price` residual rides
    * the match join as an extra predicate. A key-equal pair failing
    * the residual is NOT matched, so its target row keeps its value
    * and its source row falls through to the INSERT clause — exactly
    * SQL MERGE semantics, which the DuckDB oracle replays with a
    * full-condition LEFT JOIN + NOT EXISTS.
    */
  def lakeMergePredicate(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val t = GraftTable.create(spark, workDir(dir, "mergepred"), base)
    val src = base.filter(col("o_orderkey") < 2000)
      .withColumn("price_c",
        when(col("o_orderkey") % 2 === 0, col("price_c") + 1000L)
          .otherwise(col("price_c") - 1000L))
      .unionByName(base.filter(col("o_orderkey") < 500)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    t.mergeBuilder(src, "o_orderkey")
      .onCondition(col("src_price_c") > col("price_c"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    t.toDF.agg(count(lit(1)).as("n"), sum("price_c").as("sum_price"))
  }

  /** AVG-maintaining MV (L71): state stores sum + NON-NULL count per
    * averaged column, so the derived avg is exact even when the
    * column has NULLs (sum/count(*) would be wrong there). Same
    * delete/append churn shape as [[lakeMvIncremental]], with a
    * NULL stripe injected.
    */
  def lakeMvAvg(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        when(col("l_orderkey") % 3 === 0, lit(null).cast("long"))
          .otherwise(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvavgsrc"),
      base, properties = Map("graft.cdf" -> "true"))
    val mv = graft.lake.MaterializedAgg.create(spark, workDir(dir, "mvavg"),
      src, Seq("l_returnflag"), Seq("qty_c"))
    src.delete(col("l_orderkey") % 7 === 0)
    src.append(base.filter(col("l_orderkey") % 11 === 0)
      .withColumn("qty_c", col("qty_c") * 2))
    mv.refresh()
    mv.toDF.select(col("l_returnflag"),
        col("mv_cnt_qty_c").as("n_vals"),
        round(col("mv_sum_qty_c") / col("mv_cnt_qty_c"), 4).as("avg_qty_c"))
      .orderBy("l_returnflag")
  }

  /** MIN/MAX-maintaining MV (L72): extremes fold insert-only; the
    * delete below removes the top qty band, so every group's stored
    * max is retracted and refresh MUST take the recompute-on-retract
    * path (a fold alone would serve the stale max).
    */
  def lakeMvMinMax(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvmmsrc"),
      base, properties = Map("graft.cdf" -> "true"))
    val mv = graft.lake.MaterializedAgg.create(spark, workDir(dir, "mvmm"),
      src, Seq("l_returnflag"), Nil, minCols = Seq("qty_c"), maxCols = Seq("qty_c"))
    src.delete(col("qty_c") > 4000)
    src.append(base.filter(col("l_orderkey") % 13 === 0)
      .withColumn("qty_c", col("qty_c") + 50))
    mv.refresh()
    mv.toDF.select(col("l_returnflag"), col("mv_count").as("n_rows"),
        col("mv_min_qty_c").as("min_qty_c"), col("mv_max_qty_c").as("max_qty_c"))
      .orderBy("l_returnflag")
  }

  /** OPTIMIZE bin-packing: 64 tiny files → few, content intact (L7). */
  def lakeOptimize(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "optimize"),
      Tables(spark, dir, "lineitem").repartition(64))
    t.optimize()
    liAgg(t.toDF)
  }

  /** ZORDER BY (l_shipdate, l_partkey), content intact (L8). */
  def lakeZorder(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "zorder"),
      Tables(spark, dir, "lineitem").repartition(8))
    t.zorderBy(16L * 1024 * 1024, "l_shipdate", "l_partkey")
    liAgg(t.toDF)
  }

  /** Partitioned table + partition-pruned read (L11). */
  def lakePartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "partprune"),
      Tables(spark, dir, "lineitem"), partitionBy = Seq("l_returnflag"))
    t.readWhere(col("l_returnflag") === "R")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_linestatus")
  }

  /** Footer-stats data skipping on a range predicate (L12): table is
    * range-laid-out on l_shipdate so file min/max are tight.
    */
  def lakeDataSkipping(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
    val t = GraftTable.create(spark, workDir(dir, "skipping"), li)
    t.readWhere(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** RESTORE to pre-delete version (L10). */
  def lakeRestore(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "restore"),
      Tables(spark, dir, "lineitem"))
    t.delete(col("l_returnflag") === "R")
    t.restore(0)
    liAgg(t.toDF)
  }

  /** DESCRIBE HISTORY: deterministic (version, operation) ledger (L3). */
  def lakeHistory(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "history"),
      Tables(spark, dir, "lineitem").repartition(16))
    t.delete(col("l_returnflag") === "R")
    t.optimize()
    t.history.select("version", "operation").orderBy("version")
  }

  /** VACUUM after OPTIMIZE actually deletes the compacted-away files
    * while the table stays fully readable (L9).
    */
  /** Fixture writes exactly this many files; OPTIMIZE tombstones all
    * of them, so VACUUM's reclaim set is exactly this size — the
    * oracle asserts the count, and the query itself asserts the
    * reclaimed PATHS are identical to the tombstoned set (not just
    * any 32 files), surfacing a mis-scoped reclaim as a hash-red
    * `reclaim_identity = false` instead of silent data risk.
    */
  val VacuumFixtureFiles = 32

  def lakeVacuum(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, workDir(dir, "vacuum"),
      Tables(spark, dir, "lineitem").repartition(VacuumFixtureFiles))
    // expected reclaim set = exactly the files OPTIMIZE tombstones
    val before = t.snapshot.activeFiles.map(f =>
      java.nio.file.Paths.get(f.path).getFileName.toString).toSet
    t.optimize()
    val after = t.snapshot.activeFiles.map(f =>
      java.nio.file.Paths.get(f.path).getFileName.toString).toSet
    val expected = before -- after
    val reclaimed = t.vacuum(retentionHours = 0.0, dryRun = false)
      .collect().map(r => java.nio.file.Paths.get(r.getString(0))
        .getFileName.toString).toSet // bounded: fixture-file count
    val identity = reclaimed == expected &&
      expected.size == VacuumFixtureFiles
    liAgg(t.toDF)
      .withColumn("reclaimed_files",
        lit(reclaimed.size.toLong))
      .withColumn("reclaim_identity", lit(identity))
  }

  /** INSERT INTO / OVERWRITE through the SQL surface (L52): seed with
    * the low keys, INSERT the high keys back in via SQL, then INSERT
    * OVERWRITE down to one returnflag — the final aggregate must match
    * an oracle computed from the ORIGINAL parquet, proving both
    * statements' row arithmetic end-to-end.
    */
  def lakeInsert(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val gsql = new graft.lake.GraftSql(spark)
    gsql.registerCreate("li_ins", workDir(dir, "insert"),
      li.filter(col("l_orderkey") % 2 === 0))
    li.filter(col("l_orderkey") % 2 =!= 0).createOrReplaceTempView("li_odd")
    gsql.sql("INSERT INTO li_ins SELECT * FROM li_odd")
    gsql.sql("INSERT OVERWRITE li_ins SELECT * FROM li_ins WHERE l_returnflag = 'R'")
    liAgg(gsql.table("li_ins").toDF)
  }

  /** Dynamic file pruning under the oracle (L58): the fact table is
    * range-clustered on the join key, and a selective dim frame drives
    * the join through `readDynamicallyPruned`, so the scan opens only
    * files whose key range intersects the dim's keys. The aggregate
    * must match DuckDB computed from the ORIGINAL parquet — proving
    * the pruning dropped no matching rows.
    */
  def lakeDfp(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "dfp"),
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"))
    val dim = Tables(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey").as("l_orderkey"))
    t.readDynamicallyPruned(dim, "l_orderkey")
      .join(dim, "l_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Incremental materialized aggregate (L66): the MV is created from
    * the seed table, the source then takes a DELETE, an UPDATE, and
    * an append, and ONE incremental refresh folds their change images
    * into the view. The oracle recomputes the final aggregate from
    * scratch — a green row proves incremental == full recompute
    * across all three DML change shapes.
    */
  def lakeMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvsrc"),
      base, properties = Map("graft.cdf" -> "true"))
    val mv = graft.lake.MaterializedAgg.create(spark, workDir(dir, "mv"),
      src, Seq("l_returnflag"), Seq("qty_c"))
    src.delete(col("l_orderkey") % 7 === 0)
    src.update(col("l_orderkey") % 5 === 0,
      Map("qty_c" -> (col("qty_c") + lit(100L))))
    src.append(base.filter(col("l_orderkey") % 11 === 0)
      .withColumn("qty_c", col("qty_c") * 2))
    mv.refresh()
    mv.toDF
      .select(col("l_returnflag"), col("mv_count").as("n_rows"),
        col("mv_sum_qty_c").as("sum_qty_c"))
      .orderBy("l_returnflag")
  }

  /** Exactly-maintained COUNT DISTINCT view (L87): per-(group, value)
    * occurrence counts fold through the change feed; a value leaves
    * the distinct set exactly when its count hits zero. Deletes that
    * remove SOME BUT NOT ALL of a value's rows must not change the
    * distinct count — the grain the state exists to get right.
    */
  def lakeMvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linenumber"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvdsrc"),
      base, properties = Map("graft.cdf" -> "true"))
    val mv = graft.lake.MaterializedDistinct.create(spark,
      workDir(dir, "mvd"), src, Seq("l_returnflag"), "l_orderkey")
    // partial delete: orders keep other line numbers -> count unchanged
    src.delete(col("l_linenumber") === 1 && col("l_orderkey") % 3 === 0)
    // full delete: every line of these orders -> they leave the set
    src.delete(col("l_orderkey") % 7 === 0)
    // new orders enter
    src.append(base.filter(col("l_orderkey") % 11 === 0)
      .withColumn("l_orderkey", col("l_orderkey") + 10000000L))
    mv.refresh()
    mv.toDF.orderBy("l_returnflag")
  }

  /** Join-view MV (L83, the star-schema shape): the view aggregates
    * fact⋈dim; fact deletes/appends FOLD through the change feed
    * (each image joins the unchanged dim first), then a dim update
    * triggers the documented re-materialization on the next refresh.
    * The oracle replays the full final fact'⋈dim' aggregate, so the
    * fold→rebuild sequence must land exactly on the from-scratch
    * answer.
    */
  def lakeMvJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    val dimDf = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvjfact"),
      fact, properties = Map("graft.cdf" -> "true"))
    // CDF on the dim too: an SCD dim's updates then feed the fold as
    // CDC sidecars instead of a two-snapshot diff per refresh
    val d = graft.lake.GraftTable.create(spark, workDir(dir, "mvjdim"), dimDf,
      properties = Map("graft.cdf" -> "true"))
    val mv = graft.lake.MaterializedAgg.createJoin(spark, workDir(dir, "mvj"),
      src, d, Seq("l_orderkey"), Seq("o_orderpriority"), Seq("qty_c"))
    src.delete(col("l_orderkey") % 7 === 0)
    src.append(fact.filter(col("l_orderkey") % 11 === 0)
      .withColumn("qty_c", col("qty_c") * 3))
    mv.refresh() // fact deltas fold; dim untouched
    d.update(col("o_orderpriority") === "5-LOW",
      Map("o_orderpriority" -> lit("4-NOT SPECIFIED")))
    mv.refresh() // dim delta folds against the DFP-pruned fact
    mv.toDF
      .select(col("o_orderpriority"), col("mv_count").as("n_rows"),
        col("mv_sum_qty_c").as("sum_qty_c"))
      .orderBy("o_orderpriority")
  }

  /** LEFT-OUTER join MV (L90): per-join-key fact sub-aggregate state.
    * The window exercises both hard outer cases: fact DML folds
    * through the state MV (delete + tripled re-append), then dim DML
    * (priority move + a DELETE that converts matched fact keys back
    * to null-extended) is visible with ZERO refresh — the read joins
    * the live dim. Orders is restricted to even keys so odd-key
    * lineitems are null-extended from the start.
    */
  def lakeMvOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    val dimDf = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val src = graft.lake.GraftTable.create(spark, workDir(dir, "mvojfact"),
      fact, properties = Map("graft.cdf" -> "true"))
    val d = graft.lake.GraftTable.create(spark, workDir(dir, "mvojdim"), dimDf)
    val mv = graft.lake.MaterializedOuterJoin.create(spark,
      workDir(dir, "mvoj"), src, d,
      Seq("l_orderkey"), Seq("o_orderpriority"), Seq("qty_c"))
    src.delete(col("l_orderkey") % 7 === 0)
    src.append(fact.filter(col("l_orderkey") % 11 === 0)
      .withColumn("qty_c", col("qty_c") * 3))
    mv.refresh() // fact deltas fold into the key-grain state
    d.update(col("o_orderpriority") === "5-LOW",
      Map("o_orderpriority" -> lit("4-NOT SPECIFIED")))
    d.delete(col("l_orderkey") % 6 === 0) // matched keys become null-extended
    // NO refresh after dim DML — the read joins the live dim
    mv.toDF
      .select(coalesce(col("o_orderpriority"), lit("<unmatched>"))
          .as("o_orderpriority"),
        col("mv_count").as("n_rows"), col("mv_sum_qty_c").as("sum_qty_c"))
      .groupBy("o_orderpriority")
      .agg(sum("n_rows").as("n_rows"), sum("sum_qty_c").as("sum_qty_c"))
      .orderBy("o_orderpriority")
  }

  /** Dynamic partition overwrite (L63): only the partition present in
    * the incoming frame is replaced; the others keep their files. The
    * oracle recomputes untouched partitions from the source and the
    * replaced partition from the backfill arithmetic.
    */
  def lakeDynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "dynover"),
      li, partitionBy = Seq("l_returnflag"))
    val backfill = li.filter(col("l_returnflag") === "R")
      .withColumn("l_quantity", col("l_quantity") * 2)
    t.overwritePartitionsDynamic(backfill)
    t.toDF.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Symlink manifest round-trip (L77, Delta GENERATE parity): a
    * partitioned lake table writes Hive-layout manifests of its active
    * files after maintenance (OPTIMIZE) and DML (DELETE), and an
    * EXTERNAL reader — plain `spark.read.parquet` over exactly the
    * manifest-listed paths, no GraftLake code on the read side —
    * aggregates the same answer the lake reader does. The DELETE makes
    * the check bite: a manifest generated before it (or a reader
    * ignoring it) would count the deleted rows.
    */
  def lakeManifest(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "manifest"),
      li, partitionBy = Seq("l_returnflag"))
    t.optimize()
    t.delete(col("l_orderkey") % 3 === 0)
    val manifests = t.generateManifest()
    val listed = spark.read.textFile(manifests: _*).collect().toSeq
    // Hive symlink semantics: partition VALUES come from the partition
    // spec (the manifest subdir), not the data files — the aggregate
    // uses data-file columns only, like any symlink-table consumer
    spark.read.parquet(listed: _*)
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  /** Manifest MATERIALIZE over live deletion vectors (L77+): plain
    * GENERATE refuses a DV-carrying table (raw parquet readers would
    * resurrect masked rows), which goes dark for DuckDB/Trino interop
    * the moment a deployment adopts MoR DML. MATERIALIZE rewrites ONLY
    * the masked files' live rows into a snapshot-scoped manifest
    * subdir — no table commit, DVs stay live, time travel untouched —
    * and the manifest lists materialized replacements alongside the
    * untouched originals. The check bites three ways: the MoR DELETE's
    * masked rows must be absent, the MoR UPDATE's post-images (fresh
    * unmasked files) must be present exactly once, and the reader is
    * plain `spark.read.parquet` over the listed paths — zero GraftLake
    * code on the read side.
    */
  def lakeManifestDv(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "manifestdv"),
      li, partitionBy = Seq("l_returnflag"))
    t.optimize()
    // merge-on-read DML only: deletion vectors stay LIVE — the state
    // plain GENERATE refuses and MATERIALIZE exists for
    t.deleteMergeOnRead(col("l_orderkey") % 5 === 0)
    t.updateMergeOnRead(col("l_orderkey") % 7 === 0,
      Map("l_quantity" -> (col("l_quantity") + 100)))
    val manifests = t.generateManifest(materialize = true)
    val listed = spark.read.textFile(manifests: _*).collect().toSeq
    // Hive symlink semantics: the aggregate uses data-file columns
    // only (partition values come from the manifest subdirs)
    spark.read.parquet(listed: _*)
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  /** Histogram-steered runtime-filter read (L106): ONE cost-based
    * front door routes a fact⨝dim read to exact-key DFP, a bloom row
    * filter, or a plain scan, priced from the fact key's equi-height
    * histogram (mass of the dim's key range × keys/ndv-in-range). The
    * three dim shapes here exercise every branch — a dim covering the
    * whole key domain (a bloom would keep ~everything: plain), a
    * quarter-domain dim (the filter cuts: bloom), and a small key set
    * (enumerable: DFP) — and each branch's joined aggregate must equal
    * the same plain-SQL oracle arithmetic, proving the advisory
    * filters affect cost only, never answers.
    */
  def lakeDfpCost(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "dfpcost"),
      li.repartitionByRange(8, col("l_partkey"))
        .sortWithinPartitions("l_partkey"))
    t.computeHistogram(Seq("l_partkey"))
    val t2 = graft.lake.GraftTable.forPath(spark, t.path)
    val part = Tables(spark, dir, "part")
    val maxKey = part.agg(max("p_partkey")).head().getLong(0)
    def side(name: String, dim: org.apache.spark.sql.DataFrame) = {
      val keys = dim.select(col("p_partkey").as("l_partkey"))
      t2.readCostBased(keys, "l_partkey", maxKeys = 64)
        .join(keys, "l_partkey")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(lit(name).as("dim_set"), col("n"), col("sum_qty"))
    }
    side("full", part)
      .unionAll(side("quarter", part.filter(col("p_partkey") * 4 < maxKey)))
      .unionAll(side("narrow", part.filter(col("p_partkey") < 40)))
      .orderBy("dim_set")
  }

  /** Iceberg v2 metadata export round-trip (L105): a partitioned lake
    * table accumulates CoW DELETE + merge-on-read DELETE/UPDATE (live
    * deletion vectors), exports per-snapshot Iceberg metadata —
    * Avro manifest list/manifests, identity partition spec, DVs as
    * native position-delete files — and an EXTERNAL Iceberg-style
    * read (version-hint → metadata.json → Avro manifests → parquet +
    * position-delete anti-join; zero GraftLake log code) aggregates
    * the same answer the engine does. Bites four ways: the CoW
    * delete's files must be absent from the manifests, the MoR
    * delete's rows must fall to the position deletes, the MoR
    * update's post-images must appear exactly once, and the GROUP BY
    * column is the identity-partition value attached from the
    * manifest partition STRUCT (the data files don't contain it).
    */
  def lakeIcebergExport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "iceberg"),
      li, partitionBy = Seq("l_returnflag"))
    t.optimize()
    t.delete(col("l_orderkey") % 3 === 0) // copy-on-write: files rewritten
    t.deleteMergeOnRead(col("l_orderkey") % 5 === 0) // DVs stay live
    t.updateMergeOnRead(col("l_orderkey") % 7 === 0,
      Map("l_quantity" -> (col("l_quantity") + 100)))
    graft.lake.IcebergExport.export(t)
    graft.lake.IcebergExport.externalRead(spark, t.path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Iceberg ATTACH round-trip (L117 — the export's reverse
    * direction): the same CoW + merge-on-read DML bracket exports to
    * Iceberg v2 metadata, then `attachIceberg` adopts the manifests
    * into a NEW GraftLake table — data files by absolute path (zero
    * bytes copied), position deletes rewritten into a DV sidecar, the
    * partition column recovered from Hive directory inference — and
    * the aggregate runs through the ATTACHED engine table. Bites the
    * same four ways as the export oracle, but through the engine's
    * own scan/DV-mask path over adopted metadata instead of the
    * external reader algorithm. Then the SOURCE evolves past the
    * attach (another MoR delete, re-export) and `resyncAttached`
    * (L118) pulls the delta — the aggregate must track the source's
    * LINEAR history, proving the one-commit diff sync and the DV
    * sidecar rebuild end-to-end.
    */
  def lakeIcebergAttach(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "iceattach"),
      li, partitionBy = Seq("l_returnflag"))
    t.optimize()
    t.delete(col("l_orderkey") % 3 === 0) // copy-on-write: files rewritten
    t.deleteMergeOnRead(col("l_orderkey") % 5 === 0) // DVs stay live
    t.updateMergeOnRead(col("l_orderkey") % 7 === 0,
      Map("l_quantity" -> (col("l_quantity") + 100)))
    graft.lake.IcebergExport.export(graft.lake.GraftTable.forPath(spark, t.path))
    val att = graft.lake.GraftTable.attachIceberg(spark, t.path,
      workDir(dir, "iceattach_dst"))
    // L118: the source keeps moving AFTER the attach — resync pulls
    // the new position deletes in one metadata-diff commit
    val t2 = graft.lake.GraftTable.forPath(spark, t.path)
    t2.deleteMergeOnRead(col("l_orderkey") % 11 === 0)
    graft.lake.IcebergExport.export(graft.lake.GraftTable.forPath(spark, t.path))
    att.resyncAttached()
    graft.lake.GraftTable.forPath(spark, att.path).toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Delta-log export (L110): the external-interop leg Delta-native
    * readers attach to. TWO exports bracket the DML so the oracle
    * exercises the INCREMENTAL contract (the second export appends a
    * sync commit with removes+adds, never a fresh history), CoW and
    * MoR both land in between (MoR masks materialize on export), and
    * the read side is [[graft.lake.DeltaExport.externalRead]] — a pure
    * `_delta_log` replay, zero GraftLake log code.
    */
  def lakeDeltaExport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "deltaexp"),
      li, partitionBy = Seq("l_returnflag"))
    t.optimize()
    graft.lake.DeltaExport.export(t) // external v0: full state
    t.delete(col("l_orderkey") % 3 === 0) // copy-on-write rewrite
    t.deleteMergeOnRead(col("l_orderkey") % 5 === 0) // DVs stay live
    t.updateMergeOnRead(col("l_orderkey") % 7 === 0,
      Map("l_quantity" -> (col("l_quantity") + 100)))
    graft.lake.DeltaExport.export(t) // external v1: removes + adds
    graft.lake.DeltaExport.externalRead(spark, t.path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Runtime bloom semi-join (L62): a dim too wide for DFP's exact key
    * list drives a row-level bloom probe into the fact scan before the
    * join. The filter is advisory (fpp widens, never narrows), so the
    * pruned join must aggregate identically to the plain-SQL oracle.
    */
  def lakeBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val t = graft.lake.GraftTable.create(spark, workDir(dir, "bloomjoin"),
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"))
    val dim = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"))
    t.readBloomJoinFiltered(dim, "l_orderkey")
      .join(dim, "l_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Row tracking end-to-end (L50): a sorted two-file create makes the
    * id assignment order deterministic (range-partitioned files are
    * committed in path order = key order, rows positioned in sort
    * order), so id = global key rank at create time. OPTIMIZE then
    * compacts the files and a DELETE rewrites survivors — the emitted
    * (key, row_id) pairs prove both layout and DML rewrites preserved
    * every surviving row's id, against an oracle that recomputes the
    * create-time ranks with ROW_NUMBER.
    */
  def lakeRowTracking(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "orders")
      .select("o_orderkey").orderBy("o_orderkey").limit(200)
      .repartitionByRange(2, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    val t = GraftTable.create(spark, workDir(dir, "rowtrack"), src,
      properties = Map("graft.rowTracking" -> "true"))
    t.optimize()
    t.delete(col("o_orderkey") % 3 === 0)
    t.toDFWithRowIds.select("o_orderkey", "row_id").orderBy("o_orderkey")
  }

  /** Identity columns (L54): single-partition sorted writes make the
    * allocation order deterministic (one input partition → values are
    * the contiguous start/step sequence in row order), so the DuckDB
    * oracle can replay the exact arithmetic with ROW_NUMBER — proving
    * start/step allocation, ALWAYS materialization into data files,
    * and the cross-commit mark advance (the append's first value sits
    * strictly past the create batch's last).
    */
  def lakeIdentity(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables(spark, dir, "nation")
      .select("n_name").repartition(1).sortWithinPartitions("n_name")
    val t = GraftTable.create(spark, workDir(dir, "identity"), nation,
      properties = Map("graft.identity.n_seq" -> "10,3"))
    t.append(Tables(spark, dir, "region")
      .select(col("r_name").as("n_name")).repartition(1).sortWithinPartitions("n_name"))
    t.toDF.select("n_seq", "n_name").orderBy("n_seq")
  }

  /** Catalog UPDATE (L94): a catalog-named table updated via bare
    * `spark.sql`, which Spark resolves and `graft.plans.GraftDml` runs
    * through the same copy-on-write planner as [[lakeUpdate]]'s
    * path-API route — same observable contract, SQL entry point.
    */
  def lakeRloUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = workDir(dir, "rlowh") // cleaned per call
    spark.conf.set("spark.sql.catalog.graft_vq",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_vq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_vq.default")
    spark.sql("DROP TABLE IF EXISTS graft_vq.default.rlo_li")
    Tables(spark, dir, "lineitem").repartition(4)
      .createOrReplaceTempView("rlo_li_src")
    spark.sql("CREATE TABLE graft_vq.default.rlo_li USING graftlake " +
      "AS SELECT * FROM rlo_li_src")
    spark.sql("UPDATE graft_vq.default.rlo_li SET l_discount = 0.0 " +
      "WHERE l_returnflag = 'R'")
    spark.table("graft_vq.default.rlo_li")
      .groupBy("l_returnflag")
      .agg(round(sum("l_discount"), 4).as("sum_disc"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Catalog merge-on-read UPDATE (L97): with `graft.dml.mode =
    * merge-on-read` the same bare-SQL UPDATE runs the planner's
    * merge-on-read mode — deletion-vector marks plus post-image
    * appends, no candidate file rewritten. Same observable contract as
    * [[lakeRloUpdate]]'s copy-on-write route.
    */
  def lakeRloUpdateMor(spark: SparkSession, dir: String): DataFrame = {
    val wh = workDir(dir, "rlomorwh") // cleaned per call
    spark.conf.set("spark.sql.catalog.graft_vqm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_vqm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_vqm.default")
    spark.sql("DROP TABLE IF EXISTS graft_vqm.default.rlo_li_mor")
    Tables(spark, dir, "lineitem").repartition(4)
      .createOrReplaceTempView("rlo_li_mor_src")
    spark.sql("CREATE TABLE graft_vqm.default.rlo_li_mor USING graftlake " +
      "AS SELECT * FROM rlo_li_mor_src")
    GraftTable.forPath(spark,
        Paths.get(wh, "default", "rlo_li_mor").toString)
      .setTableProperties(Map("graft.dml.mode" -> "merge-on-read"))
    spark.sql("UPDATE graft_vqm.default.rlo_li_mor SET l_discount = 0.0 " +
      "WHERE l_returnflag = 'R'")
    spark.table("graft_vqm.default.rlo_li_mor")
      .groupBy("l_returnflag")
      .agg(round(sum("l_discount"), 4).as("sum_disc"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Catalog MERGE (L94): the most intricate rewrite shape — matched
    * rows update (price×2), unmatched source rows insert — driven
    * through bare `spark.sql` MERGE on a catalog name, lowered by
    * `graft.plans.GraftDml` onto the same planner as [[lakeMerge]]'s
    * path-API route. Same observable contract.
    */
  def lakeRloMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = workDir(dir, "rlomergewh") // cleaned per call
    spark.conf.set("spark.sql.catalog.graft_vqg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_vqg.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_vqg.default")
    spark.sql("DROP TABLE IF EXISTS graft_vqg.default.rlo_ord")
    val o = Tables(spark, dir, "orders")
    o.repartition(4).createOrReplaceTempView("rlo_ord_src")
    spark.sql("CREATE TABLE graft_vqg.default.rlo_ord USING graftlake " +
      "AS SELECT * FROM rlo_ord_src")
    val updates = o.filter(col("o_orderkey") < 100)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
    val inserts = o.filter(col("o_orderkey") < 50)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    updates.unionByName(inserts).createOrReplaceTempView("rlo_merge_src")
    spark.sql("MERGE INTO graft_vqg.default.rlo_ord AS t " +
      "USING rlo_merge_src AS s ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    spark.table("graft_vqg.default.rlo_ord")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
  }

  /** Cross-statement transaction (L96): a BEGIN/COMMIT script whose
    * staged CREATE, DELETE and UPDATE land atomically — the returned
    * aggregate reads BOTH the squashed base table and the table the
    * transaction created, all exact integer cents.
    */
  def lakeTxn(spark: SparkSession, dir: String): DataFrame = {
    val gsql = new graft.lake.GraftSql(spark)
    gsql.registerCreate("txn_orders", workDir(dir, "txnbase"),
      Tables(spark, dir, "orders"))
    val selLoc = workDirPath(dir, "txnsel")
    val p = Paths.get(selLoc)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    gsql.executeScript(s"""
      BEGIN;
      CREATE TABLE txn_sel LOCATION '$selLoc' AS
        SELECT o_orderkey, o_totalprice FROM txn_orders WHERE o_totalprice > 300000;
      DELETE FROM txn_orders WHERE o_orderstatus = 'F';
      UPDATE txn_orders SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 10 = 0;
      COMMIT;
    """)
    gsql.sql("""
      SELECT side, n, total_cents FROM (
        SELECT 'base' AS side, COUNT(*) AS n,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM txn_orders
        UNION ALL
        SELECT 'sel' AS side, COUNT(*) AS n,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM txn_sel) u ORDER BY side""")
  }
}
