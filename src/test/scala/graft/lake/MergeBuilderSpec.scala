package graft.lake

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.functions._

class MergeBuilderSpec extends GraftSparkSpec {

  private def freshOrders(name: String) = {
    val o = Tables(spark, sfDir, "orders")
    (o, GraftTable.create(spark, tmpDir(name), o))
  }

  test("whenMatchedDelete removes matching target rows") {
    val (o, t) = freshOrders("mb-del")
    val src = o.filter(col("o_orderkey") < 50)
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedDelete(col("o_orderstatus") === "F")
      .whenMatchedKeep()
      .whenNotMatchedIgnore()
      .execute()
    val expected = o.filter(!(col("o_orderkey") < 50 && col("o_orderstatus") === "F")).count()
    assert(t.toDF.count() == expected)
  }

  test("conditional update only replaces rows meeting the condition") {
    val (o, t) = freshOrders("mb-cond")
    val src = o.filter(col("o_orderkey") < 100).withColumn("o_totalprice", lit(-1.0))
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedUpdateAll(condition = Some(col("o_orderstatus") === "O"))
      .whenNotMatchedIgnore()
      .execute()
    val updated = t.toDF.filter(col("o_totalprice") === -1.0).count()
    val expected = o.filter(col("o_orderkey") < 100 && col("o_orderstatus") === "O").count()
    assert(updated == expected, s"updated $updated expected $expected")
    assert(t.toDF.count() == o.count())
  }

  test("insert-only merge appends just the unmatched source rows") {
    val (o, t) = freshOrders("mb-ins")
    val src = o.filter(col("o_orderkey") < 30)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L)
      .unionByName(o.filter(col("o_orderkey") < 10))
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedKeep()
      .whenNotMatchedInsertAll()
      .execute()
    assert(t.toDF.count() == o.count() + 30)
  }

  test("SQL TIMESTAMP AS OF reads the snapshot at a wall-clock instant") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mo", tmpDir("mb-ts"), o.limit(40))
    Thread.sleep(10)
    val mid = java.time.Instant.now()
    Thread.sleep(10)
    gsql.table("mo").append(o.limit(15))
    val midStr = java.time.LocalDateTime.ofInstant(mid, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    val n = gsql.sql(s"SELECT COUNT(*) AS n FROM mo TIMESTAMP AS OF '$midStr'")
      .head().getLong(0)
    assert(n == 40)
    assert(gsql.sql("SELECT COUNT(*) AS n FROM mo").head().getLong(0) == 55)
  }

  test("whenNotMatchedBySourceDelete drops target rows absent from the source") {
    val (o, t) = freshOrders("mb-nmbs-del")
    val src = o.filter(col("o_orderkey") < 500)
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedKeep()
      .whenNotMatchedIgnore()
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(t.toDF.count() == o.filter(col("o_orderkey") < 500).count())
  }

  test("conditional NMBS update rewrites only unmatched rows meeting the condition") {
    val (o, t) = freshOrders("mb-nmbs-upd")
    val src = o.filter(col("o_orderkey") < 500)
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedKeep()
      .whenNotMatchedIgnore()
      .whenNotMatchedBySourceUpdate(
        Map("o_totalprice" -> lit(-7.0)),
        condition = Some(col("o_orderstatus") === "F"))
      .execute()
    val hit = t.toDF.filter(col("o_totalprice") === -7.0).count()
    val expected = o.filter(col("o_orderkey") >= 500 && col("o_orderstatus") === "F").count()
    assert(hit == expected, s"updated $hit expected $expected")
    assert(t.toDF.count() == o.count())
  }

  test("whenMatchedUpdate assignments see target columns and src_ source columns") {
    val (o, t) = freshOrders("mb-partial")
    val src = o.filter(col("o_orderkey") < 200)
      .withColumn("o_totalprice", lit(10.0))
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedUpdate(Map(
        "o_totalprice" -> (col("o_totalprice") + col("src_o_totalprice")),
        "o_orderpriority" -> lit("merged")))
      .whenNotMatchedIgnore()
      .execute()
    val got = t.toDF.filter(col("o_orderkey") < 200)
      .select(sum(col("o_totalprice")).as("s")).head().getDouble(0)
    val want = o.filter(col("o_orderkey") < 200)
      .select(sum(col("o_totalprice") + 10.0).as("s")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"got $got want $want")
    assert(t.toDF.filter(col("o_orderpriority") === "merged").count() ==
      o.filter(col("o_orderkey") < 200).count())
    // rows outside the key range untouched
    assert(t.toDF.filter(col("o_orderkey") >= 200 && col("o_orderpriority") === "merged")
      .count() == 0)
  }

  test("merge-on-read merge matches copy-on-write results without rewriting files") {
    val o = Tables(spark, sfDir, "orders")
    val cow = GraftTable.create(spark, tmpDir("mb-mor-cow"), o)
    val mor = GraftTable.create(spark, tmpDir("mb-mor-dv"), o)
    val src = o.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") < 20)
        .withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    def clauses(b: MergeBuilder) = b
      .whenMatchedDelete(col("o_orderstatus") === "F")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
    val filesBefore = mor.snapshot.activeFiles.map(_.path).toSet
    clauses(cow.mergeBuilder(src, "o_orderkey")).execute()
    val m = clauses(mor.mergeBuilder(src, "o_orderkey")).mergeOnRead().execute()
    assert(m("numDeletionVectors") == "1")
    // MoR: every pre-merge file is still active (post-images/inserts append)
    assert(filesBefore.subsetOf(mor.snapshot.activeFiles.map(_.path).toSet),
      "merge-on-read rewrote existing files")
    val a = cow.toDF.orderBy("o_orderkey", "o_totalprice").collect()
    val b = mor.toDF.orderBy("o_orderkey", "o_totalprice").collect()
    assert(a.toSeq == b.toSeq, s"CoW ${a.length} rows vs MoR ${b.length} rows differ")
  }

  test("merge-on-read NMBS clauses mask unmatched rows instead of rewriting") {
    val o = Tables(spark, sfDir, "orders")
    val cow = GraftTable.create(spark, tmpDir("mb-mor-nmbs-cow"), o)
    val mor = GraftTable.create(spark, tmpDir("mb-mor-nmbs-dv"), o)
    val src = o.filter(col("o_orderkey") < 1000)
    def clauses(b: MergeBuilder) = b
      .whenMatchedKeep()
      .whenNotMatchedIgnore()
      .whenNotMatchedBySourceDelete(Some(col("o_orderstatus") === "O"))
      .whenNotMatchedBySourceUpdate(
        Map("o_totalprice" -> lit(0.0)),
        condition = Some(col("o_orderstatus") === "F"))
    clauses(cow.mergeBuilder(src, "o_orderkey")).execute()
    val filesBefore = mor.snapshot.activeFiles.map(_.path).toSet
    clauses(mor.mergeBuilder(src, "o_orderkey")).mergeOnRead().execute()
    assert(filesBefore.subsetOf(mor.snapshot.activeFiles.map(_.path).toSet))
    val a = cow.toDF.orderBy("o_orderkey").collect()
    val b = mor.toDF.orderBy("o_orderkey").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("SQL MERGE INTO drives matched, insert and by-source clauses") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mt", tmpDir("mb-sqlmerge"), o)
    o.filter(col("o_orderkey") < 300)
      .withColumn("o_totalprice", lit(5.0))
      .createOrReplaceTempView("msrc")
    gsql.sql(
      """MERGE INTO mt AS t USING msrc AS s ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND t.o_orderstatus = 'F'
        |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
        |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P' THEN DELETE""".stripMargin)
    val t = gsql.table("mt").toDF
    val bumped = t.filter(col("o_orderkey") < 300 && col("o_orderstatus") === "F")
      .select(sum("o_totalprice")).head().getDouble(0)
    val want = o.filter(col("o_orderkey") < 300 && col("o_orderstatus") === "F")
      .select(sum(col("o_totalprice") + 5.0)).head().getDouble(0)
    assert(math.abs(bumped - want) < 1e-6, s"got $bumped want $want")
    assert(t.filter(col("o_orderkey") >= 300 && col("o_orderstatus") === "P").count() == 0)
    val expectRows = o.count() -
      o.filter(col("o_orderkey") >= 300 && col("o_orderstatus") === "P").count()
    assert(t.count() == expectRows)
  }

  test("SQL MERGE INTO upserts with UPDATE SET * and INSERT *") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mt2", tmpDir("mb-sqlmerge2"), o)
    o.filter(col("o_orderkey") < 100)
      .withColumn("o_totalprice", lit(-3.0))
      .withColumn("o_orderkey",
        when(col("o_orderkey") < 50, col("o_orderkey") + 9000000L)
          .otherwise(col("o_orderkey")))
      .createOrReplaceTempView("msrc2")
    gsql.sql(
      """MERGE INTO mt2 USING msrc2 ON mt2.o_orderkey = msrc2.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = gsql.table("mt2").toDF
    assert(t.count() == o.count() +
      o.filter(col("o_orderkey") < 50).count())
    assert(t.filter(col("o_totalprice") === -3.0).count() ==
      o.filter(col("o_orderkey") < 100).count())
  }

  // tuple-unique composite-key base: per-(order, line) aggregate of
  // lineitem (the raw synthetic table has duplicate tuples). Several
  // lines per order ⇒ matching on l_orderkey alone would collapse them.
  private def compBase = Tables(spark, sfDir, "lineitem")
    .groupBy("l_orderkey", "l_linenumber")
    .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("qty"))

  test("composite-key merge matches on the column tuple, not any one key") {
    val base = compBase
    val t = GraftTable.create(spark, tmpDir("mb-comp"), base)
    val updates = base.filter(col("l_orderkey") < 100)
      .withColumn("qty", col("qty") * 2)
    val inserts = base.filter(col("l_orderkey") < 50)
      .withColumn("l_orderkey", col("l_orderkey") + 8000000L)
    t.merge(updates.unionByName(inserts), Seq("l_orderkey", "l_linenumber"))
    assert(t.toDF.count() == base.count() + inserts.count())
    val gotQty = t.toDF.filter(col("l_orderkey") < 100)
      .agg(sum("qty")).head().getDouble(0)
    val expQty = base.filter(col("l_orderkey") < 100)
      .agg(sum(col("qty") * 2)).head().getDouble(0)
    assert(math.abs(gotQty - expQty) < 1e-6)
  }

  test("composite-key partial update sees src_ columns; MoR path agrees") {
    val base = compBase
    val src = base.filter(col("l_orderkey") < 60)
      .withColumn("qty", col("qty") + 1.0)
    def run(name: String, mor: Boolean) = {
      val t = GraftTable.create(spark, tmpDir(name), base)
      var b = t.mergeBuilder(src, Seq("l_orderkey", "l_linenumber"))
        .whenMatchedUpdate(Map("qty" -> col("src_qty")),
          condition = Some(col("l_linenumber") <= 3))
        .whenNotMatchedIgnore()
      if (mor) b = b.mergeOnRead()
      b.execute()
      t.toDF.agg(round(sum("qty"), 4)).head().getDouble(0)
    }
    val cow = run("mb-comp-cow", mor = false)
    val expected = base.withColumn("qty",
        when(col("l_orderkey") < 60 && col("l_linenumber") <= 3,
          col("qty") + 1.0).otherwise(col("qty")))
      .agg(round(sum("qty"), 4)).head().getDouble(0)
    assert(cow == expected, s"CoW composite partial update: $cow vs $expected")
    assert(run("mb-comp-mor", mor = true) == expected, "MoR disagrees with CoW")
  }

  test("row-tracked composite merge: tuple-unique source passes, dup tuple raises") {
    val base = compBase.filter(col("l_orderkey") < 200)
    val t = GraftTable.create(spark, tmpDir("mb-comp-rt"), base,
      properties = Map("graft.rowTracking" -> "true"))
    // source rows share l_orderkey (several lines) but tuples are unique
    val src = base.filter(col("l_orderkey") < 40)
      .withColumn("qty", col("qty") + 1.0)
    val before = t.toDFWithRowIds.orderBy("l_orderkey", "l_linenumber")
      .select("row_id").collect().toSeq
    t.merge(src, Seq("l_orderkey", "l_linenumber"))
    val after = t.toDFWithRowIds.orderBy("l_orderkey", "l_linenumber")
      .select("row_id").collect().toSeq
    assert(after == before, "stable ids must survive a composite-key update")
    val dup = src.unionByName(src.limit(1))
    val e = intercept[IllegalArgumentException] {
      t.merge(dup, Seq("l_orderkey", "l_linenumber"))
    }
    assert(e.getMessage.contains("deduplicate"))
  }

  test("SQL MERGE with a composite ON conjunction") {
    val gsql = new GraftSql(spark)
    val base = compBase
    gsql.registerCreate("mtc", tmpDir("mb-sqlcomp"), base)
    base.filter(col("l_orderkey") < 30)
      .withColumn("qty", lit(-5.0))
      .createOrReplaceTempView("msrcc")
    gsql.sql(
      """MERGE INTO mtc USING msrcc
        |ON mtc.l_orderkey = msrcc.l_orderkey AND mtc.l_linenumber = msrcc.l_linenumber
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val t = gsql.table("mtc").toDF
    assert(t.count() == base.count())
    assert(t.filter(col("qty") === -5.0).count() ==
      base.filter(col("l_orderkey") < 30).count())
  }

  test("conditional and explicit-column NOT MATCHED INSERT, CoW and MoR") {
    val o = Tables(spark, sfDir, "orders")
    val src = o.filter(col("o_orderkey") < 80)
      .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
    def run(mor: Boolean) = {
      val t = GraftTable.create(spark, tmpDir(s"mb-inscond-$mor"), o)
      var b = t.mergeBuilder(src, "o_orderkey")
        .whenMatchedKeep()
        .whenNotMatchedInsertAll(condition = Some(col("o_orderstatus") === "O"))
      if (mor) b = b.mergeOnRead()
      b.execute()
      t.toDF.filter(col("o_orderkey") >= 7000000L).count()
    }
    val expected = src.filter(col("o_orderstatus") === "O").count()
    assert(expected > 0 && expected < src.count(), "condition must be selective")
    assert(run(mor = false) == expected, "CoW conditional insert")
    assert(run(mor = true) == expected, "MoR conditional insert")

    // explicit columns: assigned from the source row, omitted -> NULL
    val t2 = GraftTable.create(spark, tmpDir("mb-inscols"), o)
    t2.mergeBuilder(src, "o_orderkey")
      .whenMatchedKeep()
      .whenNotMatchedInsert(Map(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_totalprice" -> (col("o_totalprice") * 2)))
      .execute()
    val ins = t2.toDF.filter(col("o_orderkey") >= 7000000L)
    assert(ins.count() == src.count())
    assert(ins.filter(col("o_orderstatus").isNull).count() == src.count(),
      "omitted columns must insert NULL")
    val gotPrice = ins.agg(round(sum("o_totalprice"), 2)).head().getDouble(0)
    val expPrice = src.agg(round(sum(col("o_totalprice") * 2), 2)).head().getDouble(0)
    assert(gotPrice == expPrice)
  }

  test("SQL MERGE: conditional INSERT * and INSERT (cols) VALUES (...)") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mti", tmpDir("mb-sqlins"), o)
    o.filter(col("o_orderkey") < 60)
      .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
      .createOrReplaceTempView("msrci")
    gsql.sql(
      """MERGE INTO mti USING msrci ON mti.o_orderkey = msrci.o_orderkey
        |WHEN NOT MATCHED AND msrci.o_orderstatus = 'F' THEN
        |INSERT (o_orderkey, o_custkey, o_totalprice, o_orderpriority)
        |VALUES (msrci.o_orderkey, msrci.o_custkey, msrci.o_totalprice * 3,
        |concat('x,(y', ')z'))""".stripMargin)
    val t = gsql.table("mti").toDF
    val srcF = o.filter(col("o_orderkey") < 60 && col("o_orderstatus") === "F")
    assert(t.filter(col("o_orderkey") >= 7000000L).count() == srcF.count())
    // commas/parens inside string literals must not confuse the
    // top-level VALUES splitter
    assert(t.filter(col("o_orderkey") >= 7000000L)
      .filter(col("o_orderpriority") === "x,(y)z").count() == srcF.count())
    assert(t.filter(col("o_orderkey") >= 7000000L)
      .filter(col("o_orderdate").isNull).count() == srcF.count())
    val got = t.filter(col("o_orderkey") >= 7000000L)
      .agg(round(sum("o_totalprice"), 2)).head().getDouble(0)
    val exp = srcF.agg(round(sum(col("o_totalprice") * 3), 2)).head().getDouble(0)
    assert(got == exp)
  }

  test("withSchemaEvolution appends new source columns before merging") {
    val o = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = GraftTable.create(spark, tmpDir("mb-evolve"), o)
    val src = o.filter(col("o_orderkey") < 100)
      .withColumn("o_channel",
        concat(lit("web-"), (col("o_orderkey") % 3).cast("string")))
      .withColumn("o_orderkey",
        when(col("o_orderkey") < 50, col("o_orderkey") + 7000000L)
          .otherwise(col("o_orderkey")))
    // without evolution the extra column refuses loudly
    intercept[IllegalArgumentException] { t.merge(src, "o_orderkey") }
    t.mergeBuilder(src, "o_orderkey").withSchemaEvolution()
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.snapshot.schema.fieldNames.contains("o_channel"))
    // merged rows (updates + inserts) carry values, untouched rows NULL
    assert(t.toDF.filter(col("o_channel").isNotNull).count() == src.count())
    assert(t.toDF.filter(col("o_channel").isNull).count() ==
      t.toDF.count() - src.count())
    // evolution only adds: a source missing an existing column refuses
    intercept[IllegalArgumentException] {
      t.mergeBuilder(src.drop("o_custkey"), "o_orderkey")
        .withSchemaEvolution().execute()
    }
  }

  test("withSchemaEvolution evolves NESTED structs: new struct fields " +
      "(incl. inside arrays) add in place, old rows read nested NULL, " +
      "and a reordered source struct aligns by name") {
    import spark.implicits._
    // target: info struct<a> + tags array<struct<x>>
    val base = spark.range(10).selectExpr("id AS k",
      "named_struct('a', id * 2) AS info",
      "array(named_struct('x', id)) AS tags")
    val t = GraftTable.create(spark, tmpDir("mb-evolve-nested"), base)
    // source struct lists b BEFORE a (reversed order) and the array
    // element gains y: both must merge, not refuse
    val src = spark.range(8, 14).selectExpr("id AS k",
      "named_struct('b', concat('s', id), 'a', id * 100) AS info",
      "array(named_struct('y', id + 1000, 'x', id)) AS tags")
    // without evolution the nested extras refuse loudly
    intercept[IllegalArgumentException] { t.merge(src, "k") }
    t.mergeBuilder(src, "k").withSchemaEvolution()
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val t2 = GraftTable.forPath(spark, t.path)
    // evolved shape: table field order first, new fields appended
    assert(t2.snapshot.schema("info").dataType.simpleString ==
      "struct<a:bigint,b:string>")
    assert(t2.snapshot.schema("tags").dataType.simpleString ==
      "array<struct<x:bigint,y:bigint>>")
    val out = t2.toDF.orderBy("k")
      .selectExpr("k", "info.a", "info.b", "tags[0].x", "tags[0].y")
      .collect().map(r => (r.getLong(0),
        r.getLong(1), if (r.isNullAt(2)) null else r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
    // untouched rows: nested nulls for the new fields
    assert(out.filter(_._1 < 8).forall(r =>
      r._2 == r._1 * 2 && r._3 == null && r._4 == r._1 && r._5 == -1L))
    // matched (8, 9) and inserted (10..13): full nested values
    assert(out.filter(_._1 >= 8).forall(r =>
      r._2 == r._1 * 100 && r._3 == s"s${r._1}" &&
        r._4 == r._1 && r._5 == r._1 + 1000))
    // merge-on-read path takes the same alignment
    val src2 = spark.range(0, 2).selectExpr("id AS k",
      "named_struct('b', 'mor', 'a', id + 7) AS info",
      "array(named_struct('y', 5L, 'x', id)) AS tags")
    t2.mergeBuilder(src2, "k").withSchemaEvolution().mergeOnRead()
      .whenMatchedUpdateAll().whenNotMatchedIgnore().execute()
    val t3 = GraftTable.forPath(spark, t.path)
    assert(t3.snapshot.dvFiles.nonEmpty)
    assert(t3.toDF.filter(col("k") < 2)
      .selectExpr("info.b").collect().forall(_.getString(0) == "mor"))
    // a nested primitive TYPE change still refuses (evolution only adds)
    val bad = spark.range(1).selectExpr("id AS k",
      "named_struct('a', 'not-a-long') AS info",
      "array(named_struct('x', id)) AS tags")
    intercept[IllegalArgumentException] {
      t3.mergeBuilder(bad, "k").withSchemaEvolution().execute()
    }
  }

  test("nested evolution at depth 3: struct-in-array-in-struct grows, " +
      "deep omissions NULL-fill, NULL structs stay NULL") {
    import spark.implicits._
    // CASE keeps the inferred doc column NULLABLE (a bare named_struct
    // infers NOT NULL, which would refuse the NULL source row below)
    val t = GraftTable.create(spark, tmpDir("mb-evolve-deep"),
      spark.range(6).selectExpr("id AS k",
        "CASE WHEN id < 0 THEN NULL ELSE " +
          "named_struct('meta', named_struct('a', id), " +
          "'items', array(named_struct('inner', named_struct('x', id)))) " +
          "END AS doc"))
    // depth-3 addition (doc.items[].inner.y) + depth-2 (doc.meta.b) +
    // a NULL doc row in the source (must stay NULL, not struct-of-null)
    val src = spark.range(4, 8).selectExpr("id AS k",
      "CASE WHEN id = 7 THEN NULL ELSE " +
        "named_struct('meta', named_struct('b', 'm', 'a', id * 10), " +
        "'items', array(named_struct('inner', " +
        "named_struct('y', id + 50, 'x', id)))) END AS doc")
    t.mergeBuilder(src, "k").withSchemaEvolution()
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val t2 = GraftTable.forPath(spark, t.path)
    assert(t2.snapshot.schema("doc").dataType.simpleString ==
      "struct<meta:struct<a:bigint,b:string>," +
        "items:array<struct<inner:struct<x:bigint,y:bigint>>>>")
    val out = t2.toDF.orderBy("k").selectExpr("k", "doc.meta.a",
      "doc.meta.b", "doc.items[0].inner.x", "doc.items[0].inner.y")
    val rows = out.collect()
    // untouched rows: original values, new fields NULL at every depth
    rows.filter(_.getLong(0) < 4).foreach { r =>
      assert(r.getLong(1) == r.getLong(0) && r.isNullAt(2) &&
        r.getLong(3) == r.getLong(0) && r.isNullAt(4))
    }
    // merged rows (4..6): deep values land; row 7: doc stays NULL
    rows.filter(r => r.getLong(0) >= 4 && r.getLong(0) <= 6).foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 10 && r.getString(2) == "m" &&
        r.getLong(3) == r.getLong(0) && r.getLong(4) == r.getLong(0) + 50)
    }
    val r7 = rows.find(_.getLong(0) == 7).get
    assert(r7.isNullAt(1) && r7.isNullAt(3),
      "a NULL source struct must stay NULL, never a struct of nulls")
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION adds new source columns") {
    val o = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = GraftTable.create(spark, tmpDir("mb-evolve-sql"), o)
    val src = o.filter(col("o_orderkey") < 100)
      .withColumn("o_channel", lit("web"))
    val gsql = new GraftSql(spark)
    gsql.register("etab", t.path)
    src.createOrReplaceTempView("esrc")
    // without the keyword the extra column still refuses loudly
    intercept[IllegalArgumentException] {
      gsql.sql("MERGE INTO etab USING esrc ON etab.o_orderkey = esrc.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    gsql.sql("MERGE WITH SCHEMA EVOLUTION INTO etab USING esrc " +
      "ON etab.o_orderkey = esrc.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t.snapshot.schema.fieldNames.contains("o_channel"))
    assert(t.toDF.filter(col("o_channel").isNotNull).count() == src.count())
  }

  test("residual ON predicate: only-if-newer upsert, CoW and MoR agree") {
    val o = Tables(spark, sfDir, "orders")
    // half the source rows carry a HIGHER price (should update), half a
    // LOWER one (key-equal but residual-failed: must NOT update)
    val src = o.filter(col("o_orderkey") < 2000)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice") - 10.0))
    def run(name: String, mor: Boolean) = {
      val t = GraftTable.create(spark, tmpDir(name), o)
      var b = t.mergeBuilder(src, "o_orderkey")
        .onCondition(col("src_o_totalprice") > col("o_totalprice"))
        .whenMatchedUpdateAll()
        .whenNotMatchedIgnore()
      if (mor) b = b.mergeOnRead()
      b.execute()
      t.toDF.orderBy("o_orderkey").collect().toSeq
    }
    val cow = run("mb-resid-cow", mor = false)
    val expected = o.withColumn("o_totalprice",
        when(col("o_orderkey") < 2000 && col("o_orderkey") % 2 === 0,
          col("o_totalprice") + 10.0).otherwise(col("o_totalprice")))
      .orderBy("o_orderkey").collect().toSeq
    assert(cow == expected, "residual-gated update must touch only newer rows")
    assert(run("mb-resid-mor", mor = true) == expected, "MoR disagrees with CoW")
  }

  test("residual ON: key-equal residual-failed source rows fall to INSERT") {
    val (o, t) = freshOrders("mb-resid-ins")
    val src = o.filter(col("o_orderkey") < 100)
      .withColumn("o_totalprice", col("o_totalprice") - 5.0) // always stale
    t.mergeBuilder(src, "o_orderkey")
      .onCondition(col("src_o_totalprice") > col("o_totalprice"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    // SQL MERGE semantics: stale rows are unmatched, so they INSERT as
    // duplicate-key rows; targets stay untouched
    assert(t.toDF.count() == o.count() + src.count())
    assert(t.toDF.filter(col("o_orderkey") < 100).count() == 2 * src.count())
  }

  test("residual ON: a target matching two source rows raises the pair guard") {
    val (o, t) = freshOrders("mb-resid-dup")
    val one = o.filter(col("o_orderkey") < 10)
    val src = one.withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionByName(one.withColumn("o_totalprice", col("o_totalprice") + 2.0))
    val e = intercept[IllegalArgumentException] {
      t.mergeBuilder(src, "o_orderkey")
        .onCondition(col("src_o_totalprice") > col("o_totalprice"))
        .whenMatchedUpdateAll()
        .whenNotMatchedIgnore()
        .execute()
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("ordered NOT MATCHED clauses insert by first matching condition") {
    val (o, t) = freshOrders("mb-ins-order")
    val src = o.filter(col("o_orderkey") < 120)
      .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
    t.mergeBuilder(src, "o_orderkey")
      .whenMatchedKeep()
      .whenNotMatchedInsert(
        Map("o_orderkey" -> col("o_orderkey"), "o_totalprice" -> lit(111.0)),
        condition = Some(col("o_orderstatus") === "F"))
      .whenNotMatchedInsertAll()
      .execute()
    val ins = t.toDF.filter(col("o_orderkey") >= 7000000L)
    val nF = src.filter(col("o_orderstatus") === "F").count()
    assert(nF > 0 && nF < src.count(), "condition must be selective")
    assert(ins.count() == src.count(), "every unmatched row inserts exactly once")
    // first clause wins for F rows (explicit set: price 111, status NULL)
    assert(ins.filter(col("o_totalprice") === 111.0 &&
      col("o_orderstatus").isNull).count() == nF)
    // remaining rows fall through to INSERT * with their source values
    assert(ins.filter(col("o_orderstatus").isNotNull).count() == src.count() - nF)
  }

  test("SQL MERGE: residual ON conjunct, first-match inserts, literal-proof parsing") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mtp", tmpDir("mb-sqlpred"), o)
    o.filter(col("o_orderkey") < 400)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice") - 10.0))
      .withColumn("o_orderkey",
        when(col("o_orderkey") < 200, col("o_orderkey") + 7000000L)
          .otherwise(col("o_orderkey")))
      .createOrReplaceTempView("msrcp")
    gsql.sql(
      """MERGE INTO mtp AS t USING msrcp AS s
        |ON t.o_orderkey = s.o_orderkey AND s.o_totalprice > t.o_totalprice
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.o_orderkey >= 7000000 AND s.o_orderstatus = 'F' THEN
        |INSERT (o_orderkey, o_totalprice, o_orderpriority)
        |VALUES (s.o_orderkey, s.o_totalprice, 'a) WHEN MATCHED THEN b')
        |WHEN NOT MATCHED AND s.o_orderkey >= 7000000 THEN INSERT *""".stripMargin)
    val t = gsql.table("mtp").toDF
    // matched existing keys in [200,400): only even (newer) rows updated
    val evens = o.filter(col("o_orderkey") >= 200 && col("o_orderkey") < 400 &&
      col("o_orderkey") % 2 === 0)
    val gotUpd = t.filter(col("o_orderkey") >= 200 && col("o_orderkey") < 400)
      .agg(round(sum("o_totalprice"), 2)).head().getDouble(0)
    val wantUpd = o.filter(col("o_orderkey") >= 200 && col("o_orderkey") < 400)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
      .agg(round(sum("o_totalprice"), 2)).head().getDouble(0)
    assert(evens.count() > 0 && gotUpd == wantUpd)
    // new keys: F rows hit the FIRST insert clause (string literal with
    // ') WHEN ... THEN' intact), the rest fall to INSERT *
    val newRows = t.filter(col("o_orderkey") >= 7000000L)
    val srcNew = o.filter(col("o_orderkey") < 200)
    val nNewF = srcNew.filter(col("o_orderstatus") === "F").count()
    assert(newRows.count() == srcNew.count())
    assert(newRows.filter(col("o_orderpriority") === "a) WHEN MATCHED THEN b")
      .count() == nNewF)
    assert(newRows.filter(col("o_custkey").isNotNull).count() ==
      srcNew.count() - nNewF, "INSERT * rows keep their source columns")
  }

  test("SQL MERGE rejects a repeated MATCHED UPDATE clause") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mtdup", tmpDir("mb-sqldup"), o.limit(50))
    o.limit(10).createOrReplaceTempView("msrcd")
    val e = intercept[IllegalArgumentException] {
      gsql.sql(
        """MERGE INTO mtdup USING msrcd ON mtdup.o_orderkey = msrcd.o_orderkey
          |WHEN MATCHED AND mtdup.o_orderstatus = 'F' THEN UPDATE SET o_totalprice = 1.0
          |WHEN MATCHED THEN UPDATE SET o_totalprice = 2.0""".stripMargin)
    }
    assert(e.getMessage.contains("at most one"))
  }

  test("SQL MERGE: UPDATE before DELETE shields rows first-match style") {
    val gsql = new GraftSql(spark)
    val o = Tables(spark, sfDir, "orders")
    gsql.registerCreate("mtfm", tmpDir("mb-sqlfm"), o)
    o.filter(col("o_orderkey") < 300).createOrReplaceTempView("msrcf")
    // UPDATE fires for 'F' rows FIRST; DELETE is unconditional but must
    // only see rows the update didn't claim
    gsql.sql(
      """MERGE INTO mtfm USING msrcf ON mtfm.o_orderkey = msrcf.o_orderkey
        |WHEN MATCHED AND mtfm.o_orderstatus = 'F'
        |  THEN UPDATE SET o_orderpriority = concat('u,p', 'd'), o_totalprice = 999.0
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val t = gsql.table("mtfm").toDF
    val matchedF = o.filter(col("o_orderkey") < 300 && col("o_orderstatus") === "F")
    val matchedOther = o.filter(col("o_orderkey") < 300 && col("o_orderstatus") =!= "F")
    assert(t.count() == o.count() - matchedOther.count(),
      "non-F matched rows delete; F rows survive updated")
    assert(t.filter(col("o_orderkey") < 300).count() == matchedF.count())
    // SET splitter: comma inside the concat literal stays intact
    assert(t.filter(col("o_orderpriority") === "u,pd").count() == matchedF.count())
  }

  test("constraints apply to EVERY merge clause, including later ordered inserts and *-copies") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("mb-cons"),
      (1 to 20).map(i => (i.toLong, i * 10L)).toDF("k", "v"))
    t.addConstraint("v_pos", "v > 0")
    // insert-ALL copying a violating SOURCE row must refuse (the old
    // gate skipped validation when no explicit set was present)
    val badAll = Seq((99L, -5L)).toDF("k", "v")
    val e1 = intercept[IllegalArgumentException] {
      t.mergeBuilder(badAll, "k").whenMatchedKeep()
        .whenNotMatchedInsertAll().execute()
    }
    assert(e1.getMessage.contains("v_pos"))
    // a SECOND ordered NOT MATCHED clause with an explicit set must
    // validate too (first clause is insert-all and doesn't fire)
    val badSecond = Seq((98L, 7L)).toDF("k", "v")
    val e2 = intercept[IllegalArgumentException] {
      t.mergeBuilder(badSecond, "k").whenMatchedKeep()
        .whenNotMatchedInsert(Map("k" -> col("k"), "v" -> lit(-1L)),
          condition = Some(col("v") > 100))
        .whenNotMatchedInsert(Map("k" -> col("k"), "v" -> lit(-2L)))
        .execute()
    }
    assert(e2.getMessage.contains("v_pos"))
    assert(t.toDF.count() == 20, "refused merges must not commit")
  }

  test("SQL MERGE: a string literal containing ' WHEN ' inside the ON clause parses") {
    import spark.implicits._
    val gsql = new GraftSql(spark)
    gsql.registerCreate("mwl", tmpDir("mb-onlit"),
      Seq((1L, "a"), (2L, "x WHEN y")).toDF("k", "tag"))
    Seq((2L, "x WHEN y"), (3L, "z")).toDF("k", "tag")
      .createOrReplaceTempView("mwlsrc")
    gsql.sql("MERGE INTO mwl AS t USING mwlsrc AS s " +
      "ON t.k = s.k AND s.tag = 'x WHEN y' " +
      "WHEN MATCHED THEN DELETE")
    val left = gsql.sql("SELECT k FROM mwl").collect().map(_.getLong(0)).toSet
    assert(left == Set(1L), "the literal-guarded match must delete row 2 only")
  }

  test("merge-on-read merge with no matches and no inserts is a no-op commit") {
    val (o, t) = freshOrders("mb-mor-noop")
    val src = o.limit(10).withColumn("o_orderkey", col("o_orderkey") + 9000000L)
    val m = t.mergeBuilder(src, "o_orderkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedIgnore()
      .mergeOnRead()
      .execute()
    assert(m("numDeletionVectors") == "0")
    assert(t.snapshot.dvFiles.isEmpty, "no-op merge committed a DV")
    assert(t.toDF.count() == o.count())
  }

  test("a failed MERGE leaves no cached source behind, CoW and MoR") {
    import spark.implicits._
    val cache = spark.sharedState.cacheManager
    for (mor <- Seq(false, true)) {
      val mode = if (mor) "mor" else "cow"
      val t = GraftTable.create(spark, tmpDir(s"mb-leak-$mode"),
        (1 to 20).map(i => (i.toLong, i * 10L)).toDF("k", "v"))
      t.addConstraint("v_pos", "v > 0")
      def run(b: MergeBuilder): Unit = {
        (if (mor) b.mergeOnRead() else b).execute(); ()
      }
      spark.catalog.clearCache()
      val e1 = intercept[IllegalArgumentException] {
        run(t.mergeBuilder(Seq((5L, -1L)).toDF("k", "v"), "k")
          .whenMatchedUpdateAll().whenNotMatchedIgnore())
      }
      assert(e1.getMessage.contains("v_pos"))
      assert(cache.isEmpty, s"$mode: a CHECK-refused MERGE left its source cached")
      val e2 = intercept[IllegalArgumentException] {
        run(t.mergeBuilder(Seq((3L, 31L), (3L, 32L)).toDF("k", "v"), "k")
          .onCondition(col("src_v") > col("v"))
          .whenMatchedUpdateAll().whenNotMatchedIgnore())
      }
      assert(e2.getMessage.contains("multiple source rows"))
      assert(cache.isEmpty, s"$mode: a multiple-match MERGE left its source cached")
      assert(t.version == 1, s"$mode: refused merges must not commit")
    }
  }
}
