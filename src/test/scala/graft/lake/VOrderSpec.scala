package graft.lake

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.functions._

/** V-Order physical layout (reference docs/02-lab-optimizations.md
  * §C, :116-187): OPTIMIZE VORDER must change the bytes on disk —
  * range-clustered files with tight min/max stats — not just set a
  * property, and the file-stats pruner must read fewer files for the
  * dominant filter afterwards.
  */
class VOrderSpec extends GraftSparkSpec {

  private def filesCovering(t: GraftTable, flag: String): Int =
    t.filesFor(col("l_returnflag") === flag).size

  test("OPTIMIZE under VORDER range-clusters files; pruning reads fewer") {
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice")

    // baseline: plain OPTIMIZE into ~4 hash-shaped files — every file
    // spans all l_returnflag values, the filter can prune nothing
    val p = GraftTable.create(spark, tmpDir("vorder_plain"), li.repartition(8))
    val pTotal = p.snapshot.activeFiles.map(_.size).sum
    p.optimize(targetBytes = math.max(1L, pTotal / 4))
    val pFiles = p.snapshot.activeFiles.size
    assert(pFiles > 1, s"need several files to demonstrate clustering, got $pFiles")
    assert(filesCovering(p, "R") == pFiles,
      "hash-shaped files should all cover 'R' — baseline for the clustered claim")

    // same data, same target, but VORDER on: range-clustered output
    val t = GraftTable.create(spark, tmpDir("vorder_t"), li.repartition(8))
    t.setTableProperties(Map(
      "graft.vorder" -> "true",
      "graft.vorder.columns" -> "l_returnflag,l_linestatus"))
    val total = t.snapshot.activeFiles.map(_.size).sum
    t.optimize(targetBytes = math.max(1L, total / 4))
    val after = t.snapshot.activeFiles.size
    assert(after > 1, s"VORDER rewrite still needs several files, got $after")
    val covering = filesCovering(t, "R")
    assert(covering < after,
      s"range-clustered layout should let stats skip files: $covering/$after cover 'R'")

    // per-file min/max actually tightened: some file's whole range sits
    // inside one l_returnflag value
    val tight = t.snapshot.activeFiles.count(f =>
      f.stats.exists(st => st.minValues.get("l_returnflag") ==
        st.maxValues.get("l_returnflag")))
    assert(tight > 0, "at least one file should span a single l_returnflag value")

    // correctness unchanged by layout
    val expected = li.filter(col("l_returnflag") === "R").count()
    assert(t.readWhere(col("l_returnflag") === "R").count() == expected)
  }

  test("OPTIMIZE ... VORDER via SQL applies the layout in the same pass") {
    val dir = tmpDir("vorder_sql")
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val t = GraftTable.create(spark, dir, li.repartition(6))
    t.setTableProperties(Map("graft.vorder.columns" -> "l_returnflag"))
    val sql = new GraftSql(spark)
    sql.register("sales", dir)
    val metrics = sql.sql("OPTIMIZE sales VORDER").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("vorder") == "true")
    // the property persisted AND this pass already wrote sorted bytes:
    // the single compacted file is whole-table sorted by l_returnflag
    val props = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
    assert(props.get("graft.vorder").contains("true"))
    val flags = t.toDF.select("l_returnflag").collect().map(_.getString(0))
    assert(flags.sameElements(flags.sorted),
      "rows inside the VORDER-compacted file should be sorted by the vorder column")
  }

  test("appends to a VORDER table write sorted files") {
    val dir = tmpDir("vorder_append")
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val t = GraftTable.create(spark, dir, li.limit(10))
    t.setTableProperties(Map(
      "graft.vorder" -> "true", "graft.vorder.columns" -> "l_returnflag"))
    t.append(li.limit(500).repartition(1))
    val newest = t.snapshot.activeFiles.maxBy(_.modificationTime)
    val rows = spark.read.parquet(
      java.nio.file.Paths.get(dir, newest.path).toString)
      .select("l_returnflag").collect().map(_.getString(0))
    assert(rows.sameElements(rows.sorted), "appended file should be sorted")
  }
}
