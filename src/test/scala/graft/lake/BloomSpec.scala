package graft.lake

import graft.{GraftSparkSpec, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bloom-filter file skipping: point lookups on a high-cardinality key
  * where min/max stats can't exclude anything (SURVEY §2.1 L30).
  */
class BloomSpec extends GraftSparkSpec {

  private def li = Tables(spark, sfDir, "lineitem")

  /** `pruneFiles` on both sides of the gate: the same kept count, with
    * 0 Spark jobs under it and `jobsAbove` (1 when a bloom is probed)
    * above it.
    */
  private def pruneBothSides(t: GraftTable, pred: Column,
      jobsAbove: Int = 1): (Int, Int) = {
    val (under, jobsUnder) = jobsStartedBy(t.pruneFiles(pred))
    val (above, jobsOver) = aboveSidecarGate(jobsStartedBy(t.pruneFiles(pred)))
    assert(under == above, s"kept counts differ across the gate: $under vs $above")
    assert(jobsUnder.isEmpty, s"driver-side probe started jobs: $jobsUnder")
    assert(jobsOver.size == jobsAbove, s"distributed probe ran jobs: $jobsOver")
    under
  }

  /** `readWhere(pred)`'s row count, the same rows on both sides of the gate. */
  private def readBothSides(t: GraftTable, pred: Column): Long = {
    def rows() = t.readWhere(pred).collect().map(_.toString).sorted.toSeq
    val under = rows()
    assert(aboveSidecarGate(rows()) == under, s"readWhere($pred) differs across the gate")
    under.size.toLong
  }

  test("bloom skipping prunes files min/max can't, result stays exact") {
    // hash-distribute so every file's orderkey range overlaps fully:
    // min/max stats are useless, a specific key lives in ~1 file
    val t = GraftTable.create(spark, tmpDir("bloom"),
      li.repartition(8, col("l_orderkey")))
    assert(t.snapshot.numFiles >= 4)
    // mid-range key: every file's [min,max] covers it, only bloom helps
    val keys = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .collect().map(_.getLong(0))
    val key = keys(keys.length / 2)
    val pred = col("l_orderkey") === key

    val (keptBefore, total) = pruneBothSides(t, pred, jobsAbove = 0)
    assert(keptBefore == total, "min/max alone must not prune hash-distributed files")

    t.computeBloomFilter("l_orderkey")
    val (keptAfter, _) = pruneBothSides(t, pred)
    assert(keptAfter < total, s"bloom should skip files, kept $keptAfter/$total")

    val expected = li.filter(pred).count()
    assert(readBothSides(t, pred) == expected)
    assert(expected > 0)

    // IN-lists prune too: a file survives if ANY value might be in it
    val key2 = keys(keys.length / 3)
    val inPred = col("l_orderkey").isin(key, key2)
    val (keptIn, totalIn) = pruneBothSides(t, inPred)
    assert(keptIn < totalIn, s"IN-list bloom should skip, kept $keptIn/$totalIn")
    assert(readBothSides(t, inPred) == li.filter(inPred).count())
  }

  test("bloom probes deserialize only the candidate files' sidecar rows") {
    val t = GraftTable.create(spark, tmpDir("bloom-scoped"),
      li.repartition(8, col("l_orderkey")))
    t.computeBloomFilter("l_orderkey")
    val rel = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
      .apply("graft.bloom.l_orderkey")
    // Plant a sidecar row for a path that is NOT a read candidate whose
    // bytes are not a serialized bloom. Both probes check a row's path
    // against the candidates before deserializing its bitset, so this
    // row is never decoded; a probe that decoded every row would throw
    // on it. At the design point the sidecar is ~100 GB, so decoding
    // only the candidates' rows is what keeps a probe O(candidates).
    import spark.implicits._
    Seq(("not-an-active-file.parquet", Array[Byte](1, 2, 3)))
      .toDF("file_path", "bloom")
      .write.mode("append").parquet(s"${t.path}/$rel")
    val keys = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .collect().map(_.getLong(0))
    val key = keys(keys.length / 2)
    val (kept, total) = pruneBothSides(t, col("l_orderkey") === key)
    assert(kept < total, s"bloom should still skip files, kept $kept/$total")
    assert(readBothSides(t, col("l_orderkey") === key) ==
      li.filter(col("l_orderkey") === key).count())
  }

  test("bloom on a string column; rewritten files fall back to kept") {
    val t = GraftTable.create(spark, tmpDir("bloom-str"),
      li.limit(4000).repartition(6, col("l_orderkey")))
    t.computeBloomFilter("l_returnflag") // low cardinality: every file has all values
    val (keptAll, totalAll) = pruneBothSides(t, col("l_returnflag") === "R")
    assert(keptAll == totalAll, "value present everywhere must keep all files")

    // an absent value INSIDE the min/max range ("A".."R"): only the
    // bloom can prove exclusion
    val (keptNone, _) = pruneBothSides(t, col("l_returnflag") === "B")
    assert(keptNone == 0, s"absent value should skip all files, kept $keptNone")

    // optimize rewrites files -> stale sidecar entries; files are kept
    t.optimize(targetBytes = 1024L * 1024 * 1024)
    val (keptStale, totalStale) = pruneBothSides(t, col("l_returnflag") === "B")
    assert(keptStale == totalStale, "rewritten files without bloom entries stay kept")
    assert(readBothSides(t, col("l_returnflag") === "R") ==
      li.limit(4000).filter(col("l_returnflag") === "R").count())

    // opt-in auto-recompute restores skipping right after a compaction
    t.setTableProperties(Map("graft.bloomAutoRecompute" -> "true"))
    t.append(li.limit(500))
    t.append(li.limit(500))
    t.optimize(targetBytes = 1024L * 1024 * 1024)
    val (keptFresh, totalFresh) = pruneBothSides(t, col("l_returnflag") === "B")
    assert(keptFresh == 0, s"recomputed blooms should skip all, kept $keptFresh/$totalFresh")
    assert(readBothSides(t, col("l_returnflag") === "R") ==
      li.limit(4000).unionAll(li.limit(500)).unionAll(li.limit(500))
        .filter(col("l_returnflag") === "R").count())
  }

  test("bloom on escaped partition paths: one sidecar row per file, keyed by its log path") {
    import spark.implicits._
    // ' ', '%' and 'é' come back percent-encoded in `_metadata.file_path`
    val parts = Seq("a b", "50%", "é")
    val df = (0 until 3000).map(i => (2L * i, parts(i % 3))).toDF("k", "p")
    val t = GraftTable.create(spark, tmpDir("bloom-escaped"), df.repartition(4),
      partitionBy = Seq("p"))
    t.computeBloomFilter("k")
    val rel = t.snapshot.metadata.map(_.properties).getOrElse(Map.empty)
      .apply("graft.bloom.k")
    val keyed = spark.read.parquet(s"${t.path}/$rel").select("file_path")
      .collect().map(_.getString(0)).sorted.toSeq
    val active = t.snapshot.activeFiles.map(_.path).sorted
    assert(active.size >= parts.size)
    assert(keyed == active, s"sidecar rows $keyed, active files $active")

    // odd keys are absent but inside every file's [min, max]
    val (kept, total) = pruneBothSides(t, col("k") === 2999L)
    assert(kept == 0, s"an absent key should prune every file, kept $kept/$total")
    val present = col("k") === 3000L
    val expected = df.filter(present).collect().map(_.toString).toSeq
    assert(expected.size == 1)
    def rows(pred: Column) = t.readWhere(pred).select("k", "p").collect().map(_.toString).toSeq
    assert(rows(present) == expected)
    assert(aboveSidecarGate(rows(present)) == expected)
  }
}
