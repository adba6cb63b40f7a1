package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{GraftSql, GraftTable, Pruning, Snapshot}

/** The reference workshop's flow as a user sees it: one client in a
  * closed loop over a TPC-H `lineitem` table at scale factor 0.1, about
  * 70% reads and 30% writes, with compaction every few writes and a
  * vacuum at the end. The table (~600k rows, partitioned on
  * `l_returnflag`, bloom sidecar on `l_partkey`) and its versions fit
  * the engine's caches: the Snapshot LRU (64) and the driver-side
  * checkpoint.
  *
  * Every operation's output is recorded with the parameters that
  * produced it; `lake_model.py` replays the same operations on DuckDB
  * and compares.
  */
object LakeMixed {
  // TPC-H at SF 0.1: 150,000 orders, 20,000 parts, 1,000 suppliers
  val Orders = 150000L
  // the warm-up table: TPC-H SF 0.01
  val WarmOrders = 15000L
  val PartKeys = 20000L
  val Suppliers = 1000L
  val InputParts = 16
  // writes take a fixed number of rows, the first lines of a run of
  // orders (sized so it nearly always holds that many), so that the
  // bytes a user writes do not vary with the seed
  val AppendRows = 500
  val AppendOrders = 160
  val MergeRows = 100
  val MergeOrders = 40
  // nominal duration of one cycle of 23 operations on 4 cores: a run of
  // 30 s times one cycle
  val CycleSeconds = 25.0
  // raw width of one row: 3 longs, 1 int, 4 doubles, 2 one-letter
  // strings, 3 dates, l_shipinstruct (12 chars on average) and
  // l_shipmode (4.3 on average)
  val RowBytes = 90L

  /** Result fingerprint; the same SQL runs in DuckDB. */
  val Fingerprint: Seq[String] = Seq(
    "count(*) AS n",
    "coalesce(sum(l_orderkey), 0) AS s_ok",
    "coalesce(sum(l_partkey), 0) AS s_pk",
    "coalesce(sum(CAST(round(l_quantity) AS BIGINT)), 0) AS s_q",
    "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) AS s_p")

  private def fpOf(rows: Array[Row]): Seq[Long] = Seq(
    rows.length.toLong,
    rows.map(_.getAs[Long]("l_orderkey")).sum,
    rows.map(_.getAs[Long]("l_partkey")).sum,
    rows.map(r => math.round(r.getAs[Double]("l_quantity"))).sum,
    rows.map(r => math.round(r.getAs[Double]("l_extendedprice") * 100)).sum)

  private def fpRow(r: Row): Seq[Long] = (0 until 5).map(r.getLong)

  /** TPC-H's sparse order keys: the first 8 of every 32 (spec 4.2.3). */
  def orderKey(o: Long): Long = o / 8 * 32 + o % 8 + 1

  /** Lineitems of orders [from, from+n) by the TPC-H 3.0 rules for
    * LINEITEM (spec 4.2.3), with dbgen's random streams replaced by
    * hashes of (seed, order, line): 1–7 lines per order, order date
    * uniform up to 151 days before the end date, ship/commit/receipt
    * dates offset from it, `l_returnflag` and `l_linestatus` derived
    * from the receipt and ship dates against CURRENTDATE 1995-06-17,
    * `l_extendedprice` = quantity × the part's retail price, the
    * supplier one of the part's four. `l_comment` is left out. The line
    * count depends on the table seed alone, so a merge source
    * regenerated for existing orders with another `salt` hits the same
    * (l_orderkey, l_linenumber) keys.
    */
  def rows(spark: SparkSession, seed: Long, salt: Long, from: Long, n: Long,
      parts: Int): DataFrame = {
    def h(k: Int, m: Long, cols: Column*): Column =
      pmod(xxhash64(lit(salt) +: lit(k) +: cols: _*), lit(m))
    val o = col("o")
    val ln = col("ln")
    val day0 = lit("1992-01-01").cast("date")
    val current = lit("1995-06-17").cast("date")
    val orders = spark.range(from, from + n, 1, parts).select(
      col("id").as("o"),
      (pmod(xxhash64(lit(seed), col("id")), lit(7L)) + 1).cast("int").as("nl"),
      // 1992-01-01 .. 1998-08-02 (ENDDATE 1998-12-31 less 151 days)
      date_add(day0, pmod(xxhash64(lit(salt), lit(0), col("id")), lit(2406L)).cast("int"))
        .as("odate"))
    val lines = orders.select(o, col("odate"), explode(sequence(lit(1), col("nl"))).as("ln"))
      .select(o, ln, col("odate"), (h(1, PartKeys, o, ln) + 1).as("pk"),
        h(2, 4, o, ln).as("si"))
      .select(o, ln, col("odate"), col("pk"), col("si"),
        date_add(col("odate"), (h(3, 121, o, ln) + 1).cast("int")).as("ship"))
      .withColumn("receipt", date_add(col("ship"), (h(4, 30, o, ln) + 1).cast("int")))
    val retail = (lit(90000L) + pmod((col("pk") / 10).cast("long"), lit(20001L)) +
      pmod(col("pk"), lit(1000L)) * 100) / 100.0
    val qty = (h(5, 50, o, ln) + 1).cast("double")
    lines.select(
      ((o / 8).cast("long") * 32 + pmod(o, lit(8L)) + 1).as("l_orderkey"),
      col("pk").as("l_partkey"),
      (pmod(col("pk") + col("si") * (lit(Suppliers / 4) + ((col("pk") - 1) / Suppliers)
        .cast("long")), lit(Suppliers)) + 1).as("l_suppkey"),
      ln.cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * retail, 2).as("l_extendedprice"),
      (h(6, 11, o, ln) / 100.0).as("l_discount"),
      (h(7, 9, o, ln) / 100.0).as("l_tax"),
      when(col("receipt") > current, lit("N"))
        .when(h(8, 2, o, ln) === 0, lit("R")).otherwise(lit("A")).as("l_returnflag"),
      when(col("ship") > current, lit("O")).otherwise(lit("F")).as("l_linestatus"),
      col("ship").as("l_shipdate"),
      date_add(col("odate"), (h(9, 61, o, ln) + 30).cast("int")).as("l_commitdate"),
      col("receipt").as("l_receiptdate"),
      element_at(array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
        .map(lit): _*), (h(10, 4, o, ln) + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .map(lit): _*), (h(11, 7, o, ln) + 1).cast("int")).as("l_shipmode"))
  }

  final class Table(val t: GraftTable, val gs: GraftSql, val catalogName: String,
      val path: Path, val orders: Long, val input: Path)

  private def build(run: Run, r: Int, orders: Long): Table = {
    val spark = run.spark
    val input = run.workDir.resolve(s"inputs-$r/lineitem")
    rows(spark, run.seed, run.seed, 0, orders, InputParts).write.parquet(input.toString)
    val path = run.workDir.resolve(s"warehouse/b$r/lineitem")
    val t = GraftTable.create(spark, path.toString, spark.read.parquet(input.toString),
      partitionBy = Seq("l_returnflag"))
    t.computeBloomFilter("l_partkey")
    val gs = new GraftSql(spark)
    gs.register("lineitem", path.toString)
    new Table(t, gs, s"graft.b$r.lineitem", path, orders, input)
  }

  def run(run: Run, seconds: Double): Double = {
    // warm-up on a small table of its own, with its own op stream, built
    // first: the build and write paths compile at a fraction of the full
    // table's cost
    run.untimed(new Client(run, build(run, 1, WarmOrders),
      new java.util.SplittableRandom(run.seed ^ 0x3a3aL)).warmWrites())
    val table = build(run, 0, Orders)
    val rnd = new java.util.SplittableRandom(run.seed ^ 0x1a4eL)
    run.info("base_input") = table.input.toString
    run.info("fingerprint") = Fingerprint
    val c = new Client(run, table, rnd)
    val before = Fs.files(table.path)
    val loopSeconds = run.loop(seconds, c.cycleLength, CycleSeconds)(c.step)
    val after = Fs.files(table.path)
    run.info("bytes_written") = after.collect { case (p, b) if !before.contains(p) => b }.sum
    run.info("user_bytes") = c.userBytes
    c.vacuum()
    val t = table.t
    run.info("final_fp") = fpRow(t.toDF.selectExpr(Fingerprint: _*).head())
    if (run.trace) {
      val live = run.workDir.resolve("live")
      t.toDF.write.parquet(live.toString)
      run.rec.sample("GraftTable.bytes_stored_per_user_byte",
        Fs.bytes(table.path).toDouble / Fs.bytes(live))
    }
    LayerCounters.log(run.rec, table.path)
    LayerCounters.heap(run.rec)
    loopSeconds
  }

  /** One client's seeded operation stream against one table. */
  final class Client(run: Run, tb: Table, rnd: java.util.SplittableRandom) {
    private val spark = run.spark
    private val t = tb.t
    private val rec = run.rec
    private var nextOrder = tb.orders
    var userBytes = 0L
    private val versions = mutable.ArrayBuffer[Long](t.version)
    private var lastSnapshotVersion = -1L
    private val srcDir = run.workDir.resolve(s"sources-${tb.catalogName}")
    private var srcN = 0

    // Zipf-like key popularity: log-uniform rank, scattered over the key space
    private def hotKey(): Long = {
      val rank = math.exp(rnd.nextDouble() * math.log(PartKeys.toDouble)).toLong
      (rank * 7919L + 13L) % PartKeys + 1
    }
    // l_orderkey bounds of `width` consecutive orders below the newest
    // few, so a range never reaches orders a later append or merge
    // insert will take; returns the first order's index too
    private def orderRange(width: Long): (Long, Long, Long) = {
      val a = rnd.nextLong(nextOrder - width - MergeOrders)
      (orderKey(a), orderKey(a + width), a)
    }
    private def dateRange(): String = {
      val d = java.time.LocalDate.of(1992, 1, 2).plusDays(rnd.nextLong(2490))
      s"l_shipdate >= DATE '$d' AND l_shipdate < DATE '${d.plusDays(7)}'"
    }

    private def noteVersion(before: Long): Unit = {
      val v = if (rec.enabled) run.probe("TxnLog.latestVersion")(t.version) else t.version
      run.note(run.lastOp, "version_before", before)
      run.note(run.lastOp, "version_after", v)
      if (v != versions.last) versions += v
      if (rec.enabled && v > before) (before + 1 to v).foreach { x =>
        val acts = run.probe("TxnLog.readCommit")(t.log.readCommit(x))
        acts.foreach {
          case a: graft.lake.AddFile =>
            rec.count("GraftTable.files_added", 1)
            rec.count("GraftTable.data_bytes_written", a.size)
          case _: graft.lake.RemoveFile => rec.count("GraftTable.files_removed", 1)
          case d: graft.lake.AddDV =>
            rec.count("GraftTable.data_bytes_written", Fs.bytes(tb.path.resolve(d.path)))
          case _ => ()
        }
      }
    }

    /** Snapshot resolution as the first step of a traced read. */
    private def tracedSnapshot(): Unit = if (rec.enabled) {
      val v = t.log.latestVersion().getOrElse(-1L)
      val snap = rec.span(
        if (v == lastSnapshotVersion) "Snapshot.at.warm" else "Snapshot.at.cold")(t.snapshot)
      lastSnapshotVersion = v
      rec.sample("Snapshot.active_files", snap.activeFiles.size)
      // commits replayed past the latest checkpoint (all of them without one)
      rec.sample("Snapshot.tail_commits", v - t.log.checkpointVersion.filter(_ <= v).getOrElse(-1L))
    }

    private def read(kind: String, pred: Option[String], shape: Option[String])(
        body: => Seq[Long]): Unit = {
      val v0 = t.version
      val r = run.op(kind, "read") { tracedSnapshot(); body }
      run.note(run.lastOp, "pred", pred.orNull)
      r.foreach(fp => run.note(run.lastOp, "fp", fp))
      noteVersion(v0)
      for (p <- pred; s <- shape if rec.enabled) prunes(p, s)
    }

    private def prunes(pred: String, shape: String): Unit = {
      val snap = t.snapshot
      val c = expr(pred)
      val kept = run.probe(s"Pruning.prune.$shape")(
        Pruning.prune(snap.activeFiles, snap.schema, snap.partitionColumns, c))
      val (bloomKept, total) = run.probe("probe.pruneFiles")(t.pruneFiles(c))
      // files among the stats-kept ones that hold at least one matching row
      val useful = if (kept.isEmpty) 0L else run.probe("probe.useful")(
        spark.read.option("basePath", tb.path.toString)
          .parquet(kept.map(f => tb.path.resolve(f.path).toString): _*)
          .where(c).select(input_file_name()).distinct().count())
      rec.count("Pruning.files_in", total)
      rec.count("Pruning.files_kept_stats", kept.size)
      rec.count("Pruning.files_kept_bloom", bloomKept)
      rec.count("Pruning.useful_files", useful)
      rec.count("Pruning.useful_files_kept", kept.size)
    }

    private def collectFp(df: => DataFrame): Seq[Long] = {
      val d = rec.span("GraftTable.readWhere")(df)
      fpRow(rec.span("spark.collect")(d.selectExpr(Fingerprint: _*).head()))
    }

    private def pointRead(): Unit = {
      val p = s"l_partkey = ${hotKey()}"
      read("point", Some(p), Some("point")) {
        val d = rec.span("GraftTable.readWhere")(t.readWhere(expr(p)))
        fpOf(rec.span("spark.collect")(d.collect()))
      }
    }

    private def inRead(): Unit = {
      val p = s"l_partkey IN (${Seq.fill(5)(hotKey()).mkString(", ")})"
      read("in", Some(p), Some("in")) {
        val d = rec.span("GraftTable.readWhere")(t.readWhere(expr(p)))
        fpOf(rec.span("spark.collect")(d.collect()))
      }
    }

    private def rangeRead(): Unit = {
      val (a, b, _) = orderRange(200)
      val p = s"l_orderkey BETWEEN $a AND $b"
      read("range", Some(p), Some("range"))(collectFp(t.readWhere(expr(p))))
    }

    private def dateRead(): Unit = {
      val p = dateRange()
      read("range_date", Some(p), Some("range"))(collectFp(t.readWhere(expr(p))))
    }

    private def partitionRead(): Unit = {
      val flag = Seq("A", "N", "R")(rnd.nextInt(3))
      val p = s"l_returnflag = '$flag' AND l_quantity <= ${1 + rnd.nextInt(3)}"
      read("partition", Some(p), Some("partition"))(collectFp(t.readWhere(expr(p))))
    }

    private def fullRead(): Unit = read("full", None, None)(collectFp(t.toDF))

    private def timeTravel(): Unit = {
      val v = versions(rnd.nextInt(versions.size))
      val v0 = t.version
      val r = run.op("time_travel", "read") {
        if (rec.enabled) {
          val cold = !travelled.contains(v)
          rec.span(if (cold) "Snapshot.at.cold" else "Snapshot.at.warm")(
            Snapshot.at(spark, t.log, Some(v)))
        }
        collectFp(t.toDFAt(v))
      }
      travelled += v
      run.note(run.lastOp, "at_version", v)
      r.foreach(fp => run.note(run.lastOp, "fp", fp))
      noteVersion(v0)
    }
    private val travelled = mutable.HashSet[Long]()

    private def sqlRead(): Unit = {
      val (a, b, _) = orderRange(400)
      val p = s"l_orderkey BETWEEN $a AND $b"
      read("sql", Some(p), None) {
        val df = rec.span("GraftSql.sql.plan")(
          tb.gs.sql(s"SELECT ${Fingerprint.mkString(", ")} FROM lineitem WHERE $p"))
        fpRow(rec.span("spark.collect")(df.head()))
      }
    }

    private def catalogRead(): Unit = {
      val p = if (rnd.nextBoolean()) s"l_partkey = ${hotKey()}"
        else { val (a, b, _) = orderRange(400); s"l_orderkey BETWEEN $a AND $b" }
      read("catalog", Some(p), None) {
        fpRow(rec.span("GraftCatalog.read")(spark.sql(
          s"SELECT ${Fingerprint.mkString(", ")} FROM ${tb.catalogName} WHERE $p").head()))
      }
      if (rec.enabled)
        run.probe("probe.readWhere")(t.readWhere(expr(p)).selectExpr(Fingerprint: _*).head())
    }

    private def firstRows(df: DataFrame, n: Int): DataFrame =
      df.orderBy("l_orderkey", "l_linenumber").limit(n)

    /** Writes a write's input rows as one parquet file; returns its
      * path and counts the rows as user bytes.
      */
    private def source(df: DataFrame): String = {
      val p = srcDir.resolve(s"src-$srcN").toString
      srcN += 1
      df.coalesce(1).write.parquet(p)
      userBytes += spark.read.parquet(p).count() * RowBytes
      p
    }

    private def write(kind: String, desc: Map[String, Any])(body: => Unit): Unit = {
      val v0 = t.version
      run.op(kind, "write")(body)
      run.note(run.lastOp, "write", desc)
      noteVersion(v0)
    }

    private def append(): Unit = {
      val src = source(firstRows(rows(spark, run.seed, run.seed + 1, nextOrder, AppendOrders, 1),
        AppendRows))
      nextOrder += AppendOrders
      val ckpt = (t.version + 1) % graft.lake.TxnLog.CheckpointInterval == 0
      write("append", Map("type" -> "append", "src" -> src)) {
        rec.span(if (ckpt) "TxnLog.append_ckpt" else "TxnLog.append_plain") {
          rec.span("GraftTable.append")(t.append(spark.read.parquet(src)))
        }
      }
    }

    private def delete(mor: Boolean): Unit = {
      if (mor) {
        val p = s"l_partkey = ${hotKey()}"
        write("delete_mor", Map("type" -> "delete", "pred" -> p)) {
          rec.span("GraftTable.deleteMergeOnRead")(t.deleteMergeOnRead(expr(p)))
        }
      } else {
        val (a, b, _) = orderRange(5)
        val p = s"l_orderkey BETWEEN $a AND $b"
        write("delete", Map("type" -> "delete", "pred" -> p)) {
          rec.span("GraftTable.delete")(t.delete(expr(p)))
        }
      }
    }

    private def update(): Unit = {
      val (a, b, _) = orderRange(5)
      val p = s"l_orderkey BETWEEN $a AND $b"
      val set = Map("l_quantity" -> "l_quantity + 1", "l_extendedprice" -> "l_extendedprice + 1.0")
      userBytes += t.readWhere(expr(p)).count() * RowBytes
      write("update", Map("type" -> "update", "pred" -> p, "set" -> set)) {
        rec.span("GraftTable.update")(t.update(expr(p), set.map { case (k, v) => k -> expr(v) }))
      }
    }

    private def merge(): Unit = {
      val (_, _, a) = orderRange(MergeOrders)
      val matched = firstRows(rows(spark, run.seed, run.seed + 2, a, MergeOrders, 1), MergeRows)
      val inserted = firstRows(rows(spark, run.seed, run.seed + 3, nextOrder, MergeOrders, 1),
        MergeRows)
      nextOrder += MergeOrders
      val src = source(matched.unionByName(inserted))
      val keys = Seq("l_orderkey", "l_linenumber")
      write("merge", Map("type" -> "merge", "src" -> src, "keys" -> keys)) {
        rec.span("GraftTable.merge")(t.merge(spark.read.parquet(src), keys))
      }
    }

    private def optimize(): Unit = {
      val v0 = t.version
      run.op("optimize", "maint")(rec.span("GraftTable.optimize")(t.optimize()))
      noteVersion(v0)
    }

    // a zorder rewrites every file, so the bloom sidecar is rebuilt after it
    private def zorder(): Unit = {
      val v0 = t.version
      run.op("zorder", "maint")(
        rec.span("GraftTable.zorderBy")(t.zorderBy(0L, "l_orderkey", "l_shipdate")))
      noteVersion(v0)
      val v1 = t.version
      run.op("bloom", "maint")(
        rec.span("GraftTable.computeBloomFilter")(t.computeBloomFilter("l_partkey")))
      noteVersion(v1)
    }

    def vacuum(): Unit = {
      val v0 = t.version
      run.op("vacuum", "maint")(
        rec.span("GraftTable.vacuum")(t.vacuum(0.0, dryRun = false).collect()))
      noteVersion(v0)
    }

    // one fixed cycle of 14 reads, 7 writes, an optimize after the third
    // write and a zorderBy after the fifth, the same for every seed (the
    // seed picks keys, ranges, versions and rows), so runs of different
    // seeds time the same mix. Four of the writes are cheap (appends, the
    // merge-on-read delete) and three rewrite files, so the median write
    // is a cheap one rather than the midpoint of the two groups. Every
    // write and maintenance step commits one version (zorder two, with
    // its bloom refresh) after the bloom sidecar's (version 1), so the
    // second-last append commits version 10, a checkpoint
    private val cycle = Seq(
      "point", "range", "append", "in", "range_date", "partition", "delete",
      "point", "full", "merge", "optimize", "time_travel", "sql", "catalog",
      "point", "update", "range", "delete_mor", "zorder", "range_date",
      "append", "partition", "append")

    def cycleLength: Int = cycle.size

    def step(i: Int): Unit = perform(cycle(i % cycle.size))

    /** One write of every kind: the write paths are the costliest to
      * compile, the reads share one scan path.
      */
    def warmWrites(): Unit =
      Seq("point", "append", "delete", "delete_mor", "update", "merge").foreach(perform)

    private def perform(kind: String): Unit = kind match {
      case "point" => pointRead()
      case "in" => inRead()
      case "range" => rangeRead()
      case "range_date" => dateRead()
      case "partition" => partitionRead()
      case "full" => fullRead()
      case "time_travel" => timeTravel()
      case "sql" => sqlRead()
      case "catalog" => catalogRead()
      case "append" => append()
      case "delete" => delete(mor = false)
      case "delete_mor" => delete(mor = true)
      case "update" => update()
      case "merge" => merge()
      case "optimize" => optimize()
      case "zorder" => zorder()
    }
  }
}
