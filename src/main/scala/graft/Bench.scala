package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  * Results are fully materialized through the noop sink — `count()`
  * would let Catalyst prune the per-row compute we're measuring.
  *
  * Numbers from a contended host are worse than no numbers (round 4
  * recorded phantom 13× regressions from a busy machine), so the run
  * defends itself four ways: an exclusive lock file serializes
  * concurrent Bench JVMs, the timed section waits for system load to
  * drain first, TWO fixed canaries timed at start and end — a
  * read+aggregate and a tiny table create+insert+drop (write-path IO
  * contention is invisible to a read canary) — and the read canary
  * re-timed every ~25 queries mid-run (an endpoint pair is blind to a
  * burst that dies before the end canary). Since r15 a third,
  * WIDE-STAGE canary (32-task map + 32-partition shuffle + reduce)
  * catches contention that only bites multi-core stages, and a sweep
  * whose start load exceeds ~cpus/10 is rejected outright — r14's
  * contaminated driver sweep (load 5.98, wide queries 40-102× off,
  * narrow canaries clean) would self-stamp invalid under both. Any
  * canary drifting >1.5× stamps `"valid":false` on the emitted JSON.
  *
  * Since r17 the suite runs as TWO interleaved passes — pass A is the
  * old per-query min-of-2, pass B one warm re-sample a full suite
  * later — and the pair verdict ([[replicationOk]]) is emitted as
  * `replication_ok`: a sweep whose canary floors were themselves
  * contaminated (r16's c8 artifact) can still self-certify when its
  * two independent passes agree per-query.
  */
object Bench {

  /** Load gate (r14 verdict): the idle-wait gives up after its
    * deadline and previously still stamped valid — r14's 623.9 s
    * driver sweep started at load 5.98 on 32 cpus and self-certified
    * while carrying 40-102× movers on wide stages. A sweep that
    * STARTS contended is contaminated regardless of what the
    * canaries later say; ~3 on 32 cpus is the adjudicated threshold
    * (max(3, cpus/10) so small-cpu dev hosts keep a usable floor).
    */
  def loadGateOk(loadAtStart: Double, cpus: Double): Boolean =
    loadAtStart <= math.max(3.0, cpus / 10.0)

  /** Canary validity: every endpoint drift inside the SYMMETRIC
    * [0.5, 1.5] band (an end canary far BELOW its start floor
    * certifies the floor itself was degraded), every mid-run maximum
    * under 1.5× its start floor.
    */
  def driftsOk(endpointDrifts: Seq[Double], midMaxDrifts: Seq[Double]): Boolean =
    endpointDrifts.forall(d => d <= 1.5 && d >= 0.5) &&
      midMaxDrifts.forall(_ <= 1.5)

  /** Replication rule (r15 verdict item 3): a single sweep can trip a
    * marginal canary bound on an honest host — every r15 sweep did,
    * each on a DIFFERENT marginal canary, while the three agreed at
    * per-query median 1.00. Two same-tree sweeps whose per-query
    * ratios sit this close are better contamination evidence than one
    * lucky individual stamp, so a SET of ≥2 sweeps is valid when every
    * pair agrees: per-query median ratio within [1/1.15, 1.15] and at
    * least 90% of common queries within the canary band [1/1.5, 1.5].
    * (A contaminated sweep cannot pass: contention moves a contiguous
    * block of queries 2-30×, which both the median and the 90% rule
    * catch.) Each sweep keeps its own stamp; the set-level verdict is
    * emitted alongside, never instead. Since r17 [[main]] itself runs
    * two interleaved passes and emits this pair verdict as
    * `replication_ok`, so one invocation can self-certify even when a
    * canary floor was inflated by an unrelated earlier process (the
    * r16_c8 failure: start floors measured 15 min after a heavy run).
    */
  def replicationOk(a: Map[String, Double], b: Map[String, Double]): Boolean =
    replicationStats(a, b).exists { case (median, inBand, _) =>
      median >= 1.0 / 1.15 && median <= 1.15 && inBand >= 0.9
    }

  /** Pair statistics behind [[replicationOk]]: (median per-query ratio,
    * in-band fraction, n common), over queries positive in both sweeps;
    * None below 50 common points (too few to certify).
    */
  def replicationStats(a: Map[String, Double], b: Map[String, Double])
      : Option[(Double, Double, Int)] = {
    val common = a.keySet.intersect(b.keySet).toSeq
      .filter(k => a(k) > 0 && b(k) > 0)
    if (common.size < 50) None
    else {
      val ratios = common.map(k => a(k) / b(k)).sorted
      val median = ratios(ratios.size / 2)
      val inBand = ratios.count(r => r >= 1.0 / 1.5 && r <= 1.5).toDouble / ratios.size
      Some((median, inBand, ratios.size))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // Serialize whole-bench execution across processes: concurrent JVMs
    // (sbt test, a second bench) corrupt timings. Blocks until the lock
    // is free rather than failing, so a queued bench still runs.
    val lockCh = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), ".bench.lock"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val lock = lockCh.lock()

    // r16 verdict (gaming item 2): IVF centroid sidecars persisted under
    // java.io.tmpdir survive across JVMs, so a sweep could reload a
    // PREVIOUS invocation's training artifact and time sim_ivf* against
    // work this run never did (untouched sim queries halved between two
    // r16 driver sweeps). Every bench starts cold: stale sidecars are
    // deleted up front so sim numbers measure the code, not tmpdir
    // state. In-process reuse within one sweep is the index design and
    // stays.
    try {
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val stream = java.nio.file.Files.newDirectoryStream(tmp, "graft-ivf-*")
      try stream.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally stream.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] tmpdir sidecar sweep failed: ${e.getMessage}")
    }

    // 215 queries × several codegen units each overflow the default
    // 100-entry generated-class cache, so pass B would re-pay codegen
    // compilation that pass A already did and the pair ratios would
    // measure the cache, not the host. Sized to hold the whole suite;
    // scale-independent (bench hygiene, not a query tuning knob).
    val spark = LocalSession(cpus,
      extra = _.config("spark.sql.codegen.cache.maxEntries", "8000"))

    // JVM/codegen warmup on the smallest sf (not timed): the join
    // pipeline (entry) plus the text/dedup pipeline, so the first
    // timed query of each family measures steady state, not first-ever
    // whole-stage-codegen compilation. The warmup dir derives from the
    // benched dir (sibling sf0.001 when present, else the benched sf
    // itself) so the warmup can't silently no-op on hosts laid out
    // differently from ours and skew the first timed query.
    val warmDir = {
      val sibling = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sibling)) sibling.toString else sfDir
    }
    Seq(
      () => SparkEntry.entry(spark),
      () => graft.operators.Dedup.dedupNgramJaccard(spark, warmDir))
      .foreach { q =>
        try q().write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup query skipped: ${e.getMessage}")
        }
      }

    // Wait (bounded) for other load on the host to drain before timing
    // anything: a correctness runner or stray JVM sharing the cores
    // shows up as phantom plan regressions.
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => 0.0 }
    // drain WELL BELOW the validity gate (r17): a run that squeaks in
    // at load 3.05 under the max(3, cpus/10) gate starts with residual
    // contention that inflates the canary FLOORS — the whole sweep then
    // self-rejects on end drifts < 0.5 (exactly the r16_c8 signature).
    // The 1-min loadavg decays slowly, so waiting the extra ~2 min for
    // a genuinely quiet start is cheaper than a wasted 15-min sweep.
    // The validity gate itself is unchanged.
    val drainTarget = math.min(1.5, math.max(3.0, cpus.toDouble / 10.0))
    val idleDeadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
    while (loadAvg() > drainTarget && System.nanoTime() < idleDeadline) Thread.sleep(5000)
    val loadAtStart = loadAvg()

    // Contention canary: one fixed read+aggregate timed before and after
    // the suite. The plans never change between the two runs, so any
    // END-side slowdown is the environment, not the code. Drift BELOW 1
    // is expected and benign — the JVM keeps JIT-compiling through the
    // suite, so the end canary runs closer to steady state; start-side
    // contention is covered by the load gate + load_at_start instead.
    def canary(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Write-path canary: the read canary misses filesystem/IO
    // contention on table BUILDS (round 9 saw ~19 s phantom outliers
    // on lake_history/lake_insert under canary-valid reads). A tiny
    // create+insert+drop probes the same syscall path the lake_*
    // write-path queries take; >1.5× drift across the run invalidates.
    def writeCanary(): Double = {
      val dir = java.nio.file.Paths.get(
        "target", s"bench-wcanary-${java.util.UUID.randomUUID()}")
      val t0 = System.nanoTime()
      val t = graft.lake.GraftTable.create(spark, dir.toString,
        spark.range(1000).selectExpr("id AS k", "id * 2 AS v"))
      t.append(spark.range(100).selectExpr("id AS k", "id AS v"))
      val walk = java.nio.file.Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      (System.nanoTime() - t0) / 1e9
    }
    // Wide-stage canary (r14 verdict): the read/write canaries are
    // effectively single-task probes, blind to contention that only
    // bites SHUFFLE-WIDE stages (r14's driver sweep carried 40-102×
    // movers on wide queries under CLEAN narrow canaries — the
    // contending load stole cores, which a 1-task probe never misses
    // them). A fixed 32-task map + 32-partition shuffle + reduce
    // occupies every core in both stages, so any core-stealing burst
    // shows up here like it does in the wide queries.
    def wideCanary(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      spark.range(0, 8000000L, 1, 32)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"),
          org.apache.spark.sql.functions.count("*").as("c"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Flush OUR OWN deferred IO outside every timed window: the lake/
    // dedup fixture sections write GBs whose async writeback otherwise
    // fires minutes later inside unrelated timed queries (r11's mid-run
    // lake block; r17 measured a 3.4× write-canary spike over the
    // sim/text section that was exactly this). A blocking sync at each
    // untimed canary point bounds the debt a timed query can inherit.
    def quiesce(): Unit =
      try { new ProcessBuilder("sync").start().waitFor(); () }
      catch { case _: Throwable => () }
    // Deeper canary floor warm (r17): with two passes the suite runs 2×
    // longer, so the end canary sits deeper into JIT steady state — a
    // floor taken after only 2 warm rounds measured end/start 0.52,
    // a hair from the 0.5 symmetric bound on an IDLE host. Four warm
    // rounds put the floor near steady state; the bound is untouched.
    quiesce()
    (1 to 4).foreach(_ => canary()) // untimed: codegen + page-cache + JIT warm
    val canaryStart = math.min(canary(), canary())
    writeCanary(); writeCanary() // untimed warm: codegen for the tiny build's plan
    quiesce() // the warmup's own fixture writes must not inflate the floor
    val wcanaryStart = math.min(writeCanary(), writeCanary())
    wideCanary(); wideCanary() // untimed warm
    quiesce()
    val xcanaryStart = math.min(wideCanary(), wideCanary())

    // Hygiene: a cache-heavy query must not inflate its neighbors'
    // numbers (GC/memory pressure looked like regressions in earlier
    // rounds), so every measurement starts from a clean cache; and each
    // query runs twice with the min reported, so one-off JIT/GC hiccups
    // don't read as plan regressions.
    //
    // Mid-run canaries: the start/end pair is blind to a load burst
    // that dies BEFORE the end canary runs (round 10's driver artifact
    // carried a 6-29x contiguous block under two valid endpoint
    // canaries). Re-time the read canary every ~25 queries AND the
    // write canary every ~50 (a write-IO burst is invisible to a read
    // probe — round 11's mid-run sweep proved it: a 2-3x lake_* block
    // under clean read canaries, gone on targeted re-run); any
    // interval drifting >1.5x over its start floor invalidates.
    val midSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val midWSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val midXSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    def onceFor(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def midCanaries(idx: Int): Unit = {
      if (idx > 0 && idx % 25 == 0) {
        quiesce() // flush deferred fixture IO before anything is timed
        midSamples += math.min(canary(), canary())
      }
      if (idx > 0 && idx % 50 == 0) {
        midWSamples += math.min(writeCanary(), writeCanary())
        midXSamples += math.min(wideCanary(), wideCanary())
      }
    }
    // TWO interleaved passes (r16 verdict item 1). PASS A is the old
    // per-query back-to-back min-of-2 — the second sample absorbs
    // first-run codegen/JIT and fixture builds, so A's min is the warm
    // number every prior round reported. PASS B re-samples every query
    // once, a full suite later. A contention burst lands on DIFFERENT
    // queries in each pass, so the A-vs-B per-query ratios
    // ([[replicationOk]]) are independent contamination evidence a
    // back-to-back pair can never give — and the set-level
    // `replication_ok` stamp can certify a sweep whose canary FLOORS
    // were inflated by an unrelated earlier process (the r16_c8
    // artifact). A v1 of this scheme paired two SINGLE-sample passes:
    // its A/B median sat at 1.21 with 12% outliers — all first-run
    // warm-up and fixture asymmetry, no contamination — which is why A
    // must be the min-of-2. Per-query value stays min over samples, so
    // numbers remain comparable with every prior round.
    val passA = named.zipWithIndex.map { case ((name, fn), idx) =>
      midCanaries(idx)
      val a1 = onceFor(name, fn)
      val m =
        if (a1 < 0) a1
        else {
          val a2 = onceFor(name, fn)
          if (a2 < 0) a1 else math.min(a1, a2)
        }
      name -> m
    }.toMap
    val passB = scala.collection.mutable.Map[String, Double]()
    val results = named.zipWithIndex.map { case ((name, fn), idx) =>
      midCanaries(idx)
      val a = passA(name)
      val b0 = onceFor(name, fn)
      // Adaptive extra sample (r13: the host band dominates sub-second
      // single-shot timings — three same-tree sweeps moved DIFFERENT
      // untouched queries 1.5-18x each). When the passes disagree >1.4x
      // on a short query, one straddled a burst; one more sample keeps
      // the burst out of both the artifact and the replication pair.
      val b =
        if (b0 > 0 && a > 0 && math.min(a, b0) < 2.0 &&
            math.max(a, b0) > 1.4 * math.min(a, b0)) {
          val c = onceFor(name, fn)
          if (c > 0) math.min(b0, c) else b0
        } else b0
      passB(name) = b
      val t =
        if (a < 0 && b < 0) -1.0
        else if (a < 0) b
        else if (b < 0) a
        else math.min(a, b)
      name -> t
    }
    val repStats = Bench.replicationStats(passA, passB.toMap)
    val repOk = Bench.replicationOk(passA, passB.toMap)
    quiesce()
    val canaryEnd = math.min(canary(), canary())
    val wcanaryEnd = math.min(writeCanary(), writeCanary())
    val xcanaryEnd = math.min(wideCanary(), wideCanary())
    spark.catalog.clearCache()
    val drift = canaryEnd / math.max(canaryStart, 1e-9)
    val wdrift = wcanaryEnd / math.max(wcanaryStart, 1e-9)
    val xdrift = xcanaryEnd / math.max(xcanaryStart, 1e-9)
    val midMaxDrift =
      if (midSamples.isEmpty) 1.0
      else midSamples.max / math.max(canaryStart, 1e-9)
    val midWMaxDrift =
      if (midWSamples.isEmpty) 1.0
      else midWSamples.max / math.max(wcanaryStart, 1e-9)
    val midXMaxDrift =
      if (midXSamples.isEmpty) 1.0
      else midXSamples.max / math.max(xcanaryStart, 1e-9)
    // SYMMETRIC endpoint bounds (r14): every mid/end comparison is
    // relative to the START floor, so a sweep that STARTS inside a
    // decaying IO storm (post-test-suite debris inflated the write
    // canary floor 5x; everything then "improved") read as valid while
    // being ~1.5x contaminated. An end canary far BELOW its start
    // floor certifies the floor itself was degraded — reject it. The
    // lower bound leaves room for benign JIT warming (~0.7-1.0).
    val loadOk = Bench.loadGateOk(loadAtStart, cpus.toDouble)
    val valid = loadOk && Bench.driftsOk(
      Seq(drift, wdrift, xdrift),
      Seq(midMaxDrift, midWMaxDrift, midXMaxDrift))
    def qmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }.mkString("{", ",", "}")
    val qs = qmap(results)
    val mids = midSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    val midws = midWSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    val midxs = midXSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val repJson = repStats match {
      case Some((m, ib, n)) =>
        f""""replication_ok":$repOk,"replication_median":$m%.3f,"replication_inband":$ib%.3f,"replication_n":$n"""
      case None => s""""replication_ok":$repOk"""
    }
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"queries":$qs,"sf":"$sfDir","canary_start_sec":$canaryStart%.3f,"canary_end_sec":$canaryEnd%.3f,"canary_drift":$drift%.2f,"canary_mid_sec":$mids,"canary_mid_max_drift":$midMaxDrift%.2f,"wcanary_start_sec":$wcanaryStart%.3f,"wcanary_end_sec":$wcanaryEnd%.3f,"wcanary_drift":$wdrift%.2f,"wcanary_mid_sec":$midws,"wcanary_mid_max_drift":$midWMaxDrift%.2f,"xcanary_start_sec":$xcanaryStart%.3f,"xcanary_end_sec":$xcanaryEnd%.3f,"xcanary_drift":$xdrift%.2f,"xcanary_mid_sec":$midxs,"xcanary_mid_max_drift":$midXMaxDrift%.2f,"load_at_start":$loadAtStart%.2f,"load_ok":$loadOk,$repJson,"valid":$valid}"""
    // the driver's stdout tail-capture has truncated the leading ~18
    // query keys in past rounds — persist the full line so the artifact
    // is always self-contained. The file variant additionally carries
    // both raw pass maps so the replication stamp is auditable.
    // target/bench.json gets every run; BENCH_LOCAL.json (repo root,
    // NOT gitignored, committable evidence) is only overwritten by a
    // run that certified — valid canaries or a passing replication
    // pair — so an invalid sweep can never silently become the
    // committed cross-round baseline (r16 ADVICE item 1).
    val fileJson = json.dropRight(1) +
      s""","queries_pass_a":${qmap(named.map { case (n, _) => n -> passA(n) })},"queries_pass_b":${qmap(named.map { case (n, _) => n -> passB(n) })}}"""
    val outPaths =
      java.nio.file.Paths.get("target", "bench.json") ::
        (if (valid || repOk) List(java.nio.file.Paths.get("BENCH_LOCAL.json")) else Nil)
    outPaths.foreach { p =>
      try java.nio.file.Files.write(p,
        (fileJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    lock.release(); lockCh.close()
    spark.stop()
    // marker line LAST (r11 verdict): the driver's tail-window capture
    // starts mid-stream, so the marker must be the final stdout line.
    // r12 showed the window is BYTE-limited too — the ~6 KB full line
    // overflowed it and its marker prefix was cut mid-JSON — so after
    // the full line a COMPACT marker (aggregates only, no per-query
    // map, <400 bytes) prints as the true last line: whichever intact
    // marker the capture window holds parses. Per-query data is always
    // in the committed BENCH_LOCAL.json either way.
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"n_queries":${results.size},"sf":"$sfDir","canary_drift":$drift%.2f,"canary_mid_max_drift":$midMaxDrift%.2f,"wcanary_drift":$wdrift%.2f,"wcanary_mid_max_drift":$midWMaxDrift%.2f,"xcanary_drift":$xdrift%.2f,"xcanary_mid_max_drift":$midXMaxDrift%.2f,"load_at_start":$loadAtStart%.2f,"load_ok":$loadOk,$repJson,"valid":$valid}"""
    println(s"BENCH_RESULT_JSON: $json")
    println(s"BENCH_RESULT_JSON: $compact")
  }
}
