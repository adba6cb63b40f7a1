package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `cls` is read, write or maint. */
final case class OpRec(id: Int, kind: String, cls: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, error: Option[String])

/** In-memory span recorder. Disabled, it keeps no state and only runs
  * the wrapped code, so untraced runs pay one branch per call.
  */
final class Recorder(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var currentOp: Int = -1
  // time spent in the recorder's own bookkeeping
  var overheadNs = 0L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  // per-name samples of values that are not durations (gauges)
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      overheadNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, currentOp, name, t0, t1)
        stack = stack.tail
        overheadNs += System.nanoTime() - t1
      }
    }

  def count(name: String, v: => Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def sample(name: String, v: => Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Spark listener that attributes jobs, stages and task metrics to the
  * job group the harness sets around each operation.
  */
final class JobListener extends SparkListener {
  final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0; var tasksFailed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val byGroup = mutable.HashMap[String, Agg]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobStart(e.jobId) = (g, e.time)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      agg(g).intervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    agg(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }
  }

  def record(g: String): Map[String, Any] = synchronized {
    val a = byGroup.getOrElse(g, new Agg)
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "tasks_failed" -> a.tasksFailed, "executor_run_ms" -> a.runMs,
      "executor_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
      "shuffle_write_bytes" -> a.shuffleWrite,
      "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
      "job_intervals" -> a.intervals.map { case (s, t) => Seq(s, t) }.toSeq)
  }

  def shuffleWriteTotal: Long = synchronized(byGroup.values.map(_.shuffleWrite).sum)
}

/** State of one benchmark run: the session, the timed operations, the
  * set-up timings, correctness verdicts and workload facts, written as
  * one JSON file for `run.py` to turn into metrics.
  */
final class Run(val spark: SparkSession, val trace: Boolean, val workDir: Path,
    val seed: Long) {
  private val started = System.nanoTime()
  val rec = new Recorder(trace)
  val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)

  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  private val failures = mutable.LinkedHashMap[Int, String]()
  private val opInfo = mutable.HashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private var untimedMode = false

  /** Times one operation. Failures are recorded, not thrown, so a
    * failing operation counts against `failed` and the loop goes on.
    */
  def op[T](kind: String, cls: String)(body: => T): Option[T] = {
    val id = ops.size
    spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    rec.currentOp = id
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(rec.span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val err = r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    ops += OpRec(id, kind, if (untimedMode) "untimed" else cls, t0, t1, ms0, ms1, err)
    r.toOption
  }

  /** Untimed work attributed to the last operation (layer probes and
    * correctness reads); spans keep the operation id.
    */
  def probe[T](name: String)(body: => T): T = {
    val g = s"probe-${ops.size - 1}"
    spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
    try rec.span(name)(body) finally spark.sparkContext.clearJobGroup()
  }

  /** Runs `body` with its operations marked untimed: checked like every
    * other operation but kept out of the timed metrics (warm-up before
    * the timed window, whose time counts in `setup_s`, and check-only
    * passes after it).
    */
  def untimed(body: => Unit): Unit = {
    untimedMode = true
    try body finally untimedMode = false
  }

  def note(opId: Int, key: String, v: Any): Unit =
    opInfo.getOrElseUpdate(opId, mutable.LinkedHashMap())(key) = v

  def lastOp: Int = ops.size - 1

  def fail(opId: Int, why: String): Unit =
    if (!failures.contains(opId)) failures(opId) = why

  /** Closed loop of whole cycles of `cycle` steps: as many cycles as fit
    * `seconds` at `cycleSeconds` each (at least one). The work depends on
    * `seconds` alone, not on the machine's speed, so every run of a
    * workload times the same operations and traced runs repeat their
    * counts exactly.
    */
  def loop(seconds: Double, cycle: Int, cycleSeconds: Double)(step: Int => Unit): Double = {
    val cycles = math.max(1, (seconds / cycleSeconds).toInt)
    info("cycles") = cycles
    info("loop_start_op") = ops.size
    val t0 = System.nanoTime()
    // set-up and warm-up: from the session's start to the first timed op
    info("setup_seconds") = (t0 - started) / 1e9
    (0 until cycles * cycle).foreach(step)
    info("loop_end_op") = ops.size
    (System.nanoTime() - t0) / 1e9
  }

  def write(path: Path, loopSeconds: Double): Unit = {
    org.apache.spark.PerfbenchShims.drainListenerBus(spark.sparkContext)
    val opRecords = ops.toSeq.map { o =>
      Map("id" -> o.id, "kind" -> o.kind, "cls" -> o.cls,
        "ms" -> (o.endNs - o.startNs) / 1e6, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "start_ns" -> o.startNs, "end_ns" -> o.endNs,
        "error" -> o.error, "check_failed" -> failures.get(o.id),
        "info" -> opInfo.getOrElse(o.id, Map.empty),
        "spark" -> listener.record(s"op-${o.id}"))
    }
    val out = Map(
      "seed" -> seed, "trace" -> trace, "loop_seconds" -> loopSeconds,
      "wall_seconds" -> (System.nanoTime() - started) / 1e9,
      "info" -> info, "ops" -> opRecords,
      "spans" -> rec.spanRecords, "counters" -> rec.counters,
      "recorder_ms" -> rec.overheadNs / 1e6,
      "samples" -> rec.samples.map { case (k, v) => k -> v.toSeq })
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(path.toFile, out)
  }
}

object LayerCounters {
  /** Log and checkpoint counts and bytes of a table directory. */
  def log(rec: Recorder, table: Path): Unit = if (rec.enabled) {
    val files = Fs.files(table.resolve("_graft_log"))
    val commits = files.filter { case (p, _) => p.endsWith(".json") && !p.contains("_checkpoints") }
    val ckpts = files.filter { case (p, _) => p.contains("_checkpoints") }
    rec.count("TxnLog.commits", commits.size)
    rec.count("TxnLog.log_bytes", commits.values.sum)
    rec.count("TxnLog.checkpoints", ckpts.keys.count(_.endsWith("_SUCCESS")))
    rec.count("TxnLog.checkpoint_bytes", ckpts.values.sum)
  }

  def heap(rec: Recorder): Unit = if (rec.enabled) {
    System.gc()
    rec.sample("jvm.heap_after_gc_mb",
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }
}

object Fs {
  /** Total bytes of regular files under `p` (0 when absent). */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try {
        var total = 0L
        w.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
        total
      } finally w.close()
    }

  /** Regular files under `p` with their sizes. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        w.forEach(f => if (Files.isRegularFile(f)) b += (f.toString -> Files.size(f)))
        b.result()
      } finally w.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all = try w.toArray.map(_.asInstanceOf[Path]) finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
}
