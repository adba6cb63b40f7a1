package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Developer profiler for the optimize-measure loop (guide §1): runs
  * one query and prints every Spark job's wall time + description,
  * plus the total driver-side gap (time not covered by any job —
  * snapshot replay, commit bookkeeping, planning, local FS work).
  * Not part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ProfileOne lake_mv_join"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus)

    final case class Job(id: Int, var desc: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, Job(e.jobId, desc, e.time, -1L))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        // stage names carry the callsite ("parquet at Foo.scala:123")
        val jid = stageToJob.get(e.stageInfo.stageId)
        val j = if (jid != null) jobs.get(jid) else null
        if (j != null && !j.desc.contains(e.stageInfo.name.take(60)))
          j.desc = (j.desc + " | " + e.stageInfo.name.take(60)).take(200)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      // warm run (codegen, page cache) — not printed
      spark.catalog.clearCache()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear()
      spark.catalog.clearCache()
      // sample the main thread's stack during the measured run: the
      // histogram attributes the driver gap (time outside any job)
      val mainThread = Thread.currentThread()
      val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          // skip the deepest frames shared by everything; keep the
          // first "interesting" graft/spark frame window
          val sig = st.iterator.map(f => s"${f.getClassName}.${f.getMethodName}")
            .filterNot(f => f.startsWith("java.") || f.startsWith("jdk.") ||
              f.startsWith("scala.") || f.startsWith("sun."))
            .take(5).mkString(" <- ")
          if (sig.nonEmpty) samples.merge(sig, 1, (a, b) => a + b)
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.currentTimeMillis()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = System.currentTimeMillis() - t0
      sampling = false
      // drain listener events before reading the map (the bus is
      // private; a short sleep is fine for a dev tool)
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
      val jobTime = done.map(j => j.end - j.start).sum
      // union of job intervals (concurrent jobs overlap)
      val covered = done.map(j => (j.start, j.end)).sortBy(_._1)
        .foldLeft((0L, 0L)) { case ((acc, hi), (s, e)) =>
          val s2 = math.max(s, hi)
          (acc + math.max(0L, e - s2), math.max(hi, e))
        }._1
      println(s"PROFILE $name wall=${wall}ms jobs=${done.size} " +
        s"jobTimeSum=${jobTime}ms jobCovered=${covered}ms " +
        s"driverGap=${wall - covered}ms")
      done.foreach { j =>
        println(f"  job ${j.id}%4d ${j.end - j.start}%6dms  ${j.desc.take(110)}")
      }
      import scala.jdk.CollectionConverters._
      val top = samples.asScala.toSeq.sortBy(-_._2).take(14)
      println(s"  main-thread samples (10ms each), top stacks:")
      top.foreach { case (sig, n) =>
        println(f"    $n%5d  ${sig.take(220)}")
      }
    }
    spark.stop()
  }
}
