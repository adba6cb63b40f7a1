package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  /** `body`'s result and the descriptions of the Spark jobs it
    * started. Two sentinel jobs bracket it: the listener bus delivers
    * in order, so the jobs seen between them are exactly the body's,
    * even while events of earlier jobs are still queued.
    */
  def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val (start, end) = ("jobs-start-sentinel", "jobs-end-sentinel")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      sentinel(start)
      val out = body
      sentinel(end)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!started.contains(end) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.contains(end))
      (out, started.asScala.toSeq.dropWhile(_ != start).drop(1).takeWhile(_ != end))
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  /** `body` with the sidecar driver-read gate
    * (`spark.graft.dv.driverReadMaxBytes`) forced to 0 bytes, so every
    * DV and bloom sidecar read takes its distributed path; the previous
    * setting is restored after.
    */
  def aboveSidecarGate[T](body: => T): T = {
    val key = "spark.graft.dv.driverReadMaxBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def tmpDir(name: String): String = {
    val p = java.nio.file.Paths.get("target", "test-tmp", name)
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    p.toString
  }
}
