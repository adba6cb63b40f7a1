package graft

/** Targeted micro-bench for A/B work on individual queries: times
  * only the queries named in args (same harness discipline as
  * [[Bench]] — noop sink, clean cache, min of N runs) without paying
  * for the whole suite. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.BenchOne lake_rlo_update lake_rlo_update_mor"
  *
  * Not part of the driver contract — a developer tool for the
  * optimize-measure loop ([[Bench]] stays the official artifact).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = LocalSession(cpus)
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      val times = (1 to math.max(2, runs)).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // first run includes codegen warmup; report min like Bench
      println(f"BENCHONE $name min=${times.min}%.3f " +
        f"all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
