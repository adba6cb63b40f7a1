package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point `run.py` launches: one workload, one seed, one JVM.
  *
  * Usage:
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cpus>
  *
  * Writes `<workDir>/result.json`, which `run.py` turns into metrics
  * after its DuckDB-side correctness checks.
  */
object Main {
  def session(cpus: Int, workDir: Path, name: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case workload :: seedS :: secondsS :: traceS :: workDirS :: cpus :: Nil =>
      val workDir = Paths.get(workDirS).toAbsolutePath
      Files.createDirectories(workDir)
      val spark = session(cpus.toInt, workDir, s"perfbench-$workload")
      // run.py times JVM and session start up to this marker
      println("PERFBENCH_READY")
      System.out.flush()
      val run = new Run(spark, traceS == "1", workDir, seedS.toLong)
      val seconds = secondsS.toDouble
      val loopSeconds = workload match {
        case "lake_mixed" => LakeMixed.run(run, seconds)
        case "corpus_pipeline" => CorpusPipeline.run(run, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      run.write(workDir.resolve("result.json"), loopSeconds)
      spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <workDir> <cpus>")
      sys.exit(2)
  }
}
