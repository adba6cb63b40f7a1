package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession this project's `main`s run on: `local[cpus]`
  * with one shuffle partition per core, AQE on, UTC session time, no
  * UI, [[GraftExtensions]] installed (graftlake catalog and format
  * reads need it), and `logLevel`. `extra` adds a main's own settings
  * (app name, codegen cache size) on top — a later `config` of the
  * same key wins.
  */
private[graft] object LocalSession {
  def apply(cpus: String, logLevel: String = "WARN",
            extra: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val spark = extra(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
