package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Plan-audit harness for the STREAMING paths (r17, verdict item 8):
  * no bench entries exist for them, so this dev tool runs one real
  * micro-batch of each streaming operator (memory sink,
  * Trigger.AvailableNow) and prints the EXECUTED physical plan via
  * StreamingQuery.explain — the thing `.explain` on an unstarted
  * stream can't show. Not part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.tools.StreamPlans"
  */
object StreamPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSession("8", "ERROR")

    def run(name: String, mode: String = "append")(
        build: => org.apache.spark.sql.DataFrame): Unit = {
      val q = build.writeStream.outputMode(mode).format("memory")
        .queryName(s"sp_$name").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      println(s"===== streaming plan: $name =====")
      q.explain() // executed physical plan of the last micro-batch
      q.stop()
    }

    val docsDir = java.nio.file.Files.createTempDirectory("spdocs").toString
    graft.Tables(spark, sfDir, "documents").select("doc_id", "text")
      .limit(200).coalesce(1).write.mode("overwrite").parquet(docsDir)
    val docSchema = spark.read.parquet(docsDir).schema

    run("dedup_exact") {
      graft.streaming.StreamOps.dedupExact(
        spark.readStream.schema(docSchema).parquet(docsDir), "text")
    }

    val evDir = java.nio.file.Files.createTempDirectory("spev").toString
    graft.Tables(spark, sfDir, "events").limit(5000)
      .coalesce(1).write.mode("overwrite").parquet(evDir)
    val evSchema = spark.read.parquet(evDir).schema

    run("dedup_watermark") {
      graft.streaming.StreamOps.dedupExactWithinWatermark(
        spark.readStream.schema(evSchema).parquet(evDir)
          .withColumn("text", concat(col("event_type"), col("user_id"))),
        "text", "ts", "10 minutes")
    }

    run("windowed_agg") {
      spark.readStream.schema(evSchema).parquet(evDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
    }

    // the graft-table streaming source (GraftSource): tail a table
    val tDir = java.nio.file.Files.createTempDirectory("spgraft").toString
    val t = graft.lake.GraftTable.create(spark, tDir,
      spark.range(1000).selectExpr("id AS k", "id * 2 AS v"))
    t.append(spark.range(100).selectExpr("id + 1000 AS k", "id AS v"))
    run("graft_source_tail") {
      spark.readStream.format("graftlake").load(tDir)
        .filter(col("k") % 7 === 0)
        .select(col("k"), (col("v") + 1).as("v1"))
    }

    spark.stop()
  }
}
