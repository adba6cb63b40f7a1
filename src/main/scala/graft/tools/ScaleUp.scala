package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence data builder: synthesizes an sf1-equivalent dataset
  * under `target/sf1/` as 10 key-offset replicas of the driver's
  * read-only sf0.1 tables, so the per-round curvature measurement
  * (SURVEY §6's sf0.1 → sf1 ratio table, `graft.BenchOne` at both
  * scales) has one more order of magnitude to extrapolate from. NOT
  * an oracle input — correctness runs only against the driver's own
  * parquet; this exists purely to measure how query time bends with
  * data volume.
  *
  * Replica i offsets every key column by i·10⁷ in ITS OWN key space
  * (orderkey/custkey/partkey/suppkey/doc_id/vec_id), so foreign keys
  * stay consistent inside each replica and join/group cardinalities
  * scale with the data while the nation/region dims — and therefore
  * per-group result widths — stay fixed, exactly how a growing
  * deployment behaves. Dates, amounts, and text are untouched.
  *
  *   sbt "runMain graft.tools.ScaleUp"           # writes target/sf1
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val Copies = if (args.length > 2) args(2).toInt else 10
    // chaining decades (sf1 -> sf10) needs a bigger stride than the
    // source's own key span, or replica offsets collide
    val Off = if (args.length > 3) args(3).toLong else 10000000L
    val spark = graft.LocalSession("32")

    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val base = graft.Tables(spark, src, name)
      val scaled = (0 until Copies).map { i =>
        keyCols.foldLeft(base) { (d, c) =>
          d.withColumn(c, col(c) + lit(i * Off))
        }
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> ${Copies}x")
    }
    def copy(name: String): Unit = {
      graft.Tables(spark, src, name).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> 1x (dim/aux)")
    }

    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("events", Seq("event_id", "user_id"))
    copy("nation")
    copy("region")
    spark.stop()
  }
}
