package graft.tools

/** Dev harness: prints IVF recall@5 vs brute force for a testdata
  * dir — the measurement behind OperatorsSpec's recall bar and the
  * SURVEY §6 tuning notes. Usage:
  *   sbt "runMain graft.tools.IvfRecall /root/testdata/sf0.1"
  */
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"),
      extra = _.appName("graft-ivf-recall").config("spark.sql.shuffle.partitions", "32"))
    val bf = graft.operators.Similarity.simBruteforceTopk(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t0 = System.nanoTime()
    val ivf = graft.operators.Similarity.simIvf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sec = (System.nanoTime() - t0) / 1e9
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    println(f"IVF recall@5 at $dir = $recall%.4f " +
      f"(probes=${graft.operators.IvfIndex.Probes}, " +
      f"spill=${graft.operators.IvfIndex.Spill}, " +
      f"rounds=${graft.operators.IvfIndex.Rounds}) query=$sec%.2fs")
    spark.stop()
  }
}
