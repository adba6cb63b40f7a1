package graft.tools

/** Times the per-plan cost of the graft extension rules (r14 verdict
  * item 4): plans a trivial aggregate-over-parquet N times — analysis
  * + optimization + physical planning only, no execution — once per
  * JVM, with (`ext`) or without (`noext`) `graft.GraftExtensions`
  * injected. Run both and diff the medians:
  *
  *   sbt "runMain graft.tools.RuleBudget ext"
  *   sbt "runMain graft.tools.RuleBudget noext"
  *
  * Context for the number: every `main` (BENCH and VERIFY included)
  * runs under the extensions through [[graft.LocalSession]], which
  * `noext` overrides; the r14 per-query-creep suspect in the bench
  * artifact reduced to the governance snapshot re-resolution, fixed in
  * r15 by threading the current snapshot through
  * [[graft.lake.GraftTable.policyOf]].
  */
object RuleBudget {
  def main(args: Array[String]): Unit = {
    val withExt = args.headOption.contains("ext")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.LocalSession("4", extra = b =>
      if (withExt) b else b.config("spark.sql.extensions", ""))
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def planOnce(): Unit = {
      // fresh plan each time (varying literal defeats any plan cache)
      val n = scala.util.Random.nextInt(1000)
      base.filter(s"l_quantity > $n")
        .groupBy("l_returnflag").count()
        .queryExecution.executedPlan
      ()
    }
    (1 to 100).foreach(_ => planOnce()) // JIT warm
    val samples = (1 to 10).map { _ =>
      val t0 = System.nanoTime()
      (1 to 200).foreach(_ => planOnce())
      (System.nanoTime() - t0) / 1e6 / 200.0 // ms per plan
    }.sorted
    val mode = if (withExt) "ext" else "noext"
    println(f"[rulebudget] $mode median=${samples(samples.size / 2)}%.3f ms/plan " +
      f"min=${samples.head}%.3f max=${samples.last}%.3f")
    spark.stop()
  }
}
