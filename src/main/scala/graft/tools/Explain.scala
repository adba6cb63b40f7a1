package graft.tools

/** Plan-audit harness: prints each named SparkEntry query's physical
  * plan (or a one-line join/exchange census with no args after the
  * names). `runMain graft.tools.Explain [-full] name...` — the
  * default census flags the scale anti-patterns reviewers look for:
  * non-broadcast dim joins, cartesian products, excess exchanges.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val full = args.contains("-full")
    val names = args.filterNot(_.startsWith("-")).toSeq
    val spark = graft.LocalSession("8", "ERROR")
    names.foreach { n =>
      val qe = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
      val plan = qe.executedPlan.toString
      def c(p: String) = p.r.findAllIn(plan).size
      println(s"[plan] $n bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
        s"shj=${c("ShuffledHashJoin")} cartesian=${c("CartesianProduct")} " +
        s"bnl=${c("BroadcastNestedLoop")} exchange=${c("Exchange")} " +
        s"wscg=${c("WholeStageCodegen")} window=${c("Window")}")
      if (full) println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
