package graft

import graft.lake.GraftSql

/** Tiny CLI for GraftLake tables: register tables, run statements.
  *
  *   runMain graft.LakeShell name=path [name2=path2 ...] -- "STMT" ["STMT" ...]
  *
  * Each statement's result prints as a table — the same statement
  * surface the reference workshop uses (OPTIMIZE/VACUUM/DESCRIBE
  * HISTORY|DETAIL|EXTENDED/DELETE/UPDATE/RESTORE/SELECT ... VERSION|
  * TIMESTAMP AS OF).
  */
object LakeShell {
  def main(args: Array[String]): Unit = {
    val (regs, rest) = args.span(_ != "--")
    val statements = rest.drop(1)
    require(regs.nonEmpty && statements.nonEmpty,
      "usage: LakeShell name=path [...] -- \"STMT\" [...]")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "ERROR")
    GraftFunctions.register(spark)
    val gsql = new GraftSql(spark)
    regs.foreach { r =>
      val Array(name, path) = r.split("=", 2)
      gsql.register(name, path)
    }
    statements.foreach { stmt =>
      println(s"graft> $stmt")
      gsql.sql(stmt).show(50, truncate = false)
    }
    spark.stop()
  }

  private def GraftFunctions = graft.functions.GraftFunctions
}
