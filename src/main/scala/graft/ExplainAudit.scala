package graft

/** Dev tool: dump formatted physical plans for the declared queries
  * so scan pruning / pushdown / join strategy / codegen spans can be
  * audited (the "is this the plan you'd want at 100 TB" check).
  * Usage: runMain graft.ExplainAudit <sfDir> [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    SparkEntry.requireDeclared(names)
    val spark = Session.local(Session.cpusFromEnv)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
