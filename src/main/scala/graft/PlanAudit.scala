package graft

/** Prints formatted physical plans for the named queries (all by
  * default) so shuffle counts / broadcast / pushdown can be audited.
  * Usage: runMain graft.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local("4")
    names.foreach { n =>
      println(s"\n================= $n =================")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"(failed to plan: ${e.getMessage})")
      }
    }
    // full dumps also audit the Staged BUILD chains — the plans that
    // execute at materialization, hidden from every consumer query's
    // own plan by the checkpoint boundary
    if (args.length <= 1)
      Staged.buildPlans(spark, sfDir).foreach { case (n, _, build) =>
        println(s"\n================= $n =================")
        try println(build().queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch {
          case e: Throwable => println(s"(failed to plan: ${e.getMessage})")
        }
      }
    spark.stop()
  }
}
