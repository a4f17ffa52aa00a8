package graft

/** Dev tool: print the formatted physical plan of named queries under the
  * same session conditions as [[Bench]] (pinned silver, registered
  * catalog) — for auditing codegen coverage, exchange counts, and
  * aggregate implementations without a UI.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQuery <queryName> [more...]")
    val queries = Harness.select(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.prepare(spark, sfDir, "explain")
    args.foreach { name =>
      println(s"===== $name =====")
      val qe = queries(name)(spark, sfDir).queryExecution
      // execute first: under AQE the codegen-wrapped, finalized stages only
      // exist after the run (isFinalPlan=true)
      qe.toRdd.count()
      println(qe.executedPlan.treeString(verbose = false)
        .linesIterator.take(250).mkString("\n"))
      println(s"===== $name (formatted) =====")
      println(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.take(400).mkString("\n"))
    }
    spark.stop()
  }
}
