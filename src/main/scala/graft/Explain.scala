package graft

/** Plan-inspection diagnostic: `runMain graft.Explain <sfDir> <query>...`
  * prints each named query's formatted physical plan (or a summary line
  * with --summary) — the ".explain and iterate" loop SURVEY §5 demands
  * after every operator lands. */
object Explain {
  def main(args: Array[String]): Unit = {
    val summary = args.contains("--summary")
    val rest = args.filterNot(_ == "--summary")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")} " +
        s"(valid names are SparkEntry.queries keys)")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n")
      // print-and-continue: one query failing to plan must not abort
      // the rest of the audit sweep
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        if (summary) {
          "ReadSchema: [^\n]*".r.findAllIn(plan).foreach(s => println("  " + s.take(160)))
          "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).foreach(s => println("  " + s.take(160)))
          println(s"  WholeStageCodegen spans: ${"WholeStageCodegen".r.findAllIn(plan).size}")
          println(s"  Exchanges: ${"Exchange".r.findAllIn(plan).size}")
        } else println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch {
        case e: Throwable => println(s"  FAILED to plan: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
