package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.concurrent.TrieMap

/** Per-JOB attribution diagnostic (r22): like [[JobCount]] but prints
  * every Spark job a query launches with its wall time, stage count and
  * the library line that launched it (the first `graft.` frame of its
  * last stage's call-site stack), so an N-jobs query's cost decomposes
  * to "which action, which line".
  * `runMain graft.JobTrace <sfDir> <query>...` — diagnostic only,
  * touches no query or Bench path. */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q6_revenue_delta")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = TrieMap[Int, (Long, String)]()
    val execSites = TrieMap[String, String]()
    def graftFrame(stack: String): Option[String] =
      stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          graftFrame(s.details).foreach(execSites.put(s.executionId.toString, _))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the library line behind the job: the first graft frame in its
        // last stage's call-site stack; an AQE stage job runs on Spark's
        // async pool, whose stack has none, so it takes its SQL
        // execution's frame; else the stage name
        val last = e.stageInfos.lastOption
        val site = last.flatMap(s => graftFrame(s.details))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(execSites.get).map(f => s"$f (sql)"))
          .orElse(last.map(_.name)).getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), f"stages=${e.stageInfos.size}%-3d $site")): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site) =>
          println(f"  job ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
        }
    })
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    names.foreach { n =>
      Thread.sleep(600)
      println(s"== $n ==")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Thread.sleep(600)
        println(f"== $n total ${(System.nanoTime() - t0) / 1e9 - 0.6}%.2f s ==")
      } catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
