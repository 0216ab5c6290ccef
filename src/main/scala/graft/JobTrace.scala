package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.concurrent.TrieMap

import graft.util.JobWindow

/** Per-job execution-shape diagnostic: runs each named query into the
  * `noop` sink and prints every Spark job it launches with its wall
  * time, stage count and the library line that launched it (the first
  * `graft.` frame of its last stage's call-site stack), then one totals
  * line per query: jobs, stages submitted, tasks, shuffle-write MB and
  * wall seconds. Counts include the index and training actions a
  * query's thunk runs before its final plan, and unlike wall clocks
  * they do not move with host noise.
  * `runMain graft.JobTrace <sfDir> [query...]`; with no query names it
  * traces every registry query. Diagnostic only, touches no query or
  * Bench path. */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    def graftFrame(stack: String): Option[String] =
      stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    names.foreach { n =>
      println(s"== $n ==")
      val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
      val shuffleWrite = new AtomicLong
      val starts = TrieMap[Int, (Long, String)]()
      val execSites = TrieMap[String, String]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart =>
            graftFrame(s.details).foreach(execSites.put(s.executionId.toString, _))
          case _ =>
        }
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
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
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          stages.incrementAndGet(): Unit
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m =>
            shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit)
        }
      }
      try {
        val secs = JobWindow.observe(spark, listener) {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"== $n jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
          f"shuffleMB=${shuffleWrite.get / 1e6}%.2f wall=$secs%.2f s ==")
      } catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
