package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded at the boundaries the benchmark crosses: the
  * operation and the library call (from the benchmark's own code), the
  * SQL execution, job and stage (from a `SparkListener`), and for the
  * river the cycle, stream start, trigger and addBatch (from
  * `StreamingQueryProgress`). Counts ride on the same records. Nothing
  * is written until [[dump]] at the end of the run.
  *
  * Attribution is by time: operations run one at a time, so an event
  * belongs to the operation whose window contains it. Listeners are
  * attached only around traced operations ([[attach]] / [[detach]]);
  * [[detach]] first drains the listener bus with a sentinel job, so no
  * event of a traced operation is lost. */
final class Trace(spark: SparkSession) {
  private val records = new ConcurrentLinkedQueue[String]()
  @volatile private var sentinelSeen = false
  private val sentinelTag = "graft.perfbench.sentinel"

  def add(json: String): Unit = records.add(json)

  def span(kind: String, name: String, op: Int, startMs: Double, endMs: Double,
      extra: (String, Any)*): Unit =
    add(Json.obj(Seq("k" -> "span", "kind" -> kind, "name" -> name, "op" -> op,
      "start" -> startMs, "end" -> endMs) ++ extra: _*))

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val sql = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse("-1")
      if (!p.flatMap(x => Option(x.getProperty("spark.job.description"))).contains(sentinelTag))
        add(Json.obj("k" -> "job_start", "job" -> e.jobId, "t" -> e.time.toDouble,
          "sql" -> sql.toLong, "stages" -> e.stageIds.mkString(",")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Json.obj("k" -> "job_end", "job" -> e.jobId, "t" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      add(Json.obj("k" -> "stage", "stage" -> s.stageId, "tasks" -> s.numTasks,
        "start" -> s.submissionTime.getOrElse(0L).toDouble,
        "end" -> s.completionTime.getOrElse(0L).toDouble,
        "ok" -> s.failureReason.isEmpty))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
      add(Json.obj("k" -> "task", "stage" -> e.stageId,
        "start" -> i.launchTime.toDouble, "end" -> i.finishTime.toDouble,
        "ok" -> i.successful,
        "run_ms" -> mv(_.executorRunTime), "cpu_ns" -> mv(_.executorCpuTime),
        "gc_ms" -> mv(_.jvmGCTime),
        "shuffle_write" -> mv(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read" -> mv(_.shuffleReadMetrics.totalBytesRead),
        "spill" -> mv(t => t.memoryBytesSpilled + t.diskBytesSpilled)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        add(Json.obj("k" -> "sql_start", "sql" -> s.executionId, "t" -> s.time.toDouble))
      case s: SparkListenerSQLExecutionEnd =>
        add(Json.obj("k" -> "sql_end", "sql" -> s.executionId, "t" -> s.time.toDouble))
      case _ =>
    }
  }

  private object sentinelListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .contains(sentinelTag)) sentinelSeen = true
  }

  /** Planning phases and rows in / rows out of each SQL execution. */
  private object qeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ph(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val plan = qe.executedPlan
      val withRows = collect(plan) { case n if n.metrics.contains("numOutputRows") => n }
      val leaves = collectLeaves(plan).filter(_.metrics.contains("numOutputRows"))
      val hbase = leaves.filter(_.nodeName.toLowerCase.contains("hbasesim"))
      add(Json.obj("k" -> "qe", "t" -> start.toDouble,
        "analysis_ms" -> ph("analysis"), "optimization_ms" -> ph("optimization"),
        "planning_ms" -> ph("planning"), "exec_ms" -> durationNs / 1e6,
        "rows_in" -> leaves.map(rows).sum, "rows_out" -> withRows.headOption.map(rows).getOrElse(0L),
        "hbase_rows" -> hbase.map(rows).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Drain the listener bus, then detach. Listeners share one queue and
    * the bus delivers in order, so once the sentinel job's start event
    * arrives every earlier event has been delivered too. */
  def detach(): Unit = {
    val sc = spark.sparkContext
    sentinelSeen = false
    sc.addSparkListener(sentinelListener)
    sc.setJobDescription(sentinelTag)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(2)
    sc.removeSparkListener(sentinelListener)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def dump(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(r); w.write('\n') } finally w.close()
  }
}

/** Minimal JSON writer for the flat records the benchmark emits. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case None => "null"
    case x => value(x.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
