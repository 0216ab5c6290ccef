package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.util.JobWindow

/** Shared local SparkSession for specs. sf0.001 keeps suites fast.
  * The session is shared by every suite in the JVM, so a suite that
  * leaves its conf changed fails: set conf with [[withConf]]. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  /** Four cores: the specs' job-count pins assume 4 shuffle partitions. */
  lazy val spark: SparkSession = GraftSession.local(4)

  private var confAtStart = Map.empty[String, String]

  override def beforeAll(): Unit = {
    super.beforeAll()
    confAtStart = spark.conf.getAll
  }

  override def afterAll(): Unit =
    try {
      val now = spark.conf.getAll
      val changed = (confAtStart.keySet ++ now.keySet).toSeq.sorted
        .filter(k => confAtStart.get(k) != now.get(k))
      if (changed.nonEmpty) {
        // put the conf back first, so only the leaking suite fails
        changed.foreach(k => confAtStart.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        })
        fail("suite left the shared session's conf changed: " +
          changed.map(k => s"$k ${confAtStart.getOrElse(k, "<unset>")} -> " +
            now.getOrElse(k, "<unset>")).mkString(", "))
      }
    } finally super.afterAll()

  /** `body` with the runtime confs `kvs` set; each key gets its earlier
    * value back afterwards, or is unset if it had none. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = spark.conf.getAll
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Jobs started by `body`, and the last physical plan Spark reported
    * for each SQL execution it ran (see [[JobWindow.observe]]). */
  protected def observe(body: => Unit): (Int, Seq[SparkPlanInfo]) = {
    val jobs = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]
    JobWindow.observe(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    })(body)
    (jobs.get, plans.values.asScala.toSeq)
  }
}
