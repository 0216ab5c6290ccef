package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") // events copies must stay INT64 µs (hbasesim + DuckDB read them), never INT96
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started by `body`, and the last physical plan Spark reported
    * for each SQL execution it ran. The listener bus is asynchronous, so
    * a marker job on each side of `body` is the handshake: once the
    * listener has seen a marker job start, every earlier event has been
    * delivered to it. */
  protected def observe(body: => Unit): (Int, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val marker = "graft.spec.handshake"
    val jobs = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]
    val (started, ended) = (new CountDownLatch(1), new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
          case Some("start") => started.countDown()
          case Some(_) => ended.countDown()
          case None => if (started.getCount == 0) jobs.incrementAndGet(): Unit
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (started.getCount == 0) e match {
          case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
          case _ =>
        }
    }
    def handshake(phase: String, seen: CountDownLatch): Unit = {
      sc.setLocalProperty(marker, phase)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(seen.await(60, TimeUnit.SECONDS), s"listener missed the $phase marker")
    }
    sc.addSparkListener(listener)
    try {
      handshake("start", started)
      body
      handshake("end", ended)
    } finally sc.removeSparkListener(listener)
    (jobs.get, plans.values.asScala.toSeq)
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
