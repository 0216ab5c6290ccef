package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Hands a listener exactly the Spark events one block of driver code
  * caused, and nothing from before or after it. */
object JobWindow {
  private val Marker = "graft.jobwindow.marker"

  /** Runs `body` with `listener` attached and returns once the listener
    * has seen every job start and end, stage submission, task end and
    * other (SQL) event `body` caused. The listener bus is asynchronous,
    * so a marker job on each side of `body` is the handshake: the window
    * opens when the bus delivers the first marker's end and closes when
    * it delivers the second marker's start, and once a marker event is
    * delivered every earlier event is too. Neither marker's events
    * reach `listener`. */
  def observe[A](spark: SparkSession, listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    val (opened, closed) = (new CountDownLatch(1), new CountDownLatch(1))
    def open = opened.getCount == 0 && closed.getCount == 1
    val window = new SparkListener {
      private var openingJob = -1 // touched on the bus thread only
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Marker))) match {
          case Some("open") => openingJob = e.jobId
          case Some(_) => closed.countDown()
          case None => if (open) listener.onJobStart(e)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == openingJob) opened.countDown()
        else if (open) listener.onJobEnd(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (open) listener.onStageSubmitted(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (open) listener.onTaskEnd(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (open) listener.onOtherEvent(e)
    }
    def marker(phase: String, seen: CountDownLatch): Unit = {
      sc.setLocalProperty(Marker, phase)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      if (!seen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(s"listener bus did not deliver the $phase marker")
    }
    sc.addSparkListener(window)
    try {
      marker("open", opened)
      val out = body
      marker("close", closed)
      out
    } finally sc.removeSparkListener(window)
  }
}
