package graft

import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestSucceeded}

/** The shared session's leak guard in [[SparkSpec]]: a suite whose
  * tests pass but leave a conf key changed must still fail. */
class ConfGuardSpec extends SparkSpec {
  private val key = "spark.sql.maxMetadataStringLength"

  test("a suite that leaves the shared session's conf changed fails, naming the key") {
    val before = spark.conf.getAll.get(key)
    val events = collection.mutable.ArrayBuffer[Event]()
    val reporter = new Reporter { def apply(e: Event): Unit = synchronized(events += e) }
    val leaky = new SparkSpec {
      test("sets a key and leaves it set") { spark.conf.set(key, "2000") }
    }
    try {
      // the guard's failure is the suite's status, not a test's: it
      // surfaces when the run is awaited
      val failure = intercept[Exception](leaky.run(None, Args(reporter)).waitUntilCompleted())
      assert(events.exists(_.isInstanceOf[TestSucceeded]), events)
      assert(failure.getMessage.contains(s"$key <unset> -> 2000"), failure)
      // and it puts the key back, so the suites after it run unchanged
      assert(spark.conf.getAll.get(key) == before)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("withConf restores a set key and unsets a new one") {
    val (set, fresh) = ("spark.sql.shuffle.partitions", key)
    val before = spark.conf.getAll
    assert(before.contains(set) && !before.contains(fresh))
    withConf(set -> "3", fresh -> "2000") {
      assert(spark.conf.get(set) == "3" && spark.conf.get(fresh) == "2000")
    }
    assert(spark.conf.getAll == before)
  }
}
