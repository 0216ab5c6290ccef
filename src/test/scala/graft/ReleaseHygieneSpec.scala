package graft

import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.graftglue.Glue

import graft.pipeline.Pipeline

/** A corpus release leaves nothing behind in a long-lived session.
  * After a first release (which may warm up what every later one
  * reuses), two more, each with its output's checkpoint dropped, leave
  * the cache manager with the same entries and no RDD they made still
  * persisted. A stage cache that outlives its release, or a stage
  * checkpoint or cluster round nobody drops, fails one check or the
  * other. Both are exact: every block a release makes is dropped
  * explicitly, so nothing waits on garbage collection or the cleaner
  * thread (a collection can only hide a leaked RDD, never invent one). */
class ReleaseHygieneSpec extends SparkSpec {

  private def cacheEntries: Int = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].length
  }

  test("later releases leave the cache manager as the first left it and persist no RDD") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    def release(): Unit = {
      val out = Pipeline.releaseManifestV3(docs, emb, Seq("src0", "src1"), 4, 0.2)
      assert(out.count() > 0)
      Glue.dropCheckpoint(out)
    }
    release()
    val entries1 = cacheEntries
    val mark = spark.sparkContext.emptyRDD[Int].id // RDD ids are sequential
    release()
    release()
    assert(cacheEntries == entries1, s"cache-manager entries $entries1 -> $cacheEntries")
    val left = spark.sparkContext.getPersistentRDDs.keys.filter(_ > mark)
    assert(left.isEmpty, s"RDDs ${left.toSeq.sorted.mkString(", ")} still persisted")
  }
}
