package graft

import graft.text.TextOps

/** Persist hygiene for the text operators: no operator leaves a cached
  * plan behind, so a long-lived library session accumulates nothing.
  * The BM25 and significant-terms operators cache nothing (their plans
  * run in the caller's action); phraseSuggest and moreLikeThis persist
  * a stage intermediate and drop it once their bounded page is
  * checkpointed. The check inspects the session cacheManager directly:
  * after running each operator, zero cached plans remain. */
class TextHygieneSpec extends SparkSpec {

  test("text operators leave no cached plans behind") {
    spark.sharedState.cacheManager.clearCache()
    val docs = Tables.documents(spark, sfDir)
    TextOps.bm25Search(docs, Seq("hash", "join"), 10).collect()
    TextOps.significantTerms(docs, 2, 10).collect()
    TextOps.significantText(docs, "hash", 2, 10).collect()
    TextOps.phraseSuggest(docs, Seq("hsah", "jion"), 2, 4, 5).collect()
    TextOps.moreLikeThis(docs, Seq(1L), 400, 10).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a text operator left a persisted intermediate in the cache")
  }
}
