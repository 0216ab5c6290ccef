package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.river.IndexCommit

/** Streaming maintenance of the dedup indexes (SURVEY §2 round 11).
  *
  * The batch dedup operators repeatedly argue "at warehouse scale this
  * is a MAINTAINED table" — the shingle-df table behind the hot-shingle
  * bound (`Dedup.hotShingleTable`) and the MinHash LSH band index
  * (`MinHash.bandTable`). This object actually maintains them, the way
  * the reference's river is itself an incremental maintenance process
  * (HBaseParser.run:50 — poll, import the delta, repeat):
  *
  *  - `shingle_df`: per-shingle document frequency. Document counts are
  *    ADDITIVE under corpus appends, so each batch merges its delta
  *    counts into the snapshot — an LSM-style level merge, written as a
  *    new versioned snapshot `shingle_df/v=<batchId>`. At 100 TB the
  *    snapshot would be bucketed by shingle so the merge is co-located
  *    and only touched buckets rewrite (the StreamingRiver
  *    `upsertBatchPartitioned` layout); the versioned-snapshot form
  *    keeps the same additive math with simpler commit semantics.
  *  - `minhash_bands`: the banded signature table is APPEND-ONLY for an
  *    append-only corpus — each ingest batch writes its bands under
  *    `minhash_bands/ingest=<batchId>` (a partition directory), never
  *    rewriting history.
  *
  * Exactly-once under foreachBatch retries: a replayed batch id is a
  * no-op for the df table (its version already exists) and an
  * overwrite-in-place for its own band partition — both idempotent.
  * Crash safety: a df snapshot is only readable once its `_SUCCESS`
  * marker exists; readers take the newest complete version, and the
  * next merge ignores incomplete directories.
  */
object DedupIndex {

  /** Superseded df snapshots kept beyond the newest (reader grace
    * window — see the retirement note in [[updateWithBatch]]). */
  val retainSnapshots: Int = 1

  private def dfDir(root: String) = s"$root/shingle_df"
  private def bandsDir(root: String) = s"$root/minhash_bands"

  /** Complete (committed) df snapshot versions, ascending. */
  def dfVersions(spark: SparkSession, root: String): Seq[Long] =
    IndexCommit.versions(spark, dfDir(root))

  /** The maintained (shingle, df) table — newest complete snapshot. */
  def shingleDfTable(spark: SparkSession, root: String): DataFrame = {
    val vs = dfVersions(spark, root)
    require(vs.nonEmpty, s"no shingle_df snapshot under $root")
    spark.read.parquet(s"${dfDir(root)}/v=${vs.last}")
  }

  /** The maintained hot-shingle table (df > maxDf) — the exact input
    * shape `Dedup.dfBoundedMinBuckets` anti-joins against. */
  def hotShingles(spark: SparkSession, root: String, maxDf: Long): DataFrame =
    shingleDfTable(spark, root).filter(col("df") > maxDf).select("shingle")

  /** The maintained LSH band index (band, band_hash, doc_id) across all
    * ingested batches. */
  def bandTable(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(bandsDir(root))
      .select("band", "band_hash", "doc_id")

  /** Merge one ingest batch of documents (doc_id, text) into both
    * indexes. Batch ids must be monotonically increasing across real
    * batches (foreachBatch provides this); a replayed id is a no-op /
    * idempotent overwrite. */
  def updateWithBatch(batchDocs: DataFrame, batchId: Long, root: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8): Unit = {
    val spark = batchDocs.sparkSession
    val docs = batchDocs.persist()
    try {
      // band index: this batch's bands into its own partition directory
      val hashed = docs
        .withColumn("th", MinHash.tokenHashes(col("text")))
        .select(col("doc_id"), MinHash.shinglesFromTokenHashes(col("th"), n).as("sh"))
        .filter(size(col("sh")) > 0)
      MinHash.bandTable(hashed, numHashes, bands)
        .write.mode("overwrite").parquet(s"${bandsDir(root)}/ingest=$batchId")

      // shingle-df snapshot: additive merge of this batch's counts
      val versions = dfVersions(spark, root)
      if (!versions.contains(batchId)) {
        val batchCounts = Dedup.shingleDf(
          docs.withColumn("toks", split(col("text"), " "))
            .select(col("doc_id"),
              Dedup.shingleSetFromTokens(col("toks"), n).as("sh")))
        val merged = versions.filter(_ < batchId).lastOption match {
          case Some(v) =>
            spark.read.parquet(s"${dfDir(root)}/v=$v")
              .unionByName(batchCounts)
              .groupBy("shingle").agg(sum(col("df")).as("df"))
          case None => batchCounts
        }
        merged.write.mode("overwrite").parquet(s"${dfDir(root)}/v=$batchId")
        // retire superseded snapshots behind the reader grace window
        // (deleting immediately only worked single-process)
        IndexCommit.retire(spark, dfDir(root), versions, batchId, retainSnapshots)
      }
    } finally docs.unpersist()
  }

  /** Structured Streaming maintenance loop: every micro-batch of the
    * document stream merges into both indexes — the river's poll loop
    * shape with the dedup indexes as the sink. */
  def maintain(docStream: DataFrame, root: String, checkpoint: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8): StreamingQuery =
    graft.river.StreamingRiver.sink(docStream, checkpoint) { (batch, id) =>
      updateWithBatch(batch, id, root, n, numHashes, bands)
    }

  /** `Dedup.incrementalNgramJaccard` with the hot set read FROM the
    * maintained df table (which must already include the delta batch's
    * counts — merge it first; counts are additive, that is the point).
    * Output equals the recompute form because merged df == from-scratch
    * df (`StreamingDedupIndexSpec` pins both equalities). */
  def incrementalNgramJaccardIndexed(spark: SparkSession, root: String,
      oldDocs: DataFrame, newDocs: DataFrame, n: Int, tau: Double,
      maxDf: Long = 16): DataFrame =
    Dedup.incrementalNgramJaccardWithHot(oldDocs, newDocs,
      hotShingles(spark, root, maxDf), n, tau)

  /** `MinHash.incrementalNearDupPairs` with the old side's band index
    * read FROM the maintained table instead of recomputed — the
    * candidate join is (delta bands × persisted index), exactly the
    * 100 TB shape the batch operator's scaladoc promises. `oldDocs` is
    * still needed for the exact-Jaccard confirm (at scale the
    * shingle-hash column is stored with the corpus). */
  def incrementalNearDupPairsIndexed(spark: SparkSession, root: String,
      oldDocs: DataFrame, newDocs: DataFrame, n: Int = 3,
      numHashes: Int = 32, bands: Int = 8, tau: Double = 0.8): DataFrame =
    MinHash.incrementalNearDupPairsWithIndex(oldDocs, newDocs,
      bandTable(spark, root), n, numHashes, bands, tau)
}
