package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.river.IndexCommit

/** Streaming maintenance of the SUGGESTER VOCABULARY index — the table
  * ES builds at index time (its completion suggester's FST) and this
  * library's suggest operators rebuild per query
  * ([[TextOps.completionSuggest]] "at warehouse scale this is the
  * maintained vocab table"). This object actually maintains it, with
  * the `DedupIndex` commit discipline:
  *
  *  - `vocab/v=<batchId>`: per-term (n_occ, n_docs) snapshot. Both
  *    counts are ADDITIVE under appends of DISJOINT document batches
  *    (each doc ingests exactly once, so per-term distinct-doc sets
  *    are disjoint across batches) — each batch merges its delta
  *    counts into the previous snapshot, LSM-style, written as a new
  *    versioned directory.
  *
  * Exactly-once under foreachBatch retries: a replayed batch id is a
  * no-op (its version already exists). Crash safety: a snapshot is
  * only readable once its `_SUCCESS` marker exists; readers take the
  * newest complete version; superseded snapshots retire behind a
  * 1-snapshot reader grace window.
  *
  * At 100 TB the snapshot would be bucketed by term so the merge
  * co-locates and only touched buckets rewrite (the StreamingRiver
  * partitioned-upsert layout); the versioned form keeps the same
  * additive math with simpler commit semantics.
  */
object TermsIndex {

  /** Superseded snapshots kept beyond the newest (reader grace window). */
  val retainSnapshots: Int = 1

  private def vocabDir(root: String) = s"$root/vocab"

  /** Complete (committed) vocab snapshot versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    IndexCommit.versions(spark, vocabDir(root))

  /** The maintained (term, n_occ, n_docs) table — newest complete
    * snapshot. */
  def vocabTable(spark: SparkSession, root: String): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no vocab snapshot under $root")
    spark.read.parquet(s"${vocabDir(root)}/v=${vs.last}")
  }

  /** This batch's per-term counts — the module tokenization convention
    * (lowercase, \s+ split; empty terms kept out by the non-empty
    * filter matching [[TextOps.completionSuggest]]'s explode shape). */
  private def batchCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))

  /** Merge one ingest batch of documents (doc_id, text) into the vocab
    * snapshot. Batch ids must be monotonically increasing across real
    * batches (foreachBatch provides this); a replayed id is a no-op. */
  def updateWithBatch(batchDocs: DataFrame, batchId: Long, root: String): Unit = {
    val spark = batchDocs.sparkSession
    val vs = versions(spark, root)
    if (!vs.contains(batchId)) {
      val delta = batchCounts(batchDocs)
      val merged = vs.filter(_ < batchId).lastOption match {
        case Some(v) =>
          spark.read.parquet(s"${vocabDir(root)}/v=$v")
            .unionByName(delta)
            .groupBy("term")
            .agg(sum(col("n_occ")).as("n_occ"), sum(col("n_docs")).as("n_docs"))
        case None => delta
      }
      merged.write.mode("overwrite").parquet(s"${vocabDir(root)}/v=$batchId")
      IndexCommit.retire(spark, vocabDir(root), vs, batchId, retainSnapshots)
    }
  }

  /** Structured Streaming maintenance loop: every micro-batch of the
    * document stream merges into the vocab — the river's poll loop
    * with the suggester index as the sink. */
  def maintain(docStream: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    graft.river.StreamingRiver.sink(docStream, checkpoint) { (batch, id) =>
      updateWithBatch(batch, id, root)
    }

  /** [[TextOps.completionSuggest]] served FROM the maintained index:
    * prefix filter + bounded TakeOrdered over the vocab table — the
    * corpus is never re-tokenized at query time, which is the entire
    * point of an index-time suggester. Output equals the recompute
    * form because merged counts == from-scratch counts (additive;
    * `TermsIndexSpec` pins both equalities). */
  def completionSuggestIndexed(spark: SparkSession, root: String,
      prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty, "completion needs a non-empty prefix")
    vocabTable(spark, root)
      .filter(col("term").startsWith(prefix))
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("term"))
      .limit(k)
  }

  /** The term-suggester ("did you mean") served from the same
    * maintained table: vocabulary corrections for `probe` ranked by
    * (edit distance, n_occ desc, term) — [[TextOps.termSuggest]]'s
    * contract with the corpus pass replaced by an index read. */
  def termSuggestIndexed(spark: SparkSession, root: String,
      probe: String, maxDist: Int, k: Int): DataFrame =
    vocabTable(spark, root)
      .filter(col("term") =!= "")
      .select(col("term"), col("n_occ").as("freq"))
      .withColumn("dist", levenshtein(col("term"), lit(probe)).cast("long"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("dist"), col("freq").desc, col("term"))
      .limit(k)
}
