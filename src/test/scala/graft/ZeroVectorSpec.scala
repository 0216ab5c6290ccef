package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.similarity.{Ann, AnnIndex}

/** A zero embedding has no nearest centroid (every cosine is 0/0), so
  * `TopCentroids` gives it an empty list. Every nearest-centroid read
  * takes that as "no centroid", never as an ANSI index error: the
  * vector is PQ-coded 0, in no IVF list (never a candidate), never a
  * SemDeDup duplicate and in no topic. The zero vector takes the
  * largest vec_id, so it is never a Lloyd seed. */
class ZeroVectorSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val zeroId = Tables.embeddings(spark, sfDir)
    .agg(max(col("vec_id"))).head().getLong(0)
  private lazy val emb = Tables.embeddings(spark, sfDir)
    .withColumn("embedding", when(col("vec_id") === zeroId,
      array_repeat(lit(0.0f), 64)).otherwise(col("embedding")))

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getLong(0)).toSet

  test("ivfTopK and pqTopK run over a zero vector; IVF never ranks it") {
    val ivf = Ann.ivfTopK(emb, 5, 10)
    assert(ivf.count() == 50)
    assert(!ids(ivf, "cand_id").contains(zeroId))
    assert(Ann.pqTopK(emb, 5, 10).count() == 50)
    val cbs = Ann.pqTrainCodebooks(emb, 64, 16, 16, 2)
    val code = emb.filter(col("vec_id") === zeroId)
      .select(Ann.pqEncodeCol(col("embedding").cast("array<double>"), cbs, 4))
      .head().getSeq[Int](0)
    assert(code == Seq.fill(16)(0), "a zero vector is PQ-coded 0")
  }

  test("AnnIndex ingest and probe keep a zero vector out of every list") {
    val root = Files.createTempDirectory("ann-zero").toString
    AnnIndex.trainCentroids(emb, 0L, root, pqM = 16)
    AnnIndex.appendBatch(emb, 0L, root)
    val listed = AnnIndex.assignments(spark, root)
      .filter(col("cent_id").isNotNull)
    assert(ids(listed, "vec_id") == ids(emb, "vec_id") - zeroId)
    val hits = AnnIndex.ivfTopKIndexed(spark, root, emb, 5, 10)
    assert(hits.count() == 50 && !ids(hits, "cand_id").contains(zeroId))
    assert(!ids(AnnIndex.ivfpqTopKIndexed(spark, root, emb, 5, 10), "cand_id")
      .contains(zeroId))
  }

  test("semDedupTrained never marks a zero vector, clusterTopics puts it in no topic") {
    // tau -1: every other vector with a cluster-mate is a duplicate (a
    // NaN cosine, too, would pass: Spark orders NaN above every number)
    val dups = Pipeline.semDedupTrained(emb, -1.0, k = 8)
    assert(dups.count() > 0)
    assert(!(ids(dups, "doc_id") ++ ids(dups, "dup_of")).contains(zeroId))
    val topics = Pipeline.clusterTopics(docs, emb, 8).collect()
    val embedded = docs.join(emb.select(col("vec_id").as("doc_id")), "doc_id").count()
    assert(topics.map(_.getLong(1)).sum == embedded - 1)
  }
}
