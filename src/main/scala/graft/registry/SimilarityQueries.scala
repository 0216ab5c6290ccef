package graft
package registry

import org.apache.spark.sql.functions._
import Shared._

/** SURVEY §2 Similarity search over the embeddings table. */
private[graft] object SimilarityQueries {

  val queries: Seq[Query] = Seq(
    Query("ann_bruteforce_topk", (s, dir) =>
      similarity.Ann.bruteForceTopK(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, cos_sim FROM (
             |  SELECT query_id, c.vec_id AS cand_id,
             |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
             |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    Query("ann_topk_agg", (s, dir) =>
      similarity.Ann.bruteForceTopKAgg(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, cos_sim FROM (
             |  SELECT query_id, c.vec_id AS cand_id,
             |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
             |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    Query("ann_l2_topk", (s, dir) =>
      similarity.Ann.l2TopK(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, dist FROM (
             |  SELECT query_id, c.vec_id AS cand_id,
             |         list_distance(q_emb, c.emb) AS dist,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY list_distance(q_emb, c.emb), c.vec_id) AS rank
             |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    // int8 scalar quantization (r15): 4× compressed codes + per-vector
    // scale, scale-corrected integer dot — hash-green by construction
    // (exact int sum, mirrored rounding), no refine needed
    Query("ann_int8_topk", (s, dir) =>
      similarity.Ann.int8TopK(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |s AS (SELECT vec_id, emb,
             |        CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0.0
             |             THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
             |             ELSE 1.0 END AS scale
             |      FROM e),
             |cd AS (SELECT vec_id, scale,
             |         list_transform(emb, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes
             |       FROM s),
             |q AS (SELECT vec_id AS query_id, codes AS qc, scale AS qs FROM cd WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, dot_q FROM (
             |  SELECT query_id, c.vec_id AS cand_id,
             |         CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) AS dot_q,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) DESC, c.vec_id) AS rank
             |  FROM q JOIN cd c ON c.vec_id <> q.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    // int8 candidates oversampled 4×, exact-cosine rescore of the
    // survivors (the ES int8_hnsw + num_candidates search shape);
    // both stages engine-exact → full hash oracle
    Query("ann_int8_refined", (s, dir) =>
      similarity.Ann.int8RefinedTopK(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |s AS (SELECT vec_id, emb,
             |        CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0.0
             |             THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
             |             ELSE 1.0 END AS scale
             |      FROM e),
             |cd AS (SELECT vec_id, scale,
             |         list_transform(emb, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes
             |       FROM s),
             |q AS (SELECT vec_id AS query_id, codes AS qc, scale AS qs FROM cd WHERE vec_id < 10),
             |cand AS (
             |  SELECT query_id, cand_id FROM (
             |    SELECT query_id, c.vec_id AS cand_id,
             |           row_number() OVER (PARTITION BY query_id
             |             ORDER BY CAST(list_dot_product(qc, c.codes) AS DOUBLE) / (qs * c.scale) DESC, c.vec_id) AS r
             |    FROM q JOIN cd c ON c.vec_id <> q.query_id) t
             |  WHERE r <= 20),
             |qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, cos_sim FROM (
             |  SELECT cand.query_id, cand.cand_id,
             |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
             |         row_number() OVER (PARTITION BY cand.query_id
             |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, cand.cand_id) AS rank
             |  FROM cand
             |  JOIN e c ON c.vec_id = cand.cand_id
             |  JOIN qe ON qe.query_id = cand.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    // 1-bit BBQ-shape search: 64-bit sign sketch (256x compression),
    // Hamming candidates oversampled 10x, exact-cosine rescore
    Query("ann_binary_topk", (s, dir) =>
      similarity.Ann.binaryTopK(Tables.embeddings(s, dir), 10, 5),
      Some(similarity.Ann.binaryTopKSql(10, 5))),

    // dense_vector similarity: dot_product (magnitude-aware ranking)
    Query("ann_dot_topk", (s, dir) =>
      similarity.Ann.dotTopK(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, dot FROM (
             |  SELECT query_id, c.vec_id AS cand_id,
             |         list_dot_product(q_emb, c.emb) AS dot,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY list_dot_product(q_emb, c.emb) DESC, c.vec_id) AS rank
             |  FROM q JOIN e c ON c.vec_id <> q.query_id) t
             |WHERE rank <= 5""".stripMargin)),

    // MMR rerank SERVED FROM THE MAINTAINED IVF INDEX (r16 verdict
    // #1): the candidate pool comes from the versioned index probe —
    // partition-pruned to the probed cent_id lists, never a full
    // corpus scan per query batch — and the greedy rounds are the
    // identical distributed recurrence. Shares ann_ivf_indexed's
    // memoized index. nprobe=8 of 16 lists (recall-first pool build;
    // the pool stage only moves WHICH candidates rerank, the λ-greedy
    // math is pool-source-invariant — equivalence spec in AnnIndexSpec).
    // rows-only gate: the pool is index-approximate by design.
    Query("ann_mmr_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.Ann.mmrRerank(emb, 10, poolSource = (e, nq, p) =>
        similarity.AnnIndex.ivfTopKIndexed(s, root, e, nq, p, nprobe = 8))
    }, None),

    // MMR diversity rerank of the exact top-20 pool (lambda=0.7),
    // k-1 bounded distributed greedy rounds
    Query("ann_mmr_rerank", (s, dir) =>
      similarity.Ann.mmrRerank(Tables.embeddings(s, dir), 10),
      Some(similarity.Ann.mmrRerankSql(10))),

    Query("ann_lsh_topk", (s, dir) =>
      similarity.Ann.lshTopK(Tables.embeddings(s, dir), 10, 5), None),

    Query("ann_ivf_topk", (s, dir) =>
      similarity.Ann.ivfTopK(Tables.embeddings(s, dir), 10, 5), None),

    // product-quantization ANN (memory-compressed scale path): 16
    // 4-bit codes per vector, ADC candidate scan, exact-cosine refine
    Query("ann_pq_topk", (s, dir) =>
      similarity.Ann.pqTopK(Tables.embeddings(s, dir), 10, 5), None),

    // IVF top-k reading a MAINTAINED index (AnnIndex): centroids trained
    // once on the first ingest batch then frozen, corpus cluster-bucketed
    // across 3 deterministic ingest batches, probe reads only the probed
    // cent_id partitions. rows-only gate; AnnIndexSpec pins batch-N ==
    // from-scratch and indexed == recompute equality. Index construction
    // is ingest-time work, memoized per sfDir (see indexRoot).
    Query("ann_ivf_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.AnnIndex.ivfTopKIndexed(s, root, emb, 10, 5)
    }, None),

    // IVFADC: PQ composed inside the maintained IVF index — codebooks
    // trained with the centroids, 16-code PQ words encoded at ingest
    // into the cent_id= partitions, probes ADC-scan only the nprobe
    // probed lists (codes column alone — no embedding bytes in the
    // candidate scan), exact-cosine refine on the survivors. The flat
    // pqTopK's full-corpus ADC scan shrinks to ~nprobe/nCentroids.
    // rows-only gate; AnnIndexSpec pins recall >= the flat-PQ floor
    // and the candidate-row ratio.
    Query("ann_ivfpq_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("annpq", dir) { r =>
        // codebooks train on the full frame — at scale a corpus sample
        // (faiss discipline); a third of the small SFs under-trains
        similarity.AnnIndex.trainCentroids(emb, 0L, r, pqM = 16)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.AnnIndex.ivfpqTopKIndexed(s, root, emb, 10, 5, nprobe = 8)
    }, None),

    // ES 8 knn.filter: candidates restricted to lang='en' docs BEFORE
    // ranking (218/500 at sf0.01 — the page differs from unfiltered
    // kNN, so the filter is load-bearing); predicate pushed to the
    // documents scan, query vector broadcast, bounded TakeOrdered
    Query("ann_filtered_knn", (s, dir) =>
      similarity.Ann.filteredKnn(Tables.embeddings(s, dir),
        Tables.documents(s, dir).filter(col("lang") === "en").select("doc_id"),
        7L, 10),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |c AS (SELECT doc_id FROM documents WHERE lang = 'en'),
             |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 7)
             |SELECT cand_id, cos_sim FROM (
             |  SELECT e.vec_id AS cand_id, list_cosine_similarity(e.emb, q.q_emb) AS cos_sim
             |  FROM e JOIN c ON e.vec_id = c.doc_id CROSS JOIN q
             |  WHERE e.vec_id <> 7) t
             |ORDER BY cos_sim DESC, cand_id LIMIT 10""".stripMargin)),

    // kNN radius search: the complete cosine ≥ τ neighborhood of each
    // of the first 10 query vectors (τ=0.3 measured non-vacuous at
    // every verify SF)
    Query("ann_range_search", (s, dir) =>
      similarity.Ann.rangeSearch(Tables.embeddings(s, dir), 10, 0.3),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
             |SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             |       list_cosine_similarity(a.emb, b.emb) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
             |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3""".stripMargin))
  )
}
