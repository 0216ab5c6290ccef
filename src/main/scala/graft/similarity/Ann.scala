package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TopCentroids, TopKPairs, TopKPairsMulti}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2 group 5).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The (small) query subset is broadcast against a streamed corpus
  *    scan, so the only shuffle is the query_id-partitioned top-k; at
  *    100 TB this is one corpus pass per query batch.
  *  - [[lshTopK]]: random-hyperplane LSH — the scale path. Corpus and
  *    queries are bucketed by sign-bit sketches over `tables`
  *    independent hyperplane sets; candidates come from a bucket
  *    equi-join (shuffle on bucket keys, never all-pairs), then exact
  *    cosine re-ranks. Recall grows with `tables` (multi-table OR).
  */
object Ann {

  /** Deterministic Gaussian hyperplanes (fixed-seed PRNG per table/bit) —
    * reproducible across runs and partitionings. */
  private def planes(dim: Int, nbits: Int, table: Int): Array[Array[Double]] =
    Array.tabulate(nbits) { b =>
      val rnd = new java.util.Random(1234567L * (table * 97 + b) + 42L)
      Array.fill(dim)(rnd.nextGaussian())
    }

  /** Sign-bit bucket id for one hyperplane table: bit b =
    * sign(dot(emb, plane_b)), via the codegen'd DotProduct expression
    * against a literal plane (tables × nbits dots per vector — a tight
    * generated loop, not an interpreted higher-order-function chain). */
  private[graft] def bucketCol(emb: Column, dim: Int, nbits: Int, table: Int): Column =
    planes(dim, nbits, table).zipWithIndex.map { case (p, b) =>
      val dot = GraftFunctions.dotProduct(emb, typedlit(p.toSeq))
      when(dot > 0d, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact cosine top-k: queries = vec_id < nQueries (broadcast), corpus =
    * every other vector. Deterministic rank tie-break on cand_id. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val sim = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cand_id"))
    sim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cos_sim")
  }

  /** Exact Euclidean (L2) nearest-neighbor top-k: same broadcast shape
    * as [[bruteForceTopK]] but ranking ascending by distance. */
  def l2TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val sim = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("dist", GraftFunctions.l2Distance(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("cand_id"))
    sim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "dist")
  }

  /** Exact DOT-PRODUCT top-k (r15 continuation — ES dense_vector
    * `similarity: dot_product` / max_inner_product, the ranking used
    * when embeddings carry magnitude information, e.g. unnormalized
    * retrieval scores): the [[bruteForceTopKAgg]] shape with the
    * codegen'd DotProduct kernel as the score. Same broadcast-queries /
    * streamed-corpus plan, bounded TopKPairs fold. */
  def dotTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"),
        GraftFunctions.dotProduct(col("q_emb"), col("c_emb")).as("dot"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("dot"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("dot"))
  }

  /** Exact cosine top-k via the bounded [[TopKPairs]] aggregate instead
    * of a window rank: map-side combine ships at most k pairs per query
    * per partition, where the window form must shuffle + sort every
    * scored row. Identical results to [[bruteForceTopK]]. */
  def bruteForceTopKAgg(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }

  /** HARD-NEGATIVE MINING (round 18 — the contrastive-retrieval
    * training pattern, DPR/ANCE discipline: per anchor, the most
    * SIMILAR candidates with a DIFFERENT label are the negatives that
    * actually teach the model; random negatives are too easy and
    * same-label neighbors are false negatives). The
    * [[bruteForceTopKAgg]] shape with a label-mismatch join predicate:
    * slim (query, cand, score) rows folded by the map-side-combinable
    * TopKPairs (never a corpus window), survivors re-join their label
    * at k·nQueries scale. At 10⁹ vectors the candidate stage swaps for
    * the maintained IVF probe exactly like mmrRerank's poolSource —
    * the predicate composes with any candidate generator
    * ([[hardNegativesFromPool]] is that composition; this form stays
    * the exact oracle twin). */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("label").as("c_label"))
    val top = c.join(broadcast(q),
        col("cand_id") =!= col("query_id") && col("c_label") =!= col("q_label"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
    // label decoration: k·nQueries survivor rows broadcast against the
    // corpus projection — never the other way around (hint pinned, r18
    // ADVICE: post-agg size estimates must not let the optimizer
    // shuffle the corpus instead)
    broadcast(top).join(emb.select(col("vec_id").as("cand_id"),
        col("label").as("neg_label")), Seq("cand_id"))
      .select(col("query_id"), col("rank"), col("cand_id"),
        col("neg_label"), col("cos_sim"))
  }

  /** HARD-NEGATIVE MINING over an ARBITRARY candidate pool (r19,
    * VERDICT r18 #2 — the mmrRerank `poolSource` template): the
    * label-mismatch predicate applied at the SURVIVOR grain of any
    * (query_id, rank, cand_id, cos_sim) candidate generator — wire the
    * maintained IVF/IVFADC probe (`AnnIndex.ivfTopKIndexed`) and the
    * pool build partition-prunes to the probed `cent_id=` lists
    * instead of [[hardNegatives]]'s full-corpus scan per query batch.
    * The pool must OVERSAMPLE (`pool` ≫ k): same-label neighbors and
    * the self-match are filtered AFTER generation, so only pool-depth
    * survivors feed the final top-k. With an exhaustive pool
    * (full-probe, pool = corpus) the output is bit-identical to
    * [[hardNegatives]] — the pool-equivalence spec in `AnnIndexSpec`;
    * a wired index pool is recall-bounded instead (rows-only gate).
    *
    * Scale shape: the pool is ≤ pool·nQueries slim rows (broadcast
    * side everywhere), label decoration joins the corpus's two-column
    * (vec_id, label) projection with the survivor side hinted, and the
    * final rank is a TopKPairs fold over ≤ pool rows per query — no
    * corpus window, no corpus shuffle. */
  def hardNegativesFromPool(emb: DataFrame, nQueries: Int, k: Int,
      pool: Int,
      poolSource: (DataFrame, Int, Int) => DataFrame): DataFrame = {
    val cand0 = poolSource(emb, nQueries, pool)
      .select(col("query_id"), col("cand_id"), col("cos_sim"))
    // r20 (ADVICE r19): the broadcast hint is only safe while the pool
    // frame is genuinely slim — the contract allows pool up to the
    // corpus size (the exhaustive-pool equivalence spec uses pool = n),
    // where an unconditional hint would force corpus-scale rows through
    // the driver. Past the bound the optimizer picks the join side.
    val cand =
      if (pool.toLong * nQueries <= BroadcastPoolRowBound) broadcast(cand0)
      else cand0
    val labels = emb.select(col("vec_id"), col("label"))
    val qLab = labels.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val decorated = cand
      .join(labels.select(col("vec_id").as("cand_id"),
        col("label").as("neg_label")), Seq("cand_id"))
    val top = decorated.join(broadcast(qLab), Seq("query_id"))
      .filter(col("neg_label") =!= col("q_label") &&
        col("cand_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
    // survivor side broadcasts against the slim corpus label projection
    // — the hardNegatives decoration shape; k·nQueries rows, gated by
    // the same bound (k ≤ pool so this trips strictly later)
    val topH =
      if (k.toLong * nQueries <= BroadcastPoolRowBound) broadcast(top) else top
    topH.join(labels.select(col("vec_id").as("cand_id"),
        col("label").as("neg_label")), Seq("cand_id"))
      .select(col("query_id"), col("rank"), col("cand_id"),
        col("neg_label"), col("cos_sim"))
  }

  /** Row bound under which the hard-negative pool/survivor frames keep
    * their explicit broadcast hint (slim 3–4 column rows — ~4M rows is
    * well inside executor broadcast budgets; past it the optimizer's
    * own size estimate decides the join side). */
  private[graft] val BroadcastPoolRowBound = 4L * 1000 * 1000

  /** INT8 scalar-quantized top-k (r15 — the Lucene/ES 8.14
    * `int8_hnsw` quantization primitive re-expressed): each vector
    * compresses 4× to per-dimension int8 codes with a per-vector
    * scale (127 / max|e_i|; zero vectors take scale 1, codes 0), and
    * candidates rank by the SCALE-CORRECTED integer dot
    * Σ qcodeᵢ·ccodeᵢ / (qscale·cscale) — the integer sum is exact and
    * order-free (≤ dim·127² ≪ 2⁵³), the two corrections are one
    * multiply + one divide in a fixed mirrored order, and
    * floor(x·scale + 0.5) rounding is engine-identical by
    * construction (no banker's-rounding hazard), so the whole score
    * is hash-green against the DuckDB replay — no refine stage
    * needed for determinism. Ranking via the bounded TopKPairs fold
    * (quantized scores tie often; cand_id tie-break).
    *
    * Scale: candidate rows carry 64 int8-valued codes instead of 64
    * floats — the 4× memory/bandwidth cut is the operator's point;
    * compose with the IVF index for the partition-pruned form. */
  def int8TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val coded = int8Coded(emb)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("scale").as("qs"))
    coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        int8ScoreCol.as("dot_q"),
        col("vec_id").as("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("dot_q"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("dot_q"))
  }

  /** The int8 quantization frame shared by [[int8TopK]] and
    * [[int8RefinedTopK]]: per-vector scale 127/max|e| (zero vectors
    * take scale 1, codes 0), codes floor(x·scale + 0.5). */
  private def int8Coded(emb: DataFrame): DataFrame = {
    val e64 = col("embedding").cast("array<double>")
    val mx = array_max(transform(e64, x => abs(x)))
    val scale = when(mx > lit(0.0), lit(127.0) / mx).otherwise(lit(1.0))
    emb.select(col("vec_id"),
      transform(e64, x => floor(x * scale + lit(0.5))).as("codes"),
      scale.as("scale"))
  }

  /** Scale-corrected quantized score over a joined (qc, qs) × (codes,
    * scale) pair row. The per-pair dot stays the zip_with/aggregate
    * HOF fold: an A/B against the codegen'd DotProduct kernel measured
    * the HOF form 4-5× FASTER here (0.44 vs 2.1 s warm, sf0.1) — the
    * kernel pulls the non-codegen quantize transform into its per-pair
    * projection while the HOF fold evaluates codes once per side. */
  private def int8ScoreCol: Column =
    aggregate(zip_with(col("qc"), col("codes"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
      .cast("double") / (col("qs") * col("scale"))

  /** INT8 quantized search with OVERSAMPLED candidates + exact rescore
    * (r15 continuation — the shape ES 8.14+ actually executes for an
    * `int8_hnsw` field: quantized similarity drives candidate
    * collection with `num_candidates` > k oversampling, then the
    * final page is re-scored against the full-precision vectors).
    * Stage 1 ranks by the scale-corrected integer dot and keeps
    * k·oversample candidates per query (bounded TopKPairs fold — at
    * scale the shuffle carries k·oversample slim pairs per query per
    * partition, never scored corpus rows). Stage 2 re-ranks ONLY those
    * candidates by exact cosine against the float vectors: the
    * candidate id frame (nQueries × k·oversample rows) BROADCASTS back
    * to the embedding scan, so the refine is one point-lookup-shaped
    * corpus pass with no corpus-side shuffle below the final bounded
    * fold. Both stages are engine-exact (integer dot + the
    * CosineSimilarity/list_cosine_similarity pairing), so unlike
    * PQ/IVF the whole operator is hash-green against the DuckDB
    * replay — quantized recall with refined exact scores. */
  def int8RefinedTopK(emb: DataFrame, nQueries: Int, k: Int,
      oversample: Int = 4): DataFrame = {
    val coded = int8Coded(emb)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("scale").as("qs"))
    val cand = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), int8ScoreCol.as("dot_q"),
        col("vec_id").as("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("dot_q"), col("cand_id"), k * oversample).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("cand_id"))
    exactCosineRefine(emb, cand, nQueries, k)
  }

  /** Shared rescore stage for the quantized-candidate searches: exact
    * cosine over a (query_id, cand_id) candidate frame, top-k per
    * query. The candidate frame is bounded (nQueries × k·oversample),
    * so it BROADCASTS back to the embedding scan — the refine is one
    * point-lookup-shaped corpus pass with no corpus-side shuffle below
    * the final bounded fold. */
  private def exactCosineRefine(emb: DataFrame, cand: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val qe = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(cand), "cand_id")
      .join(broadcast(qe), "query_id")
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }

  /** 1-BIT (binary) quantized search — the ES 8.16 BBQ shape
    * re-expressed: each vector packs to ONE 64-bit word (bit i =
    * sign(e_i) > 0; 256× smaller than the float vector), candidates
    * rank by Hamming similarity dim − popcount(q XOR c) — integer,
    * exact, order-free — with heavy oversampling (ties are dense in
    * Hamming space), then the survivors re-score by exact cosine
    * ([[exactCosineRefine]]). Packing folds disjoint power-of-two
    * terms with XOR (bit-pattern-safe at bit 63 where BIGINT addition
    * would overflow-check on some engines); both stages are
    * engine-exact, so the operator is hash-green against the DuckDB
    * replay generated from the same constants.
    *
    * Scale: the candidate stage streams 8 bytes a vector — the whole
    * corpus sketch for 10⁹ vectors is 8 GB, partition-local popcounts,
    * shuffle bounded at k·oversample pairs per query per partition. */
  def binaryTopK(emb: DataFrame, nQueries: Int, k: Int,
      oversample: Int = 10, dim: Int = 64): DataFrame = {
    val pows = typedlit(Array.tabulate(dim)(i => 1L << i).toList)
    val e64 = col("embedding").cast("array<double>")
    val packed = aggregate(
      zip_with(e64, pows, (x, p) => when(x > lit(0.0), p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseXOR(x))
    // a vector longer than `dim` null-pads the zip_with and the XOR
    // fold turns the whole word NULL — that vector would silently rank
    // nowhere instead of failing loudly (ADVICE r15); same fail-loud
    // guard discipline as the MinHash unit-id cap
    val guarded = when(size(e64) === dim, packed)
      .otherwise(expr(s"raise_error(concat('binaryTopK: embedding dim ', " +
        s"CAST(size(embedding) AS STRING), ' != $dim at vec ', " +
        s"CAST(vec_id AS STRING)))").cast("bigint"))
    val pk = emb.select(col("vec_id"), guarded.as("bits"))
    val q = pk.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bits").as("qb"))
    val hamSim = (lit(dim) - bit_count(col("qb").bitwiseXOR(col("bits")))).cast("double")
    val cand = pk.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), hamSim.as("ham_sim"), col("vec_id").as("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("ham_sim"), col("cand_id"), k * oversample).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("cand_id"))
    exactCosineRefine(emb, cand, nQueries, k)
  }

  /** The DuckDB packing + Hamming candidate SQL for [[binaryTopK]],
    * generated from the same (dim, k, oversample) constants so the
    * engines cannot drift: the same disjoint power-of-two XOR fold
    * (1::BIGINT << i spelled per bit), bit_count(xor()) Hamming rank
    * with the identical DESC/cand_id tie order, then the exact-cosine
    * rescore replay. */
  def binaryTopKSql(nQueries: Int, k: Int, oversample: Int = 10,
      dim: Int = 64): String = {
    val pack = (0 until dim).map { i =>
      // DuckDB overflow-checks 1 << 63; spell the sign bit as MinValue
      val bit = if (i == 63) "(-9223372036854775807::BIGINT - 1::BIGINT)"
                else s"(1::BIGINT << $i)"
      s"CASE WHEN emb[${i + 1}] > 0.0 THEN $bit ELSE 0::BIGINT END"
    }.reduce((a, b) => s"xor($a, $b)")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pk AS (SELECT vec_id, $pack AS bits FROM e),
       |q AS (SELECT vec_id AS query_id, bits AS qb FROM pk WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, c.vec_id AS cand_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY CAST($dim - bit_count(xor(qb, c.bits)) AS DOUBLE) DESC, c.vec_id) AS r
       |    FROM q JOIN pk c ON c.vec_id <> q.query_id) t
       |  WHERE r <= ${k * oversample}),
       |qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < $nQueries)
       |SELECT query_id, rank, cand_id, cos_sim FROM (
       |  SELECT cand.query_id, cand.cand_id,
       |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, cand.cand_id) AS rank
       |  FROM cand
       |  JOIN e c ON c.vec_id = cand.cand_id
       |  JOIN qe ON qe.query_id = cand.query_id) t
       |WHERE rank <= $k""".stripMargin
  }

  /** MMR (Maximal Marginal Relevance) DIVERSITY RERANK (r15
    * continuation — the post-retrieval step that stops a result page
    * being five near-copies of the best hit; the standard λ-tradeoff
    * used by RAG retrievers): greedily select `k` of the exact-cosine
    * top-`pool` candidates, each round scoring the remaining pool by
    * λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s) and taking the
    * argmax (round 1 is pure relevance; ties → smaller cand_id).
    *
    * The greedy recurrence is inherently sequential IN ROUNDS but each
    * round is a fully distributed plan over the POOL-BOUNDED frames
    * (nQueries × pool rows): an anti-join drops selected candidates, a
    * join+max computes the diversity penalty against the selected set,
    * a window argmax picks per query — the dedup_clusters iterative
    * discipline, k−1 bounded rounds, never a driver-side loop. Every
    * number is the engine-exact cosine / max / two-literal arithmetic
    * in mirrored textual order, so the WHOLE rerank is hash-green
    * against a DuckDB replay generated from the same (k, pool, λ)
    * constants ([[mmrRerankSql]] — unrolled greedy rounds as CTEs).
    *
    * `poolSource` is the candidate generator (r16 verdict #1 — the
    * scale knob): it must return the library's (query_id, rank,
    * cand_id, cos_sim) page for (emb, nQueries, pool). The default —
    * exact brute force — is the ORACLE twin (one full corpus scan per
    * query batch); production passes the maintained-index probe
    * ([[AnnIndex.ivfTopKIndexed]] via `ann_mmr_indexed`), which
    * partition-prunes the pool build to the probed lists. The greedy
    * rounds are identical either way (pool-source equivalence spec in
    * `AnnIndexSpec`: equal pools ⇒ equal pages). */
  def mmrRerank(emb: DataFrame, nQueries: Int, k: Int = 5,
      pool: Int = 20, lam: Double = 0.7,
      poolSource: (DataFrame, Int, Int) => DataFrame = bruteForceTopKAgg): DataFrame = {
    require(k >= 1 && pool >= k)
    val cand = poolSource(emb, nQueries, pool)
      .select(col("query_id"), col("cand_id"), col("cos_sim").as("rel"))
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")),
        "cand_id")
      .select(col("query_id"), col("cand_id"), col("rel"), col("c_emb"))
      .localCheckpoint()
    // round 1: pure relevance
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    var selected = cand
      .withColumn("rn", row_number().over(
        w.orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("sel_id"),
        col("c_emb").as("sel_emb"), lit(1).as("pos"), col("rel").as("mmr_score"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val remaining = cand.join(
        selected.select(col("query_id"), col("sel_id").as("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
      val scored = remaining.join(selected.select("query_id", "sel_emb"), "query_id")
        .groupBy(col("query_id"), col("cand_id"), col("rel"))
        .agg(max(GraftFunctions.cosineSim(col("c_emb"), col("sel_emb"))).as("msim"))
        .withColumn("score", lit(lam) * col("rel") - lit(1 - lam) * col("msim"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("score").desc, col("cand_id"))))
        .filter(col("rn") === 1)
      val picked = scored
        .join(cand.select(col("query_id"), col("cand_id"), col("c_emb")),
          Seq("query_id", "cand_id"))
        .select(col("query_id"), col("cand_id").as("sel_id"),
          col("c_emb").as("sel_emb"), lit(r).as("pos"),
          col("score").as("mmr_score"))
      selected = selected.unionByName(picked).localCheckpoint()
    }
    selected.select(col("query_id"), col("pos").cast("long").as("pos"),
      col("sel_id").as("cand_id"), col("mmr_score"))
  }

  /** The DuckDB twin of [[mmrRerank]]: the same greedy recurrence
    * UNROLLED as k rounds of CTEs, generated from the same constants. */
  def mmrRerankSql(nQueries: Int, k: Int = 5, pool: Int = 20,
      lam: Double = 0.7): String = {
    val lamS = graft.util.DetLn.dlit(lam)
    val oneMinus = graft.util.DetLn.dlit(1 - lam)
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < $nQueries),
         |cand AS (
         |  SELECT query_id, cand_id, rel, emb AS c_emb FROM (
         |    SELECT query_id, c.vec_id AS cand_id,
         |           list_cosine_similarity(q_emb, c.emb) AS rel, c.emb,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rnk
         |    FROM q JOIN e c ON c.vec_id <> q.query_id) t
         |  WHERE rnk <= $pool),
         |sel1 AS (
         |  SELECT query_id, cand_id AS sel_id, c_emb AS sel_emb, 1 AS pos, rel AS mmr_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                    ORDER BY rel DESC, cand_id) AS rn FROM cand) t
         |  WHERE rn = 1)""".stripMargin)
    for (r <- 2 to k) {
      val prev = s"sel${r - 1}"
      sb.append(s""",
         |pick$r AS (
         |  SELECT query_id, cand_id, score FROM (
         |    SELECT m.query_id, m.cand_id,
         |           $lamS * m.rel - $oneMinus * m.msim AS score,
         |           row_number() OVER (PARTITION BY m.query_id
         |             ORDER BY $lamS * m.rel - $oneMinus * m.msim DESC, m.cand_id) AS rn
         |    FROM (SELECT c.query_id, c.cand_id, c.rel,
         |                 max(list_cosine_similarity(c.c_emb, s.sel_emb)) AS msim
         |          FROM cand c JOIN $prev s ON s.query_id = c.query_id
         |          WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                            WHERE x.query_id = c.query_id AND x.sel_id = c.cand_id)
         |          GROUP BY c.query_id, c.cand_id, c.rel) m) t
         |  WHERE rn = 1),
         |sel$r AS (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT p.query_id, p.cand_id AS sel_id, c.c_emb AS sel_emb, $r AS pos, p.score AS mmr_score
         |  FROM pick$r p JOIN cand c ON c.query_id = p.query_id AND c.cand_id = p.cand_id)""".stripMargin)
    }
    sb.append(s"""
         |SELECT query_id, CAST(pos AS BIGINT) AS pos, sel_id AS cand_id, mmr_score
         |FROM sel$k""".stripMargin)
    sb.toString
  }

  /** LSH-bucketed ANN top-k: candidates share a bucket with the query in
    * at least one of `tables` hyperplane tables; exact cosine re-rank.
    * Defaults suit the test corpus (~10^2.5 docs); at production scale
    * raise `nbits` with log2(corpus) so per-bucket populations stay
    * bounded, and `tables` to buy recall back. */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int,
      nbits: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    // slim bucket index (vec_id, table, bucket): the sketch computation
    // runs once (persisted) and the bucket self-join ships ids only —
    // embeddings are attached per surviving candidate pair afterwards.
    val buckets = emb.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        bucketCol(col("embedding"), dim, nbits, t)): _*)).as(Seq("t", "bucket")))
      .persist()
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    val c = buckets.select(col("vec_id").as("cand_id"), col("t"), col("bucket"))
    val cand = q.join(c, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
      .select("query_id", "cand_id")
    val sim = cand
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), "query_id")
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")), "cand_id")
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cand_id"))
    sim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cos_sim")
  }

  /** ES 8 FILTERED kNN: exact cosine top-k over only the vectors whose
    * document row passes a metadata predicate — the filter applies
    * BEFORE ranking (ES `knn.filter` semantics: k survivors of the
    * filter, not a post-filtered page that can come up short). The
    * caller supplies the already-filtered candidate id frame (so the
    * predicate stays pushable to ITS scan — the q_multi_match
    * composition rule); candidates semi-join the embeddings by id, the
    * query vector broadcasts, and the rank is a bounded TakeOrdered.
    * At 100 TB this is one filtered corpus pass per query batch; the
    * IVF/LSH candidate generators compose the same way when the filter
    * is loose. */
  /** ES 8 kNN *radius* search (`similarity` threshold instead of `k`):
    * every corpus vector within cosine ≥ `tau` of each query vector —
    * the "all sufficiently-similar neighbors" dual of top-k, used when
    * the caller needs the complete neighborhood (dedup audit, recall
    * measurement) rather than a page. Same broadcast shape as
    * [[bruteForceTopK]]: the query subset broadcasts against one
    * streamed corpus scan, the codegen'd cosine runs in the scan, and
    * the τ predicate filters BEFORE anything shuffles — output is
    * neighborhood-sized, never corpus². */
  def rangeSearch(emb: DataFrame, nQueries: Int, tau: Double): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
      .filter(col("cos_sim") >= tau)
      .select("query_id", "cand_id", "cos_sim")
  }

  def filteredKnn(emb: DataFrame, candidateIds: DataFrame, queryVecId: Long,
      k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    emb.join(candidateIds.select(col("doc_id").as("vec_id")), "vec_id")
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("cand_id"),
        GraftFunctions.cosineSim(col("embedding"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
      .limit(k)
  }

  /** The centroid matrix in list order (row i = centroid of list i) —
    * the constant the [[graft.functions.TopCentroids]] expression
    * assigns against. List keys everywhere downstream are MATRIX ROW
    * INDICES (cents is seed-id ascending, so index order = id order
    * and the (cos desc, id asc) tie contract is preserved). */
  private[graft] def centMatrix(cents: Seq[(Int, Seq[Double])]): Array[Array[Double]] =
    cents.map(_._2.toArray).toArray

  /** Centroid-assignment column factory — the size dispatch VERDICT r11
    * #7 asked for: below [[TopCentroids.maxLiteralValues]] (≈1e6 doubles,
    * 8 MB) the matrix rides the plan as a constant reference (zero extra
    * moving parts); above it — 2√n centroids at n=10⁹ is ~63k × dim —
    * it goes through `SparkContext.broadcast` so tasks carry only the
    * handle and each executor fetches the blocks once. Same kernel,
    * bit-identical assignment either way (`AnnSpec`). */
  private[graft] def centroidAssigner(spark: SparkSession,
      mat: Array[Array[Double]],
      literalLimit: Long = TopCentroids.maxLiteralValues): (Column, Int) => Column = {
    val values = mat.length.toLong * mat.headOption.map(_.length).getOrElse(0)
    if (values <= literalLimit) {
      (c, k) => GraftFunctions.topCentroids(c, mat, k)
    } else {
      val bc = spark.sparkContext.broadcast(mat)
      (c, k) => GraftFunctions.topCentroidsBcast(c, bc, k)
    }
  }

  /** Deterministic-seeded Lloyd refinement: seeds are the frame's
    * FIRST `nCentroids` rows by id (`orderBy(vec_id).limit(k)` — r20,
    * ADVICE r19: the previous `vec_id < k` prefix FILTER assumed dense
    * 0-based ids; over a survivor frame (the cascade's semStage wiring)
    * it silently collapsed the seed count to however many survivors
    * happened to carry small ids — possibly zero, degrading effective k
    * far below ⌈√n⌉ and reintroducing the quadratic hot-cell regime.
    * On dense 0-based frames the two seedings are identical, so every
    * wired query/spec is unchanged), then `rounds` FIXED
    * assign-to-nearest / recompute-mean iterations. Assignment is the
    * [[graft.functions.TopCentroids]] expression (k=1) — one tight
    * per-row loop against the constant centroid matrix, NO
    * broadcast-join row explosion: the join + per-vector-argmax form
    * materialized n·nCent rows whose struct-buffered aggregate plans as
    * SortAggregate, which at ×100 (7·10⁸ rows) sort-spilled the disk to
    * death. Each round is ONE Spark job, the MLlib k-means shape: every
    * partition sums its rows into per-centroid coordinate arrays, read
    * straight from the assigned `InternalRow`s, and the partial sums
    * meet by centroid in one `reduceByKey`; only nCentroids × dim sums
    * come back to the driver (metadata, not data). Empty clusters keep
    * their previous centroid. A seed shortfall (n < k) is logged —
    * downstream k degrades to n, which is the correct model (k clusters
    * need k points). A partition adds its rows in order, starting from
    * 0.0, which is what `avg` per (centroid, dim) does, so a
    * one-partition input gives that form's means bit for bit; across
    * partitions the merge order is not pinned — an index-construction
    * detail only; the search re-ranks with exact cosine inside the
    * probed lists. */
  private[graft] def lloydCentroids(emb: DataFrame, nCentroids: Int,
      rounds: Int): Seq[(Int, Seq[Double])] = {
    def toDoubles(a: Any): Seq[Double] = a.asInstanceOf[scala.collection.Seq[Any]].map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => x.toString.toDouble
    }.toSeq
    var cents: Seq[(Int, Seq[Double])] = emb
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(nCentroids).collect().zipWithIndex
      .map { case (r, i) => (i, toDoubles(r.get(1))) }.toSeq
    if (cents.size < nCentroids)
      System.err.println(s"[lloydCentroids] seed shortfall: ${cents.size} " +
        s"rows for k=$nCentroids — effective k degrades to ${cents.size}")
    val k = cents.size
    (0 until rounds).foreach { _ =>
      // fresh assigner per round (the matrix changes every round); at
      // broadcast scale that is one broadcast per Lloyd round — index
      // construction cost, not query cost
      val assign = centroidAssigner(emb.sparkSession, centMatrix(cents))
      val sums = emb
        .select(col("embedding").cast("array<double>").as("e"))
        // a zero vector has no nearest centroid (NaN cosines): null ci,
        // which the sums skip
        .select(get(assign(col("e"), 1), lit(0)).as("ci"), col("e"))
        .queryExecution.toRdd
        .mapPartitions(centroidSums(k))
        .reduceByKey(addSums)
        .collectAsMap()
      cents = cents.map { case (i, old) =>
        i -> sums.get(i).map { case (s, c) => s.indices.map(d => s(d) / c(d)) }.getOrElse(old)
      }
    }
    cents
  }

  /** One partition's per-centroid coordinate sums and counts over
    * `(ci int, e array<double>)` rows: dense arrays, grown to the
    * longest vector seen, with a count per coordinate so a null element
    * counts nowhere (as in `avg`). Emits one entry per centroid that
    * received a row. */
  private def centroidSums(k: Int)(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[(Int, (Array[Double], Array[Long]))] = {
    val sums = new Array[Array[Double]](k)
    val counts = new Array[Array[Long]](k)
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val c = r.getInt(0); val e = r.getArray(1); val d = e.numElements()
        if (sums(c) == null || sums(c).length < d) {
          sums(c) = java.util.Arrays.copyOf(Option(sums(c)).getOrElse(Array.emptyDoubleArray), d)
          counts(c) = java.util.Arrays.copyOf(Option(counts(c)).getOrElse(Array.emptyLongArray), d)
        }
        val (s, n) = (sums(c), counts(c))
        var i = 0
        while (i < d) {
          if (!e.isNullAt(i)) { s(i) += e.getDouble(i); n(i) += 1 }
          i += 1
        }
      }
    }
    sums.indices.iterator.filter(sums(_) != null).map(c => c -> (sums(c), counts(c)))
  }

  /** Merge two partial [[centroidSums]] entries of one centroid. */
  private def addSums(a: (Array[Double], Array[Long]),
      b: (Array[Double], Array[Long])): (Array[Double], Array[Long]) = {
    val (long, short) = if (a._1.length >= b._1.length) (a, b) else (b, a)
    var i = 0
    while (i < short._1.length) {
      long._1(i) += short._1(i); long._2(i) += short._2(i)
      i += 1
    }
    long
  }

  /** Per-subspace PQ codebooks on the sliced corpus — the
    * [[lloydCentroids]] discipline per subspace (seeds are the frame's
    * first `ks` rows by id, fixed assign/mean rounds, empty cells keep
    * their previous centroid) over `slice(e, j·sub+1, sub)`, `ks`
    * entries each.
    * Shared by the flat [[pqTopK]] and the maintained IVFADC index
    * ([[AnnIndex.trainCentroids]] with `pqM > 0`).
    *
    * FUSED (r21, guide §1.2 "the distributed algorithm" / §2.4 "remove
    * shuffles outright"): the m per-subspace trainings ran as m
    * separate seed collects plus m·rounds separate scan+aggregate jobs
    * — 16 × (1 + rounds) corpus scans at the defaults, the dominant
    * cost of `ann_pq_topk` and of every IVFADC index build. The
    * subspace runs are data-independent, so one job per round now
    * carries ALL m subspaces: each corpus row emits (subspace,
    * assigned-cell, dim, value) rows for every subspace — the same
    * n × dim aggregate rows the m jobs produced in total — into one
    * (j, ci, dim) mean aggregate, and one seed collect of the first
    * `ks` FULL vectors serves every subspace (each subspace's seeds
    * are those rows sliced — identical rows, identical order). Group
    * contents are unchanged, so the means equal the per-subspace ones
    * up to partial-aggregation merge order (already non-bit-pinned
    * across partitionings, see [[lloydCentroids]]). */
  private[graft] def pqTrainCodebooks(emb: DataFrame, dim: Int, m: Int,
      ks: Int, lloydRounds: Int): IndexedSeq[Array[Array[Double]]] =
    pqTrainCodebooksCounted(emb, dim, m, ks, lloydRounds)._1

  /** [[pqTrainCodebooks]] plus the training-frame row count, read off
    * the first fused Lloyd round's own aggregate (Σ over cells of the
    * subspace-0, dim-0 group counts = n) — so callers that need the
    * count (the [[AnnIndex.trainCentroids]] coarse-mass warning, r20
    * ADVICE: its dedicated `count()` added a full extra corpus pass
    * per train) get it for free. `None` when no round ran
    * (`lloydRounds == 0`). Caveat (r21 ADVICE): the rides-the-aggregate
    * count tallies rows with a USABLE embedding (non-null, length ≥ 1
    * — the rows that emit a dim-0 value), not raw frame rows; on a
    * corpus with null/empty embeddings the coarse-mass warning
    * threshold reads the trainable mass, which is the quantity the
    * warning is about. */
  private[graft] def pqTrainCodebooksCounted(emb: DataFrame, dim: Int, m: Int,
      ks: Int, lloydRounds: Int): (IndexedSeq[Array[Array[Double]]], Option[Long]) = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val e64 = col("embedding").cast("array<double>")
    // one seed collect for all m subspaces (was m orderBy+limit jobs)
    val seedRows = emb.select(col("vec_id"), e64.as("e"))
      .orderBy("vec_id").limit(ks).collect()
      .map(_.getSeq[Double](1))
    var cbs: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      seedRows.zipWithIndex
        .map { case (e, i) => (i, e.slice(j * sub, (j + 1) * sub)) }.toSeq
    }
    var counted: Option[Long] = None
    (0 until lloydRounds).foreach { _ =>
      val assigns =
        cbs.map(cb => centroidAssigner(emb.sparkSession, centMatrix(cb)))
      val rows = emb.select(e64.as("e"))
        .select(posexplode(array((0 until m).map { j =>
          struct(
            get(assigns(j)(slice(col("e"), j * sub + 1, sub), 1), lit(0)).as("ci"),
            slice(col("e"), j * sub + 1, sub).as("se"))
        }: _*)).as(Seq("j", "s")))
        .select(col("j"), col("s.ci").as("ci"),
          posexplode(col("s.se")).as(Seq("dim", "v")))
        .groupBy("j", "ci", "dim")
        .agg(avg(col("v")).as("m"), count(lit(1)).as("cnt"))
        .collect()
      counted = Some(rows.iterator
        .filter(r => r.getInt(0) == 0 && r.getInt(2) == 0).map(_.getLong(4)).sum)
      val byJ = rows.groupBy(_.getInt(0))
      cbs = (0 until m).map { j =>
        // a zero subvector has no nearest entry (null ci): no mean
        val means = byJ.getOrElse(j, Array.empty).filterNot(_.isNullAt(1))
          .groupBy(_.getInt(1))
        cbs(j).zipWithIndex.map { case ((id, old), i) =>
          id -> means.get(i)
            .map(rs => rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
            .getOrElse(old)
        }
      }
    }
    (cbs.map(centMatrix), counted)
  }

  /** Encode a vector to its `m` nearest-codebook-entry codes (the
    * TopCentroids kernel per subspace; zero subvectors defensively
    * code 0). `array<int>` — m small ints per vector, the compressed
    * candidate-stage state. */
  private[graft] def pqEncodeCol(e64: Column,
      cbs: IndexedSeq[Array[Array[Double]]], sub: Int): Column =
    array(cbs.indices.map { j =>
      coalesce(get(GraftFunctions.topCentroids(
        slice(e64, j * sub + 1, sub), cbs(j), 1), lit(0)), lit(0))
    }: _*)

  /** Per-query ADC lookup tables: query-subvector · codebook-entry
    * dots, nQueries × m × ks doubles — plan metadata. */
  private[graft] def pqLut(qVecs: Seq[Array[Double]],
      cbs: IndexedSeq[Array[Array[Double]]], sub: Int): Seq[Seq[Seq[Double]]] =
    qVecs.map { q =>
      cbs.indices.map { j =>
        cbs(j).map { cent =>
          var d = 0.0; var i = 0
          while (i < sub) { d += q(j * sub + i) * cent(i); i += 1 }
          d
        }.toSeq
      }.toSeq
    }

  /** The ADC score: m lookup-table adds per candidate (never a
    * dim-length multiply). `qi` indexes the LUT literal, `codes` is
    * the candidate's code array. */
  private[graft] def pqAdcCol(lutLit: Column, qi: Column, codes: Column,
      m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(element_at(element_at(lutLit,
        qi + 1), j + 1), element_at(codes, j + 1) + 1))

  /** Product-quantization ANN top-k (the memory-compressed scale path
    * beside IVF's partitioned one): vectors are split into `m`
    * subspaces, each subspace trains a `ks`-entry codebook
    * (deterministic seeds + fixed Lloyd rounds on the SLICED vectors),
    * and every corpus vector compresses to `m` small codes — m
    * nibble/byte codes per vector instead of dim floats (64 floats →
    * 16 4-bit codes at the defaults: 32× less candidate-stage state,
    * the reason PQ exists at 10⁹-vector scale; recall at the default
    * m=16/ks=16/refine=10 measures 0.90–0.96 @5 on the synthetic
    * unit-random corpus — the hardest case for quantizers — probe on
    * record). Queries score candidates by ADC (asymmetric
    * distance computation): a per-query lookup table of
    * query-subvector · codebook-entry dots (nQueries × m × ks doubles
    * — plan metadata), so each candidate costs m table adds, never a
    * dim-length multiply; top `refine`·k approx candidates per query
    * are then re-ranked by EXACT cosine and the final top-k emitted in
    * the library's (query_id, rank, cand_id, cos_sim) shape.
    *
    * The ADC sum approximates the raw dot product; the testdata
    * embeddings are unit-norm (dot ≡ cosine — probe on record), and for
    * non-unit corpora the exact-cosine refine stage still fixes
    * precision, quantization only moves candidate recall. Codes are
    * nearest-by-cosine against the subspace codebook (the TopCentroids
    * kernel; zero subvectors defensively code 0).
    *
    * Scale shape: candidate scoring is ONE narrow corpus scan emitting
    * (query, cand, approx) slim rows folded by the map-side-combinable
    * [[graft.functions.TopKPairs]] top-k — no window over all pairs, no
    * embedding bytes in the candidate shuffle; the refine stage joins
    * the ≤ nQueries·refine·k survivor ids (broadcast) back to the
    * corpus for exact cosine. */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int,
      m: Int = 16, ks: Int = 16, lloydRounds: Int = 2,
      refine: Int = 10, trainOn: DataFrame = null): DataFrame = {
    // empty corpus degrades to the typed empty frame (the r14 sweep
    // contract), never a head() crash
    val firstDim = emb.select(size(col("embedding"))).limit(1).collect()
    if (firstDim.isEmpty)
      return emb.select(col("vec_id").as("query_id"), lit(1).as("rank"),
        col("vec_id").as("cand_id"), lit(0.0).as("cos_sim")).filter(lit(false))
    val dim = firstDim(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val e64 = col("embedding").cast("array<double>")
    // per-subspace codebooks on the sliced TRAINING frame (index
    // build). `trainOn` defaults to the corpus itself (correct at the
    // verify SFs — sampling a 500-vector corpus under-trains, probe on
    // record); at real scale pass a corpus SAMPLE ≥ ~100 vectors per
    // codebook entry — the faiss discipline, re-validated at 10⁵
    // vectors in SCALING.md's r17 probe (sampled-codebook recall within
    // noise of full-corpus training once the sample crosses that bar).
    // The sample's vec_ids must stay dense below `ks` (remap after
    // modulo sampling) or the deterministic seeding shrinks.
    val cbs = pqTrainCodebooks(Option(trainOn).getOrElse(emb), dim, m, ks,
      lloydRounds)
    val coded = emb.select(col("vec_id").as("cand_id"),
      pqEncodeCol(e64, cbs, sub).as("codes"))
    // per-query ADC lookup tables (bounded metadata: nQueries vectors)
    val qRows = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), e64.as("e")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lut = pqLut(qRows.map(_._2), cbs, sub)
    val qIds = typedlit(qRows.map(_._1).toSeq)
    // candidate stage (r22, guide §4/§2.4 — VERDICT r21 #5): ONE narrow
    // corpus pass, no Generate. Each row's m codes score against every
    // query's LUT inside one codegen'd kernel ([[graft.functions
    // .PqAdcScores]] — the previous per-exploded-row `aggregate(...)`
    // HOF was an interpreted CodegenFallback), and the multi-heap
    // [[graft.functions.TopKPairsMulti]] aggregate keeps the per-query
    // refine·k bests in a single global fold — the n × nQueries row
    // blowup is gone (it existed only to key the per-query groupBy).
    // Ordering, tie-breaks (approx desc, cand asc) and the
    // query ≠ candidate rule are the exploded form's exactly; ADC adds
    // run in the same ascending-subspace order → bit-identical scores.
    val approx = coded
      .agg(TopKPairsMulti.topKAll(
        GraftFunctions.pqAdcScores(col("codes"), lut),
        col("cand_id"), refine * k, qRows.map(_._1)).as("tops"))
      .select(posexplode(col("tops")).as(Seq("qi", "top")))
      .select(element_at(qIds, col("qi") + 1).as("query_id"),
        explode(col("top.id")).as("cand_id"))
    // refine: exact cosine over the survivors only
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val rer = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(approx), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
    rer.groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }

  /** IVF (inverted-file) ANN top-k — the partitioned-index scale path.
    * Centroids are deterministic seeds (first `nCentroids` vectors)
    * Lloyd-refined for `lloydRounds` fixed iterations; every corpus
    * vector is assigned to its nearest centroid by a pure expression
    * (no join, no shuffle), queries probe their `nprobe` nearest
    * centroid lists via a per-row sort of the centroid score array, and
    * exact cosine re-ranks inside the probed lists only. The
    * corpus↔query join is an equi-join on centroid id — shuffle on list
    * id, never all-pairs; at 100 TB the assignment is a write-once
    * partitioning of the corpus (cluster-bucketed table), and a query
    * touches nprobe/nCentroids of it. */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4, lloydRounds: Int = 3): DataFrame = {
    val cents = lloydCentroids(emb, nCentroids, lloydRounds)
    val assign = centroidAssigner(emb.sparkSession, centMatrix(cents))
    val corpus = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"),
      get(assign(col("embedding"), 1), lit(0)).as("cent_id"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(assign(col("embedding"), nprobe)).as("cent_id"))
    // queries×nprobe is tiny by construction; size estimation can't see
    // through the explode, so broadcast explicitly (SMJ otherwise)
    // Ranking is the bounded TopKPairs fold, not a row_number window
    // (r14 VERDICT minor): map-side combine ships ≤ k pairs per query
    // per partition, where the window form must shuffle + sort EVERY
    // scored candidate row — under list skew (one hot centroid) that
    // sort is the straggler. Same output, same tie-break (score desc,
    // id asc — the bruteForceTopKAgg equivalence discipline).
    broadcast(queries).join(corpus, Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }
}
