package graft
package registry

import org.apache.spark.sql.functions._
import Shared._

/** SURVEY §2 Deduplication over the documents table. */
private[graft] object DedupQueries {

  /** dedup_paragraph oracle: all-pairs replay of the LSH form (the v2
    * LSH-lost-nothing bet — a true 0.8-Jaccard pair escapes the 16×2
    * banding w.p. ~1e-7). */
  private def dedupParagraphSql(paraTokens: Int, paraTau: Double): String =
    "WITH " + paraShinglesSql("documents", paraTokens) +
      raw"""
         |SELECT a.doc_id AS a_doc, CAST(a.pidx AS BIGINT) AS a_para,
         |       b2.doc_id AS b_doc, CAST(b2.pidx AS BIGINT) AS b_para,
         |       $paraJaccardSql AS jaccard
         |FROM pshp a JOIN pshp b2
         |  ON (a.doc_id < b2.doc_id OR (a.doc_id = b2.doc_id AND a.pidx < b2.pidx))
         |WHERE len(a.sh) > 0 AND len(b2.sh) > 0 AND $paraJaccardSql >= $paraTau""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", (s, dir) =>
      dedup.Dedup.exact(Tables.documents(s, dir)),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_copies
             |FROM documents GROUP BY 1""".stripMargin)),

    Query("dedup_fingerprint", (s, dir) =>
      dedup.Dedup.byFingerprint(Tables.documents(s, dir)),
      Some(raw"""SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fingerprint,
                |  min(doc_id) AS keeper, count(*) AS n_docs
                |FROM documents GROUP BY 1""".stripMargin)),

    Query("dedup_ngram_jaccard", (s, dir) =>
      dedup.Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.8),
      // bucket = smallest shingle with df ≤ 16 (prefix-filtering bound;
      // hot shingles are never bucket keys), falling back to the overall
      // min for all-hot docs — replayed here exactly
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
             |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
             |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
             |b AS (SELECT doc_id, sh,
             |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
             |                 list_aggregate(sh, 'min')) AS bucket
             |      FROM s CROSS JOIN hotl)
             |SELECT a_id, b_id, jaccard FROM (
             |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
             |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
             |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
             |WHERE jaccard >= 0.8""".stripMargin)),

    Query("dedup_clusters", (s, dir) =>
      dedup.Dedup.nearDupClusters(
        dedup.Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.8)),
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
             |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
             |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
             |b AS (SELECT doc_id, sh,
             |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
             |                 list_aggregate(sh, 'min')) AS bucket
             |      FROM s CROSS JOIN hotl),
             |p AS (SELECT a_id, b_id FROM (
             |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
             |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
             |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
             |  WHERE jaccard >= 0.8),
             |bi AS (SELECT a_id AS s, b_id AS d FROM p UNION SELECT b_id, a_id FROM p),
             |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
             |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id)
             |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin)),

    Query("dedup_containment", (s, dir) => {
      // the synthetic corpus has no quote-inclusion (measured: every
      // containment≥0.9 pair is already a Jaccard≥0.8 pair), so the
      // wiring injects it deterministically — every 17th doc quotes its
      // predecessor wholesale (the pipe_redact inject-then-detect
      // pattern). Detector then finds ~29 quote pairs with J < 0.8 per
      // SF that symmetric Jaccard dedup misses.
      val base = Tables.documents(s, dir)
      val donor = base.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("donor_text"))
      val docs = base.join(donor, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id") % 17 === 0 && col("donor_text").isNotNull,
            concat(col("text"), lit(" "), col("donor_text")))
            .otherwise(col("text")))
        .select("doc_id", "text")
      dedup.Dedup.containment(docs, 3, 0.9)
    }, Some(raw"""WITH inj AS (SELECT d.doc_id,
                 |    CASE WHEN d.doc_id % 17 = 0 AND o.text IS NOT NULL
                 |         THEN d.text || ' ' || o.text ELSE d.text END AS text
                 |  FROM documents d LEFT JOIN documents o ON o.doc_id = d.doc_id - 1),
                 |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM inj),
                 |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
                 |sb AS (SELECT doc_id, sh, list_sort(sh) AS ss FROM s WHERE len(sh) > 0),
                 |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM sb) GROUP BY shingle HAVING count(*) > 16),
                 |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
                 |b AS (SELECT doc_id, unnest((list_filter(ss, x -> NOT list_contains(hot, x))
                 |                          || list_filter(ss, x -> list_contains(hot, x)))[1:4]) AS bucket
                 |      FROM sb CROSS JOIN hotl),
                 |p AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id
                 |      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
                 |SELECT a_id, b_id, containment FROM (
                 |  SELECT a_id, b_id,
                 |    CAST(len(list_intersect(sa.sh, sb2.sh)) AS DOUBLE)
                 |      / least(len(sa.sh), len(sb2.sh)) AS containment
                 |  FROM p JOIN sb sa ON p.a_id = sa.doc_id
                 |         JOIN sb sb2 ON p.b_id = sb2.doc_id) c
                 |WHERE containment >= 0.9""".stripMargin)),

    Query("dedup_minhash_lsh", (s, dir) =>
      dedup.MinHash.nearDupPairs(Tables.documents(s, dir)), None),

    // paragraph-grain near-dup (r15): MinHash+LSH over 32-token
    // paragraph units — 50 pairs at sf0.01 on the raw corpus (all
    // inside whole-doc near-dup pairs here; real corpora have
    // independent paragraph-grain duplication, which is why the grain
    // exists). Oracle: all-pairs Jaccard replay (the v2 LSH-complete
    // bet; 16×2 banding misses a true 0.8-pair w.p. ~1e-7).
    Query("dedup_paragraph", (s, dir) =>
      dedup.MinHash.paragraphNearDupPairs(Tables.documents(s, dir)),
      Some(dedupParagraphSql(32, 0.8))),

    Query("dedup_simhash", (s, dir) =>
      dedup.SimHash.nearDup(Tables.documents(s, dir)), None),

    Query("dedup_embedding", (s, dir) =>
      dedup.Dedup.embeddingNearDup(Tables.embeddings(s, dir), 0.4),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
             |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |       list_cosine_similarity(a.emb, b.emb) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4""".stripMargin)),

    // τ=0.45: inside the data's similarity range (max pairwise cosine
    // is ~0.51 at sf0.01, ~0.60 at sf0.1 — τ=0.6 returned the empty
    // set at every verify SF, making the rows-only check vacuous).
    // Routed through the τ-dispatcher: at τ ≤ 0.5 sign-LSH is weakly
    // selective and its ×10 ratio measured 37× (SCALING.md round 7),
    // so this wiring rides the IVF candidate generator; the LSH
    // generator remains the high-τ branch, spec-exercised end-to-end
    // in NewOpsSpec (subset of exact + recall + non-empty at this τ,
    // plus dispatcher branch-equivalence).
    Query("dedup_embedding_lsh", (s, dir) =>
      dedup.Dedup.embeddingNearDupAuto(Tables.embeddings(s, dir), 0.45), None),

    Query("dedup_embedding_ivf", (s, dir) =>
      dedup.Dedup.embeddingNearDupIvf(Tables.embeddings(s, dir), 0.4), None),

    Query("dedup_incremental", (s, dir) => {
      // new batch = every 10th doc, snapshot = the rest — a scale-free
      // deterministic split both engines reproduce
      val docs = Tables.documents(s, dir)
      dedup.Dedup.incrementalNgramJaccard(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), 3, 0.8)
    },
      // the incremental operator's contract: exactly the full bucketed
      // self-join's ≥τ pairs that touch ≥1 new doc (new = doc_id % 10 = 0
      // in the wiring) — per-doc shingles/buckets don't depend on the
      // split, so the restriction IS the incremental result
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
             |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
             |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
             |b AS (SELECT doc_id, sh,
             |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
             |                 list_aggregate(sh, 'min')) AS bucket
             |      FROM s CROSS JOIN hotl)
             |SELECT a_id, b_id, jaccard FROM (
             |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
             |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
             |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
             |WHERE jaccard >= 0.8 AND (a_id % 10 = 0 OR b_id % 10 = 0)""".stripMargin)),

    Query("dedup_incremental_minhash", (s, dir) => {
      val docs = Tables.documents(s, dir)
      dedup.MinHash.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }, None),

    // maintained-index incremental dedup (round 11): the same
    // delta math, but the hot-shingle df table / LSH band index are
    // READ from tables maintained batch-by-batch (DedupIndex), not
    // recomputed — the shape a continuously-running 100 TB import
    // actually has. Snapshot ingested as 3 deterministic batches.
    // (wiring builds the index with the FEWEST batches that exercise
    // the read path — snapshot + delta; multi-batch incrementality is
    // StreamingDedupIndexSpec's job, and benching 4 index builds per
    // run would measure construction, not the query)
    Query("dedup_incremental_indexed", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val neu = docs.filter(col("doc_id") % 10 === 0)
      // index build memoized per sfDir (ingest-time work; see indexRoot).
      // The delta's counts merge in before querying (df is additive —
      // hot(old ∪ new) without any recompute over old).
      val root = indexRoot("dedup", dir) { r =>
        dedup.DedupIndex.updateWithBatch(old, 0L, r)
        dedup.DedupIndex.updateWithBatch(neu, 1L, r)
      }
      dedup.DedupIndex.incrementalNgramJaccardIndexed(s, root, old, neu, 3, 0.8)
    },
      // the maintained-index variant returns the SAME pairs by
      // construction (merged per-batch df == from-scratch df — additive
      // counts; StreamingDedupIndexSpec pins the equality), so it shares
      // dedup_incremental's oracle verbatim
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
             |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > 16),
             |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
             |b AS (SELECT doc_id, sh,
             |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
             |                 list_aggregate(sh, 'min')) AS bucket
             |      FROM s CROSS JOIN hotl)
             |SELECT a_id, b_id, jaccard FROM (
             |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
             |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
             |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
             |WHERE jaccard >= 0.8 AND (a_id % 10 = 0 OR b_id % 10 = 0)""".stripMargin)),

    Query("dedup_incremental_minhash_indexed", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val neu = docs.filter(col("doc_id") % 10 === 0)
      // new bands join the index only AFTER dedup (MinHash.bandTable
      // doc) — the delta is signed fresh, the index is old-only
      val root = indexRoot("mh", dir)(r => dedup.DedupIndex.updateWithBatch(old, 0L, r))
      dedup.DedupIndex.incrementalNearDupPairsIndexed(s, root, old, neu)
    }, None),

    // incremental SEMANTIC near-dup against the maintained IVF index
    // (round 12): delta probes the frozen centroids, corpus read
    // partition-prunes to the probed lists, exact cosine confirms —
    // the dedup-before-ingest shape. Corpus-only index (the delta must
    // NOT be ingested), memoized per sfDir. rows-only gate;
    // AnnIndexSpec pins subset-of-exact + recall.
    Query("dedup_embedding_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val old = emb.filter(col("vec_id") % 10 =!= 0)
      val neu = emb.filter(col("vec_id") % 10 === 0)
      val root = indexRoot("annd", dir) { r =>
        similarity.AnnIndex.trainCentroids(old, 0L, r)
        (0L until 2L).foreach(b =>
          similarity.AnnIndex.appendBatch(old.filter(col("vec_id") % 2 === b), b, r))
      }
      similarity.AnnIndex.incrementalEmbeddingNearDup(s, root, neu, 0.4, nprobe = 4)
    }, None),

    Query("dedup_substring", (s, dir) =>
      dedup.Dedup.substringDedup(Tables.documents(s, dir), 8),
      // repeated ≥8-token spans: windows with ≥2 occurrences, all but the
      // global first (min doc_id, pos) flagged, consecutive flagged
      // positions merged into maximal spans (gaps-and-islands)
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
             |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t WHERE len(toks) >= 8)),
             |r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS n_occ,
             |             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
             |f AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
             |g AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f)
             |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end, count(*) AS n_windows
             |FROM g GROUP BY doc_id, grp""".stripMargin))
  )
}
