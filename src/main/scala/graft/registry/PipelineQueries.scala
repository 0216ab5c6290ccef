package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** SURVEY §2 Training-data pipeline: corpus to training batches. */
private[graft] object PipelineQueries {

  /** Deterministic id-keyed PII injection shared by the pipe_redact and
    * release-manifest wirings: the synthetic corpus carries no PII, so a
    * bare scrub would be vacuously clean at every SF — ~14% of docs get
    * an email, ~9% a phone, ~8% an SSN-shaped id, keyed on doc_id so
    * both engines build the identical text. */
  private def injectPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" call 555-867-5309 today")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789 on file")).otherwise(lit(""))))

  /** The v3 oracle chain split into PREFIX (pii-injected corpus →
    * fingerprint → string near-dup → semantic near-dup = keep3) and
    * TAIL (quality gate → decontamination → PII scrub → manifest), so
    * v5 can insert its paragraph-strip CTEs between them without
    * duplicating either — the shared-generation discipline. `from` is
    * the keeper CTE the tail reads; `carry`/`finalExtra` thread extra
    * audit columns through the tail stages. */
  private def manifestTailSql(from: String, carry: String,
      finalExtra: String): String =
    raw""",
       |q AS (SELECT doc_id, source, text$carry,
       |        CAST(length(text) AS BIGINT) AS n_chars,
       |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
       |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
       |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
       |      FROM $from),
       |scored AS (SELECT doc_id, source, text$carry, n_tokens,
       |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
       |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
       |      FROM q),
       |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
       |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
       |raw AS (SELECT doc_id, source,
       |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
       |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
       |        FROM w),
       |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
       |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
       |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
       |        WHERE source NOT IN ('src0', 'src1')),
       |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT doc_id, source, n_tokens AS n_tok, quality_score$finalExtra,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
       |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
       |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
       |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
       |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
       |FROM clean""".stripMargin

  private val manifestPrefixSql: String =
    raw"""WITH RECURSIVE p AS (SELECT doc_id, source,
           |  text || CASE WHEN doc_id % 7 = 0
           |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |               ELSE '' END
           |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
           |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
           |  FROM documents),
           |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
           |fp AS (SELECT doc_id, source, text,
           |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
           |       FROM corpus),
           |keep AS (SELECT doc_id, source, text FROM fp
           |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
           |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM keep),
           |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM tk),
           |pr AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
           |       WHERE len(a.sh) > 0 AND len(b2.sh) > 0
           |         AND CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)
           |             / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) >= 0.8),
           |bi AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
           |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
           |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id),
           |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |keep2 AS (SELECT keep.* FROM keep LEFT JOIN lbl ON keep.doc_id = lbl.id
           |          WHERE lbl.cluster IS NULL OR lbl.cluster = keep.doc_id),
           |ke AS (SELECT k.doc_id, CAST(e.embedding AS DOUBLE[]) AS emb
           |       FROM keep2 k JOIN embeddings e ON e.vec_id = k.doc_id),
           |sp AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM ke a JOIN ke b2 ON a.doc_id < b2.doc_id
           |       WHERE list_cosine_similarity(a.emb, b2.emb) >= 0.45),
           |sbi AS (SELECT a_id AS s, b_id AS d FROM sp UNION SELECT b_id, a_id FROM sp),
           |sreach(id, r) AS (SELECT DISTINCT s, s FROM sbi
           |  UNION SELECT sbi.s, sreach.r FROM sbi JOIN sreach ON sbi.d = sreach.id),
           |slbl AS (SELECT id, min(r) AS cluster FROM sreach GROUP BY id),
           |keep3 AS (SELECT keep2.* FROM keep2 LEFT JOIN slbl ON keep2.doc_id = slbl.id
           |          WHERE slbl.cluster IS NULL OR slbl.cluster = keep2.doc_id)""".stripMargin

  /** pipe_release_manifest_v3 oracle — the full CTE-chain replay of
    * the fingerprint -> MinHash-LSH -> semantic release chain (shared
    * by the v4 wrapper below). */
  private val manifestV3Sql: String =
    manifestPrefixSql + manifestTailSql("keep3", "", "")

  /** v5 oracle: the v3 prefix + the paragraph-strip CTEs (all-pairs
    * replay, strip every non-minimal (doc, para) copy) + the shared
    * tail reading the STRIPPED text, carrying the n_para_stripped
    * audit column. */
  private def manifestV5Sql(paraTokens: Int, paraTau: Double): String =
    manifestPrefixSql + ",\n" + paraShinglesSql("keep3", paraTokens) +
      raw""",
         |ppr5 AS (SELECT b2.doc_id AS doc_id, b2.pidx AS pidx FROM pshp a JOIN pshp b2
         |         ON (a.doc_id < b2.doc_id OR (a.doc_id = b2.doc_id AND a.pidx < b2.pidx))
         |         WHERE len(a.sh) > 0 AND len(b2.sh) > 0 AND $paraJaccardSql >= $paraTau),
         |st5 AS (SELECT doc_id, list(DISTINCT pidx) AS sps FROM ppr5 GROUP BY doc_id),
         |keep5 AS (SELECT * FROM (
         |        SELECT t.doc_id, t.source,
         |        array_to_string(list_filter(t.toks, (x, i) -> NOT list_contains(coalesce(st5.sps, []), (i - 1) // $paraTokens)), ' ') AS text,
         |        CAST(len(coalesce(st5.sps, [])) AS BIGINT) AS n_para_stripped
         |        FROM tkp t LEFT JOIN st5 USING (doc_id))
         |        WHERE text <> '')""".stripMargin +
      manifestTailSql("keep5", ", n_para_stripped",
        ", CAST(n_para_stripped AS BIGINT) AS n_para_stripped")

  /** v4 = the v3 manifest dealt round-robin into 4 shards by
    * (n_tok desc, doc_id) rank — the shardManifest rule applied to
    * the released corpus; oracle wraps the v3 chain verbatim so the
    * two cannot drift. */
  private val manifestV4Sql: String =
    // plain concatenation, NOT stripMargin: the embedded v3 chain has
    // lines beginning with the SQL || operator, which stripMargin
    // would truncate
    "WITH m AS (" + manifestV3Sql + "),\n" +
      "r AS (SELECT doc_id, n_tok, n_redacted,\n" +
      "        (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 4 AS shard\n" +
      "      FROM m)\n" +
      "SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,\n" +
      "       CAST(sum(n_redacted) AS BIGINT) AS sum_redacted,\n" +
      "       min(doc_id) AS min_doc, max(doc_id) AS max_doc\n" +
      "FROM r GROUP BY shard"

  val queries: Seq[Query] = Seq(
    // contrastive-retrieval hard negatives: most-similar candidates
    // with a DIFFERENT label, per anchor
    Query("pipe_hard_negatives", (s, dir) =>
      similarity.Ann.hardNegatives(Tables.embeddings(s, dir), 10, 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
             |q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
             |      FROM e WHERE vec_id < 10)
             |SELECT query_id, rank, cand_id, neg_label, cos_sim FROM (
             |  SELECT query_id, c.vec_id AS cand_id, c.label AS neg_label,
             |         list_cosine_similarity(q_emb, c.emb) AS cos_sim,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY list_cosine_similarity(q_emb, c.emb) DESC, c.vec_id) AS rank
             |  FROM q JOIN e c ON c.vec_id <> q.query_id AND c.label <> q.q_label) t
             |WHERE rank <= 5""".stripMargin)),

    // hard negatives SERVED FROM THE MAINTAINED IVF INDEX (r19,
    // VERDICT r18 #2 — the mmrRerank poolSource template): the
    // candidate pool comes from the versioned index probe (nprobe=8,
    // pool=50 — 10x oversample so the label-mismatch filter at the
    // survivor grain still fills k), partition-pruned to the probed
    // cent_id lists, never a full corpus scan per query batch. Shares
    // ann_ivf_indexed's memoized index. Rows-only (index-approximate
    // pool); AnnIndexSpec pins full-probe pool == brute force +
    // wired-probe recall.
    Query("pipe_hard_negatives_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = indexRoot("ann", dir) { r =>
        similarity.AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, r)
        (0L until 3L).foreach(b =>
          similarity.AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, r))
      }
      similarity.Ann.hardNegativesFromPool(emb, 10, 5, pool = 50,
        poolSource = (e, nq, p) =>
          similarity.AnnIndex.ivfTopKIndexed(s, root, e, nq, p, nprobe = 8))
    }, None),

    // perceptual (average-hash) near-dup grouping over the same
    // area-pooled 8x8 thumbnails as mm_resize_stub
    Query("mm_ahash_dedup", (s, dir) =>
      multimodal.Multimodal.aHashDedup(Tables.documents(s, dir)),
      // byte-exact replay of the area-pooling resize (32-wide grid →
      // 8×8): per output pixel, the covered source block's truncating
      // byte mean, re-encoded to the same uppercase hex Spark's hex()
      // emits — the mm_feature_stub hex-decode discipline
      Some("""WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
             |                  octet_length(encode(text)) AS n FROM documents),
             |px AS (SELECT doc_id, h, n, greatest(1, (n + 31) // 32) AS srch,
             |              unnest(range(0, 64)) AS p FROM t),
             |blk AS (SELECT doc_id, h, n, p,
             |          (p % 8) * 32 // 8 AS x0,
             |          greatest((p % 8) * 32 // 8 + 1, ((p % 8) + 1) * 32 // 8) AS x1,
             |          (p // 8) * srch // 8 AS y0,
             |          greatest((p // 8) * srch // 8 + 1, ((p // 8) + 1) * srch // 8) AS y1
             |        FROM px),
             |cell AS (SELECT doc_id, h, n, p,
             |           list_filter(flatten(list_transform(range(y0, y1),
             |             yy -> list_transform(range(x0, x1), xx -> yy * 32 + xx))),
             |             i -> i < n) AS idx
             |         FROM blk),
             |pix AS (SELECT doc_id, n, p,
             |          CASE WHEN len(idx) = 0 THEN 0
             |               ELSE CAST(list_sum(list_transform(idx,
             |                      i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
             |                           + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS BIGINT)
             |                    // len(idx) END AS v
             |        FROM cell),
             |mn AS (SELECT doc_id, CAST(sum(v) AS BIGINT) // 64 AS mean FROM pix GROUP BY doc_id),
             |hsh AS (SELECT pix.doc_id,
             |         bit_xor(CASE WHEN v > mean THEN
             |           CASE WHEN p = 63 THEN (-9223372036854775807::BIGINT - 1::BIGINT)
             |                ELSE (1::BIGINT << CAST(p AS INT)) END
             |           ELSE 0::BIGINT END) AS ahash
             |        FROM pix JOIN mn USING (doc_id) GROUP BY pix.doc_id)
             |SELECT ahash, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_docs
             |FROM hsh GROUP BY ahash HAVING count(*) >= 2""".stripMargin)),

    // resize stub (r15): area-pooling thumbnail of the payload grid —
    // the decode→transform→re-encode plumbing with a binary output
    // column; the hex of the resized payload makes the row comparable
    // (DuckDB md5 is varchar-only, hex replays byte-exactly)
    Query("mm_resize_stub", (s, dir) =>
      multimodal.Multimodal.resizeStub(Tables.documents(s, dir), 32, 8, 8)
        .select(col("doc_id"), col("n_bytes"), col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          hex(col("out_payload")).as("out_hex")),
      Some("""WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
             |                  octet_length(encode(text)) AS n FROM documents),
             |px AS (SELECT doc_id, h, n, greatest(1, (n + 31) // 32) AS srch,
             |              unnest(range(0, 64)) AS p FROM t),
             |blk AS (SELECT doc_id, h, n, p,
             |          (p % 8) * 32 // 8 AS x0,
             |          greatest((p % 8) * 32 // 8 + 1, ((p % 8) + 1) * 32 // 8) AS x1,
             |          (p // 8) * srch // 8 AS y0,
             |          greatest((p // 8) * srch // 8 + 1, ((p // 8) + 1) * srch // 8) AS y1
             |        FROM px),
             |cell AS (SELECT doc_id, h, n, p,
             |           list_filter(flatten(list_transform(range(y0, y1),
             |             yy -> list_transform(range(x0, x1), xx -> yy * 32 + xx))),
             |             i -> i < n) AS idx
             |         FROM blk),
             |pix AS (SELECT doc_id, n, p,
             |          CASE WHEN len(idx) = 0 THEN 0
             |               ELSE CAST(list_sum(list_transform(idx,
             |                      i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
             |                           + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS BIGINT)
             |                    // len(idx) END AS v
             |        FROM cell)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
             |       CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
             |       array_to_string(list_transform(list(v ORDER BY p),
             |         b -> substring('0123456789ABCDEF', CAST(b // 16 + 1 AS INT), 1)
             |              || substring('0123456789ABCDEF', CAST(b % 16 + 1 AS INT), 1)), '') AS out_hex
             |FROM pix GROUP BY doc_id, n""".stripMargin)),

    Query("pipe_decontaminate", (s, dir) =>
      pipeline.Pipeline.decontaminate(Tables.documents(s, dir),
        Seq("src0", "src1"), 4),
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
             |raw AS (SELECT doc_id, source,
             |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
             |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
             |        FROM w),
             |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
             |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1'))
             |SELECT doc_id, source, count(*) AS n_shared_grams
             |FROM g JOIN b USING (gram)
             |WHERE source NOT IN ('src0', 'src1')
             |GROUP BY doc_id, source""".stripMargin)),

    // content-stable train/val/test split audit (md5 bands; per
    // (split, source) counts catch a source missing from val)
    Query("pipe_holdout_split", (s, dir) =>
      pipeline.Pipeline.holdoutSplit(Tables.documents(s, dir)),
      Some("""SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '03' THEN 'test'
             |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '06' THEN 'val'
             |            ELSE 'train' END AS split,
             |       source, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY 1, 2""".stripMargin)),

    // T5-style span-corruption mask plan (stratified LCG placement,
    // ~15% corruption at span length 3, all-BIGINT deterministic)
    Query("pipe_span_corruption", (s, dir) =>
      pipeline.Pipeline.spanCorruption(Tables.documents(s, dir)),
      Some(pipeline.Pipeline.spanCorruptionSql())),

    // CCNet-style reference-LM perplexity score: add-1 bigram model
    // over src0/src1, per-doc exact fixed-point nll sum via DetLn
    Query("pipe_lm_score", (s, dir) =>
      pipeline.Pipeline.lmScore(Tables.documents(s, dir), Seq("src0", "src1")),
      Some(pipeline.Pipeline.lmScoreSql(Seq("src0", "src1")))),

    // DSIR-style importance resampling toward the src0/src1 target:
    // exact-integer unigram weight ratio, md5-band acceptance
    Query("pipe_importance_resample", (s, dir) =>
      pipeline.Pipeline.importanceResample(Tables.documents(s, dir),
        Seq("src0", "src1")),
      Some(pipeline.Pipeline.importanceResampleSql(Seq("src0", "src1")))),

    // tokenizer fertility audit: exact char/BPE-token sums and
    // tokens-per-char by (lang, source)
    Query("pipe_tokenizer_fertility", (s, dir) =>
      pipeline.Pipeline.tokenizerFertility(Tables.documents(s, dir)),
      Some(pipeline.Pipeline.tokenizerFertilitySql)),

    // fasttext-style hashed linear quality classifier INFERENCE with a
    // frozen fixed-point model: exact BIGINT scores, md5-bucket hash
    // classifier TRAINING stage (r19, VERDICT r18 #4): per-bucket
    // integer count stats + fixed-point Laplace keep-rate weights from
    // a 10% seed sample labeled by the library's own frozen filter (a
    // self-contained distillation loop; production passes real labels
    // through trainFromLabels). All-integer → hash-green.
    Query("pipe_quality_train", (s, dir) =>
      pipeline.Pipeline.qualityClassifierTrain(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)),
      Some(pipeline.Pipeline.qualityClassifierTrainSql())),

    Query("pipe_quality_classifier", (s, dir) =>
      pipeline.Pipeline.qualityClassifier(Tables.documents(s, dir)),
      Some(pipeline.Pipeline.qualityClassifierSql())),

    // classifier EVAL (r20, VERDICT r19 #4 — train→infer→MEASURE):
    // exact TP/FP/FN/TN + precision/recall/F1 of the doc_id%10=0-seed
    // distilled weights on the DISJOINT doc_id%10=5 held-out split,
    // truth from the frozen labeler. Each ratio one IEEE division of
    // two exact BIGINTs → hash-green.
    Query("pipe_quality_eval", (s, dir) =>
      pipeline.Pipeline.qualityEval(Tables.documents(s, dir)),
      Some(pipeline.Pipeline.qualityEvalSql())),

    // curriculum schedule head: cleanest docs first (quality-rule
    // failure count as stage), seeded shuffle within stage
    Query("pipe_curriculum", (s, dir) =>
      pipeline.Pipeline.curriculumOrder(Tables.documents(s, dir), 7, 100),
      Some(pipeline.Pipeline.curriculumOrderSql(7, 100))),

    // tokenizer unigram profile: corpus frequency of every BPE piece
    // (vocab-bounded output at any corpus size)
    Query("pipe_vocab_freq", (s, dir) =>
      pipeline.Pipeline.vocabFreq(Tables.documents(s, dir)),
      Some(text.Bpe.vocabFreqSql("text"))),

    // cross-source duplication audit: per source pair, fingerprints
    // present in both (one shuffle, in-row pair expansion)
    Query("pipe_cross_source_dup", (s, dir) =>
      pipeline.Pipeline.crossSourceDup(Tables.documents(s, dir)),
      Some(raw"""WITH f AS (SELECT DISTINCT
                |    md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fp,
                |    source
                |  FROM documents)
                |SELECT a.source AS source_a, b.source AS source_b,
                |       CAST(count(*) AS BIGINT) AS n_shared
                |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
                |GROUP BY 1, 2""".stripMargin)),

    // alpha=0.5 temperature-resampled source mixture (sqrt is the one
    // engine-exact power); per-source audit frame, all-BIGINT output
    Query("pipe_temperature_mix", (s, dir) =>
      pipeline.Pipeline.temperatureMix(Tables.documents(s, dir), 200L),
      Some(pipeline.Pipeline.temperatureMixSql(200L))),

    // contamination attribution: which benchmark doc each contaminated
    // doc overlaps most, and how many it touches
    Query("pipe_contamination_report", (s, dir) =>
      pipeline.Pipeline.contaminationReport(Tables.documents(s, dir),
        Seq("src0", "src1"), 4),
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
             |raw AS (SELECT doc_id, source,
             |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
             |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
             |        FROM w),
             |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
             |b AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE source IN ('src0', 'src1')),
             |p AS (SELECT g.doc_id, b.bench_id, count(*) AS n_shared
             |      FROM g JOIN b USING (gram)
             |      WHERE g.source NOT IN ('src0', 'src1')
             |      GROUP BY 1, 2),
             |r AS (SELECT doc_id, bench_id, n_shared,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, bench_id) AS rn,
             |        count(*) OVER (PARTITION BY doc_id) AS n_bench_docs
             |      FROM p)
             |SELECT doc_id, bench_id AS top_bench_id,
             |       CAST(n_shared AS BIGINT) AS n_shared,
             |       CAST(n_bench_docs AS BIGINT) AS n_bench_docs
             |FROM r WHERE rn = 1""".stripMargin)),

    // threshold decontamination: contaminated when >= 10% of a doc's
    // distinct 4-grams appear in the benchmark sources
    Query("pipe_decontaminate_fuzzy", (s, dir) =>
      pipeline.Pipeline.decontaminateFuzzy(Tables.documents(s, dir),
        Seq("src0", "src1"), 4, 10),
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
             |raw AS (SELECT doc_id, source,
             |               unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
             |                                     i -> array_to_string(words[i:i+3], ' '))) AS gram
             |        FROM w),
             |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
             |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
             |t AS (SELECT doc_id, source, count(*) AS n_total
             |      FROM g WHERE source NOT IN ('src0', 'src1') GROUP BY doc_id, source),
             |sh AS (SELECT g.doc_id, count(*) AS n_shared
             |       FROM g JOIN b USING (gram)
             |       WHERE source NOT IN ('src0', 'src1') GROUP BY g.doc_id)
             |SELECT t.doc_id, t.source,
             |       CAST(n_shared AS BIGINT) AS n_shared,
             |       CAST(n_total AS BIGINT) AS n_total,
             |       CAST(n_shared AS DOUBLE) / CAST(n_total AS DOUBLE) AS overlap_ratio
             |FROM t JOIN sh USING (doc_id)
             |WHERE n_shared * 100 >= 10 * n_total""".stripMargin)),

    Query("pipe_redact", (s, dir) =>
      pipeline.Pipeline.redact(injectPii(Tables.documents(s, dir))),
      Some(raw"""WITH p AS (SELECT doc_id,
                |  text || CASE WHEN doc_id % 7 = 0
                |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                |               ELSE '' END
                |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
                |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS t
                |  FROM documents)
                |SELECT doc_id,
                |  CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
                |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
                |  regexp_replace(regexp_replace(regexp_replace(t,
                |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g') AS redacted
                |FROM p""".stripMargin)),

    Query("pipe_release_manifest", (s, dir) =>
      // the full release chain over the PII-injected corpus (so the
      // scrub stage does real work); benchmark = src0/src1, 4-gram
      // decontamination, quality gate at 0.2 (measured: keeps ~70% at
      // every SF)
      pipeline.Pipeline.releaseManifest(injectPii(Tables.documents(s, dir)),
        Seq("src0", "src1"), 4, 0.2),
      Some(raw"""WITH p AS (SELECT doc_id, source,
                |  text || CASE WHEN doc_id % 7 = 0
                |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                |               ELSE '' END
                |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
                |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
                |  FROM documents),
                |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
                |fp AS (SELECT doc_id, source, text,
                |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
                |       FROM corpus),
                |keep AS (SELECT doc_id, source, text FROM fp
                |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
                |q AS (SELECT doc_id, source, text,
                |        CAST(length(text) AS BIGINT) AS n_chars,
                |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
                |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
                |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
                |      FROM keep),
                |scored AS (SELECT doc_id, source, text, n_tokens,
                |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
                |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
                |      FROM q),
                |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
                |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
                |raw AS (SELECT doc_id, source,
                |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
                |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
                |        FROM w),
                |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
                |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
                |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
                |        WHERE source NOT IN ('src0', 'src1')),
                |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
                |SELECT doc_id, source, n_tokens AS n_tok, quality_score,
                |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
                |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
                |  md5(regexp_replace(regexp_replace(regexp_replace(text,
                |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
                |FROM clean""".stripMargin)),

    // v2 = v1 + the MinHash-LSH near-dup stage between the fingerprint
    // dedup and the quality gate (recall-first 16×2 banding, exact
    // Jaccard ≥ 0.8 confirm, min-label clusters; non-fp-identical
    // near-dup pairs measured 24-25 per SF, so the stage fires at
    // every verify SF)
    Query("pipe_release_manifest_v2", (s, dir) =>
      pipeline.Pipeline.releaseManifestV2(injectPii(Tables.documents(s, dir)),
        Seq("src0", "src1"), 4, 0.2),
      // v1's chain + the near-dup stage: the confirmed-pair set replays
      // as ALL-PAIRS shingle-Jaccard >= 0.8 over the fingerprint keepers
      // (the 16x2 banding's per-pair miss probability is ~1e-7, and
      // PipelineSpec asserts candidate completeness vs all-pairs on the
      // spec corpus), then the recursive min-label clusters of
      // dedup_clusters' oracle
      Some(raw"""WITH RECURSIVE p AS (SELECT doc_id, source,
                |  text || CASE WHEN doc_id % 7 = 0
                |               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                |               ELSE '' END
                |       || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 today' ELSE '' END
                |       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
                |  FROM documents),
                |corpus AS (SELECT * FROM p WHERE source NOT IN ('src0', 'src1')),
                |fp AS (SELECT doc_id, source, text,
                |         md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS f
                |       FROM corpus),
                |keep AS (SELECT doc_id, source, text FROM fp
                |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
                |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM keep),
                |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM tk),
                |pr AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
                |       WHERE len(a.sh) > 0 AND len(b2.sh) > 0
                |         AND CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)
                |             / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) >= 0.8),
                |bi AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
                |reach(id, r) AS (SELECT DISTINCT s, s FROM bi
                |  UNION SELECT bi.s, reach.r FROM bi JOIN reach ON bi.d = reach.id),
                |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
                |keep2 AS (SELECT keep.* FROM keep LEFT JOIN lbl ON keep.doc_id = lbl.id
                |          WHERE lbl.cluster IS NULL OR lbl.cluster = keep.doc_id),
                |q AS (SELECT doc_id, source, text,
                |        CAST(length(text) AS BIGINT) AS n_chars,
                |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
                |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS BIGINT) AS stop_hits,
                |        CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct_hits
                |      FROM keep2),
                |scored AS (SELECT doc_id, source, text, n_tokens,
                |        least(1.0, n_tokens / 100.0) * (1.0 - CAST(punct_hits AS DOUBLE) / n_chars)
                |          * (0.5 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens)) AS quality_score
                |      FROM q),
                |flt AS (SELECT * FROM scored WHERE quality_score >= 0.2),
                |w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM p),
                |raw AS (SELECT doc_id, source,
                |        unnest(list_transform(range(1, greatest(len(words) - 3, 0) + 1),
                |                              i -> array_to_string(words[i:i+3], ' '))) AS gram
                |        FROM w),
                |g AS (SELECT DISTINCT doc_id, source, gram FROM raw),
                |b AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
                |bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)
                |        WHERE source NOT IN ('src0', 'src1')),
                |clean AS (SELECT * FROM flt WHERE doc_id NOT IN (SELECT doc_id FROM bad))
                |SELECT doc_id, source, n_tokens AS n_tok, quality_score,
                |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                |     + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
                |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_redacted,
                |  md5(regexp_replace(regexp_replace(regexp_replace(text,
                |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                |    '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g')) AS redacted_md5
                |FROM clean""".stripMargin)),

    // v3 = v2 + the SemDeDup-shaped semantic stage: survivors'
    // embeddings through the τ-dispatched near-dup (IVF route at
    // τ=0.45) → clusters → keeper. Semantic pairs at τ=0.45: 7/14 per
    // SF over the full corpus, so the stage fires at every verify SF
    Query("pipe_release_manifest_v3", (s, dir) =>
      pipeline.Pipeline.releaseManifestV3(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2),
      Some(manifestV3Sql)),

    // v4 = v3 + the shard step: the released corpus dealt into 4
    // size-balanced training shards, per-shard release manifest
    Query("pipe_release_manifest_v4", (s, dir) =>
      pipeline.Pipeline.releaseManifestV4(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2, 4),
      Some(manifestV4Sql)),

    // v5 = v3 + the paragraph-grain near-dup strip between the
    // document-grain keeper chain and the manifest tail (r15): dup
    // 32-token blocks lose their non-canonical copies; n_tok /
    // quality / redacted_md5 reflect the stripped text and
    // n_para_stripped audits the stage. (On this corpus the stage
    // usually no-ops post-doc-dedup — measured, see Pipeline scaladoc;
    // PipelineSpec proves the strip on a constructed fixture.)
    Query("pipe_release_manifest_v5", (s, dir) =>
      pipeline.Pipeline.releaseManifestV5(injectPii(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), Seq("src0", "src1"), 4, 0.2),
      Some(manifestV5Sql(32, 0.8))),

    // per-source dataset card (r15): the release-audit statistics
    // table — every column an integer count or exact sum
    Query("pipe_dataset_card", (s, dir) =>
      pipeline.Pipeline.datasetCard(Tables.documents(s, dir), 0.2),
      Some(pipeline.Pipeline.datasetCardSql(0.2))),

    // embedding-space topic clustering (r17, VERDICT r16 #6): Lloyd
    // k-means over the document embeddings (the IVF machinery
    // verbatim), then the per-cluster dataset card — docs, tokens,
    // dominant source/lang, top term by lift. Rows-only (Lloyd means
    // aren't SQL-expressible); ClusterTopicsSpec pins assignment ==
    // nearest-centroid recompute + stats == the frozen-centroid
    // program's stats on the same assignment.
    Query("pipe_cluster_topics", (s, dir) =>
      pipeline.Pipeline.clusterTopics(Tables.documents(s, dir),
        Tables.embeddings(s, dir), 8), None),

    // the hash-green half of the pair: the SAME per-cluster card
    // program under FROZEN seeded data-free centroids, so the whole
    // stats pipeline — cosine argmax assignment included — replays
    // exactly in DuckDB (generated from the one frozenCentroids
    // definition)
    Query("pipe_cluster_card", (s, dir) =>
      pipeline.Pipeline.clusterCard(Tables.documents(s, dir),
        Tables.embeddings(s, dir), 4),
      Some(pipeline.Pipeline.clusterCardSql(4))),

    // SemDeDup under the frozen centroids: within-cluster cosine
    // pruning, deterministic keeper rule, τ=0.4 (the dedup_embedding
    // similarity band)
    Query("pipe_semdedup", (s, dir) =>
      pipeline.Pipeline.semDedup(Tables.embeddings(s, dir), 8, 0.4),
      Some(pipeline.Pipeline.semDedupSql(8, 0.4))),

    // SemDeDup's PRODUCTION path (r19, VERDICT r18 #1): Lloyd-TRAINED
    // centroids at the paper's k ∝ n regime (k = ceil(sqrt(n))) — the
    // balanced-occupancy form whose within-cluster pair work stays
    // ~n^1.5; same semPrune, same exact-cosine confirm, so pruned ⊆
    // exact at any centroid quality (SemDedupSpec). Rows-only (Lloyd
    // argmax); the frozen form above stays the oracle twin.
    Query("pipe_semdedup_trained", (s, dir) =>
      pipeline.Pipeline.semDedupTrained(Tables.embeddings(s, dir), 0.4), None),

    // the dedup-cascade audit: per-stage removal counts for the
    // exact → fuzzy → semantic pipeline order
    Query("pipe_dedup_report", (s, dir) =>
      pipeline.Pipeline.dedupCascadeReport(
        Tables.documents(s, dir), Tables.embeddings(s, dir)),
      Some(pipeline.Pipeline.dedupCascadeReportSql())),

    // deterministic epoch shuffle (r15): seeded-hash training order,
    // 3 epochs × first 50 positions — reproducible on any engine
    Query("pipe_epoch_shuffle", (s, dir) =>
      pipeline.Pipeline.epochShuffle(Tables.documents(s, dir), 3, 50),
      Some(pipeline.Pipeline.epochShuffleSql(3, 50))),

    // BPE merge TRAINING (r15): learn 25 merges from the corpus — the
    // vocab-induction step before any token counting. One corpus pass
    // builds the word-count vocab; each iteration is vocab-sized.
    // Iterative argmax → rows-only; exact naive-recompute spec.
    Query("pipe_bpe_train", (s, dir) =>
      text.Bpe.trainMerges(Tables.documents(s, dir), 25), None),

    Query("pipe_weighted_mix", (s, dir) => {
      val up = Seq("src0", "src1", "src2", "src3", "src4")
      val keep = Seq("src5", "src6", "src7", "src8", "src9")
      val w = when(col("source").isin(up: _*), lit(2.5))
        .when(col("source").isin(keep: _*), lit(1.0)).otherwise(lit(0.25))
      val band = when(col("source").isin(up: _*), lit("80"))
        .when(col("source").isin(keep: _*), lit("00")).otherwise(lit("40"))
      pipeline.Pipeline.weightedMix(Tables.documents(s, dir), w, band)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
    }, Some("""WITH d AS (SELECT doc_id, source,
              |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2
              |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 1
              |       ELSE 0 END AS wfull,
              |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN '80'
              |       WHEN source IN ('src5','src6','src7','src8','src9') THEN '00'
              |       ELSE '40' END AS band
              |  FROM documents),
              |e AS (SELECT unnest(range(0, 3)) AS epoch)
              |SELECT doc_id, source, epoch FROM d, e
              |WHERE epoch <= wfull
              |  AND (epoch < wfull OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < band)""".stripMargin)),

    Query("pipe_pack_sequences", (s, dir) =>
      pipeline.Pipeline.packSequences(Tables.documents(s, dir), 1000L),
      Some(s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |             CAST((CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) - n_tok) // 1000
             |                  AS BIGINT) AS bin
             |      FROM t)
             |SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY bin""".stripMargin)),

    // per-doc loss-mask span manifest over the packed concat stream
    // (bin, offset, in-bin span length, overflow into later bins)
    Query("pipe_loss_mask", (s, dir) =>
      pipeline.Pipeline.lossMaskManifest(Tables.documents(s, dir), 1000L),
      Some(s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |             CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) - n_tok AS start
             |      FROM t)
             |SELECT doc_id, n_tok,
             |       start // 1000 AS bin,
             |       start % 1000 AS offset_in_bin,
             |       least(n_tok, 1000 - (start % 1000)) AS len_in_bin,
             |       greatest(0, (start % 1000) + n_tok - 1000) AS n_overflow
             |FROM c""".stripMargin)),

    Query("pipe_strip_spans", (s, dir) =>
      pipeline.Pipeline.stripRepeatedSpans(Tables.documents(s, dir), 8),
      // apply step of dedup_substring: the same span derivation, then
      // tokens at covered positions dropped and the remainder re-joined
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
             |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t WHERE len(toks) >= 8)),
             |r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS n_occ,
             |             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
             |f AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
             |g AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
             |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM g GROUP BY doc_id, grp),
             |tokpos AS (SELECT doc_id, tok, p - 1 AS pos FROM (
             |    SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS p FROM t)),
             |kept AS (SELECT tp.doc_id, tp.tok, tp.pos FROM tokpos tp
             |         WHERE NOT EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = tp.doc_id AND tp.pos BETWEEN sp.s AND sp.e)),
             |o AS (SELECT doc_id, count(*) AS n_kept, md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
             |      FROM kept GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
             |       CAST(len(t.toks) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
             |       coalesce(o.cleaned_md5, md5('')) AS cleaned_md5
             |FROM t LEFT JOIN o ON t.doc_id = o.doc_id""".stripMargin)),

    // token-length inventory: (source, 32-token bucket) doc counts +
    // exact BPE token sums — the context-length planning profile
    Query("pipe_token_histogram", (s, dir) =>
      pipeline.Pipeline.tokenHistogram(Tables.documents(s, dir), 32L),
      Some(s"""WITH t AS (SELECT source, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents)
             |SELECT source, n_tok // 32 AS bucket, count(*) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS sum_tok
             |FROM t GROUP BY 1, 2""".stripMargin)),

    // deterministic size-balanced sharding: (tokens desc, id) rank
    // dealt round-robin into 4 shards, per-shard manifest
    Query("pipe_shard_manifest", (s, dir) =>
      pipeline.Pipeline.shardManifest(Tables.documents(s, dir), 4),
      Some(s"""WITH t AS (SELECT doc_id, ${text.Bpe.tokenCountSql("text")} AS n_tok FROM documents),
             |r AS (SELECT doc_id, n_tok,
             |             (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 4 AS shard
             |      FROM t)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             |       max(n_tok) AS max_tok, min(n_tok) AS min_tok
             |FROM r GROUP BY shard""".stripMargin)),

    // Gopher/C4 rule-based quality report: five integer-threshold
    // heuristics + per-doc failed-rule bitmask (narrow, codegen-only)
    Query("pipe_quality_rules", (s, dir) =>
      pipeline.Pipeline.qualityRules(Tables.documents(s, dir)),
      // generated from the same Qr*/Rep* constants as the Spark program
      // (pipeline/Pipeline.scala) — the engines share one definition
      Some(pipeline.Pipeline.qualityRulesSql)),

    // Gopher repetition gate: top word-2-gram char coverage + duplicated
    // 5-gram char coverage per doc, integer cross-multiplied thresholds
    Query("pipe_repetition_filter", (s, dir) =>
      pipeline.Pipeline.repetitionFilter(Tables.documents(s, dir)),
      Some(pipeline.Pipeline.repetitionFilterSql)),

    // per-domain token-budget cap (the data-mixing admit step): docs
    // admitted in id order until the source's BPE budget is crossed
    Query("pipe_domain_mix", (s, dir) =>
      pipeline.Pipeline.domainMix(Tables.documents(s, dir), 1000L),
      Some(pipeline.Pipeline.domainMixSql(1000L)))
  )
}
