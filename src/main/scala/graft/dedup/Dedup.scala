package graft.dedup

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions
import graft.text.TextOps

/** Deduplication operators over the `documents` table.
  *
  * Scale design: no variant ever materializes the full pairwise cross
  * product. Candidate pairs always come from a bucketed equi-join
  * (exact hash, fingerprint, min-shingle bucket, or LSH band), so the
  * shuffle is on bucket keys and the quadratic work is confined to
  * (small) candidate groups.
  *
  * Caching contract: the pair operators (ngram Jaccard, containment,
  * MinHash, embedding IVF/LSH, and their incremental forms)
  * `localCheckpoint` their shared intermediates, eagerly, one job each:
  * nothing enters the cache manager, no two jobs of one plan race to
  * build the same block, and the blocks go when the result is collected
  * as garbage (Spark's cleaner) or, on the release path, when
  * [[CachedPairs.clusters]] drops them.
  */
object Dedup {

  /** Word n-gram shingle set (distinct), the comparison unit for the
    * string-keyed near-dup variants — built from array functions, no
    * UDF. Shingles chain via zip_with over shifted copies (array-at-a-
    * time, not per-index lambdas). Docs shorter than n shingle to the
    * empty set. Pass a *materialized* token column: inlining the split
    * here would re-split per shifted copy. */
  def shingleSetFromTokens(toks: Column, n: Int): Column =
    array_distinct(positionalWindows(toks, n))

  /** All n-token windows of a token array, in position order (the
    * non-distinct positional form of [[shingleSetFromTokens]]; window i
    * of the result covers tokens i..i+n-1, 1-based). Docs shorter than
    * n yield the empty array. One codegen'd kernel since r22
    * ([[graft.functions.PositionalWindows]], guide §4 — the zip_with
    * string-concat chain it replaces was an interpreted
    * CodegenFallback per window); bit-identical output
    * (ShingleKernelsSpec). */
  def positionalWindows(toks: Column, n: Int): Column =
    graft.functions.ShingleKernels.positionalWindows(toks, n)

  /** Convenience form over raw text — only for small inputs/specs; the
    * operators materialize the token column first. */
  def shingleSet(textCol: Column, n: Int): Column =
    shingleSetFromTokens(split(textCol, " "), n)

  /** Shingle document-frequency table: one slim (shingle, df) row per
    * distinct shingle, keyed — and shuffled — by shingle. This is the
    * prefix-filtering bound's backing table: at warehouse scale it is a
    * MAINTAINED intermediate (df counts are additive per ingest batch;
    * `graft.river.StreamingRiver` maintains exactly this table in its
    * foreachBatch index stage), and the library form recomputes it from
    * the corpus in one explode + hash aggregate. */
  private[graft] def shingleDf(s: DataFrame): DataFrame =
    s.select(explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))

  /** HOT-shingle TABLE: one slim row per shingle whose document
    * frequency exceeds `maxDf`. This is the prefix-filtering bound
    * that keeps min-shingle candidate buckets from going quadratic on
    * Zipfian text: a shingle present in a constant fraction of the
    * corpus would otherwise collect that fraction into ONE bucket and
    * the in-bucket self-join does occupancy² confirm work. Excluding
    * df > maxDf shingles from bucket-key eligibility caps rare-bucket
    * occupancy at maxDf, so total candidate pairs are ≤ n·maxDf/2 —
    * linear in the corpus. Materialized as a TABLE, never collected:
    * on a real Zipfian web corpus the distinct shingles with df >
    * maxDf number in the 10⁸s (a multi-GB set), so the bound is
    * applied with a shingle-keyed anti-join ([[dfBoundedMinBuckets]]),
    * not a broadcast array. */
  private[graft] def hotShingleTable(s: DataFrame, maxDf: Long): DataFrame =
    shingleDf(s).filter(col("df") > maxDf).select("shingle")

  /** JOIN-form df-bounded min bucket: one (bucket, doc_id) row per
    * doc. The bucket key is the smallest shingle that is not hot; docs
    * whose every shingle is hot (stopword-soup tail — a doc must
    * consist entirely of >maxDf-df shingles to land here) fall back to
    * their overall min shingle, preserving the old rule for exactly
    * that residual; docs with an empty shingle set get a null bucket
    * (they join to nothing, exactly as before). Deterministic given
    * the corpus, so the DuckDB oracle replays it exactly.
    *
    * Shape: explode to slim (doc_id, shingle) rows, anti-join the hot
    * table on shingle (a shingle-keyed shuffle — broadcast only if the
    * optimizer deems the hot side small), min(shingle) per doc, then
    * one doc_id-keyed left join back onto the per-doc overall min for
    * the hot-only residual. Every exchange is keyed and linear in
    * shingle instances; nothing is ever collected into a row. */
  private[graft] def dfBoundedMinBuckets(s: DataFrame, hot: DataFrame): DataFrame = {
    val rareMin = s.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(hot, Seq("shingle"), "left_anti")
      .groupBy("doc_id").agg(min(col("shingle")).as("rare_min"))
    s.select(col("doc_id"), array_min(col("sh")).as("all_min"))
      .join(rareMin, Seq("doc_id"), "left")
      .select(coalesce(col("rare_min"), col("all_min")).as("bucket"), col("doc_id"))
  }

  /** JOIN-form df-bounded kMin buckets (the [[containment]] rule): up
    * to `kMin` (bucket, doc_id) rows per doc — its rare shingles
    * ascending, then (for hot-deficient docs) its hot shingles
    * ascending, first `kMin` of the concatenation; identical to
    * sorting the shingle set with hot membership as the major key.
    * The rank runs in a per-doc window over the slim exploded rows —
    * partitioned by doc_id, so the sort is within doc-sized groups,
    * linear in shingle instances. */
  private[graft] def dfBoundedKMinBuckets(s: DataFrame, hot: DataFrame,
      kMin: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = s.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(hot.withColumn("is_hot", lit(1)), Seq("shingle"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(0)))
    flagged
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("is_hot"), col("shingle"))))
      .filter(col("rn") <= kMin)
      .select(col("doc_id"), col("shingle").as("bucket"))
  }

  /** GAUGE form of the df bound — kept ONLY as the spec reference
    * ([[dfBoundedMinBuckets]] must stay row-equal to it; `DfBoundSpec`
    * asserts this). Collects every hot shingle into ONE broadcast
    * array row; safe on the test corpora (tiny vocab) but NOT the
    * library path — a real corpus's hot set is far too large for a
    * single-row array. No operator calls this. */
  private[graft] def hotShinglesGauge(s: DataFrame, maxDf: Long): DataFrame =
    hotShingleTable(s, maxDf).agg(collect_list(col("shingle")).as("hot"))

  /** Spec-reference twin of the gauge form (see [[hotShinglesGauge]]). */
  private[graft] def dfBoundedMinGauge(sh: Column, hot: Column): Column =
    coalesce(array_min(array_except(sh, hot)), array_min(sh))

  /** Exact dedup: hash-groupBy on the text. One shuffle on the hash. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Near-dup clusters keyed by the normalized token-set fingerprint. */
  def byFingerprint(docs: DataFrame): DataFrame =
    docs.groupBy(TextOps.fingerprintCol(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))

  /** Exact Jaccard between two attached shingle-set columns, keeping
    * only pairs at or above `tau`. Shared confirm step for the
    * candidate-pair generators (ngram bucket, MinHash LSH). */
  private[dedup] def confirmJaccard(pairs: DataFrame, shingles: DataFrame,
      tau: Double): DataFrame =
    pairs
      .join(shingles.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(shingles.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("a_sh")) + size(col("b_sh")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** Exact n-gram Jaccard over bucketed candidates: docs sharing their
    * smallest NON-HOT shingle (df ≤ `maxDf`; see [[hotShingleTable]]) are
    * compared; pairs at or above `tau` survive. The df bound is the
    * prefix-filtering fix for the Zipfian hot-bucket hazard: bucket
    * occupancy is capped at maxDf, so candidate pairs stay linear in
    * the corpus no matter how skewed the shingle distribution is. The
    * bucket self-join ships only (bucket, doc_id) — the shingle sets
    * are attached afterwards by id, so the wide arrays cross the wire
    * once, not once per candidate row. The shingle table is checkpointed
    * for its uses (at warehouse scale it would be a materialized
    * intermediate table instead; the df counts it feeds are additive
    * per ingest batch). maxDf=16 sits above the verify corpus's max
    * natural df (7 at sf0.01 — rule armed, output unchanged there)
    * and inside the bench corpus's tail (max 25 at sf0.1), and binds
    * hard on the skew-injected audit corpus. The bound is applied in
    * JOIN form ([[dfBoundedMinBuckets]]): the hot set is a table in a
    * shingle-keyed anti-join, never a collected array — real-corpus
    * hot-set cardinality (10⁸s of distinct shingles under Zipf) is a
    * data-size problem for a broadcast gauge, not for a join. */
  def ngramJaccard(docs: DataFrame, n: Int, tau: Double, maxDf: Long = 16): DataFrame = {
    val s = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shingleSetFromTokens(col("toks"), n).as("sh"))
      .localCheckpoint()
    // checkpointed: the bucket frame feeds both sides of the self-join
    val slim = dfBoundedMinBuckets(s, hotShingleTable(s, maxDf)).localCheckpoint()
    val pairs = slim.select(col("bucket"), col("doc_id").as("a_id"))
      .join(slim.select(col("bucket"), col("doc_id").as("b_id")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    confirmJaccard(pairs, s, tau)
  }

  /** Containment near-dup — the QUOTE-INCLUSION detector: pairs where
    * the smaller doc's shingle set is (nearly) a subset of the
    * larger's, scored |∩| / min(|A|, |B|). Symmetric Jaccard misses
    * exactly this case: a doc quoting another wholesale has J ≈
    * |A|/|B| (low when sizes differ) but containment 1.0 — the
    * duplication mode training corpora hit when pages embed other
    * pages. Candidates come from the `kMin` smallest RARE shingles per
    * doc (df ≤ `maxDf`, hot-deficient docs padding with their smallest
    * hot shingles — the min-bucket rule widened and df-bounded: a
    * contained doc's shingles are all present in the container, so
    * sharing one of the k smallest rare ones is likely though not
    * guaranteed — the same deterministic-rule-replayed-by-the-oracle
    * contract as [[ngramJaccard]], with the same linear candidate
    * bound: rare-bucket occupancy ≤ maxDf, candidate pairs ≤
    * n·kMin·maxDf/2); the bucket join ships slim (bucket, id) rows
    * and the wide shingle arrays attach by id for the confirm. */
  def containment(docs: DataFrame, n: Int, tau: Double, kMin: Int = 4,
      maxDf: Long = 16): DataFrame = {
    val s = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shingleSetFromTokens(col("toks"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    // rare ascending, then hot ascending, first kMin — join form: hot
    // membership comes from a shingle-keyed join, the per-doc rank from
    // a doc_id-partitioned window over the slim exploded rows
    val slim = dfBoundedKMinBuckets(s, hotShingleTable(s, maxDf), kMin).localCheckpoint()
    val pairs = slim.select(col("bucket"), col("doc_id").as("a_id"))
      .join(slim.select(col("bucket"), col("doc_id").as("b_id")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    pairs
      .join(s.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(s.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(size(col("a_sh")), size(col("b_sh"))))
      .filter(col("containment") >= tau)
      .select("a_id", "b_id", "containment")
  }

  /** Incremental [[ngramJaccard]]: a NEW batch of docs against an
    * existing corpus snapshot. The old side's (bucket, doc_id) frame
    * stands for the persisted min-shingle bucket index a production
    * corpus maintains (append each deduped batch's buckets); only the
    * new docs are shingled fresh, and the candidate joins — new buckets
    * × index, plus the tiny new × new self-join — are sized by the
    * DELTA, never the corpus. Emits exactly the full self-join's pairs
    * that touch ≥1 new doc (driver oracle `dedup_incremental` + the
    * set-equality case in `EsAggsSpec`), `a_id < b_id` regardless of
    * side.
    *
    * PRECONDITION: `oldDocs` and `newDocs` must be doc_id-disjoint (a
    * snapshot and its delta always are). An id present on both sides
    * would duplicate shingle rows in the confirm frame and multiply
    * join output; the self-pair an equal id would otherwise emit
    * (least = greatest → jaccard 1.0) is guarded out below. */
  def incrementalNgramJaccard(oldDocs: DataFrame, newDocs: DataFrame,
      n: Int, tau: Double, maxDf: Long = 16): DataFrame = {
    def shingles(d: DataFrame) = d
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shingleSetFromTokens(col("toks"), n).as("sh"))
    // df over old ∪ new, same bound as the full recompute — at scale
    // the df table is MAINTAINED, not recomputed (counts are additive
    // per batch: `DedupIndex.updateWithBatch` merges each delta's
    // shingle counts into the snapshot, and the `WithHot` core below
    // consumes that maintained table directly); a shingle crossing
    // maxDf re-buckets its docs at the next compaction.
    incrementalNgramJaccardWithHot(oldDocs, newDocs,
      hotShingleTable(shingles(oldDocs).unionByName(shingles(newDocs)), maxDf),
      n, tau)
  }

  /** Core of [[incrementalNgramJaccard]] with the hot-shingle set
    * supplied by the caller — either recomputed over old ∪ new (above;
    * row-identical, since df(old ∪ new) = merged per-batch df) or read
    * from the MAINTAINED df table (`DedupIndex`). Join form: the hot
    * set is a TABLE feeding anti-joins, never a collected broadcast
    * row. */
  private[dedup] def incrementalNgramJaccardWithHot(oldDocs: DataFrame,
      newDocs: DataFrame, hotIn: DataFrame, n: Int, tau: Double): DataFrame = {
    def shingles(d: DataFrame) = d
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shingleSetFromTokens(col("toks"), n).as("sh"))
    val oldS = shingles(oldDocs).localCheckpoint()
    val newS = shingles(newDocs).localCheckpoint()
    val hot = hotIn.localCheckpoint()
    val oldIdx = dfBoundedMinBuckets(oldS, hot) // = the persisted snapshot index at scale
    val newIdx = dfBoundedMinBuckets(newS, hot).localCheckpoint()
    val vsOld = newIdx.select(col("bucket"), col("doc_id").as("n_id"))
      .join(oldIdx.select(col("bucket"), col("doc_id").as("o_id")), Seq("bucket"))
      .filter(col("n_id") =!= col("o_id")) // disjointness guard: no self-pairs
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
    val vsNew = newIdx.select(col("bucket"), col("doc_id").as("a_id"))
      .join(newIdx.select(col("bucket"), col("doc_id").as("b_id")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val pairs = vsOld.union(vsNew).dropDuplicates("a_id", "b_id")
    confirmJaccard(pairs, oldS.unionByName(newS), tau)
  }

  /** Substring-level exact dedup — the repeated-span remover (the
    * standard LLM-corpus step doc-granular dedup misses: a boilerplate
    * paragraph shared by thousands of otherwise-distinct pages drives
    * train-set memorization; cf. the dedup literature's ≥k-token
    * repeated-substring removal). Every k-token window that occurs ≥2
    * times in the corpus is flagged at every occurrence EXCEPT the
    * global first (min (doc_id, pos) — last-writer-loses, the dual of
    * the river's upsert), and per-doc runs of consecutive flagged
    * windows merge into maximal spans: (doc_id, span_start, span_end,
    * n_windows), token indices 0-based inclusive, span length ≥ k.
    *
    * Scale shape: positional windows are a linear explode (one row per
    * token, like the shingle family); the repeat detection is a
    * map-side-combinable (count, min-struct) agg on the md5 window
    * key — a window repeated a million times produces ONE group row,
    * never a self-join, so hot boilerplate cannot go quadratic (no
    * occupancy hazard to bound here). The only windows (Spark-window,
    * not token-window) run per-doc over the FLAGGED rows — sized by
    * the dup volume, not the corpus.
    *
    * Bounds: a window's position is below 2²⁰ and 0 ≤ doc_id < 2⁴³
    * (the two share one BIGINT); a row outside them fails the query
    * with a `window-position encoding overflow` error, never a wrong
    * span. */
  def substringDedup(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (doc_id, pos) rides as ONE bit-packed BIGINT (r22, guide §2.3
    // narrower types + §2.4): the previous `min(struct(doc_id, pos))`
    // has an immutable struct buffer, which forces the repeat
    // detection out of HashAggregate into SORT aggregation — the
    // entire corpus token-window stream was sorted by window hash
    // TWICE (partial + final, plans/r22/dedup_substring_before.txt
    // operators 11–15). A primitive min is hash-aggregable and
    // map-side-combinable, and min over the encoding IS the
    // lexicographic (doc_id, pos) min the struct computed, because
    // doc_id ≥ 0 and pos < 2²⁰ (the MinHash.ParaIdxBits encoding
    // discipline, same fail-loud overflow guard). The join legs also
    // slim to (h, enc) — doc_id/pos decode after the filter.
    val posBits = 20
    val cap = 1L << posBits
    val docCap = 1L << (63 - posBits)
    val enc = when(col("pos") >= cap ||
        col("doc_id") < 0 || col("doc_id") >= docCap,
        expr("raise_error(concat('window-position encoding overflow at doc '," +
          " CAST(doc_id AS STRING), ' pos ', CAST(pos AS STRING)))")
          .cast("bigint"))
      .otherwise(shiftleft(col("doc_id"), posBits) + col("pos"))
    val wh = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(positionalWindows(col("toks"), k)).as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(col("win")).as("h"))
      .select(enc.as("enc"), col("h"))
    val repeated = wh.groupBy("h").agg(
        count(lit(1)).as("n_occ"),
        min(col("enc")).as("first"))
      .filter(col("n_occ") >= 2)
      .select(col("h"), col("first"))
    val flagged = wh.join(repeated, "h")
      .filter(col("enc") =!= col("first"))
      .select(shiftright(col("enc"), posBits).as("doc_id"),
        (col("enc") % cap).as("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Connected components over a near-dup pair list: every id that
    * appears in a pair is labeled with the smallest id reachable
    * through pairs — the cluster key for keeper selection (keep
    * `id == cluster`, drop the rest). `a_id` and `b_id` must be
    * integral (widened to bigint; anything else is rejected); output
    * `(id bigint, cluster bigint)`, and a pair with a null side is
    * skipped.
    *
    * Min-label propagation over RDD state that is partitioned ONCE:
    * the adjacency lists and every round's labels share one
    * `HashPartitioner` (sized by the session's
    * `spark.sql.shuffle.partitions`), so the label ⨝ adjacency and
    * label ⨝ message joins are narrow and a round is one Spark job —
    * a single `reduceByKey` shuffle of neighbour-min messages, with the
    * changed-label count (the only thing the driver keeps) taken from
    * the round's own checkpoint. The pair plan runs once, inside the
    * first round's job (its one consumer). The initial label is each
    * node's min over itself and its neighbours, so a star whose hub is
    * the smallest id converges in its first round. Rounds still grow
    * with the graph diameter (O(diameter): a chain of k nodes takes
    * k − 1 rounds); the log-round large-star/small-star form (Kiveris et
    * al., SoCC 2014) is the follow-up. Each round's labels are
    * localCheckpoint'ed so the lineage stays round-constant; the
    * adjacency and every non-final round are released before
    * returning, and the final round, which the output reads, by
    * `Glue.dropCheckpoint(output)` once the caller has materialized
    * what it keeps (or by Spark's cleaner when the output is
    * collected as garbage). */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    Seq("a_id", "b_id").foreach(integralType(pairs, _, "nearDupClusters"))
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .na.drop().rdd
      .flatMap { r => val (a, b) = (r.getLong(0), r.getLong(1)); Iterator(a -> b, b -> a) }
      .groupByKey(part)
      .mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: RDD[(Long, Long)] = adj.mapPartitions(
      _.map { case (id, nbrs) => id -> math.min(id, nbrs.min) }, preservesPartitioning = true)
    var round: RDD[(Long, (Long, Boolean))] = null
    var changed = 1L
    while (changed > 0) {
      val nbrMin = adj.join(labels, part)
        .flatMap { case (_, (nbrs, l)) => nbrs.iterator.map(_ -> l) }
        .reduceByKey(part, math.min(_, _))
      // every id has a neighbour, so the inner join keeps every label
      val next = labels.join(nbrMin, part)
        .mapValues { case (l, m) => (math.min(l, m), m < l) }
        .localCheckpoint()
      changed = next.filter(_._2._2).count()
      if (round != null) Glue.dropCheckpoint(round)
      round = next
      labels = next.mapValues(_._1)
    }
    adj.unpersist(blocking = false)
    spark.createDataFrame(labels.map { case (id, c) => Row(id, c) },
      StructType(Seq(StructField("id", LongType), StructField("cluster", LongType))))
  }

  /** Scale path for [[embeddingNearDup]]: candidates limited to pairs
    * sharing a hyperplane-LSH bucket in at least one of `tables` tables
    * (the graft.similarity.Ann sketch machinery), then exact cosine
    * confirms ≥ `tau` inside the bucket group. Output ⊆ the exact
    * operator's pairs by construction; recall grows with `tables`
    * (spec-checked in `NewOpsSpec`).
    *
    * Auto-scaling (nbits = 0 / tables = 0): a FIXED bucket count makes
    * the pair work quadratic in the corpus (bucket occupancy ∝ n, pairs
    * ∝ occupancy² — measured 100× candidate blowup at 10× data), so
    * auto mode grows `nbits` with log2(n) to pin occupancy ~128, then
    * sizes `tables` for ~0.75 recall at `tau` from the sign-agreement
    * probability p = 1 − acos(tau)/π (per-table recall p^nbits,
    * multi-table OR). Low taus are intrinsically weakly selective for
    * sign-LSH (p → 0.5); below τ≈0.5 prefer [[embeddingNearDupIvf]]. */
  def embeddingNearDupLsh(emb: DataFrame, tau: Double,
      nbits: Int = 0, tables: Int = 0, dim: Int = 64): DataFrame =
    cachedLsh(emb, tau, nbits, tables, dim).pairs

  private def cachedLsh(emb: DataFrame, tau: Double,
      nbits: Int = 0, tables: Int = 0, dim: Int = 64): CachedPairs = {
    import graft.similarity.Ann
    // checkpointed with its row count: the auto-sizing costs no extra
    // corpus pass, and the bucket build reads the checkpoint
    val (e, n) = Glue.localCheckpointCounted(emb.select(col("vec_id"), col("embedding")))
    val nb =
      if (nbits > 0) nbits
      else math.min(12, math.max(4, math.ceil(math.log(n / 128.0) / math.log(2.0)).toInt))
    val tb =
      if (tables > 0) tables
      else {
        val p = 1.0 - math.acos(tau) / math.Pi
        val perTable = math.pow(p, nb)
        math.min(32, math.max(8,
          math.ceil(math.log(0.25) / math.log(1.0 - perTable)).toInt))
      }
    // probe key of table t: (t, bucket) as t << 32 | bucket, so keys
    // order by table first
    val keys = array((0 until tb).map(t =>
      lit(t.toLong << 32) + Ann.bucketCol(col("embedding"), dim, nb, t)): _*)
    CachedPairs(groupedPairs(e, keys, tau), Seq(e))
  }

  /** IVF-bucketed embedding near-dup — the scale path for LOW taus,
    * where sign-LSH is weakly selective (sign-agreement p → 0.5 as
    * τ → 0, so per-table recall p^nbits collapses once nbits grows with
    * the corpus). Candidates are pairs sharing one of their `nprobe`
    * nearest Lloyd-centroid lists; exact cosine confirms ≥ `tau`.
    * List count grows with n (occupancy pinned at ~targetListSize·
    * nprobe), so the pair work stays linear in the corpus; nprobe > 1
    * recovers pairs straddling a list boundary. Output ⊆ the exact
    * operator's pairs by construction (recall spec in `NewOpsSpec`).
    * At warehouse scale the list assignment is a write-once
    * cluster-bucketed partitioning of the corpus (same story as
    * `Ann.ivfTopK`), and centroids come from a sampled hierarchical
    * k-means instead of literal expressions. */
  def embeddingNearDupIvf(emb: DataFrame, tau: Double,
      targetListSize: Int = 128, nprobe: Int = 2, lloydRounds: Int = 2): DataFrame =
    cachedIvf(emb, tau, targetListSize, nprobe, lloydRounds).pairs

  private def cachedIvf(emb: DataFrame, tau: Double,
      targetListSize: Int = 128, nprobe: Int = 2, lloydRounds: Int = 2): CachedPairs = {
    import graft.similarity.Ann
    // checkpointed with its row count — the centroid seeding, Lloyd
    // rounds and list build all read this one materialization
    val (e, n) = Glue.localCheckpointCounted(emb.select(col("vec_id"), col("embedding")))
    // List-count sizing balances the two costs that pull in opposite
    // directions: centroid assignment is n·nCent cosines, within-list
    // pair confirmation is n·occupancy = n²/nCent — the sum is
    // minimized at nCent ≈ √n. Below the crossover (n ≲ 4·listSize²)
    // occupancy pins at targetListSize (the verified small-SF regime,
    // unchanged); past it nCent grows as 2√n with NO hard cap — the
    // round-2 cap of 256 silently turned occupancy linear in n, which
    // made pair work quadratic past ~32k vectors (×10 bench: ~50× the
    // sf0.1 time for 10× the vectors; √n sizing restores ∝ n^1.5).
    val nCent = math.max(8, math.min(n / targetListSize,
      math.ceil(2 * math.sqrt(n.toDouble)).toLong)).toInt
    val cents = Ann.lloydCentroids(e, nCent, lloydRounds)
    // Probe assignment is the TopCentroids codegen expression — one
    // tight per-row loop against the constant centroid matrix, no rows
    // beyond the corpus itself. The two join-shaped alternatives both
    // die at scale: a broadcast join + per-vector top-nprobe aggregate
    // materializes n·nCent rows whose struct/object-buffered aggregate
    // plans as a SORT (measured at ×100: 500k × 1414 = 7e8 rows,
    // tens of GB of sort spill until the disk died), and the
    // literal-array struct-sort form drops out of whole-stage codegen
    // past ~100 centroids and interprets every cosine (~15× slower).
    // List keys are centroid matrix row indices.
    val keys = GraftFunctions.topCentroids(col("embedding"), Ann.centMatrix(cents), nprobe)
      .cast("array<bigint>")
    CachedPairs(groupedPairs(e, keys, tau), Seq(e))
  }

  /** Cosine pairs ≥ `tau` among vectors that share a probe key:
    * `keys` (array<bigint>, computed from `e`'s columns) are each
    * vector's probe keys, every vector joins the group of each of its
    * keys, and [[graft.functions.GroupedCosinePairs]] scores a pair in
    * the group of the smallest key the two share. Each candidate is
    * scored once, inside the group that holds it, so no dedup shuffle
    * follows, and the rows equal the key self-join + `dropDuplicates`
    * form bit for bit (`GroupedPairsSpec`). Embeddings ride in the
    * group rows: candidates outnumber the corpus many times over at low
    * τ, so generating slim id pairs and attaching embeddings by id
    * after would drag that multiple through two wide joins. `vec_id`
    * must be an integral key of `e`; the pair ids keep its type. */
  private[graft] def groupedPairs(e: DataFrame, keys: Column, tau: Double): DataFrame = {
    val idType = integralType(e, "vec_id", "embedding near-dup")
    e.select(col("vec_id").cast("long").as("id"), col("embedding").as("emb"),
        keys.as("keys"))
      .select(explode(col("keys")).as("key"), struct(col("id"), col("emb"), col("keys")).as("m"))
      .groupBy("key").agg(collect_list(col("m")).as("ms"))
      .select(GraftFunctions.groupedCosinePairs(col("key"), col("ms"), tau))
      .select(col("a_id").cast(idType).as("a_id"), col("b_id").cast(idType).as("b_id"),
        col("cos_sim"))
  }

  /** The type of `df`'s column `c`, which must be integral. */
  private def integralType(df: DataFrame, c: String, op: String): DataType =
    df.schema(c).dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) => t
      case t => throw new IllegalArgumentException(
        s"$op needs integral ids; $c is ${t.sql}")
    }

  /** τ-dispatching embedding near-dup — the production entry point.
    * Sign-LSH's selectivity is intrinsically weak at low τ (the
    * sign-agreement probability p = 1 − acos(τ)/π → 0.5 as τ → 0, so
    * once the auto-sizer grows nbits with the corpus, per-table recall
    * p^nbits collapses and the sizer compensates with table count —
    * measured 37× at ×10 data for the τ=0.45 wiring). IVF keeps
    * candidate work pinned (occupancy ~targetListSize·nprobe, list
    * count ∝ √n) at ANY τ, so low τ routes there; LSH stays the
    * high-τ path, where few bits are selective and the band build is
    * cheaper than Lloyd rounds. Both branches confirm exact cosine
    * ≥ τ inside the probe group, so the DISPATCH cannot change which
    * pairs are *eligible* — only which candidates are generated
    * (branch-equivalence spec in `NewOpsSpec`). `ivfNprobe` is the
    * recall knob of the IVF branch: release-time callers (the
    * manifest v3 semantic stage) pass 4 — measured recall 1.0 vs
    * all-pairs at τ=0.45 on every verify corpus, the same
    * recall-first trade as the v2 manifest's 16×2 banding — at ~2×
    * the candidate volume of the default 2. */
  def embeddingNearDupAuto(emb: DataFrame, tau: Double,
      ivfNprobe: Int = 2): DataFrame =
    cachedEmbeddingNearDup(emb, tau, ivfNprobe).pairs

  /** [[embeddingNearDupAuto]] with the caches its plan reads, for a
    * caller that consumes the pairs once ([[CachedPairs.clusters]]). */
  private[graft] def cachedEmbeddingNearDup(emb: DataFrame, tau: Double,
      ivfNprobe: Int): CachedPairs =
    if (tau <= 0.5) cachedIvf(emb, tau, nprobe = ivfNprobe)
    else cachedLsh(emb, tau)

  /** Embedding-cosine near-dup pairs at or above `tau` — the exact
    * baseline (oracle-checkable). A zero vector pairs with nothing: its
    * cosine is NaN, which SQL would order above `tau`. This compares
    * all id-ordered pairs; at 100 TB the same cosine_sim re-rank runs
    * over LSH-bucketed candidates instead (graft.similarity.Ann.lshTopK
    * machinery), which keeps the join keyed on buckets rather than a
    * cross product. */
  def embeddingNearDup(emb: DataFrame, tau: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_sim") >= tau && !isnan(col("cos_sim")))
      .select("a_id", "b_id", "cos_sim")
  }

  /** The [[ngramJaccard]] DuckDB twin (n-gram shingles, df-bounded
    * min-shingle buckets, exact Jaccard confirm), parameterized by the
    * (doc_id, text) source so the same program can run over the whole
    * documents table (the `dedup_ngram_jaccard` oracle) or a cascade
    * stage's survivor set (`pipe_dedup_report`), and by the shingle
    * size `n` so a caller-chosen width cannot drift from the Spark
    * form (r18 ADVICE). SHAPE DIVERGENCE, deliberate: this twin
    * materializes the hot-shingle set as ONE list and runs
    * list_contains per shingle per doc — O(|sh|·|hot|), the exact
    * broadcast-gauge shape the Spark-side [[ngramJaccard]] docstring
    * rejects for Zipfian corpora (there the hot exclusion is an
    * anti-join). Fine for the BOUNDED verify oracle (|hot| ≤ a few
    * hundred at every verify SF); it is the oracle's simplicity trade,
    * not the scale recipe. */
  def ngramJaccardSql(src: String, tau: Double = 0.8,
      maxDf: Long = 16, n: Int = 3): String =
    raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - ${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS sh FROM t),
         |hs AS (SELECT shingle FROM (SELECT unnest(sh) AS shingle FROM s) GROUP BY shingle HAVING count(*) > $maxDf),
         |hotl AS (SELECT coalesce(list(shingle), CAST([] AS VARCHAR[])) AS hot FROM hs),
         |b AS (SELECT doc_id, sh,
         |        coalesce(list_aggregate(list_filter(sh, x -> NOT list_contains(hot, x)), 'min'),
         |                 list_aggregate(sh, 'min')) AS bucket
         |      FROM s CROSS JOIN hotl)
         |SELECT a_id, b_id, jaccard FROM (
         |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
         |         CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) / (len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh))) AS jaccard
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
         |WHERE jaccard >= ${graft.util.DetLn.dlit(tau)}""".stripMargin
}

/** A lazy pair frame and the local checkpoints its plan reads (built
  * once each, eagerly, so no two jobs of the pair plan race to build the
  * same one). [[clusters]] is its one consumer: [[Dedup.nearDupClusters]]
  * reads the pairs once and materializes its labels, after which
  * nothing reads the checkpoints, so their blocks are dropped — a
  * long-lived session does not accumulate them. */
private[graft] final case class CachedPairs(pairs: DataFrame, caches: Seq[DataFrame]) {
  def clusters: DataFrame =
    try Dedup.nearDupClusters(pairs) finally caches.foreach(Glue.dropCheckpoint)
}
