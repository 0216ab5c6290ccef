package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-dup detection (SURVEY §2 group 4).
  *
  * Pipeline: hashed word-shingle sets → `numHashes` minhash slots →
  * `bands` band hashes → candidate pairs from a band-hash equi-join →
  * exact (hashed-shingle) Jaccard confirm.
  *
  * Shingles are represented by 64-bit hashes (token hashes chained with
  * xxhash64), never materialized as strings: Jaccard over distinct
  * shingle hashes equals Jaccard over shingles up to a ~2^-64 collision
  * chance, and the whole pipeline stays in primitive long arrays.
  *
  * Scale design: the band self-join ships only (band, band_hash,
  * doc_id) — near-dup docs collide, everything else spreads uniformly —
  * and the shingle-hash table is attached by id for the confirm. The
  * two small intermediates are local checkpoints, built once each; at
  * warehouse scale they'd be materialized intermediate tables.
  */
object MinHash {

  /** Per-token 64-bit hashes — one codegen'd kernel since r22
    * ([[graft.functions.TokenHashes]], guide §4: the transform-lambda
    * form was an interpreted CodegenFallback per token); bit-identical
    * output (ShingleKernelsSpec). */
  def tokenHashes(textCol: Column): Column =
    graft.functions.ShingleKernels.tokenHashes(textCol)

  /** Distinct hashed word n-gram shingles over a token-hash column: a
    * shingle hash chains its n consecutive token hashes
    * (xxhash64-fold, first occurrence kept in position order). Docs
    * shorter than n tokens yield the empty set. One codegen'd kernel
    * since r22 ([[graft.functions.HashShingles]] — the zip_with
    * shifted-copy chain it replaces was interpreted per element);
    * bit-identical output (ShingleKernelsSpec). */
  def shinglesFromTokenHashes(th: Column, n: Int): Column =
    graft.functions.ShingleKernels.hashShingles(th, n)

  /** Slot i of the signature = min over shingle hashes of xxhash64(h, i):
    * mixing the 8-byte hash per slot instead of re-hashing strings.
    * One codegen'd kernel (r22, guide §4 — see
    * [[graft.functions.MinHashSig]]): the previous nested-transform
    * form was an interpreted CodegenFallback that re-hashed every
    * shingle once PER SLOT; bit-identical output (MinHashSigSpec). */
  def signature(shingleHashCol: Column, numHashes: Int): Column =
    graft.functions.MinHashSig.sig(shingleHashCol, numHashes)

  /** Banded signature table (band, band_hash, doc_id) — the shape of
    * the PERSISTED LSH index a production corpus maintains alongside
    * the data: append each ingest batch's bands after dedup, and
    * incremental dedup joins the new batch's bands against it instead
    * of ever re-self-joining the corpus (see
    * [[incrementalNearDupPairs]]). */
  def bandTable(shingles: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    shingles
      .withColumn("sig", signature(col("sh"), numHashes))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b)))
          .as(Seq("band", "band_hash")))
  }

  /** Candidate (a_id, b_id) pairs: docs agreeing on at least one of
    * `bands` bands of `numHashes / bands` signature slots. The banded
    * frame is slim (ids + band hash) and checkpointed so the self-join
    * does not recompute signatures per leg. */
  def candidatePairs(shingles: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandPairs(bandTable(shingles, numHashes, bands).localCheckpoint())

  private def bandPairs(banded: DataFrame): DataFrame =
    banded.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
      .join(banded.select(col("band"), col("band_hash"), col("doc_id").as("b_id")),
        Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id")

  /** LSH candidates → exact Jaccard ≥ tau confirm. With the defaults
    * (32 hashes, 8 bands of 4) a true 0.8-Jaccard pair is caught with
    * probability 1 - (1 - 0.8^4)^8 ≈ 0.985. */
  def nearDupPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
      bands: Int = 8, tau: Double = 0.8): DataFrame =
    cachedNearDupPairs(docs, n, numHashes, bands, tau).pairs

  /** [[nearDupPairs]] with its shingle and band caches, for a caller
    * that consumes the pairs once ([[CachedPairs.clusters]]). */
  private[graft] def cachedNearDupPairs(docs: DataFrame, n: Int,
      numHashes: Int, bands: Int, tau: Double): CachedPairs = {
    val s = docShingles(docs, n).localCheckpoint()
    val banded = bandTable(s, numHashes, bands).localCheckpoint()
    CachedPairs(Dedup.confirmJaccard(bandPairs(banded), s, tau), Seq(banded, s))
  }

  /** Paragraph-index bits in the encoded unit id: uid =
    * doc_id << 20 | para_idx, so unit ids order lexicographically by
    * (doc_id, para_idx) and the doc-grain LSH machinery
    * ([[bandTable]]/[[candidatePairs]]/confirmJaccard) applies to
    * paragraph units UNCHANGED. 2²⁰ paragraphs ≈ a 33M-token doc at
    * the default unit width — guarded with raise_error, the intervals
    * discipline. */
  val ParaIdxBits = 20

  /** Paragraph units: (doc_id, para_idx, token-hash block). This
    * corpus is a flat token stream, so a "paragraph" is a fixed
    * `paraTokens` block — the unitizer to swap for split-on-blank-line
    * in a corpus that has real paragraph boundaries; everything
    * downstream only sees token-hash arrays. Trailing blocks shorter
    * than `n` (no full shingle) are dropped on both engines. */
  def paragraphUnits(docs: DataFrame, paraTokens: Int, n: Int): DataFrame = {
    require(paraTokens >= n, s"paraTokens $paraTokens < shingle width $n")
    docs
      .withColumn("th", tokenHashes(col("text")))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest(
            ceil(size(col("th")) / lit(paraTokens.toDouble)).cast("int") - 1,
            lit(0))),
          p => slice(col("th"), p * paraTokens + 1, lit(paraTokens))))
          .as(Seq("para_idx", "pth")))
      .filter(size(col("pth")) >= n)
  }

  /** PARAGRAPH-grain near-dup pairs (r15, VERDICT r14 #8 — the grain
    * real corpora dedup at between whole-document near-dup and
    * repeated-span stripping): MinHash + LSH banding over paragraph
    * units instead of documents. Unit ids encode (doc_id, para_idx)
    * into one BIGINT so the document-grain [[candidatePairs]] and
    * exact-Jaccard confirm run verbatim on units; pairs are ordered by
    * (a_doc, a_para) < (b_doc, b_para) — the id encoding IS that
    * order — and include same-doc pairs (a repeated paragraph inside
    * one doc is also a dup; the strip stage keeps the first copy
    * either way). Scale shape identical to the doc form: banded
    * equi-join on slim rows, exact confirm only inside candidate
    * groups — unit count is ~tokens/paraTokens, so the banding table
    * grows by the same factor the rows shrink. */
  def paragraphNearDupPairs(docs: DataFrame, paraTokens: Int = 32,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      tau: Double = 0.8): DataFrame = {
    val cap = 1L << ParaIdxBits
    // doc_id shares the encoding's upper bits: outside [0, 2^43) the
    // shiftleft overflows (and a negative doc_id breaks the
    // shiftright/% decode ordering SILENTLY) — same fail-loud guard
    // as the para_idx cap (ADVICE r15)
    val docCap = 1L << (63 - ParaIdxBits)
    val uid = when(col("para_idx") >= cap ||
        col("doc_id") < 0 || col("doc_id") >= docCap,
        expr(s"raise_error(concat('unit-id encoding overflow at doc ', " +
          s"CAST(doc_id AS STRING), ' para ', CAST(para_idx AS STRING)))")
          .cast("bigint"))
      .otherwise(shiftleft(col("doc_id"), ParaIdxBits) + col("para_idx"))
    val units = paragraphUnits(docs, paraTokens, n)
      .select(uid.as("doc_id"), shinglesFromTokenHashes(col("pth"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val out = Dedup.confirmJaccard(
        candidatePairs(units, numHashes, bands), units, tau)
      .select(shiftright(col("a_id"), ParaIdxBits).as("a_doc"),
        (col("a_id") % cap).as("a_para"),
        shiftright(col("b_id"), ParaIdxBits).as("b_doc"),
        (col("b_id") % cap).as("b_para"),
        col("jaccard"))
      .localCheckpoint()
    units.unpersist(blocking = false)
    out
  }

  private def docShingles(docs: DataFrame, n: Int): DataFrame = docs
    .withColumn("th", tokenHashes(col("text")))
    .select(col("doc_id"), shinglesFromTokenHashes(col("th"), n).as("sh"))
    .filter(size(col("sh")) > 0)

  /** Incremental near-dup: a NEW batch of docs against an
    * already-deduplicated corpus snapshot — the production dedup shape
    * at 100 TB, where the corpus is never re-self-joined. The old
    * side's [[bandTable]] stands for the persisted LSH index maintained
    * with the corpus; only the new docs are shingled and signed fresh,
    * and the candidate joins are (new bands × index) plus the tiny
    * (new × new) self-join — both sized by the DELTA, not the corpus.
    * Emits exactly the pairs the full [[nearDupPairs]] self-join would
    * emit that touch ≥1 new doc (set-equality spec in `EsAggsSpec`);
    * `a_id < b_id` regardless of which side is new.
    *
    * PRECONDITION: `oldDocs` and `newDocs` must be doc_id-disjoint (a
    * snapshot and its delta always are). An id on both sides would
    * duplicate shingle rows in the confirm frame; the self-pair it
    * would emit is guarded out below. */
  def incrementalNearDupPairs(oldDocs: DataFrame, newDocs: DataFrame,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8, tau: Double = 0.8): DataFrame =
    incrementalNearDupPairsWithIndex(oldDocs, newDocs,
      bandTable(docShingles(oldDocs, n), numHashes, bands), n, numHashes, bands, tau)

  /** Core of [[incrementalNearDupPairs]] with the old side's band index
    * supplied by the caller — either recomputed (above) or read from the
    * MAINTAINED index table (`DedupIndex.bandTable`), which is the
    * actual 100 TB shape: the candidate join is delta bands × persisted
    * index, the corpus is never re-signed. */
  private[dedup] def incrementalNearDupPairsWithIndex(oldDocs: DataFrame,
      newDocs: DataFrame, oldIdx: DataFrame, n: Int, numHashes: Int,
      bands: Int, tau: Double): DataFrame = {
    val oldS = docShingles(oldDocs, n).localCheckpoint()
    val newS = docShingles(newDocs, n).localCheckpoint()
    val newIdx = bandTable(newS, numHashes, bands).localCheckpoint()
    val vsOld = newIdx.select(col("band"), col("band_hash"), col("doc_id").as("n_id"))
      .join(oldIdx.select(col("band"), col("band_hash"), col("doc_id").as("o_id")),
        Seq("band", "band_hash"))
      .filter(col("n_id") =!= col("o_id")) // disjointness guard: no self-pairs
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
    val vsNew = newIdx.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
      .join(newIdx.select(col("band"), col("band_hash"), col("doc_id").as("b_id")),
        Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val pairs = vsOld.union(vsNew).dropDuplicates("a_id", "b_id")
    Dedup.confirmJaccard(pairs, oldS.unionByName(newS), tau)
  }
}
