package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * document fingerprinting. All are pure column expressions (whole-stage
  * codegen, no UDFs), so they stream through a 100 TB scan without state.
  *
  * Determinism: every ratio is a single IEEE division of exact integer
  * counts, so results are bit-identical across engines and partitionings.
  */
object TextOps {

  /** Languages scored by stopword hits; CJK detected by codepoint class. */
  val stopwords: Map[String, String] = Map(
    "en" -> "the|and|of|to|in|is|a",
    "de" -> "der|die|das|und|ist|ein",
    "fr" -> "le|la|les|et|est|un",
    "es" -> "el|los|las|es|y|una")

  private def hits(c: Column, pattern: String): Column =
    size(regexp_extract_all(lower(c), lit(pattern), lit(0))).cast("long")

  private def stopHits(c: Column, lang: String): Column =
    hits(c, "\\b(" + stopwords(lang) + ")\\b")

  /** Whitespace tokens, wordlike regex tokens, and TRUE merges-table
    * BPE token counts ([[Bpe]] — a fixed priority-ordered merge list
    * applied as a chain of codegen'd replaces; replaced the old
    * chars/4 estimate in round 11 so downstream token budgets are
    * real). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0))).cast("long").as("n_word_tokens"),
      Bpe.tokenCount(col("text")).as("n_bpe_tokens"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * token length, and a composite score in [0,1]. `keep` carries extra
    * columns through (e.g. source/text for a downstream pipeline
    * stage). */
  def quality(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nTokens = size(split(col("text"), "\\s+")).cast("long")
    val stop = hits(col("text"), "\\b(the|a|and|of|to|in|is|for|on|with)\\b")
    // punct chars are single-char matches, so "chars removed by the
    // class-stripping replace" counts them exactly — same number as the
    // regexp_extract_all form, without materializing a per-match array
    // (this operator was the one standing ×10 residual; see SCALING.md)
    val punct = (nChars -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))).cast("long")
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")).cast("long")
    docs.select(col("doc_id") +: (keep.map(col) ++ Seq(
        nChars.as("n_chars"), nTokens.as("n_tokens"),
        stop.as("stop_hits"), punct.as("punct_hits"), alpha.as("n_alnum"))): _*)
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("punct_hits").cast("double") / col("n_chars"))
      .withColumn("mean_token_len", col("n_alnum").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / lit(100.0)) *
          (lit(1.0) - col("punct_ratio")) * (lit(0.5) + lit(0.5) * col("stop_ratio")))
  }

  /** Language ID: per-language stopword scores + CJK codepoint count,
    * deterministic priority argmax (zh > en > de > fr > es on ties).
    * `keep` carries extra columns through (e.g. a ground-truth label). */
  def langId(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val zh = size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).cast("long")
    docs.select(col("doc_id") +: (keep.map(col) ++ Seq(
        stopHits(col("text"), "en").as("s_en"), stopHits(col("text"), "de").as("s_de"),
        stopHits(col("text"), "fr").as("s_fr"), stopHits(col("text"), "es").as("s_es"),
        zh.as("s_zh"))): _*)
      .withColumn("lang_pred",
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  /** OpenRefine-style fingerprint: md5 of the sorted distinct token set —
    * a deterministic near-dup clustering key (word-order/multiplicity
    * insensitive). */
  def fingerprintCol(textCol: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(lower(textCol), "\\s+")))))

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"),
      size(array_distinct(split(lower(col("text")), "\\s+"))).cast("long").as("n_distinct_tokens"))

  /** ES `ids` query (r15 continuation): fetch documents by an explicit
    * id list. Trivial by construction and deliberately so — the point
    * is the PLAN: the id set compiles to an `In` predicate that
    * reaches the parquet scan (PushedFilters), so on an id-sorted/
    * bucketed corpus this is row-group pruning + point lookups, the
    * ES get-by-id serving shape, never a full scan that filters. */
  def idsQuery(docs: DataFrame, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty)
    docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** ES match query: OR'd query terms scored by term frequency over the
    * token stream, top-k by score (tie → doc_id) — the relevance-ranked
    * text search the reference's sink serves. A single narrow scan per
    * doc plus a driver-bounded top-k; no shuffle of the corpus. */
  def matchQuery(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val termArr = typedlit(terms)
    docs
      .select(col("doc_id"),
        size(filter(toks, t => array_contains(termArr, t))).cast("long").as("score"),
        size(toks).cast("long").as("n_tokens"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus-level term frequencies, top-k by count (tie → term order):
    * the explode feeds a map-side-combinable hash aggregation, so at
    * 100 TB the shuffle carries one partial count per (partition,
    * distinct term), not one row per token occurrence. */
  def topTerms(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** ES rare_terms aggregation: the long tail — terms whose corpus
    * document frequency is at most `maxDocCount` (the dual of the terms
    * facet, which surfaces the head). Distinct-per-doc explode feeds a
    * map-side-combinable count; the ≤ filter runs on the aggregated
    * bucket set, so the shuffle carries one partial per (partition,
    * term), never token occurrences. */
  def rareTerms(docs: DataFrame, maxDocCount: Long): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxDocCount)

  /** ES percolate (reverse search): match every doc against a set of
    * stored term-queries; a query matches when ALL its terms occur in
    * the doc's token set. The stored queries are exploded to (query_id,
    * term) and broadcast against the exploded token stream; a count
    * compare per (doc, query) implements the conjunction — one narrow
    * corpus pass + a map-side-combinable agg, no per-query scans (at
    * 100 TB you stream the corpus once past thousands of registered
    * alert queries). */
  def percolate(docs: DataFrame, queries: Map[String, Seq[String]]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.toSeq
      .flatMap { case (id, ts) => ts.distinct.map(t => (id, t, ts.distinct.size)) }
      .toDF("query_id", "term", "n_terms")
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("term"))
      .join(broadcast(q), "term")
      .groupBy("doc_id", "query_id", "n_terms")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === col("n_terms"))
      .select(col("doc_id"), col("query_id"))
  }

  /** Rarity-weighted relevance search (TF·IDF shape): per-doc term
    * frequencies for the query terms, weighted by corpus rarity
    * N/df(term). The per-term tf columns are conditional sums (one
    * grouped pass over the exploded tokens), the df/N corpus stats are
    * a single broadcast-joined row, and the score is a FIXED-ORDER
    * expression over exact integer counts — one deterministic double
    * per term, summed in term order, so the result is bit-identical on
    * any engine/partitioning (no ln(), which is not correctly-rounded
    * across libms). */
  def tfidfSearch(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty)
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
    val termArr = typedlit(terms)
    val hits = tok.filter(array_contains(termArr, col("term")))
    // per-doc tf per query term, as fixed columns
    val tf = hits.groupBy("doc_id")
      .agg(terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf$i")
      }.head, terms.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf$i")
      }: _*)
    // corpus stats: df per query term + N, one row
    val stats = hits.select(col("doc_id"), col("term"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .groupBy("n_docs")
      .agg(terms.zipWithIndex.map { case (t, i) =>
        countDistinct(when(col("term") === t, col("doc_id"))).as(s"df$i")
      }.head, terms.zipWithIndex.tail.map { case (t, i) =>
        countDistinct(when(col("term") === t, col("doc_id"))).as(s"df$i")
      }: _*)
    val score = terms.indices.map { i =>
      when(col(s"df$i") > 0,
        col(s"tf$i").cast("double") * (col("n_docs").cast("double") / col(s"df$i")))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** One BM25 field of a doc: its length and a query term's frequency
    * in it, both exact longs. `s` suffixes the field's per-doc columns
    * (`dl<s>`, `tf<s><i>`) and its stats columns (`total_toks<s>`,
    * `df<s><i>`). */
  private final case class Bm25Field(s: String, dl: Column, tf: String => Column) {
    def tfCol(i: Int): Column = col(s"tf$s$i")
    def dfCol(i: Int): Column = col(s"df$s$i")
    def avgdl: Column = col(s"total_toks$s").cast("double") / col("n_docs")
  }

  /** The field a token array is: dl = its length, tf = occurrences. */
  private def tokenField(s: String, toks: Column): Bm25Field =
    Bm25Field(s, size(toks).cast("long"),
      t => size(filter(toks, x => x === lit(t))).cast("long"))

  /** The one BM25 program (Lucene's BM25Similarity) behind every BM25
    * operator, per field f and query term i:
    *
    *   idf · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)),
    *   idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * `perDoc` is one narrow pass over `docs` (doc_id, then each field's
    * dl and tfs); [[stats]] is its 1-row aggregate (`n_docs`, Σdl and
    * the dfs per field) plus the named idf columns, each taken through
    * DetLn: Spark's log() is StrictMath/fdlibm, DuckDB's ln the host
    * libm, and they differ by one ulp on real idf inputs (r14). The
    * weight keeps the textual association (idf·num)/denom of the
    * generated oracles; grouping the division first drifts by one
    * rounding. Nothing is cached or run before the caller's action: the
    * stats and the page each scan the corpus once (a 1-row agg, a
    * bounded TakeOrdered). */
  private final class Bm25(docs: DataFrame, fields: Seq[Bm25Field],
      terms: Seq[String], k1: Double, b: Double) {
    val perDoc: DataFrame = docs.select(col("doc_id") +: fields.flatMap(f =>
      f.dl.as(s"dl${f.s}") +: terms.zipWithIndex.map { case (t, i) =>
        f.tf(t).as(s"tf${f.s}$i") }): _*)

    def stats(idfs: Seq[(String, Column)]): DataFrame = {
      val stats0 = perDoc.agg(count(lit(1)).as("n_docs"),
        fields.map(f => sum(col(s"dl${f.s}")).as(s"total_toks${f.s}")) ++
          fields.flatMap(f => terms.indices.map(i =>
            sum(when(f.tfCol(i) > 0, 1L).otherwise(0L)).as(s"df${f.s}$i"))): _*)
      idfs.foldLeft(stats0) { case (st, (name, df)) =>
        st.withColumn(name, graft.util.DetLn.lnExpr(
          (lit(1) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5))).cast("double")))
      }
    }

    private def denom(f: Bm25Field, i: Int): Column =
      f.tfCol(i) + lit(k1) * (lit(1 - b) + lit(b) * (col(s"dl${f.s}") / f.avgdl))
    /** tf·(k1+1) / denom: the saturation × length-norm factor. */
    def tfPart(f: Bm25Field, i: Int): Column = f.tfCol(i) * lit(k1 + 1) / denom(f, i)
    def weight(idf: Column, f: Bm25Field, i: Int): Column =
      idf * (f.tfCol(i) * lit(k1 + 1)) / denom(f, i)

    /** Each term's idf column `idf<s><i>` from its own df in `f`. */
    def idfs(f: Bm25Field): Seq[(String, Column)] =
      terms.indices.map(i => s"idf${f.s}$i" -> f.dfCol(i))
    /** `f`'s score: its weights under [[idfs]], summed in term order. */
    def fieldScore(f: Bm25Field): Column =
      terms.indices.map(i => weight(col(s"idf${f.s}$i"), f, i)).reduce(_ + _)

    /** The top-`kTop` docs with some query term in some field, by the
      * `score` among `cols` desc, doc_id. */
    def page(stats: DataFrame, cols: Seq[Column], kTop: Int): DataFrame =
      perDoc.crossJoin(broadcast(stats))
        .filter(terms.indices.map(i => fields.map(_.tfCol(i) > 0).reduce(_ || _))
          .reduce(_ || _))
        .select(cols: _*)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(kTop)
  }

  /** BM25 relevance search — ES's default similarity since 5.x (what
    * every ES search user gets without asking; [[matchQuery]] is the
    * raw-TF form, [[tfidfSearch]] the count-based TF·IDF form), with
    * k1=1.2, b=0.75 defaults. All counts (tf, df, dl, N, Σdl) are
    * exact integers; the score is a FIXED-ORDER double expression over
    * them (terms summed in argument order, the [[Bm25]] program), so it
    * is bit-identical across engines/partitionings.
    *
    * Scale shape: per-doc tf columns come from array-filter counts on
    * the token array — ONE narrow corpus scan, no token explode, no
    * shuffle; corpus stats (N, Σdl, per-term df) are one map-side-
    * combinable agg to a 1-row broadcast; the final rank is a bounded
    * TakeOrdered. Nothing exchanges the corpus. */
  def bm25Search(docs: DataFrame, terms: Seq[String], kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty)
    val f = tokenField("", split(lower(col("text")), "\\s+"))
    val m = new Bm25(docs, Seq(f), terms, k1, b)
    m.page(m.stats(m.idfs(f)),
      Seq(col("doc_id"), col("dl"), m.fieldScore(f).as("score")), kTop)
  }

  /** ES `_explain` API (r17, VERDICT r16 #5 / r15 #7 — the relevance-
    * debug surface): the per-document, PER-TERM score decomposition of
    * the [[bm25Search]] top-`kTop` page. One row per (page doc,
    * matched term) carrying every number ES's explain tree shows for
    * BM25 — tf (freq), df (n), idf, the tf saturation × length-norm
    * factor, and the term's weight — plus the doc-level dl and total
    * score the weights sum to.
    *
    * Determinism: the SAME [[Bm25]] program as [[bm25Search]], so
    * Σ weight IS the page score bit-for-bit — the whole breakdown is
    * HASH-GREEN against the DuckDB twin, not tolerance-compared
    * (`ExplainSpec` additionally pins score == Σ weights and page ==
    * bm25Search's page).
    *
    * Scale shape: identical to bm25Search up to the bounded top-k page
    * (one corpus scan for tf/dl, a 1-row stats gauge, TakeOrdered);
    * the per-term expansion happens AFTER the limit on the kTop-row
    * frame — explain output is page-sized, never corpus-sized (the ES
    * contract too: _explain is per-doc-id, not a corpus operation). */
  def bm25Explain(docs: DataFrame, terms: Seq[String], kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty)
    val f = tokenField("", split(lower(col("text")), "\\s+"))
    val m = new Bm25(docs, Seq(f), terms, k1, b)
    val page = m.page(m.stats(m.idfs(f)), Seq(col("doc_id"), col("dl"),
      m.fieldScore(f).as("score"), array(terms.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("term"), f.tfCol(i).as("tf"), f.dfCol(i).as("df"),
          col(s"idf$i").as("idf"), m.tfPart(f, i).as("tf_part"),
          m.weight(col(s"idf$i"), f, i).as("weight"))
      }: _*).as("terms")), kTop)
    // page-sized per-term expansion: kTop × |terms| rows, matched terms
    // only (the ES explain shape), from the one page plan
    page.select(col("doc_id"), col("dl"), col("score"), explode(col("terms")).as("t"))
      .filter(col("t.tf") > 0)
      .select(col("doc_id"), col("t.term").as("term"), col("dl"),
        col("t.tf").as("tf"), col("t.df").as("df"), col("t.idf").as("idf"),
        col("t.tf_part").as("tf_part"), col("t.weight").as("weight"), col("score"))
  }

  /** ES terms aggregation SHARD APPROXIMATION CONTRACT (round 13):
    * the distributed-correctness surface of `terms` — each shard
    * returns only its local top `shardSize` terms, the coordinator
    * sums what was returned, and every bucket carries
    * `doc_count_error_upper_bound` = Σ over the shards that did NOT
    * return the term of that shard's smallest returned count (a shard
    * that returned ALL its terms contributes zero — it was
    * exhaustive). This is the actual ES terms-agg answer shape at
    * scale: approximate counts with a sound per-bucket error bound
    * (true_count ∈ [doc_count, doc_count + error_bound] — the
    * invariant `EsExtrasSpec` pins against a full recompute).
    *
    * Shards here are a deterministic hash band (doc_id % nShards) so
    * the oracle can replay them; on a real cluster they are the
    * physical partitions. Plan shape: one map-side-combinable
    * (shard, term) count, per-shard rank windows over vocabulary-sized
    * groups, and a candidate set bounded by nShards × shardSize —
    * nothing data-scale past the first aggregation. */
  def termsShardError(docs: DataFrame, nShards: Int, shardSize: Int,
      k: Int): DataFrame = {
    require(nShards > 0 && shardSize > 0 && k > 0)
    val tok = docs.select((col("doc_id") % nShards).cast("int").as("shard"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val perShard = tok.groupBy("shard", "term").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("cnt").desc, col("term"))
    val ranked = perShard.withColumn("rk", row_number().over(w))
    // per-shard worst-case tail: the k-th (smallest returned) count if
    // the shard was truncated, 0 if it returned everything
    val shardTail = ranked.groupBy("shard").agg(
        max(col("rk")).as("n_terms"),
        min(when(col("rk") <= shardSize, col("cnt"))).as("kth"))
      .select(col("shard"),
        when(col("n_terms") > shardSize, col("kth")).otherwise(lit(0L)).as("tail"))
    val totalTail = shardTail.agg(sum(col("tail")).as("total_tail"))
    ranked.filter(col("rk") <= shardSize)
      .join(shardTail, "shard")
      .groupBy("term")
      .agg(sum(col("cnt")).as("doc_count"), sum(col("tail")).as("covered_tail"))
      .crossJoin(broadcast(totalTail))
      .select(col("term"), col("doc_count"),
        (col("total_tail") - col("covered_tail")).as("error_bound"))
      .orderBy(col("doc_count").desc, col("term"))
      .limit(k)
  }

  /** ES match_bool_prefix (round 13): the type-ahead bool form —
    * every full term a `match` should-clause, the LAST (still being
    * typed) token a prefix over any token position; scored by the sum
    * of term tfs plus the prefix hit count, any clause suffices
    * (minimum_should_match=1, the no-must default). One narrow
    * token-array scan, bounded TakeOrdered — the match_phrase_prefix
    * scan shape without the adjacency constraint. */
  def matchBoolPrefix(docs: DataFrame, terms0: Seq[String], prefix0: String,
      k: Int): DataFrame = {
    require(terms0.nonEmpty && prefix0.nonEmpty)
    // arguments are lowercased at entry to match the lowercased token
    // stream (the completionSuggestFuzzy convention) — a mixed-case
    // caller input must not silently match nothing (r13 ADVICE)
    val terms = terms0.map(_.toLowerCase)
    val prefix = prefix0.toLowerCase
    val toks = split(lower(col("text")), "\\s+")
    val score = (terms.map(t => size(filter(toks, x => x === lit(t)))) :+
      size(filter(toks, x => x.startsWith(prefix))))
      .map(_.cast("long")).reduce(_ + _)
    docs.select(col("doc_id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES search_as_you_type (r15 continuation — the dedicated field
    * type behind type-ahead search boxes): a `multi_match` of type
    * `bool_prefix` over the root field AND its shingle subfields
    * `._2gram` / `._3gram`. Each granularity contributes its own
    * clause set built from the query — full terms (and full shingles)
    * match exactly, the trailing still-being-typed token (and the
    * shingles ending in it) match as prefixes — and the score is the
    * integer sum of all hit counts, so shingle-adjacent matches
    * ("part filter" as a unit) outrank scattered term hits, which is
    * the field type's whole point over plain [[matchBoolPrefix]].
    * Shingles build per-row from one token array (no second
    * tokenization pass); one narrow scan, bounded TakeOrdered; the
    * score>0 filter sits ABOVE the limit (score is the primary DESC
    * key, so zeros rank last — identical output, and the computed
    * column is never alias-substituted into the scan). */
  def searchAsYouType(docs: DataFrame, query0: String, k: Int): DataFrame = {
    val parts = query0.toLowerCase.trim.split("\\s+").toSeq
    require(parts.length >= 2, "search_as_you_type needs >= 2 tokens here")
    val terms = parts.init
    val prefix = parts.last
    // tokenization happens ONCE in its own projection; every clause
    // below references the materialized array column. HOFs fall back
    // to interpreted eval (no codegen subexpression elimination), so
    // inlining the split into 7 clause scans re-tokenizes the text per
    // clause — measured 9.5 s (string-shingle form) and 18 s (inlined
    // positional form) vs 1.3 s for this shape at sf0.1, same counts.
    // CollapseProject keeps the split un-inlined: a non-cheap alias
    // referenced more than once is not collapsed (Spark 3.3+ rule).
    val toks = col("toks")
    // every clause is a POSITIONAL window count — tokens carry no
    // spaces, so shingle equality/prefix decomposes into per-position
    // predicates and no shingle string is ever built
    def windowCount(preds: Seq[Column => Column]): Column = {
      val span = preds.length
      when(size(toks) < span, lit(0L)).otherwise(
        size(filter(sequence(lit(1), size(toks) - lit(span - 1)),
          i => preds.zipWithIndex.map { case (p, o) =>
            p(element_at(toks, i + lit(o))) }.reduce(_ && _))).cast("long"))
    }
    def eq(v: String): Column => Column = c => c === lit(v)
    def pre(p: String): Column => Column = c => c.startsWith(p)
    // root: every full term exact + trailing token as prefix
    val s0 = (terms.map(t => windowCount(Seq(eq(t)))) :+
      windowCount(Seq(pre(prefix)))).reduce(_ + _)
    // _2gram: full 2-shingles of the query exact + trailing 2-shingle
    // ("last full term + prefix") as prefix
    val s1 = (terms.sliding(2).filter(_.length == 2).toSeq
      .map(w => windowCount(Seq(eq(w(0)), eq(w(1))))) :+
      windowCount(Seq(eq(terms.last), pre(prefix)))).reduce(_ + _)
    // _3gram: same one size up (clauses only exist once the query is
    // long enough — the shingle analyzer emits nothing below its size)
    val full3 = terms.sliding(3).filter(_.length == 3).toSeq
      .map(w => windowCount(Seq(eq(w(0)), eq(w(1)), eq(w(2)))))
    val pre3 = if (terms.length >= 2)
      Seq(windowCount(Seq(eq(terms(terms.length - 2)), eq(terms.last),
        pre(prefix))))
    else Seq.empty
    val s2 = (full3 ++ pre3).foldLeft(lit(0L))(_ + _)
    docs.select(col("doc_id"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), (s0 + s1 + s2).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .filter(col("score") > 0)
  }

  /** ES rescore (round 13): two-phase ranking — the first pass takes
    * the top `window` docs by BM25 over `terms`, the second re-scores
    * ONLY that window with a phrase-proximity query (adjacent
    * (t1, t2) pair count — the canonical ES rescore example) and
    * combines `query_weight × first + rescore_weight × phrase_tf`.
    * The window is a bounded page; the second scorer runs only on the
    * rows that survive a broadcast semi-join against the page's
    * doc_ids, so only `window` rows pay the phrase projection — the
    * cost model ES rescoring exists for (r13 ADVICE aligned the code
    * with this doc: previously the phrase_tf projection ran corpus-
    * wide before the join filtered it). Both position lists are
    * materialized once as columns; the pair count reads them as
    * attribute references, never re-tokenizing inside the aggregate
    * lambda. Doubles stay deterministic: BM25's ln on the rational
    * domain bit-matches DuckDB (the text_bm25 precedent) and the
    * combine is two fixed-order multiply-adds. */
  def rescoreSearch(docs: DataFrame, terms: Seq[String], t1: String, t2: String,
      window: Int, k: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 2.0): DataFrame = {
    require(window >= k && k > 0)
    val page = bm25Search(docs, terms, window)
      .select(col("doc_id"), col("score").as("first_score"))
    val toks = split(lower(col("text")), "\\s+")
    def positions(term: String) =
      filter(transform(toks, (t, i) => when(t === term, i + 1).otherwise(-1)),
        p => p > 0)
    val second = docs
      .join(broadcast(page.select("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("__p1", positions(t1))
      .withColumn("__p2", positions(t2))
      .select(col("doc_id"),
        aggregate(col("__p1"), lit(0L), (acc, i) =>
          acc + size(filter(col("__p2"), j => j === i + 1)).cast("long"))
          .as("phrase_tf"))
    broadcast(page).join(second, "doc_id")
      .select(col("doc_id"), col("first_score"), col("phrase_tf"),
        (col("first_score") * lit(queryWeight) +
          col("phrase_tf").cast("double") * lit(rescoreWeight)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES terms_set query: docs where at least `minShouldMatch` DISTINCT
    * terms of the set occur — the "N of these M terms" middle ground
    * between `terms` (any) and `bool.must` (all). One narrow scan, the
    * match count is a per-row array intersection; output every
    * qualifying doc with its distinct-match count (deterministic
    * without a limit — the full qualifying set IS the contract). */
  def termsSetQuery(docs: DataFrame, terms: Seq[String],
      minShouldMatch: Int): DataFrame = {
    require(minShouldMatch >= 1 && minShouldMatch <= terms.size)
    val termArr = typedlit(terms)
    docs
      .select(col("doc_id"),
        size(array_intersect(array_distinct(split(lower(col("text")), "\\s+")),
          termArr)).cast("long").as("n_matched"))
      .filter(col("n_matched") >= minShouldMatch)
  }

  /** ES multi_match, best_fields type — the most common real ES
    * request shape: the same query terms scored independently per
    * field, each field's TF score scaled by its boost, and the doc
    * ranked by the BEST field (ES tie_breaker=0 semantics: a doc
    * matching well in one field beats a doc matching a little in
    * many). Fields are (name, token-array column, boost) — callers
    * derive them (title/body split, nested columns, …) and compose
    * the bool-query filter context on `docs` BEFORE calling, so
    * filter predicates stay pushable to the scan (the q_bool_filter
    * composition). Per-field scores are exact token counts scaled by
    * one double multiply; max/tie-break (score desc, doc_id) is
    * deterministic. One narrow scan, bounded TakeOrdered — nothing
    * shuffles the corpus. */
  def multiMatch(docs: DataFrame, fields: Seq[(String, Column, Double)],
      terms: Seq[String], k: Int): DataFrame = {
    require(fields.nonEmpty && terms.nonEmpty)
    val termArr = typedlit(terms)
    val scored = docs.select(col("doc_id") +: fields.map { case (name, toks, boost) =>
      (size(filter(toks, t => array_contains(termArr, t))).cast("long") * lit(boost))
        .as(s"score_$name") }: _*)
    scored
      .withColumn("score",
        fields.map(f => col(s"score_${f._1}")) match {
          case Seq(one) => one
          case many => greatest(many: _*)
        })
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES multi_match `most_fields` + `cross_fields` types (r14) — the
    * two remaining high-traffic modes beside [[multiMatch]]'s
    * best_fields. Fields are the title window (first `titleLen`
    * tokens) and the disjoint body remainder, each with its OWN BM25
    * statistics (df, length, avgdl) — unlike [[combinedFieldsSearch]],
    * which merges them into one weighted virtual field.
    *
    *  - `most_fields`: per-field BM25 scores SUMMED with per-field
    *    boosts — "the same text analyzed different ways"; a doc
    *    matching in several fields stacks its evidence.
    *  - `cross_fields`: per TERM, the document frequency is BLENDED
    *    across fields (Lucene BlendedTermQuery: max of the per-field
    *    dfs), each field's TF part is scored with that shared blended
    *    IDF, and the term contributes the BEST field's score (the
    *    dismax-per-term "any field may hold this word" semantics) —
    *    so a rare-in-title term isn't double-IDF'd just because it's
    *    common in bodies.
    *
    * Determinism: exact long tf/df/length counts, a 1-row broadcast
    * stats frame, and one fixed-order double expression — with the
    * idf computed by [[graft.util.DetLn]], the dual-compiled libm-free
    * logarithm, because Spark's `log` (StrictMath/fdlibm) and
    * DuckDB's `ln` (host libm) provably disagree by one ulp on some
    * of these idf arguments (measured at sf0.001, r14) — the first
    * operator family where the bm25 "ln bit-matches" luck ran out.
    * The oracle is GENERATED from the same constants by
    * [[multiMatchOracleSql]]. One tokenize pass, bounded TakeOrdered —
    * nothing shuffles the corpus; the idf ladder runs on the 1-row
    * stats frame only. */
  def multiMatchFields(docs: DataFrame, terms: Seq[String], titleLen: Int,
      mode: String, boostTitle: Double, boostBody: Double, kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && titleLen > 0)
    require(mode == "most_fields" || mode == "cross_fields", s"bad mode $mode")
    val toks = split(lower(col("text")), "\\s+")
    val withFields = docs.select(col("doc_id"),
      slice(toks, 1, titleLen).as("tt"),
      slice(toks, titleLen + 1, Int.MaxValue - titleLen).as("bt"))
    val (ft, fb) = (tokenField("_t", col("tt")), tokenField("_b", col("bt")))
    val m = new Bm25(withFields, Seq(ft, fb), terms, k1, b)
    val (idfs, score) = mode match {
      case "most_fields" => (m.idfs(ft) ++ m.idfs(fb),
        lit(boostTitle) * m.fieldScore(ft) + lit(boostBody) * m.fieldScore(fb))
      case "cross_fields" =>
        def idf(i: Int) = col(s"idf_x$i")
        (terms.indices.map(i => s"idf_x$i" -> greatest(ft.dfCol(i), fb.dfCol(i))),
          terms.indices.map(i => greatest(m.weight(idf(i), ft, i), m.weight(idf(i), fb, i)))
            .reduce(_ + _))
    }
    m.page(m.stats(idfs), Seq(col("doc_id"), score.as("score")), kTop)
  }

  /** The DuckDB twin of [[multiMatchFields]], generated from the same
    * constants so the engines cannot drift (term order, fold order,
    * and every literal mirror the Column program). */
  def multiMatchOracleSql(terms: Seq[String], titleLen: Int, mode: String,
      boostTitle: Double, boostBody: Double, kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    require(mode == "most_fields" || mode == "cross_fields", s"bad mode $mode")
    def q(t: String) = t.replace("'", "''")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"        CAST(len(list_filter(toks[1:$titleLen], x -> x = '${q(t)}')) AS BIGINT) AS tft$i,\n" +
      s"        CAST(len(list_filter(toks[${titleLen + 1}:], x -> x = '${q(t)}')) AS BIGINT) AS tfb$i"
    }.mkString(",\n")
    val dfCols = terms.indices.map(i =>
      s"        sum(CASE WHEN tft$i > 0 THEN 1 ELSE 0 END) AS dft$i,\n" +
      s"        sum(CASE WHEN tfb$i > 0 THEN 1 ELSE 0 END) AS dfb$i").mkString(",\n")
    // idf via DetLn's generated libm-free program, as lateral-alias
    // select items chained onto the stats row (mirrors the Spark
    // side's withLn on the 1-row stats frame)
    def idfArg(df: String) = s"(1 + (n_docs - $df + 0.5e0) / ($df + 0.5e0))"
    val idfKeys: Seq[(String, String)] = mode match {
      case "most_fields" =>
        terms.indices.map(i => s"idf_t$i" -> idfArg(s"dft$i")) ++
          terms.indices.map(i => s"idf_b$i" -> idfArg(s"dfb$i"))
      case "cross_fields" =>
        terms.indices.map(i => s"idf_x$i" -> idfArg(s"greatest(dft$i, dfb$i)"))
    }
    // nested one-item-per-level subqueries, NOT lateral aliases in
    // one SELECT — DuckDB binds lateral aliases by substitution and
    // the ladder compounds exponentially (56 s → 40 ms, DetLn.nestSql)
    val idfNest = graft.util.DetLn.nestSql("st0",
      idfKeys.flatMap { case (name, arg) => graft.util.DetLn.sqlItems(arg, name) })
    def tfPart(tf: String, dl: String, tot: String) =
      s"($tf * (${k1}e0 + 1)) / ($tf + ${k1}e0 * ((1 - ${b}e0) + ${b}e0 * ($dl / (CAST($tot AS DOUBLE) / n_docs))))"
    val score = mode match {
      case "most_fields" =>
        val sT = terms.indices.map(i =>
          s"idf_t$i * ${tfPart(s"tft$i", "dlt", "tot_t")}").mkString("\n      + ")
        val sB = terms.indices.map(i =>
          s"idf_b$i * ${tfPart(s"tfb$i", "dlb", "tot_b")}").mkString("\n      + ")
        s"${boostTitle}e0 * ($sT)\n      + ${boostBody}e0 * ($sB)"
      case "cross_fields" =>
        terms.indices.map { i =>
          s"greatest(idf_x$i * ${tfPart(s"tft$i", "dlt", "tot_t")},\n" +
          s"         idf_x$i * ${tfPart(s"tfb$i", "dlb", "tot_b")})"
        }.mkString("\n      + ")
    }
    val anyHit = terms.indices.map(i => s"tft$i > 0 OR tfb$i > 0").mkString(" OR ")
    raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
         |p AS (SELECT doc_id,
         |        CAST(len(toks[1:$titleLen]) AS BIGINT) AS dlt,
         |        CAST(len(toks[${titleLen + 1}:]) AS BIGINT) AS dlb,
         |$tfCols
         |      FROM d),
         |st0 AS (SELECT count(*) AS n_docs, sum(dlt) AS tot_t, sum(dlb) AS tot_b,
         |$dfCols
         |      FROM p),
         |st AS (SELECT * FROM $idfNest)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id,
         |      $score AS score
         |  FROM p CROSS JOIN st
         |  WHERE $anyHit) t
         |ORDER BY score DESC, doc_id LIMIT $kTop""".stripMargin
  }

  /** Reciprocal-rank fusion of a BM25 lexical ranking and an
    * embedding-kNN semantic ranking — ES 8.8+ hybrid search (`rrf`
    * retriever). Each ranking contributes 1/(kRrf + rank) for the docs
    * it ranks (rank 1-based within its own top-`n`; absent → 0, the ES
    * contract), fused score descending with doc_id tie-break. A doc
    * that is merely decent in BOTH views outranks a doc that tops one
    * view only — the behavior neither ranking has alone (spec asserts
    * the reordering fires).
    *
    * Scale shape: both inputs are already driver-bounded top-n frames
    * (BM25's TakeOrdered; the kNN side is one broadcast-query corpus
    * scan + TakeOrdered), so every window/join here touches ≤ n rows —
    * the fusion itself is rank arithmetic on bounded lists, exactly
    * where ES runs it (on the reduced per-shard top-n). `emb` joins
    * `docs` by the vec_id = doc_id contract. */
  def rrfHybrid(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVecId: Long, n: Int, kTop: Int, kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions
    val lex = bm25Search(docs, terms, n)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val sem = emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cos", GraftFunctions.cosineSim(col("embedding"), col("q_emb")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(n)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("sem_rank")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(kTop)
      .select("doc_id", "lex_rank", "sem_rank", "rrf_score")
  }

  /** The significant-terms contingency, Elasticsearch's
    * `SignificanceHeuristic` quadruple: `(set, term)` token rows
    * become one row per (set, term) with a = the term's count in the
    * set (subset freq), b = Σa per term (superset freq), c = Σa per set
    * (subset size) and d = Σa (superset size), all exact longs; a row
    * whose set is null is counted in b and d only. b, c and d are
    * aggregates of the (set, term) counts, so the token rows are
    * grouped once and AQE reuses that exchange where the branches'
    * plans agree; nothing is cached or run before the caller's action.
    * The heuristics below are Columns over a, b, c and d. */
  private def contingency(tok: DataFrame, set: String): DataFrame = {
    val a = tok.groupBy(set, "term").agg(count(lit(1)).as("a"))
    // coalesce: a sum is nullable, a count is not; the outputs keep the
    // non-null b of the count form
    def total(name: String) = coalesce(sum("a"), lit(0L)).as(name)
    a.join(a.groupBy("term").agg(total("b")), "term")
      .join(broadcast(a.groupBy(set).agg(total("c"))), set)
      .crossJoin(broadcast(a.agg(total("d"))))
  }

  private def dbl(c: Column): Column = c.cast("double")

  /** Default lift (a·d)/(b·c): integer products, one double division. */
  private def sigLift: Column =
    (col("a") * col("d")).cast("double") / (col("b") * col("c"))

  /** JLH, ES's default scorer: with p_fg = a/c and p_bg = b/d,
    * (p_fg − p_bg)·(p_fg/p_bg) when the term is over-represented, else
    * 0. No transcendentals, so oracle parity is exact by construction;
    * b = 0 cannot occur (b ≥ a ≥ 1). */
  private def sigJlh: Column = {
    val pFg = dbl(col("a")) / dbl(col("c"))
    val pBg = dbl(col("b")) / dbl(col("d"))
    when(pFg > pBg, (pFg - pBg) * (pFg / pBg)).otherwise(lit(0.0))
  }

  /** The 2×2 contingency χ² = N·(AD−BC)² / ((A+B)(A+C)(B+D)(C+D)) with
    * A = a, B = c − a, C = b − a, D = d − b − c + a. Every factor is cast
    * to double BEFORE multiplying (the 4-way integer product overflows
    * long at warehouse counts), in the parenthesization the oracles
    * mirror token for token; the square is x·x, not pow(x,2). A
    * degenerate margin nulls the score rather than raising ANSI
    * DIVIDE_BY_ZERO. */
  private def sigChi2: Column = {
    val bigA = col("a")
    val bigB = col("c") - col("a")
    val bigC = col("b") - col("a")
    val bigD = col("d") - col("b") - col("c") + col("a")
    val x = dbl(bigA) * dbl(bigD) - dbl(bigB) * dbl(bigC)
    val denom = (dbl(bigA + bigB) * dbl(bigA + bigC)) *
      (dbl(bigB + bigD) * dbl(bigC + bigD))
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dbl(col("d")) * (x * x) / denom)
  }

  /** Mutual information: Σ over the four cells of
    * (n_xy/N)·log₂(n_xy·N / (n_x·n_y)), an empty cell contributing 0.
    * log₂ is (DetLn(n_xy·N) − DetLn(n_x·n_y)) / Ln2 — the dual-compiled
    * libm-free ln, split numerator-minus-denominator so both arguments
    * stay ≥ 1 (DetLn's domain; the products are exact doubles,
    * ≤ token-count² < 2^53); [[significantMiOracleSql]] generates the
    * same program. DetLn is the codegen'd kernel expression, not
    * chained columns: on a data-scale frame CollapseProject merges a
    * column chain back into one textually-substituted expression
    * (measured 5×). A zero cell's numerator ln is unused: its term is
    * `when`-guarded to 0. */
  private def sigMi: Column = {
    import graft.util.DetLn
    val (a, b, c, n) = (col("a"), col("b"), col("c"), col("d"))
    // cells (count, row marginal, col marginal):
    //   in-set∧term (a; c, b), in-set∧¬term (c−a; c, d−b),
    //   other∧term (b−a; d−c, b), other∧¬term (d−b−c+a; d−c, d−b)
    Seq((a, c, b), (c - a, c, n - b), (b - a, n - c, b),
        (n - b - c + a, n - c, n - b)).map { case (nxy, nx, ny) =>
      when(nxy === 0, lit(0.0)).otherwise((dbl(nxy) / dbl(n)) *
        ((DetLn.lnExpr(dbl(nxy) * dbl(n)) - DetLn.lnExpr(dbl(nx) * dbl(ny))) /
          lit(DetLn.Ln2)))
    }.reduce(_ + _)
  }

  /** `docs`' non-empty lowercase whitespace tokens as (source, term). */
  private def sourceTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")

  /** The per-source significant terms under one heuristic: the terms
    * with at least `minCount` in-source occurrences, top-k by `score`
    * desc, source, term. */
  private def bySource(docs: DataFrame, score: String, heuristic: Column,
      minCount: Long, k: Int): DataFrame =
    contingency(sourceTokens(docs), "source")
      .filter(col("a") >= minCount)
      .withColumn(score, heuristic)
      .select(col("source"), col("term"), col("a").as("n_in_source"),
        col("b").as("n_in_corpus"), col(score))
      .orderBy(col(score).desc, col("source"), col("term"))
      .limit(k)

  /** ES significant-terms facet: terms over-represented in one source
    * vs the whole corpus, scored by exact-count lift
    * (tf_src·total)/(tf_corpus·src_total) — integer products, one
    * double division, deterministic. Candidate terms are floored at
    * `minCount` in-source occurrences. */
  def significantTerms(docs: DataFrame, minCount: Long, k: Int): DataFrame =
    bySource(docs, "lift", sigLift, minCount, k)

  /** ES significant_terms with the `chi_square` significance heuristic
    * (round 13 — the pluggable-heuristic side of [[significantTerms]],
    * whose score is ES's default-like lift), [[sigChi2]] over the same
    * contingency. */
  def significantTermsChi2(docs: DataFrame, minCount: Long, k: Int): DataFrame =
    bySource(docs, "chi2", sigChi2, minCount, k)

  /** ES significant_terms with the `mutual_information` heuristic
    * (round 13 — completing the default-lift / chi_square / MI trio),
    * [[sigMi]] over the same contingency. */
  def significantTermsMi(docs: DataFrame, minCount: Long, k: Int): DataFrame =
    bySource(docs, "mi", sigMi, minCount, k)

  /** The DuckDB `ctl` nest (the contingency row `ct` with each cell's
    * two DetLn logs as `__lnn<j>`/`__lnd<j>`) and the MI sum over it —
    * the textual mirror of [[sigMi]]. */
  private def miSql: (String, String) = {
    import graft.util.DetLn
    val cells = Seq(
      ("a", "c", "b"),
      ("c - a", "c", "d - b"),
      ("b - a", "d - c", "b"),
      ("d - b - c + a", "d - c", "d - b"))
    val items = cells.zipWithIndex.flatMap { case ((nxy, nx, ny), j) =>
      DetLn.sqlItems(s"CAST($nxy AS DOUBLE) * CAST(d AS DOUBLE)", s"__lnn$j") ++
        DetLn.sqlItems(s"CAST($nx AS DOUBLE) * CAST($ny AS DOUBLE)", s"__lnd$j")
    }
    val mi = cells.zipWithIndex.map { case ((nxy, _, _), j) =>
      s"(CASE WHEN $nxy = 0 THEN 0.0 ELSE (CAST($nxy AS DOUBLE) / CAST(d AS DOUBLE)) * ((__lnn$j - __lnd$j) / ${DetLn.dlit(DetLn.Ln2)}) END)"
    }.mkString("\n  + ")
    (DetLn.nestSql("ct", items), mi)
  }

  /** The DuckDB twin of [[significantTermsMi]] — generated from the
    * same cell definitions and the same DetLn program. */
  def significantMiOracleSql(minCount: Long, k: Int): String = {
    val (nest, mi) = miSql
    raw"""WITH tok AS (SELECT source, term FROM (
         |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
         |        FROM documents) WHERE term <> ''),
         |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
         |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
         |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT count(*) AS d FROM tok),
         |ct AS (SELECT source, term, a, b, c, d
         |       FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
         |       WHERE a >= $minCount),
         |ctl AS (SELECT * FROM $nest)
         |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
         |    $mi
         |  AS mi
         |FROM ctl
         |ORDER BY mi DESC, source, term LIMIT $k""".stripMargin
  }

  /** ES significant_terms with the JLH heuristic (round 13 — ES's
    * DEFAULT significance scorer), [[sigJlh]] over the same
    * contingency. */
  def significantTermsJlh(docs: DataFrame, minCount: Long, k: Int): DataFrame =
    bySource(docs, "jlh", sigJlh, minCount, k)

  /** ES significant_terms with `background_filter` (round 15, VERDICT
    * r14 #5): the superset ("background") counts come from a SCOPED
    * doc set — docs matching `bgLang` — instead of the whole index,
    * and the foreground is one `fgSource` bucket WITHIN that scope
    * (ES's documented usage: the query carries the background
    * predicate so fg ⊆ bg and every margin stays positive). All FOUR
    * heuristics score the one scoped contingency — the set is the
    * source inside the `bgLang` scope, so (a, b, c, d) = (fg term
    * count, bg term count, fg total, bg total) and the scoring Columns
    * are the unscoped quartet's. Ranked by JLH (ES's default scorer),
    * term tiebreak.
    *
    * Scale: tokenizing scans only the bg-filtered slice (predicate
    * pushed to the parquet scan), the fg margin is a 1-row broadcast,
    * the candidate frame is (bg vocab) rows. */
  def significantTermsBackground(docs: DataFrame, fgSource: String,
      bgLang: String, minCount: Long, k: Int): DataFrame =
    contingency(sourceTokens(docs.filter(col("lang") === bgLang)), "source")
      .filter(col("source") === fgSource && col("a") >= minCount)
      .select(col("term"), col("a").as("n_fg"), col("b").as("n_bg"),
        sigLift.as("lift"), sigJlh.as("jlh"), sigChi2.as("chi2"), sigMi.as("mi"))
      .orderBy(col("jlh").desc, col("term"))
      .limit(k)

  /** The DuckDB twin of [[significantTermsBackground]] — generated from
    * the same cell definitions and the same DetLn program (the
    * significantMiOracleSql pattern, with the scoped token CTEs). */
  def significantBgOracleSql(fgSource: String, bgLang: String,
      minCount: Long, k: Int): String = {
    val (nest, mi) = miSql
    raw"""WITH tok AS (SELECT source, term FROM (
         |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
         |        FROM documents WHERE lang = '$bgLang') WHERE term <> ''),
         |at AS (SELECT term, count(*) AS a FROM tok WHERE source = '$fgSource' GROUP BY 1),
         |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
         |cs AS (SELECT count(*) AS c FROM tok WHERE source = '$fgSource'),
         |tot AS (SELECT count(*) AS d FROM tok),
         |ct AS (SELECT term, a, b, c, d
         |       FROM at JOIN bt USING (term) CROSS JOIN cs CROSS JOIN tot
         |       WHERE a >= $minCount),
         |ctl AS (SELECT * FROM $nest)
         |SELECT term, a AS n_fg, b AS n_bg,
         |    (CAST(a * d AS DOUBLE) / (b * c)) AS lift,
         |    (CASE WHEN (CAST(a AS DOUBLE) / CAST(c AS DOUBLE)) > (CAST(b AS DOUBLE) / CAST(d AS DOUBLE))
         |          THEN ((CAST(a AS DOUBLE) / CAST(c AS DOUBLE)) - (CAST(b AS DOUBLE) / CAST(d AS DOUBLE))) * ((CAST(a AS DOUBLE) / CAST(c AS DOUBLE)) / (CAST(b AS DOUBLE) / CAST(d AS DOUBLE)))
         |          ELSE 0.0 END) AS jlh,
         |    (CASE WHEN (CAST(a + (c - a) AS DOUBLE) * CAST(a + (b - a) AS DOUBLE)) * (CAST((c - a) + (d - b - c + a) AS DOUBLE) * CAST((b - a) + (d - b - c + a) AS DOUBLE)) = 0.0 THEN NULL
         |          ELSE CAST(d AS DOUBLE) * ((CAST(a AS DOUBLE) * CAST(d - b - c + a AS DOUBLE) - CAST(c - a AS DOUBLE) * CAST(b - a AS DOUBLE)) * (CAST(a AS DOUBLE) * CAST(d - b - c + a AS DOUBLE) - CAST(c - a AS DOUBLE) * CAST(b - a AS DOUBLE))) / ((CAST(a + (c - a) AS DOUBLE) * CAST(a + (b - a) AS DOUBLE)) * (CAST((c - a) + (d - b - c + a) AS DOUBLE) * CAST((b - a) + (d - b - c + a) AS DOUBLE))) END) AS chi2,
         |    $mi
         |  AS mi
         |FROM ctl
         |ORDER BY jlh DESC, term LIMIT $k""".stripMargin
  }

  /** ES significant_text: terms over-represented in the HITS of a query
    * (the free-text twin of [[significantTerms]] — the foreground is
    * "documents matching `queryTerm`", not a keyed field). Lift is the
    * same exact-count ratio (a·d)/(b·c) with a = term occurrences in
    * the hit set, b = in the corpus, c/d = the respective token totals —
    * integer products, one double division, deterministic top-k.
    *
    * A doc_id is a hit when any of its rows holds `queryTerm` as a
    * token, so every row of that doc_id is foreground; a null doc_id
    * and an empty `queryTerm` hit nothing.
    *
    * Scale: one shuffle of the documents by doc_id marks each row with
    * its doc_id's hit flag (a window, which no predicate crosses, so
    * every contingency branch reuses that exchange and the corpus is
    * read once); the corpus-total frames are 1-row broadcasts. ES
    * samples the hit set for the same boundedness — compose with
    * [[graft.operators.Analytics.samplerAgg]]'s hash-band form if the
    * query matches a large corpus fraction. */
  def significantText(docs: DataFrame, queryTerm: String, minCount: Long,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(lower(col("text")), "\\s+")
    val holds = if (queryTerm.isEmpty) lit(false) else array_contains(toks, queryTerm)
    val tok = docs
      .select(col("text"), (col("doc_id").isNotNull &&
        max(holds).over(Window.partitionBy("doc_id"))).as("hit"))
      .select(col("hit"), explode(toks).as("term"))
      .filter(col("term") =!= "")
    contingency(tok, "hit")
      .filter(col("hit") && col("a") >= minCount)
      .select(col("term"), col("a").as("n_in_hits"), col("b").as("n_in_corpus"),
        sigLift.as("lift"))
      .orderBy(col("lift").desc, col("term"))
      .limit(k)
  }

  /** ES prefix query: docs with ≥1 token starting with `prefix`, scored
    * by matching-token count, top-k. Same narrow-scan shape as
    * [[matchQuery]] — at 100 TB an index-backed engine would consult a
    * term dictionary; the streaming form is one codegen'd pass. */
  /** ES _terms_enum API (r14): alphabetically ordered distinct index
    * terms starting with `prefix`, with their doc frequencies — the
    * index-metadata autocomplete endpoint (distinct from the
    * completion suggester, which ranks by weight/frequency: terms_enum
    * is the raw ascending term walk Kibana's field-value autocomplete
    * uses). One distinct-terms agg (map-side combinable) + bounded
    * TakeOrdered; at warehouse scale this reads the maintained vocab
    * table instead of re-tokenizing (TermsIndex), same contract. */
  def termsEnum(docs: DataFrame, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty)
    docs
      .select(explode(array_distinct(split(lower(col("text")), "\\s+"))).as("term"))
      .filter(col("term").startsWith(prefix))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("term"))
      .limit(k)
  }

  def prefixSearch(docs: DataFrame, prefix: String, k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    docs
      .select(col("doc_id"),
        size(filter(toks, t => t.startsWith(prefix))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** ES wildcard query (`?`/`*` term patterns, here in SQL LIKE spelling
    * `_`/`%`): docs with ≥1 token matching `pattern`, scored by
    * matching-token count, top-k. Completes the term-query family next
    * to [[prefixSearch]] (ref: the ES query surface the sink serves) —
    * same narrow codegen'd scan, LIKE compiled once per row batch. */
  def wildcardSearch(docs: DataFrame, pattern: String, k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    docs
      .select(col("doc_id"),
        size(filter(toks, t => t.like(pattern))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** ES regexp query: docs with ≥1 token FULLY matching `pattern`
    * (ES semantics — the regexp must consume the whole term, so the
    * pattern is anchored here). Portable subset only (char classes,
    * alternation, `*`/`+`/`?`): the same pattern must mean the same
    * thing to Java regex and RE2-style engines. */
  def regexpSearch(docs: DataFrame, pattern: String, k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    docs
      .select(col("doc_id"),
        size(filter(toks, t => t.rlike("^(" + pattern + ")$"))).cast("long")
          .as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
      .filter(col("n_matches") > 0)
  }

  /** ES fuzzy query: docs with ≥1 token within Levenshtein `maxDist` of
    * `term`, scored by matching-token count; `min_dist` (closest match
    * in the doc) ranks exact hits above edits, then count, then doc_id.
    * One narrow pass — `levenshtein` is a codegen'd builtin; an
    * index-backed engine walks a term automaton instead, but the
    * streaming form needs no dictionary and fuses into the scan. */
  def fuzzySearch(docs: DataFrame, term: String, maxDist: Int, k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val dists = transform(toks, t => levenshtein(t, lit(term)))
    docs
      .select(col("doc_id"),
        size(filter(dists, d => d <= maxDist)).cast("long").as("n_matches"),
        array_min(filter(dists, d => d <= maxDist)).cast("long").as("min_dist"))
      // the filter must stay BELOW the sort here: the page is ordered by
      // min_dist ASC, where non-matching rows are NULL (sorted first) —
      // the above-the-limit form is only valid when the filtered count
      // is itself the primary DESC sort key
      .filter(col("n_matches") > 0)
      .orderBy(col("min_dist"), col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** ES match_phrase: docs containing the exact (case-folded) phrase,
    * with occurrence counts via length arithmetic — no regex, no
    * position lists, one substring scan per row. */
  def phraseMatch(docs: DataFrame, phrase: String, k: Int): DataFrame = {
    val lowered = lower(col("text"))
    val occurrences =
      ((length(lowered) - length(replace(lowered, lit(phrase.toLowerCase), lit("")))) /
        lit(phrase.length)).cast("long")
    docs
      .select(col("doc_id"), occurrences.as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** ES match_phrase with slop / span_near(in_order=true): docs where
    * `term1` is followed by `term2` with at most `slop` intervening
    * tokens, scored by the count of qualifying (i, j) position pairs
    * (deterministic and engine-agnostic, unlike ES's move-count
    * proximity boost). Positions come from a transform-with-index over
    * the token array (1-based, mirroring the oracle's
    * generate_subscripts); the pair count is a nested array fold —
    * all narrow codegen'd column work that fuses into the scan, no
    * explode, no join, no shuffle below the final top-k. */
  def phraseMatchSlop(docs: DataFrame, term1: String, term2: String,
      slop: Int, k: Int, inOrder: Boolean = true): DataFrame = {
    require(slop >= 0, "slop must be non-negative")
    require(term1 != term2,
      "span_near over a repeated term needs distinct slots; the unordered " +
        "pair arithmetic below assumes term1 and term2 occupy different " +
        "positions (a same-term position would count itself: |i-i|-1 <= slop)")
    val toks = split(lower(col("text")), "\\s+")
    def positions(term: String) =
      filter(transform(toks, (t, i) => when(t === term, i + 1).otherwise(-1)),
        p => p > 0)
    // span_near(in_order=false) admits j on either side of i; both
    // variants count qualifying (i, j) pairs with ≤ slop intervening
    // tokens (j ≠ i is implied: distinct terms occupy distinct slots)
    def qualifies(i: Column, j: Column) =
      if (inOrder) j > i && j - i - 1 <= slop
      else abs(j - i) - 1 <= slop
    docs
      .select(col("doc_id"), positions(term1).as("p1"), positions(term2).as("p2"))
      .select(col("doc_id"),
        aggregate(col("p1"), lit(0L), (acc, i) =>
          acc + size(filter(col("p2"), j => qualifies(i, j))).cast("long"))
          .as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
      .filter(col("n_matches") > 0)
  }

  /** ES highlight: matching docs with a snippet window of ±`radius`
    * chars around the FIRST (case-folded) occurrence of `term`, plus
    * the match count — the search-results presentation primitive. All
    * locate/substring/length arithmetic — narrow codegen'd column work
    * that fuses into the scan; the top-k bounds output. Positions are
    * found on the case-folded text and applied to the raw text (ASCII
    * case folding is length-preserving, the module's corpus contract). */
  def highlight(docs: DataFrame, term: String, radius: Int, k: Int): DataFrame = {
    require(radius >= 0)
    val t = term.toLowerCase
    val lowered = lower(col("text"))
    val pos = locate(t, lowered) // 1-based; 0 = no match
    val occurrences =
      ((length(lowered) - length(replace(lowered, lit(t), lit("")))) /
        lit(t.length)).cast("long")
    docs
      .select(col("doc_id"), occurrences.as("n_matches"),
        pos.cast("long").as("first_pos"),
        col("text").substr(greatest(pos - radius, lit(1)),
          lit(t.length + 2 * radius)).as("snippet"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** ES term suggester: candidate corrections for a (possibly
    * misspelled) probe term, ranked by edit distance, then corpus
    * frequency (desc), then term — the "did you mean" primitive. The
    * vocabulary aggregation is the one corpus pass (slim map-side-
    * combinable TF count); distance scoring runs on the aggregated
    * vocabulary, which is orders of magnitude smaller than the data —
    * at 100 TB the vocab table is the persisted index a suggester
    * serves from, and this plan rebuilds + queries it in one shot. */
  def termSuggest(docs: DataFrame, probe: String, maxDist: Int, k: Int): DataFrame =
    docs
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .withColumn("dist", levenshtein(col("term"), lit(probe)).cast("long"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("dist"), col("freq").desc, col("term"))
      .limit(k)

  /** ES phrase suggester — bigram-chain correction of a multi-word
    * query (the "did you mean" for phrases [[termSuggest]] cannot do:
    * per-token correction alone has no way to prefer "hash join" over
    * "hash join-adjacent noise"). Per probe token, the [[termSuggest]]
    * rule yields ≤ `perTokenK` vocabulary candidates (levenshtein ≤
    * `maxDist`, ranked dist → freq desc → term); candidate phrases are
    * the chain product, scored by the SUM of corpus bigram counts over
    * adjacent pairs (exact integers — no smoothing, so the contract is
    * oracle-replayable), ranked score desc → edit-distance sum → text.
    *
    * Scale shape: vocab and bigram tables are map-side-combinable
    * aggs over one tokenize pass (persisted across its two uses); the
    * candidate frames are ≤ perTokenK rows each (driver-bounded
    * TakeOrdered), so every chain join broadcasts candidate pairs
    * against the bigram table keyed on (w1, w2) — the corpus-sized
    * side is filtered by a broadcast inner join BEFORE the tiny left
    * join, never scanned per candidate. */
  def phraseSuggest(docs: DataFrame, probe: Seq[String], maxDist: Int,
      perTokenK: Int, k: Int): DataFrame = {
    require(probe.size >= 2, "phrase suggestion needs at least two tokens")
    val toks = docs.select(split(lower(col("text")), "\\s+").as("toks")).persist()
    val vocab = toks.select(explode(col("toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .persist()
    val bigrams = toks.select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .filter(col("bg.w1") =!= "" && col("bg.w2") =!= "")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("bcount"))
    val cands = probe.zipWithIndex.map { case (t, i) =>
      vocab.withColumn("dist", levenshtein(col("term"), lit(t)).cast("long"))
        .filter(col("dist") <= maxDist)
        .orderBy(col("dist"), col("freq").desc, col("term"))
        .limit(perTokenK)
        .select(col("term").as(s"c$i"), col("dist").as(s"d$i"))
    }
    var acc = cands.head
    for (i <- 1 until probe.size) {
      val pairKeys = acc.select(col(s"c${i - 1}")).distinct()
        .crossJoin(cands(i).select(col(s"c$i")).distinct())
      val link = bigrams.join(broadcast(pairKeys),
        bigrams("w1") === pairKeys(s"c${i - 1}") && bigrams("w2") === pairKeys(s"c$i"))
        .select(col(s"c${i - 1}"), col(s"c$i"), col("bcount").as(s"b$i"))
      acc = acc.crossJoin(broadcast(cands(i)))
        .join(link, Seq(s"c${i - 1}", s"c$i"), "left")
        .na.fill(0L, Seq(s"b$i"))
    }
    val score = (1 until probe.size).map(i => col(s"b$i")).reduce(_ + _)
    val distSum = probe.indices.map(i => col(s"d$i")).reduce(_ + _)
    // bounded result materialized eagerly; tokenize + vocab caches dropped
    val out = acc.select(
        concat_ws(" ", probe.indices.map(i => col(s"c$i")): _*).as("suggestion"),
        score.as("bigram_score"), distSum.as("dist_sum"))
      .orderBy(col("bigram_score").desc, col("dist_sum"), col("suggestion"))
      .limit(k)
      .localCheckpoint()
    vocab.unpersist(blocking = false)
    toks.unpersist(blocking = false)
    out
  }

  /** ES completion suggester — prefix-indexed type-ahead: vocabulary
    * terms starting with `prefix`, ranked by total corpus occurrences
    * (the weight ES derives when none is supplied), then doc frequency,
    * then term. ES serves this from an FST built at index time; the
    * engine form is the same two-level shape — a map-side-combinable
    * vocab aggregation (at warehouse scale a maintained index table,
    * additive per ingest batch like the dedup df table) filtered by
    * the prefix predicate, bounded TakeOrdered on top. One tokenize
    * pass; nothing corpus-sized shuffles. */
  def completionSuggest(docs: DataFrame, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty, "completion needs a non-empty prefix")
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term").startsWith(prefix))
      .groupBy("term")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("term"))
      .limit(k)
  }

  /** ES completion suggester with FUZZINESS (round 13): suggestions
    * whose own prefix of the typed length is within `fuzziness` edits
    * of what the user typed — the typo tolerance the real completion
    * suggester ships ("serach" still finds "search"). Exact matches
    * rank before fuzzy ones (the ES contract), then by occurrence
    * count. The edit distance runs on the LENGTH-BOUNDED prefix pair
    * (never whole terms), so per-token cost is O(|prefix|²) regardless
    * of term length; everything else is the plain suggester's
    * map-side-combinable agg + bounded TakeOrdered. */
  def completionSuggestFuzzy(docs: DataFrame, prefix: String, fuzziness: Int,
      k: Int): DataFrame = {
    require(prefix.nonEmpty && fuzziness >= 0)
    val p = prefix.toLowerCase
    val termPrefix = substring(col("term"), 1, p.length)
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "" &&
        levenshtein(termPrefix, lit(p)) <= fuzziness)
      .groupBy("term")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"),
        max(when(termPrefix === p, 1L).otherwise(0L)).as("exact"))
      .select(col("term"), col("n_occ"), col("n_docs"), col("exact"))
      .orderBy(col("exact").desc, col("n_occ").desc, col("n_docs").desc, col("term"))
      .limit(k)
  }

  /** Confusion matrix of predicted vs ground-truth language — the
    * eval loop a pipeline runs after changing the classifier. Single
    * pass + one tiny agg; no join (the truth label rides along). */
  def langIdEval(docs: DataFrame): DataFrame =
    langId(docs, keep = Seq("lang"))
      .groupBy(col("lang").as("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  /** Corpus profile by (source, lang): doc counts + char-length stats —
    * the per-domain inventory a data-mixing pipeline starts from. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))

  /** ES categorize_text aggregation — deterministic baseline form
    * (round 12): ES clusters log-like messages by token pattern
    * (numbers and high-variance tokens wildcarded); this implements the
    * reproducible core of that idea — the category key is the doc's
    * first `sigTokens` tokens after lowercasing and collapsing digit
    * runs to `#` (the wildcard step), which groups "error 404 at ..."
    * with "error 500 at ...". Buckets: doc count, example doc
    * (min id), mean doc length on the exact integer domain. One narrow
    * projection + hash agg + bounded TakeOrdered — the same shape as
    * every terms-style facet; deterministic where ES's online
    * clustering is order-dependent, which is what makes it
    * oracle-replayable. */
  def categorize(docs: DataFrame, sigTokens: Int, topN: Int): DataFrame =
    docs.select(col("doc_id"),
        concat_ws(" ", slice(split(regexp_replace(lower(col("text")), "[0-9]+", "#"),
          "\\s+"), 1, sigTokens)).as("category"),
        size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
      .groupBy("category")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("example_doc_id"),
        sum(col("n_toks")).as("sum_toks"))
      .orderBy(col("n_docs").desc, col("category"))
      .limit(topN)

  /** Token-window chunking: windows of `width` tokens every `stride`
    * tokens — the doc→training-sample splitter. Narrow (no shuffle):
    * chunk enumeration is an explode of per-row start offsets; at 100 TB
    * output size is input × width/stride, streamed partition-local. */
  def chunk(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L),
            floor(greatest(size(col("toks")) - lit(width), lit(0)) / lit(stride)).cast("long")),
          i => slice(col("toks"), (i * stride + 1).cast("int"), lit(width)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("n_chunk_tokens"))
  }

  /** Corpus top-k word n-grams. The n-gram array is built by zip_with
    * over shifted slices of the token array (array-at-a-time — a
    * per-index lambda would re-evaluate the tokenizer per element); the
    * explode feeds a map-side-combinable count. Wordlike tokens only,
    * so no empty-token edge cases. */
  def topNgrams(docs: DataFrame, k: Int): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0))
    docs
      .select(toks.as("toks"))
      .select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** ES more_like_this: rank documents by similarity to a set of seed
    * docs. Seed terms above `maxDf` corpus document-frequency are
    * dropped (ES `max_doc_freq` — ubiquitous terms carry no signal);
    * the score is the TF histogram intersection Σ min(tf_doc, tf_seed)
    * over surviving terms — exact integers, so top-k ordering is
    * deterministic with the doc_id tie-break.
    *
    * Scale: per-doc TFs are slim (doc_id, word, tf) rows aggregated
    * map-side; the seed term list (one query's worth) broadcasts, so
    * the corpus side never shuffles for the join — only the final
    * per-doc score aggregation shuffles, and it combines map-side. */
  def moreLikeThis(docs: DataFrame, seedIds: Seq[Long], maxDf: Long,
                   k: Int): DataFrame = {
    // module tokenization convention: lowercase, \s+ split, empty terms
    // dropped. tf is persisted: it feeds the df aggregation, the seed
    // term list, and the corpus scoring side — one tokenize+shuffle pass
    // over the corpus instead of three.
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val seedTerms = tf.filter(col("doc_id").isin(seedIds: _*))
      .groupBy("word").agg(sum(col("tf")).as("seed_tf"))
      .join(df.filter(col("df") <= maxDf), "word")
      .select("word", "seed_tf")
    // bounded result materialized eagerly; tf cache dropped
    val out = tf.filter(!col("doc_id").isin(seedIds: _*))
      .join(broadcast(seedTerms), "word")
      .groupBy("doc_id")
      .agg(sum(least(col("tf"), col("seed_tf"))).as("score"),
        count(lit(1)).as("n_shared_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .localCheckpoint()
    tf.unpersist(blocking = false)
    out
  }

  /** ES dis_max query with a non-zero tie_breaker: each sub-query (here
    * per-field TF scores, the multi_match machinery) contributes its
    * score; a doc's total is best + tieBreaker · (sum − best) — between
    * best_fields (tb=0, [[multiMatch]]) and most_fields (tb=1). Exact
    * integer TF counts × rational boosts, one fixed-order double
    * combine, so the ranking is oracle-exact. Narrow scan + bounded
    * TakeOrdered, same shape as multiMatch. */
  def disMax(docs: DataFrame, fields: Seq[(String, Column, Double)],
      terms: Seq[String], tieBreaker: Double, k: Int): DataFrame = {
    require(fields.size >= 2 && terms.nonEmpty
      && tieBreaker >= 0 && tieBreaker <= 1)
    val termArr = typedlit(terms)
    val scored = docs.select(col("doc_id") +: fields.map { case (name, toks, boost) =>
      (size(filter(toks, t => array_contains(termArr, t))).cast("double") * lit(boost))
        .as(s"score_$name") }: _*)
    val cols = fields.map(f => col(s"score_${f._1}"))
    val best = greatest(cols: _*)
    val total = cols.reduce(_ + _)
    scored
      .withColumn("score", best + lit(tieBreaker) * (total - best))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES boosting query: docs are ranked by the positive query's score,
    * but docs ALSO matching the negative query have their score
    * multiplied by `negativeBoost` (demoted, not excluded — the
    * difference from must_not). Positive score = TF count over the
    * positive terms; the negative test is a token membership check.
    * All narrow codegen'd column work + bounded TakeOrdered. */
  def boostingQuery(docs: DataFrame, positiveTerms: Seq[String],
      negativeTerm: String, negativeBoost: Double, k: Int): DataFrame = {
    require(positiveTerms.nonEmpty && negativeBoost > 0 && negativeBoost < 1)
    val toks = split(lower(col("text")), "\\s+")
    val termArr = typedlit(positiveTerms)
    val pos = size(filter(toks, t => array_contains(termArr, t))).cast("double")
    val neg = array_contains(toks, negativeTerm)
    docs
      .select(col("doc_id"), neg.as("demoted"),
        (pos * when(neg, lit(negativeBoost)).otherwise(lit(1.0))).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES pinned query: curated doc ids rank first IN THE GIVEN ORDER,
    * organic results (ranked by TF score over `terms`) follow — the
    * "promoted results" search primitive. The pinned list is a literal
    * array in the plan (a query carries a handful of pins), so the
    * rank column is pure codegen'd arithmetic: pinned docs sort by
    * list position, organic docs by (score desc, id). One narrow scan
    * + bounded TakeOrdered; pinned docs that don't match the query
    * still surface, per ES. */
  def pinnedQuery(docs: DataFrame, pinnedIds: Seq[Long], terms: Seq[String],
      k: Int): DataFrame = {
    require(pinnedIds.nonEmpty && terms.nonEmpty)
    val toks = split(lower(col("text")), "\\s+")
    val termArr = typedlit(terms)
    val pinArr = typedlit(pinnedIds)
    val pinPos = array_position(pinArr, col("doc_id")) // 1-based; 0 = not pinned
    docs
      .select(col("doc_id"),
        size(filter(toks, t => array_contains(termArr, t))).cast("long").as("score"),
        pinPos.cast("long").as("pin_rank"))
      .filter(col("pin_rank") > 0 || col("score") > 0)
      .orderBy(
        when(col("pin_rank") > 0, col("pin_rank")).otherwise(lit(Long.MaxValue)),
        col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** ES match_phrase_prefix: `term` immediately followed by a token
    * starting with `prefix` (the type-ahead phrase query — "hash j"
    * matches "hash join" and "hash joins"). Scored by qualifying
    * adjacent position pairs, the [[phraseMatchSlop]] position
    * machinery with a prefix predicate on the second slot; all narrow
    * array arithmetic, no explode/join below the top-k. The second
    * slot may equal `term` itself (ES matches repeated-term phrases
    * like "hash hash" when the prefix covers the term — adjacency
    * i+1 already prevents a position matching itself; r12 ADVICE). */
  def matchPhrasePrefix(docs: DataFrame, term: String, prefix: String,
      k: Int): DataFrame = {
    require(term.nonEmpty && prefix.nonEmpty)
    val toks = split(lower(col("text")), "\\s+")
    def positions(pred: Column => Column) =
      filter(transform(toks, (t, i) => when(pred(t), i + 1).otherwise(-1)),
        p => p > 0)
    docs
      .select(col("doc_id"),
        positions(_ === term).as("p1"),
        positions(t => t.startsWith(prefix)).as("p2"))
      .select(col("doc_id"),
        aggregate(col("p1"), lit(0L), (acc, i) =>
          acc + size(filter(col("p2"), j => j === i + 1)).cast("long"))
          .as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
      .filter(col("n_matches") > 0)
  }

  /** ES 8 combined_fields query: BM25 over a virtual field whose term
    * frequencies and length are the WEIGHTED SUMS of the per-field
    * values (tf_c = Σ w_f·tf_f, dl_c = Σ w_f·len_f) with one shared
    * IDF from the combined df — the principled multi-field ranking
    * (BM25F) that multi_match's per-field best-of cannot express.
    * Fields here are the title window (first `titleLen` tokens) and
    * the disjoint body remainder. Weights must be integral so the
    * combined counts stay exact longs — sums are then
    * partial-aggregation-order independent, and the only doubles are
    * the fixed-order BM25 formula (ln on the rational domain
    * bit-matches DuckDB — the text_bm25 precedent). Same plan shape as
    * [[bm25Search]]: one tokenize pass, a 1-row broadcast stats frame,
    * bounded TakeOrdered. */
  def combinedFieldsSearch(docs: DataFrame, terms: Seq[String], titleLen: Int,
      wTitle: Long, wBody: Long, kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && titleLen > 0 && wTitle > 0 && wBody > 0)
    val toks = split(lower(col("text")), "\\s+")
    val withFields = docs.select(col("doc_id"),
      slice(toks, 1, titleLen).as("tt"),
      slice(toks, titleLen + 1, Int.MaxValue - titleLen).as("bt"))
    val (tt, bt) = (tokenField("", col("tt")), tokenField("", col("bt")))
    val f = Bm25Field("", (lit(wTitle) * size(col("tt")) + lit(wBody) * size(col("bt")))
      .cast("long"), t => (lit(wTitle) * tt.tf(t) + lit(wBody) * bt.tf(t)).cast("long"))
    val m = new Bm25(withFields, Seq(f), terms, k1, b)
    m.page(m.stats(m.idfs(f)),
      Seq(col("doc_id"), col("dl"), m.fieldScore(f).as("score")), kTop)
  }

  /** ES 8.16 `linear` retriever: weighted fusion of the BM25 lexical
    * top-n and the embedding-kNN semantic top-n after per-retriever
    * MIN-MAX NORMALIZATION (each page's scores rescaled to [0,1] over
    * that page; a doc absent from a page contributes 0 — the ES
    * contract). The normalization gauges are 1-row aggregates over
    * driver-bounded pages, so like [[rrfHybrid]] everything below the
    * corpus passes touches ≤ n rows. A degenerate page (max = min)
    * normalizes to 1.0. Weights should be exactly-representable binary
    * fractions so the fused sum replays bit-identically. */
  def linearRetriever(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVecId: Long, n: Int, kTop: Int,
      wLex: Double, wSem: Double): DataFrame = {
    import graft.functions.GraftFunctions
    def minmax(df: DataFrame, scoreCol: String, outCol: String): DataFrame = {
      val gauge = df.agg(min(col(scoreCol)).as("__lo"), max(col(scoreCol)).as("__hi"))
      df.crossJoin(broadcast(gauge))
        .withColumn(outCol,
          when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise((col(scoreCol) - col("__lo")) / (col("__hi") - col("__lo"))))
        .drop("__lo", "__hi")
    }
    val lex = minmax(bm25Search(docs, terms, n).select("doc_id", "score"),
      "score", "lex_norm").select("doc_id", "lex_norm")
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val semPage = emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        GraftFunctions.cosineSim(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(n)
    val sem = minmax(semPage, "cos", "sem_norm").select("doc_id", "sem_norm")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("fused",
        lit(wLex) * coalesce(col("lex_norm"), lit(0.0)) +
          lit(wSem) * coalesce(col("sem_norm"), lit(0.0)))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(kTop)
      .select("doc_id", "lex_norm", "sem_norm", "fused")
  }

  /** The judged BM25 page both `_rank_eval` metrics read: the top-`n`
    * [[bm25Search]] page with each doc's 1-based `rank` and its
    * judgment `rel` (it holds every query term), and the 1-row
    * corpus-wide `n_relevant`. */
  private def judgedPage(docs: DataFrame, terms: Seq[String],
      n: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty && n >= 10)
    val toks = split(lower(col("text")), "\\s+")
    val relevant = terms.map(t =>
      size(filter(toks, x => x === lit(t))) > 0).reduce(_ && _)
    val judged = docs.select(col("doc_id"), relevant.as("rel"))
    val page = bm25Search(docs, terms, n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .join(judged, "doc_id")
    (page, judged.agg(sum(when(col("rel"), 1L).otherwise(0L)).as("n_relevant")))
  }

  /** ES _rank_eval API: search-quality metrics for a ranking against a
    * judgment set — precision@5/@10, recall@n, and MRR, the eval loop a
    * relevance-tuning pipeline runs after every change. The ranking is
    * the BM25 top-n page; the judgment set is deterministic and
    * data-derived (docs containing ALL query terms — a replayable
    * relevance proxy), so every metric is an exact rational of integer
    * counts (no ties to break: the page ranks are already unique).
    * Scale shape: the page is driver-bounded (n rows), the judgment
    * flag is a narrow per-row predicate, the corpus-wide relevant
    * count is one 1-row aggregate — nothing beyond the BM25 pass
    * touches data scale. */
  def rankEval(docs: DataFrame, terms: Seq[String], n: Int): DataFrame = {
    val (page, totals) = judgedPage(docs, terms, n)
    page
      .agg(
        sum(when(col("rel") && col("rank") <= 5, 1L).otherwise(0L)).as("hits5"),
        sum(when(col("rel") && col("rank") <= 10, 1L).otherwise(0L)).as("hits10"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("hitsN"),
        min(when(col("rel"), col("rank"))).as("first_rel"))
      .crossJoin(broadcast(totals))
      .select(
        col("n_relevant"),
        (col("hits5").cast("double") / 5).as("precision_at_5"),
        (col("hits10").cast("double") / 10).as("precision_at_10"),
        // n_relevant = 0 would raise DIVIDE_BY_ZERO under ANSI mode
        // (Spark 4 default) — null recall instead, like bucketCorrelation
        when(col("n_relevant") === 0, lit(null).cast("double"))
          .otherwise(col("hitsN").cast("double") / col("n_relevant"))
          .as(s"recall_at_$n"),
        coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("mrr"))
  }

  /** The DCG discount ladder 1/log₂(r+1) for ranks 1..10 and its ideal
    * prefix sums, computed ONCE driver-side and embedded as the same
    * literal constants in both the Column program and the generated
    * DuckDB oracle — the dual-compile discipline's answer to a
    * transcendental that only ever takes 10 inputs (no cross-engine ln
    * at data scale at all). */
  val dcgDiscounts: IndexedSeq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
  val dcgIdealPrefix: IndexedSeq[Double] =
    dcgDiscounts.scanLeft(0.0)(_ + _).tail

  /** ES _rank_eval `dcg` metric (`normalize: true` → NDCG@10) over the
    * BM25 page (r15 continuation — the graded-ranking metric next to
    * [[rankEval]]'s precision/recall/MRR row). Binary gains (the
    * judgment proxy is binary), so DCG@10 = Σ_{r≤10, rel} 1/log₂(r+1)
    * and IDCG@10 is a pure function of min(n_relevant, 10) — both come
    * from the [[dcgDiscounts]] literal ladder. Per-rank contributions
    * pivot to 10 bounded columns and the sum is a FIXED left-assoc
    * chain (identical textual order in both engines — the r14
    * association rule), so the whole metric is engine-exact. Scale
    * shape identical to [[rankEval]]: everything beyond the BM25 pass
    * is rank-bounded. */
  def rankEvalDcg(docs: DataFrame, terms: Seq[String], n: Int): DataFrame = {
    val (page, totals) = judgedPage(docs, terms, n)
    val contribs = (1 to 10).map { r =>
      coalesce(max(when(col("rank") === r && col("rel"),
        lit(dcgDiscounts(r - 1))).otherwise(lit(0.0))), lit(0.0)).as(s"c$r")
    }
    val dcg = (1 to 10).map(r => col(s"c$r")).reduce(_ + _)
    val idcg = element_at(typedlit(dcgIdealPrefix.toList),
      least(col("n_relevant"), lit(10L)).cast("int"))
    page.agg(contribs.head, contribs.tail: _*)
      .crossJoin(broadcast(totals))
      .select(
        col("n_relevant"),
        dcg.as("dcg_at_10"),
        when(col("n_relevant") === 0, lit(null).cast("double"))
          .otherwise(dcg / idcg).as("ndcg_at_10"))
  }

  /** ES terms lookup: a `terms` filter whose value list is fetched from
    * ANOTHER DOCUMENT's field at query time ("docs sharing a tag with
    * doc X" — the follower/related-items filter, distinct from
    * more_like_this's TF-weighted/df-bounded scoring: lookup is plain
    * set membership over the lookup doc's terms). The lookup doc's
    * distinct token set rides a 1-row broadcast frame (never a driver
    * collect), each candidate's score is one array_intersect against
    * it, and the lookup doc itself is excluded per ES. */
  def termsLookup(docs: DataFrame, lookupDocId: Long, k: Int): DataFrame = {
    val tokens = array_distinct(filter(split(lower(col("text")), "\\s+"),
      t => t =!= ""))
    val lookup = docs.filter(col("doc_id") === lookupDocId)
      .select(tokens.as("lookup_terms"))
    docs
      .filter(col("doc_id") =!= lookupDocId)
      .crossJoin(broadcast(lookup))
      .select(col("doc_id"),
        size(array_intersect(tokens, col("lookup_terms"))).cast("long")
          .as("n_shared"))
      .filter(col("n_shared") > 0)
      .orderBy(col("n_shared").desc, col("doc_id"))
      .limit(k)
  }

  /** ES intervals query (`match` rule, ordered=true, max_gaps): docs
    * where `t1`, `t2`, `t3` occur IN ORDER with at most `maxGaps`
    * non-matching positions inside the whole interval (ES's gap
    * definition: span length minus the 3 matched slots — k − i − 2 ≤
    * maxGaps with i<j<k), scored by the count of qualifying ordered
    * triples. The three-term generalization of [[phraseMatchSlop]]'s
    * pair machinery: positions from one transform-with-index pass,
    * the triple count a nested array fold — narrow codegen'd column
    * work, no explode/join below the top-k. */
  def intervalsQuery(docs: DataFrame, t1: String, t2: String, t3: String,
      maxGaps: Int, k: Int): DataFrame = {
    require(Set(t1, t2, t3).size == 3, "interval terms must be distinct")
    require(maxGaps >= 0)
    val toks = split(lower(col("text")), "\\s+")
    def positions(term: String) =
      filter(transform(toks, (t, i) => when(t === term, i + 1).otherwise(-1)),
        p => p > 0)
    docs
      .select(col("doc_id"), positions(t1).as("p1"), positions(t2).as("p2"),
        positions(t3).as("p3"))
      .select(col("doc_id"),
        aggregate(col("p1"), lit(0L), (acc, i) =>
          acc + aggregate(col("p3"), lit(0L), (acc3, kk) =>
            acc3 + when(kk > i + 1 && kk - i - 2 <= maxGaps &&
              exists(col("p2"), j => j > i && j < kk), 1L).otherwise(0L)))
          .as("n_intervals"))
      .orderBy(col("n_intervals").desc, col("doc_id"))
      .limit(k)
      .filter(col("n_intervals") > 0)
  }

  /** ES span_first query: docs where `term` occurs within the first
    * `end` token positions ("in the opening words" — title-ish matching
    * without a separate title field). Scored by the count of qualifying
    * positions, with the earliest position surfaced; the
    * [[phraseMatchSlop]] position machinery with a position-bound
    * predicate. Narrow array arithmetic in the scan, bounded
    * TakeOrdered. */
  def spanFirst(docs: DataFrame, term: String, end: Int, k: Int): DataFrame = {
    require(term.nonEmpty && end > 0)
    val toks = split(lower(col("text")), "\\s+")
    val pos = filter(transform(toks, (t, i) => when(t === term, i + 1).otherwise(-1)),
      p => p > 0 && p <= end)
    docs
      .select(col("doc_id"), pos.as("p"))
      .select(col("doc_id"),
        size(col("p")).cast("long").as("n_within"),
        array_min(col("p")).cast("long").as("first_pos"))
      .orderBy(col("n_within").desc, col("doc_id"))
      .limit(k)
      .filter(col("n_within") > 0)
  }

  /** ES frequent_item_sets aggregation (8.4+), restricted to pair sets
    * — the co-occurrence miner ("terms that appear together"). Two
    * passes: (1) the vocabulary is bounded to the top `vocabK` corpus
    * terms (a map-side-combinable doc-frequency agg + TakeOrdered — at
    * warehouse scale this is the maintained vocab table), broadcast;
    * (2) each doc's DISTINCT kept terms become C(v,2) ordered pairs via
    * a nested array transform (v ≤ vocabK bounds the blow-up), counted
    * in one hash agg. Pairs below `minSupport` docs drop; top-k by
    * support. No self-join of the corpus — the pair explosion is
    * per-doc and vocab-bounded. */
  def frequentItemSets(docs: DataFrame, vocabK: Int, minSupport: Long,
      k: Int): DataFrame = {
    require(vocabK > 1 && minSupport >= 1)
    val tokens = array_distinct(filter(split(lower(col("text")), "\\s+"),
      t => t =!= ""))
    // pass 1: top-vocabK terms by doc frequency (df desc, term asc)
    val vocab = docs
      .select(explode(tokens).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(vocabK)
      .select("term")
    val vocabArr = typedlit(vocab.collect().map(_.getString(0)).toSeq.sorted)
    // pass 2: per-doc kept-term array (sorted), pairwise expansion.
    // `kept` is materialized as an attribute FIRST so the nested
    // transform's re-reference is a cheap column ref, not a
    // re-evaluation of the tokenize+filter expression per element.
    docs
      .select(sort_array(filter(tokens, t => array_contains(vocabArr, t)))
        .as("kept"))
      .select(explode(flatten(transform(col("kept"), (a, i) =>
        transform(slice(col("kept"), i + 2, lit(vocabK)),
          b => struct(a.as("t1"), b.as("t2"))))))
        .as("pair"))
      .groupBy(col("pair.t1").as("term1"), col("pair.t2").as("term2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("term1"), col("term2"))
      .limit(k)
  }

  /** ES frequent_item_sets at size 3 (r14) — [[frequentItemSets]]'
    * vocab-bounded per-doc expansion generalized to triples. Same two
    * passes; pass 2 expands each doc's sorted kept-term array into its
    * C(v,3) ordered triples via three nested array transforms (the
    * slice starts chain the outer 0-based indices: b ranges over
    * positions after a, c over positions after b), so the blow-up is
    * bounded by C(vocabK,3) per doc and usually far less (v = the
    * doc's DISTINCT kept terms). Still no corpus self-join — one hash
    * agg counts every triple. */
  def frequentTriples(docs: DataFrame, vocabK: Int, minSupport: Long,
      k: Int): DataFrame = {
    require(vocabK > 2 && minSupport >= 1)
    val tokens = array_distinct(filter(split(lower(col("text")), "\\s+"),
      t => t =!= ""))
    val vocab = docs
      .select(explode(tokens).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(vocabK)
      .select("term")
    val vocabSorted = vocab.collect().map(_.getString(0)).toSeq.sorted
    val vocabArr = typedlit(vocabSorted)
    // per-doc expansion emits each triple as ONE BIGINT code over the
    // doc's VOCAB-INDEX array (idx is 1-based from array_position on
    // the sorted vocab, so index order == lexicographic term order
    // and decode is just element_at): the C(v,3) blow-up then streams
    // primitive longs into a <=vocabK^3-key hash agg instead of
    // 3-string structs — measured 4.6 -> 1.6 s at sf0.1 (the row
    // count is the same; the per-row alloc+hash cost is not). Partial
    // aggregation collapses the stream to <=C(vocabK,3) rows per
    // partition before the shuffle.
    val kb = vocabK.toLong
    // 0-based vocab index = count of lexicographically-smaller vocab
    // terms (vocab is sorted and membership already filtered), so
    // index order == term order and the decode is element_at
    val iv = sort_array(transform(
      filter(tokens, t => array_contains(vocabArr, t)),
      t => size(filter(vocabArr, v => v < t)).cast("long")))
    val codes = docs
      .select(iv.as("kept"))
      .select(explode(flatten(transform(col("kept"), (a, i) =>
        flatten(transform(slice(col("kept"), i + 2, lit(vocabK)), (b, j) =>
          transform(slice(col("kept"), i + j + 3, lit(vocabK)),
            c => (a * kb + b) * kb + c)))))).as("code"))
    // code < vocabK^3 (8000 at the wired 20) — the double divisions
    // below are exact and truncate cleanly
    val t1i = floor(col("code") / lit(kb * kb)).cast("long")
    val t2i = floor(col("code") / lit(kb)).cast("long") % kb
    val t3i = col("code") % kb
    codes
      .groupBy("code").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select(
        element_at(vocabArr, (t1i + 1).cast("int")).as("term1"),
        element_at(vocabArr, (t2i + 1).cast("int")).as("term2"),
        element_at(vocabArr, (t3i + 1).cast("int")).as("term3"),
        col("support"))
      .orderBy(col("support").desc, col("term1"), col("term2"), col("term3"))
      .limit(k)
  }

  /** ES `sparse_vector` query (the ELSER / learned-sparse-retrieval
    * surface): the query is a {token → weight} map; each document's
    * score is the sparse dot product Σ_t weight(t) · tf(doc, t) over
    * INTEGER weights (engine-exact — no float accumulates anywhere),
    * top-k by (score desc, doc_id). With `prunePpm` set, tokens whose
    * document frequency exceeds prunePpm/10⁶ of the corpus are PRUNED
    * from the query first — ES's `prune` option: learned-sparse vectors
    * carry many low-information high-df tokens, and dropping them cuts
    * scoring cost without moving the ranking. The prune rule is a
    * cross-multiplied integer comparison (df · 10⁶ ≤ prunePpm · nDocs).
    *
    * Scale: the df probe touches only the |query| terms (explode
    * filtered to the query's token set BEFORE the aggregate, so the
    * shuffle carries ≤ |query| partial counts per partition); the
    * scoring pass is one narrow codegen'd fold per doc (map literal
    * lookup, no join, no shuffle) + the driver-bounded top-k. The
    * zero-score filter sits ABOVE the top-k (score is the primary DESC
    * key — the r13 filter-placement rule). */
  def sparseVectorQuery(docs: DataFrame, weights: Seq[(String, Long)],
      prunePpm: Long, k: Int): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val termArr = typedlit(weights.map(_._1))
    val nDocs = docs.count()
    // bounded-metadata collect: ≤ |query| (term, df) rows
    val dfOf = docs
      .select(explode(array_distinct(
        filter(toks, t => array_contains(termArr, t)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = weights.filter { case (t, _) =>
      dfOf.getOrElse(t, 0L) * 1000000L <= prunePpm * nDocs }
    if (kept.isEmpty)
      return docs.select(col("doc_id"), lit(0L).as("score")).filter(lit(false))
    val keptMap = typedlit(kept.toMap)
    docs
      .select(col("doc_id"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + coalesce(element_at(keptMap, t), lit(0L))).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .filter(col("score") > 0)
  }

  /** ES `_termvectors` API: for one document, its term vector — per
    * term the in-doc frequency and first position, plus the corpus-wide
    * statistics the API reports (`doc_freq`, `ttf` = total term
    * frequency) — what relevance debugging and "why did this doc score
    * X" workflows read.
    *
    * Scale: the document side is one row; the corpus-statistics side is
    * filtered to the doc's own term set BEFORE its aggregate (broadcast
    * semi-join of a ≤doc-length term list), so the shuffle carries ≤
    * |doc terms| partial counts per partition — never a full-vocab
    * aggregate for a one-doc API call. */
  def termVectors(docs: DataFrame, docId: Long): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val doc = docs.filter(col("doc_id") === docId)
      .select(posexplode(toks)).toDF("pos", "term")
      .groupBy("term")
      .agg(count(lit(1)).as("term_freq"), min(col("pos")).cast("long").as("first_pos"))
    val stats = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .join(broadcast(doc.select("term")), "term")
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("doc_freq"), count(lit(1)).as("ttf"))
    doc.join(stats, "term")
      .select(col("term"), col("term_freq"), col("first_pos"),
        col("doc_freq"), col("ttf"))
  }

  /** Generated DuckDB oracle for [[termVectors]] — positions built
    * positionally (0-based, mirroring posexplode), corpus stats
    * restricted to the doc's term set. */
  def termVectorsSql(docId: Long): String =
    raw"""WITH d AS (SELECT string_split_regex(lower(text), '\s+') AS toks
         |           FROM documents WHERE doc_id = $docId),
         |dt AS (SELECT toks[i] AS term, CAST(i - 1 AS BIGINT) AS pos
         |       FROM d, unnest(range(1, len(toks) + 1)) AS t(i)),
         |dv AS (SELECT term, CAST(count(*) AS BIGINT) AS term_freq,
         |              min(pos) AS first_pos
         |       FROM dt GROUP BY term),
         |tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
         |        FROM documents),
         |st AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         |              CAST(count(*) AS BIGINT) AS ttf
         |       FROM tok JOIN (SELECT term FROM dv) x USING (term) GROUP BY term)
         |SELECT term, term_freq, first_pos, doc_freq, ttf
         |FROM dv JOIN st USING (term)""".stripMargin

  /** Generated DuckDB oracle for [[sparseVectorQuery]] — same weight
    * list, same cross-multiplied prune rule, zero-score docs excluded
    * by the join (they rank after every positive, so filtering outside
    * the LIMIT is equivalent to Spark's above-the-top-k filter). */
  def sparseVectorSql(weights: Seq[(String, Long)], prunePpm: Long,
      k: Int): String = {
    val values = weights.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    raw"""WITH q(term, w) AS (VALUES $values),
         |tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
         |        FROM documents),
         |nd AS (SELECT count(*) AS n FROM documents),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df
         |       FROM tok JOIN q USING (term) GROUP BY term),
         |kept AS (SELECT q.term, q.w FROM q LEFT JOIN df USING (term) CROSS JOIN nd
         |         WHERE coalesce(df, 0) * 1000000 <= $prunePpm * nd.n),
         |s AS (SELECT t.doc_id, CAST(sum(k.w) AS BIGINT) AS score
         |      FROM tok t JOIN kept k USING (term) GROUP BY t.doc_id)
         |SELECT doc_id, score
         |FROM (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT $k)
         |WHERE score > 0""".stripMargin
  }

  /** The RAKE stopword delimiter set (Rose et al. 2010 uses a full
    * stoplist; this frozen subset is the union of the [[stopwords]]
    * language lists — the one definition both compiles read). */
  val rakeStops: Seq[String] =
    stopwords.values.toSeq.sorted.flatMap(_.split("\\|")).distinct.sorted

  /** RAKE keyword extraction (round 18 — Rose et al. 2010, "Automatic
    * Keyword Extraction from Individual Documents"; the text-analysis
    * step a corpus pipeline runs to tag documents with their salient
    * phrases): candidate phrases are maximal stopword-free token runs,
    * each word scores degree/freq over ITS OWN document's candidates
    * (degree(w) = Σ length of candidate phrases containing w, freq(w)
    * = occurrences in candidates), and a phrase scores the sum of its
    * words' scores; top `perDoc` phrases per document.
    *
    * Engine-exact: word scores are ONE integer division at 10⁻⁶ fixed
    * point ((degree·10⁶) div freq — exact BIGINTs), phrase scores are
    * BIGINT sums of those — order-free; the display score is one IEEE
    * division off the integer. Segmentation is array surgery (mark
    * stopword tokens as delimiters, join, split), not multi-pass
    * regex — chained stopwords segment identically on both engines by
    * construction. Scale shape: everything is per-document (explode to
    * (doc, phrase) and (doc, word) grains, two slim hash aggs, a
    * rank window per doc over its OWN ≤dozens of candidates). */
  def rakeKeywords(docs: DataFrame, perDoc: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopArr = typedlit(rakeStops)
    val toks = filter(split(lower(col("text")), "[^a-z0-9']+"), t => t =!= "")
    val marked = transform(col("tk"),
      t => when(array_contains(stopArr, t), lit("|")).otherwise(t))
    val phrases = filter(
      transform(split(array_join(col("mk"), " "), "\\|"), p => trim(p)),
      p => p =!= "")
    val docPhrase = docs
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), marked.as("mk"))
      .select(col("doc_id"), explode(phrases).as("phrase"))
    // one exploded (doc, phrase, word, plen) grain feeds both stats
    val words = docPhrase
      .select(col("doc_id"), col("phrase"),
        size(split(col("phrase"), " ")).cast("long").as("plen"))
      .select(col("doc_id"), col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
    // word scores ride a (doc, word) window instead of a groupBy +
    // self-join: one exchange + sort against the join form's two
    // exchanges + join, on the operator's only data-scale grain
    val scored = words
      .withColumn("wscore_fp", expr(
        "(sum(plen) OVER (PARTITION BY doc_id, w) * 1000000) div " +
        "count(*) OVER (PARTITION BY doc_id, w)"))
      .groupBy("doc_id", "phrase")
      .agg(sum(col("wscore_fp")).as("p_fp"),
        count(lit(1)).as("n_occ")) // phrase occurrences × words
    // a phrase occurring k times scores each occurrence identically:
    // divide the grouped sum by the occurrence count k = n_occ / plen
    val perPhrase = scored
      .withColumn("plen", size(split(col("phrase"), " ")).cast("long"))
      .withColumn("score_fp", expr("p_fp div (n_occ div plen)"))
      .withColumn("n_occurrences", expr("n_occ div plen"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_fp").desc, col("phrase"))
    perPhrase
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perDoc)
      .select(col("doc_id"), col("rk").as("phrase_rank"), col("phrase"),
        col("score_fp"), col("n_occurrences"),
        (col("score_fp").cast("double") / lit(1.0e6)).as("score"))
  }

  /** The DuckDB twin of [[rakeKeywords]] — same stoplist, same array
    * segmentation, same fixed-point arithmetic. */
  def rakeKeywordsSql(perDoc: Int = 3): String = {
    val stops = rakeStops.map(s => s"'$s'").mkString("[", ", ", "]")
    raw"""WITH d AS (SELECT doc_id,
         |        list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS tk
         |      FROM documents),
         |m AS (SELECT doc_id,
         |        list_transform(tk, t -> CASE WHEN list_contains($stops, t)
         |                                     THEN '|' ELSE t END) AS mk
         |      FROM d),
         |dp AS (SELECT doc_id, p AS phrase FROM (
         |         SELECT doc_id,
         |                unnest(list_transform(string_split(array_to_string(mk, ' '), '|'),
         |                  x -> trim(x))) AS p
         |         FROM m) t WHERE p <> ''),
         |wds AS (SELECT doc_id, phrase,
         |          CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         |          unnest(string_split(phrase, ' ')) AS w
         |        FROM dp),
         |ws AS (SELECT doc_id, w,
         |         (CAST(sum(plen) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS wscore_fp
         |       FROM wds GROUP BY doc_id, w),
         |ps AS (SELECT wds.doc_id, wds.phrase,
         |         CAST(sum(ws.wscore_fp) AS BIGINT) AS p_fp,
         |         CAST(count(*) AS BIGINT) AS n_occ
         |       FROM wds JOIN ws ON ws.doc_id = wds.doc_id AND ws.w = wds.w
         |       GROUP BY wds.doc_id, wds.phrase),
         |pp AS (SELECT doc_id, phrase, p_fp, n_occ,
         |         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
         |       FROM ps),
         |r AS (SELECT doc_id, phrase,
         |         p_fp // (n_occ // plen) AS score_fp,
         |         n_occ // plen AS n_occurrences,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY p_fp // (n_occ // plen) DESC, phrase) AS rk
         |      FROM pp)
         |SELECT doc_id, CAST(rk AS BIGINT) AS phrase_rank, phrase,
         |       CAST(score_fp AS BIGINT) AS score_fp,
         |       CAST(n_occurrences AS BIGINT) AS n_occurrences,
         |       CAST(score_fp AS DOUBLE) / 1000000.0 AS score
         |FROM r WHERE rk <= $perDoc""".stripMargin
  }
  /** ES ANALYZER CHAIN (r20 — VERDICT r19 #6, the scoped analyzer
    * decision): lowercase+whitespace tokenize → light STEMMER → SYNONYM
    * token map, the two ES token filters the repo's text surface
    * lacked (`HBaseRiver.java:74-116` rivers raw qualifiers into ES
    * where an index-time analyzer chain would run; this is that chain
    * re-expressed as pure column expressions). The stemmer is the
    * classic light S-stemmer plus -ly/-ing/-ed suffix rules with
    * minimum stem lengths (no Porter table — deterministic, engine-
    * mirrorable, and enough to conflate the query-side inflections a
    * search user types). The synonym map is the ES synonym-filter
    * shape: a BROADCAST-scale token→canonical table folded into the
    * expression as a literal CASE chain (at 100 TB the map is plan
    * metadata — zero joins, the analyzer streams through the scan
    * inside whole-stage codegen). ASCII folding is deliberately out of
    * scope: the synthetic corpus is pure ASCII, so a fold stage would
    * be the identity — untestable here (SURVEY §2 records the
    * decision).
    *
    * Order matters and is pinned: stem BEFORE synonym, so inflections
    * land on the map's keys ("merges" → "merge" → "join"). Both sides
    * of a search run the SAME chain (ES semantics): the corpus side
    * exercises the synonym map (the fixed corpus vocabulary is
    * uninflected), the query side exercises the stemmer. */
  val analyzerSynonyms: Seq[(String, String)] = Seq(
    "merge" -> "join", "agg" -> "aggregate", "dup" -> "duplicate",
    "big" -> "large", "fast" -> "quick", "slow" -> "sluggish")

  /** Driver-side reference analyzer (one rule set, three compiles: this
    * Scala form analyzes QUERY strings and is the spec oracle for the
    * Column and SQL forms). */
  private[graft] def stemTerm(w: String): String =
    if (w.length > 4 && w.endsWith("ies")) w.dropRight(3) + "y"
    else if (w.length > 4 && w.endsWith("ly")) w.dropRight(2)
    else if (w.length > 5 && w.endsWith("ing")) w.dropRight(3)
    else if (w.length > 4 && w.endsWith("ed")) w.dropRight(2)
    else if (w.endsWith("ss")) w
    else if (w.length > 3 && w.endsWith("s")) w.dropRight(1)
    else w

  private[graft] def analyzeTerm(w: String): String = {
    val s = stemTerm(w.toLowerCase)
    analyzerSynonyms.toMap.getOrElse(s, s)
  }

  /** The stemmer as a column expression — rule-for-rule the
    * [[stemTerm]] reference (equality spec-pinned over the corpus
    * vocabulary plus crafted inflections in `AnalyzerSpec`). */
  private def stemCol(t: Column): Column = {
    val len = length(t)
    when(len > 4 && t.endsWith("ies"),
        concat(t.substr(lit(1), len - 3), lit("y")))
      .when(len > 4 && t.endsWith("ly"), t.substr(lit(1), len - 2))
      .when(len > 5 && t.endsWith("ing"), t.substr(lit(1), len - 3))
      .when(len > 4 && t.endsWith("ed"), t.substr(lit(1), len - 2))
      .when(t.endsWith("ss"), t)
      .when(len > 3 && t.endsWith("s"), t.substr(lit(1), len - 1))
      .otherwise(t)
  }

  /** Synonym map as a literal CASE chain — right for the wired
    * 6-entry map, but plan size grows linearly with the map and this
    * repo has measured that cliff class twice (BPE replace chain died
    * in Catalyst at 160–320 rules, percolator CASE chain at 800–3000
    * queries — SCALING.md probes). Real ES synonym tables run
    * 10³–10⁵ entries: at that size swap this fold for a
    * `BpeTokenCount`-style broadcast-map Expression — same contract,
    * plan-size-constant. */
  private def synonymCol(t: Column): Column = {
    val head = analyzerSynonyms.head
    analyzerSynonyms.tail
      .foldLeft(when(t === head._1, lit(head._2))) {
        case (acc, (f, to)) => acc.when(t === f, lit(to))
      }.otherwise(t)
  }

  /** Analyzed token array of a text column: tokenize → stem → synonym. */
  def analyzedTokens(textCol: Column): Column =
    transform(
      filter(split(lower(textCol), "\\s+"), t => t =!= ""),
      t => synonymCol(stemCol(t)))

  /** Match search THROUGH the analyzer chain: the query string runs the
    * same chain driver-side, docs match on canonical terms, score =
    * distinct canonical query terms hit. Load-bearing both ways: a doc
    * containing only "merge" matches the query term "joins", which no
    * raw-token match would. Scale shape: explode → literal IN-filter →
    * map-side-combinable distinct count; no join (the query is plan
    * metadata). */
  def analyzerSearch(docs: DataFrame, query: String): DataFrame = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .map(analyzeTerm).distinct.toSeq
    docs
      .select(col("doc_id"), explode(analyzedTokens(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("term")).as("n_matched"))
  }

  /** DuckDB twin of [[analyzerSearch]] — same stem CASE ladder, same
    * synonym CASE map, same driver-analyzed query terms. */
  def analyzerSearchSql(query: String): String = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .map(analyzeTerm).distinct.toSeq
    // zero analyzed terms must degrade to the empty result like the
    // Spark side's empty isin() — a bare `IN ()` is a DuckDB syntax
    // error (r20 ADVICE; unreachable via the wired fixed query)
    val qPred =
      if (qTerms.isEmpty) "1=0"
      else qTerms.map(t => s"'${t.replace("'", "''")}'")
        .mkString("term IN (", ", ", ")")
    val stem =
      """CASE WHEN len(w) > 4 AND w LIKE '%ies'
        |          THEN substr(w, 1, len(w) - 3) || 'y'
        |        WHEN len(w) > 4 AND w LIKE '%ly' THEN substr(w, 1, len(w) - 2)
        |        WHEN len(w) > 5 AND w LIKE '%ing' THEN substr(w, 1, len(w) - 3)
        |        WHEN len(w) > 4 AND w LIKE '%ed' THEN substr(w, 1, len(w) - 2)
        |        WHEN w LIKE '%ss' THEN w
        |        WHEN len(w) > 3 AND w LIKE '%s' THEN substr(w, 1, len(w) - 1)
        |        ELSE w END""".stripMargin
    val syn = "CASE " + analyzerSynonyms
      .map { case (f, t) => s"WHEN s = '$f' THEN '$t'" }.mkString(" ") +
      " ELSE s END"
    raw"""WITH t AS (SELECT doc_id, unnest(list_filter(
         |        string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
         |      FROM documents),
         |st AS (SELECT doc_id, ($stem) AS s FROM t),
         |a AS (SELECT doc_id, ($syn) AS term FROM st),
         |m AS (SELECT doc_id, count(DISTINCT term) AS n_matched
         |      FROM a WHERE $qPred GROUP BY doc_id)
         |SELECT doc_id, CAST(n_matched AS BIGINT) AS n_matched FROM m""".stripMargin
  }
}
