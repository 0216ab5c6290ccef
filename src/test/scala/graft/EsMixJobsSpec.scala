package graft

/** The registry call of every es_query_mix query (perfbench's
  * `EsQueryMix.modules`) builds its plan without running a Spark job:
  * tables open from their footers on the driver, and each query's work
  * runs in the caller's action. So does every other query of `TextOps`'
  * BM25 program and significant-terms contingency. */
class EsMixJobsSpec extends SparkSpec {

  // river_incremental_scan is left out: its watermark facet runs before
  // the scan by design (SparkEntry.literalScan, River.watermarkMicros),
  // as the reference issues its facet before the scan
  // (HBaseParser.setMinTimestamp)
  private val lazyQueries = Seq(
    "q_terms_facet", "q_date_histogram", "q_percentile_facet", "q_composite_agg",
    "q_cardinality", "q_top_hits", "q1_pricing_summary", "q_geo_distance",
    "q_nested_match", "text_bm25", "text_match_query", "q_bool_dsl", "q_query_string",
    "q_multi_match", "text_phrase_match", "ann_bruteforce_topk", "hbase_source_scan",
    "hbase_source_page")

  // the text-scoring queries outside the mix (text_bm25 is in it)
  private val textScoringQueries = Seq(
    "q_explain", "text_combined_fields", "q_multi_match_most_fields",
    "q_multi_match_cross_fields", "text_significant_terms", "text_significant_chi2",
    "text_significant_mi", "text_significant_jlh", "text_significant_bg",
    "text_significant_text")

  (lazyQueries ++ textScoringQueries).foreach { q =>
    test(s"$q: no job inside the registry call") {
      val (jobs, _) = observe { SparkEntry.queries(q)(spark, sfDir); () }
      assert(jobs == 0, s"$q started $jobs jobs before its action")
    }
  }
}
