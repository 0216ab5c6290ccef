package graft
package registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Shared._

/** SURVEY §2 Analytics over the imported data: the ES aggregation, search and
  * geo surface over events and the TPC-H tables. */
private[graft] object AnalyticsQueries {

  /** Shared q_geo_polygon vertex list (lat, lon) — ONE definition feeds
    * both the Spark predicate and the generated oracle SQL so the two
    * engines cannot drift. Concave hexagon (the (5,5) notch) over the
    * synthetic coordinate domain; every vertex exactly representable. */
  private val geoPolygon: Seq[(Double, Double)] = Seq(
    (0.0, -50.0), (40.0, -10.0), (5.0, 5.0),
    (10.0, 60.0), (-30.0, 40.0), (-45.0, -25.0))

  /** Shared sparse_vector query weights — ONE definition feeds both the
    * Spark program and the generated oracle (integer weights; the prune
    * threshold is applied as a cross-multiplied integer rule on both
    * sides). df probes on record: at 790000 ppm some of these terms are
    * pruned and some kept at BOTH verify SFs, so the prune branch is
    * exercised by the gate itself. */
  private val sparseVectorWeights: Seq[(String, Long)] = Seq(
    ("scan", 3L), ("hash", 2L), ("window", 2L),
    ("vector", 1L), ("batch", 2L), ("merge", 1L))

  /** Shared intervals-AST trees (r13) — ONE definition compiled to both
    * the Spark Column program and the generated DuckDB oracle
    * ([[text.IntervalsAst]]), so the two engines cannot drift.
    * `intervalsAstTree` is the ES docs' canonical compose —
    * all_of(ordered) inside any_of — plus an unordered multi-term match
    * exercising union gap coverage; `intervalsNestedTree` binds the
    * other way (any_of INSIDE all_of(ordered) with an outer gap cap). */
  private val intervalsAstTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAnyOf(Seq(
      IAllOf(Seq(IMatch(Seq("hash")), IMatch(Seq("join"))),
        ordered = true, maxGaps = 2),
      IMatch(Seq("merge", "sort", "scan"), ordered = false, maxGaps = 3)))
  }

  private val intervalsNestedTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(
      IAnyOf(Seq(IMatch(Seq("hash")), IMatch(Seq("merge")))),
      IMatch(Seq("join", "scan"), ordered = true, maxGaps = 4)),
      ordered = true, maxGaps = 6)
  }

  /** ES intervals `prefix` rule composed under all_of(ordered) — the
    * docs' "term, then a completion of the next word" pattern. */
  private val intervalsPrefixTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(IMatch(Seq("hash")), IPrefix("jo")),
      ordered = true, maxGaps = 2)
  }

  /** ES intervals `filter` — merge..sort spans that do NOT contain a
    * 'batch' (the docs' not_containing example shape). */
  private val intervalsFilterTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IFilter(IMatch(Seq("merge", "sort"), ordered = false, maxGaps = 4),
      "not_containing", IMatch(Seq("batch")))
  }

  /** ES intervals `fuzzy` rule (r14) under all_of(ordered) — an exact
    * term followed closely by a typo-tolerant one (the
    * completion-fuzzy 'jion' probe as an intervals source). */
  private val intervalsFuzzyTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAllOf(Seq(IMatch(Seq("merge")), IFuzzy("jion", 2)),
      ordered = true, maxGaps = 3)
  }

  /** ES intervals `wildcard` rule (r14) composed both ways: a
    * wildcard-led ordered pair unioned with a bare wildcard source
    * (LIKE spelling, the text_wildcard_search convention). */
  private val intervalsWildcardTree: text.IntervalsAst.Node = {
    import text.IntervalsAst._
    IAnyOf(Seq(
      IAllOf(Seq(IWildcard("s_a%"), IMatch(Seq("join"))),
        ordered = true, maxGaps = 2),
      IWildcard("vec%")))
  }

  /** Span-family queries (r14) — shared between the Spark wiring and
    * the generated oracle via [[text.Spans.toIntervals]]. */
  private val spanNearQuery: text.Spans.Span = {
    import text.Spans._
    SNear(Seq(STerm("merge"), STerm("sort")), slop = 3, inOrder = false)
  }

  private val spanOrQuery: text.Spans.Span = {
    import text.Spans._
    SOr(Seq(SNear(Seq(STerm("hash"), STerm("join")), slop = 2, inOrder = true),
      STerm("vector")))
  }

  private val spanNotQuery: text.Spans.Span = {
    import text.Spans._
    SNot(SNear(Seq(STerm("merge"), STerm("sort")), slop = 4, inOrder = false),
      STerm("batch"), pre = 1, post = 1)
  }

  // r15: the remaining span members — within/containing (the two
  // enclosure filters) and multi (prefix rewrite inside a near)
  private val spanWithinQuery: text.Spans.Span = {
    import text.Spans._
    SWithin(STerm("join"),
      SNear(Seq(STerm("hash"), STerm("scan")), slop = 6, inOrder = false))
  }

  private val spanContainingQuery: text.Spans.Span = {
    import text.Spans._
    SContaining(
      SNear(Seq(STerm("hash"), STerm("scan")), slop = 6, inOrder = false),
      STerm("join"))
  }

  private val spanMultiQuery: text.Spans.Span = {
    import text.Spans._
    SNear(Seq(SMultiPrefix("sc"), STerm("table")), slop = 4, inOrder = false)
  }

  /** Small shared triangle for q_geo_shape_small (r13): 0.5°-scale so
    * synthetic envelopes (0.5–4.25° half-sizes, ≥1° across) can CONTAIN
    * it — the relation the big hexagon can never exercise through the
    * hash gate (and dually, no envelope fits WITHIN a sub-envelope
    * shape — the two wirings split the four relations between them).
    * Vertices exactly representable (quarters). */
  private val geoTriangleSmall: Seq[(Double, Double)] = Seq(
    (10.0, 20.0), (10.5, 20.25), (10.25, 20.5))

  /** q_ip_range shared edges (10.64/10.128/10.192 quarter boundaries)
    * — one definition feeds the Spark facet and the generated oracle. */
  private val ipEdges: Seq[Long] =
    Seq(64L, 128L, 192L).map(h => 10L * 16777216L + h * 65536L)

  private def ipDotted(v: Long): String =
    s"${v >> 24 & 255}.${v >> 16 & 255}.${v >> 8 & 255}.${v & 255}"

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  // shared by the exact window forms AND their _dist rank-select twins:
  // the discrete ceil(p·n) percentile contract is engine-shape-agnostic,
  // so one oracle text verifies both plans bit-for-bit
  private val percentileFacetSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events)
      |SELECT event_type, p, value AS pct_value, n
      |FROM t CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) ps
      |WHERE rn = ceil(p * n)""".stripMargin

  private val boxplotSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events)
      |SELECT event_type, count(*) AS n, min(value) AS min_value, max(value) AS max_value,
      |  max(CASE WHEN rn = ceil(0.25 * n) THEN value END) AS q1,
      |  max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS median,
      |  max(CASE WHEN rn = ceil(0.75 * n) THEN value END) AS q3,
      |  max(CASE WHEN rn = ceil(0.75 * n) THEN value END)
      |    - max(CASE WHEN rn = ceil(0.25 * n) THEN value END) AS iqr
      |FROM t GROUP BY event_type""".stripMargin

  private val madSql =
    """WITH t AS (SELECT event_type, value, event_id,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n FROM events),
      |m AS (SELECT *, max(CASE WHEN rn = ceil(0.5 * n) THEN value END)
      |                  OVER (PARTITION BY event_type) AS med FROM t),
      |d AS (SELECT event_type, n, med, abs(value - med) AS dev,
      |  row_number() OVER (PARTITION BY event_type ORDER BY abs(value - med), event_id) AS drn
      |  FROM m)
      |SELECT event_type, count(*) AS n, max(med) AS median_value,
      |       max(CASE WHEN drn = ceil(0.5 * n) THEN dev END) AS mad
      |FROM d GROUP BY event_type""".stripMargin

  /** q_variable_width_histogram oracle, GENERATED from the same
    * fraction list the Spark operator uses (nBuckets = 6): edges are
    * the ceil(p·n) order statistics in (value, event_id) order — the
    * percentile-family convention — and the cluster id counts edges
    * strictly below the value (one edge PER FRACTION, duplicates
    * preserved, matching the operator's per-fraction edge array). */
  private def variableWidthSql: String = {
    val fracs = (1 until 6).map(i => i.toDouble / 6)
    // e0 suffix forces DOUBLE: DuckDB folds bare decimal literals as
    // exact DECIMAL, which would make ceil(p·n) diverge from Spark's
    // IEEE product on rank-boundary cases (the text_bm25 1-ulp lesson)
    val fracRows = fracs.map(p => s"(${p}e0)").mkString(", ")
    s"""WITH ranked AS (
       |  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM events),
       |edges AS (
       |  SELECT r.value AS e
       |  FROM (VALUES $fracRows) p(p) JOIN ranked r
       |    ON r.rn = CAST(ceil(p.p * r.n) AS BIGINT)),
       |clustered AS (
       |  SELECT value,
       |         (SELECT count(*) FROM edges WHERE edges.e < ev.value) AS cluster
       |  FROM events ev)
       |SELECT cluster, count(*) AS n, min(value) AS min_value,
       |       max(value) AS max_value,
       |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
       |FROM clustered GROUP BY cluster""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q_stratified_sample", (s, dir) => {
      // per-stratum deterministic hash sampling: common event types get
      // a tight band, rare ones a wide band — the "rebalance the mix"
      // primitive of a training-data pipeline, reproducible everywhere
      val ev = Tables.events(s, dir)
      val band = when(col("event_type").isin("view", "click"), lit("04"))
        .otherwise(lit("20"))
      ev.filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, 2) < band)
        .select(col("event_id"), col("event_type"), col("value"))
    }, Some("""SELECT event_id, event_type, value FROM events
              |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) <
              |      CASE WHEN event_type IN ('view', 'click') THEN '04' ELSE '20' END""".stripMargin)),

    // nested sort: parents ordered by min matching-item value,
    // missing: _last (ES sort-by-nested-field semantics)
    Query("q_nested_sort", (s, dir) =>
      river.Nested.nestedSort(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 25),
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent,
             |                   value
             |            FROM events)
             |SELECT user_id, day_idx, count(*) AS n_items,
             |       min(CASE WHEN parent = 'click' THEN value END) AS sort_value
             |FROM it GROUP BY 1, 2
             |ORDER BY sort_value ASC NULLS LAST, user_id, day_idx LIMIT 25""".stripMargin)),

    // ES nested + inner_hits (round 12): the matching items themselves,
    // exploded after the per-row array filter
    Query("q_nested_inner_hits", (s, dir) =>
      river.Nested.nestedInnerHits(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 15.0),
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN event_type ELSE json_extract_string(props, '$.k') END AS leaf,
             |                   value
             |            FROM events),
             |d AS (SELECT user_id, day_idx, count(*) AS n_items,
             |             count(CASE WHEN parent = 'click' AND value >= 15 THEN 1 END) AS n_match
             |      FROM it GROUP BY 1, 2)
             |SELECT i.user_id, i.day_idx, d.n_items, d.n_match,
             |       i.parent AS hit_parent, i.leaf AS hit_leaf, i.value AS hit_value
             |FROM it i JOIN d ON i.user_id = d.user_id AND i.day_idx = d.day_idx
             |WHERE d.n_match > 0 AND i.parent = 'click' AND i.value >= 15""".stripMargin)),

    Query("q1_pricing_summary", (s, dir) =>
      operators.Analytics.pricingSummary(Tables.lineitem(s, dir), "1998-09-02"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
              |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              |  CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
              |  CAST(sum($discPrice * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
              |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
              |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
              |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
              |  count(*) AS count_order
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Query("q3_shipping_priority", (s, dir) =>
      operators.Analytics.shippingPriority(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), "BUILDING", "1997-06-01", 10),
      Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(sum($discPrice) AS DOUBLE) AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1997-06-01'
              |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
              |WHERE l_shipdate > TIMESTAMP '1997-06-01'
              |GROUP BY l_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    Query("q5_region_revenue", (s, dir) =>
      operators.Analytics.regionRevenue(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "ASIA", "1997-01-01", "1998-01-01"),
      Some(s"""SELECT n_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
              |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY n_name""".stripMargin)),

    Query("q_order_priority", (s, dir) =>
      operators.Analytics.orderPriority(Tables.orders(s, dir), Tables.lineitem(s, dir), 60),
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority""".stripMargin)),

    Query("q_top_customers", (s, dir) =>
      operators.Analytics.topCustomers(Tables.customer(s, dir), Tables.orders(s, dir), 20),
      Some("""SELECT o_custkey AS custkey, c_name,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             |       count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY o_custkey, c_name
             |ORDER BY revenue DESC, custkey LIMIT 20""".stripMargin)),

    Query("q_supplier_window", (s, dir) =>
      operators.Analytics.supplierRunning(Tables.lineitem(s, dir), 5),
      Some("""SELECT l_suppkey, row_number() OVER w AS rn, l_orderkey, l_linenumber,
             |       CAST(l_quantity AS BIGINT) AS qty,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
             |QUALIFY rn <= 5""".stripMargin)),

    Query("q_events_sessionize", (s, dir) =>
      operators.Analytics.sessionize(Tables.events(s, dir), 1800000000L),
      Some("""WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
             |d AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap FROM t)
             |SELECT user_id,
             |       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |       count(*) AS n_events
             |FROM d GROUP BY user_id""".stripMargin)),

    Query("q_events_time_window", (s, dir) =>
      operators.Analytics.timeWindow(Tables.events(s, dir), "5 minutes"),
      Some("""SELECT epoch_us(ts) // 300000000 * 300 AS window_start_s, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Query("q_terms_facet", (s, dir) =>
      operators.Analytics.termsFacet(Tables.events(s, dir), "event_type", 10),
      Some("""SELECT event_type, count(*) AS n_docs, count(DISTINCT user_id) AS n_users,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |       min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events GROUP BY event_type
             |ORDER BY n_docs DESC, event_type LIMIT 10""".stripMargin)),

    // terms agg ordered by a sub-agg metric (avg desc), not doc_count
    Query("q_terms_order_subagg", (s, dir) =>
      operators.Analytics.termsOrderBySubAgg(Tables.events(s, dir), "event_type", 5),
      Some("""SELECT event_type, count(*) AS n_docs,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type
             |ORDER BY avg_value DESC, event_type LIMIT 5""".stripMargin)),

    Query("q_date_histogram", (s, dir) =>
      operators.Analytics.dateHistogram(Tables.events(s, dir)),
      Some("""SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // calendar_interval date_histogram (r15, the Kibana default):
    // REAL tz bucket edges from a java.time-generated ladder — the
    // January data's first UTC hours land in the Dec-2023 NY bucket,
    // so the tz shift is load-bearing at every SF. Oracle = DuckDB's
    // own ICU date_trunc (independent tzdb implementation).
    Query("q_date_histogram_calendar", (s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "month", "America/New_York", 2023, 2027),
      Some(operators.Analytics.calendarHistogramSql("month", "America/New_York", 2023, 2027))),

    Query("q_date_histogram_calquarter", (s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "quarter", "America/New_York", 2023, 2027),
      Some(operators.Analytics.calendarHistogramSql("quarter", "America/New_York", 2023, 2027))),

    Query("q_date_histogram_calweek", (s, dir) =>
      operators.Analytics.calendarDateHistogram(Tables.events(s, dir),
        "week", "America/New_York", 2023, 2027),
      Some(operators.Analytics.calendarHistogramSql("week", "America/New_York", 2023, 2027))),

    // date_histogram offset + min_doc_count:0 + extended_bounds (r15):
    // 12h buckets shifted by 3h, bounds 2023-12-30..2024-02-02 — the
    // empty lead/tail buckets materialize with n=0 at every SF
    Query("q_date_histogram_filled", (s, dir) =>
      operators.Analytics.dateHistogramFilled(Tables.events(s, dir),
        43200000000L, 10800000000L, 1703894400000000L, 1706832000000000L),
      Some(operators.Analytics.dateHistogramFilledSql(
             43200000000L, 10800000000L, 1703894400000000L, 1706832000000000L))),

    Query("q_salted_agg", (s, dir) =>
      operators.Skew.saltedStats(Tables.events(s, dir),
        "user_id", "value", "event_id", 16),
      Some("""SELECT user_id, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |       min(value) AS min_value, max(value) AS max_value
             |FROM events GROUP BY user_id""".stripMargin)),

    Query("q6_revenue_delta", (s, dir) =>
      operators.Analytics.revenueDelta(Tables.lineitem(s, dir),
        "1997-01-01", "1998-01-01", 0.05, 0.07, 24),
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)),

    Query("q10_returned_items", (s, dir) =>
      operators.Analytics.returnedItems(Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), 20),
      Some(s"""SELECT c_custkey, c_name, n_name,
              |       CAST(sum($discPrice) AS DOUBLE) AS revenue, count(*) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY c_custkey, c_name, n_name
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    Query("q18_large_orders", (s, dir) =>
      operators.Analytics.largeOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), 150L, 20),
      Some("""WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
             |             FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150)
             |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price, total_qty
             |FROM orders JOIN big ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin)),

    Query("q_part_type_stats", (s, dir) =>
      operators.Analytics.partTypeStats(Tables.part(s, dir), 15),
      Some("""SELECT p_type, count(*) AS n_parts,
             |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail,
             |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_retail,
             |       min(p_size) AS min_size, max(p_size) AS max_size
             |FROM part GROUP BY p_type ORDER BY n_parts DESC, p_type LIMIT 15""".stripMargin)),

    // ES join-field family (round 12): has_child / has_parent as LEFT
    // SEMI joins — predicate pushed to the inner side's scan, no row
    // explosion, facet on the survivors
    Query("q_has_child", (s, dir) =>
      operators.JoinField.hasChildFacet(Tables.orders(s, dir),
        Tables.lineitem(s, dir), 48.0, 0.05),
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
             |              AND l.l_quantity >= 48 AND l.l_discount >= 0.05)
             |GROUP BY 1""".stripMargin)),

    Query("q_has_parent", (s, dir) =>
      operators.JoinField.hasParentFacet(Tables.orders(s, dir),
        Tables.lineitem(s, dir), 300000.0, "1996-01-01", "1997-01-01"),
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem l
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
             |              AND o.o_totalprice >= 300000.0
             |              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
             |              AND o.o_orderdate < TIMESTAMP '1997-01-01')
             |GROUP BY 1""".stripMargin)),

    // parent_id query: children of one named parent (point lookup,
    // predicate pushed to the child scan)
    Query("q_parent_id", (s, dir) =>
      operators.JoinField.parentIdQuery(Tables.lineitem(s, dir), 7L),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
             |FROM lineitem WHERE l_orderkey = 7
             |ORDER BY l_linenumber""".stripMargin)),

    // children agg (the aggregation-side complement of has_child):
    // parent buckets with child metrics via one parent-key equi-join
    Query("q_children_agg", (s, dir) =>
      operators.Analytics.childrenAgg(Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
      Some("""SELECT o_orderpriority, count(*) AS n_children,
             |       count(DISTINCT o_orderkey) AS n_parents,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1""".stripMargin)),

    // missing agg: sparse field derived deterministically from props.k
    // (k%5==0 → absent, else term c(k%7)) so absence is replayable
    Query("q_missing_agg", (s, dir) =>
      operators.Analytics.missingAgg(Tables.events(s, dir), 5, 7),
      Some("""SELECT coalesce(CASE WHEN k % 5 = 0 THEN NULL
             |                     ELSE 'c' || CAST(k % 7 AS VARCHAR) END,
             |                '__missing__') AS bucket,
             |       count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
             |      FROM events)
             |GROUP BY 1""".stripMargin)),

    // global agg: purchase-hits metrics beside the corpus gauge in one
    // conditional-agg pass
    Query("q_global_agg", (s, dir) =>
      operators.Analytics.globalAgg(Tables.events(s, dir),
        col("event_type") === "purchase" && col("value") >= 50.0),
      Some("""SELECT count(*) FILTER (WHERE event_type = 'purchase' AND value >= 50.0) AS n_hits,
             |       CAST(sum(CAST(value AS DECIMAL(12,2)))
             |            FILTER (WHERE event_type = 'purchase' AND value >= 50.0) AS DOUBLE) AS sum_hits,
             |       count(*) AS n_all,
             |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_all
             |FROM events""".stripMargin)),

    // terms partitioning: partition 2 of 4 of the user_id term space
    // (md5 nibble band), top-25 by count
    Query("q_terms_partition", (s, dir) =>
      operators.Analytics.termsPartition(Tables.events(s, dir), 4, 2, 25),
      Some("""SELECT user_id, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE (instr('0123456789abcdef',
             |             substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) // 4 = 2
             |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 25""".stripMargin)),

    // change_point: max-mean-shift step split over the day histogram
    Query("q_change_point", (s, dir) =>
      operators.Analytics.changePoint(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |cum AS (
             |  SELECT day_idx,
             |         sum(dsum) OVER (ORDER BY day_idx) AS c_sum,
             |         sum(n) OVER (ORDER BY day_idx) AS c_n,
             |         sum(dsum) OVER () AS t_sum, sum(n) OVER () AS t_n,
             |         max(day_idx) OVER () AS last_day
             |  FROM day),
             |cand AS (
             |  SELECT day_idx, c_n,
             |         CAST(c_sum AS DOUBLE) / c_n AS mean_left,
             |         CAST(t_sum - c_sum AS DOUBLE) / (t_n - c_n) AS mean_right,
             |         t_n - c_n AS n_right
             |  FROM cum WHERE day_idx < last_day)
             |SELECT day_idx AS split_after_day,
             |       CAST(c_n AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
             |       mean_left, mean_right, abs(mean_right - mean_left) AS shift
             |FROM cand ORDER BY shift DESC, day_idx LIMIT 1""".stripMargin)),

    // ip_prefix: /12 subnet rollup of the derived IPv4 space
    Query("q_ip_prefix", (s, dir) =>
      operators.Analytics.ipPrefixFacet(Tables.events(s, dir), 12),
      Some(s"""WITH u AS (SELECT ${operators.Analytics.ipU32Sql} AS u32, user_id FROM events),
             |p AS (SELECT u32 - (u32 % 1048576) AS prefix_u32, user_id FROM u)
             |SELECT CAST(prefix_u32 // 16777216 % 256 AS VARCHAR) || '.' ||
             |       CAST(prefix_u32 // 65536 % 256 AS VARCHAR) || '.' ||
             |       CAST(prefix_u32 // 256 % 256 AS VARCHAR) || '.' ||
             |       CAST(prefix_u32 % 256 AS VARCHAR) || '/12' AS subnet,
             |       prefix_u32, count(*) AS n, count(DISTINCT user_id) AS n_users
             |FROM p GROUP BY prefix_u32""".stripMargin)),

    // bucket_script: per-day purchase/click value ratio (conversion
    // shape), zero-denominator buckets skipped per ES gap policy
    Query("q_bucket_script", (s, dir) =>
      operators.Analytics.bucketScript(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |         sum(CASE WHEN event_type = 'purchase'
             |                  THEN CAST(value AS DECIMAL(12,2)) END) AS purchase_sum,
             |         sum(CASE WHEN event_type = 'click'
             |                  THEN CAST(value AS DECIMAL(12,2)) END) AS click_sum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, CAST(purchase_sum AS DOUBLE) AS purchase_sum,
             |       CAST(click_sum AS DOUBLE) AS click_sum,
             |       CAST(purchase_sum AS DOUBLE) / CAST(click_sum AS DOUBLE) AS ratio
             |FROM day
             |WHERE click_sum IS NOT NULL AND click_sum > 0
             |  AND purchase_sum IS NOT NULL""".stripMargin)),

    // rank_feature (saturation): boost·x/(x+pivot) popularity scoring
    Query("q_rank_feature", (s, dir) =>
      operators.Analytics.rankFeature(Tables.events(s, dir), 50.0, 2.0, 20),
      Some("""SELECT event_id, value, 2.0e0 * value / (value + 50.0e0) AS score
             |FROM events ORDER BY score DESC, event_id LIMIT 20""".stripMargin)),

    // rank_feature `log` function on the DetLn kernel (scaling 0.25 =
    // exact power-of-two; bit-identical doubles on both engines)
    Query("q_rank_feature_log", (s, dir) =>
      operators.Analytics.rankFeatureLog(Tables.events(s, dir), 0.25, 2.0, 20),
      Some(operators.Analytics.rankFeatureLogSql(0.25, 2.0, 20))),

    // scripted_metric (ES docs' profit script + a second state): the
    // map/combine/reduce contract compiled onto one hash agg
    Query("q_scripted_metric", (s, dir) =>
      operators.Analytics.scriptedMetric(Tables.events(s, dir), 500.0),
      Some("""SELECT event_type,
             |  CAST(sum(CASE WHEN value > 500.0e0 THEN CAST(value AS DECIMAL(12,2))
             |                ELSE -CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS profit,
             |  CAST(max(CASE WHEN value > 500.0e0 THEN CAST(value AS DECIMAL(12,2))
             |               ELSE -CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS max_txn,
             |  count(*) AS n_txns
             |FROM events GROUP BY event_type""".stripMargin)),

    // extended_stats_bucket: second-moment sibling stats over the day
    // histogram's bucket values
    Query("q_extended_stats_bucket", (s, dir) =>
      operators.Analytics.extendedStatsBucket(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*) AS n_buckets,
             |        CAST(min(dsum) AS DOUBLE) AS min_bucket,
             |        CAST(max(dsum) AS DOUBLE) AS max_bucket,
             |        sum(dsum) AS s1,
             |        sum(CAST(dsum AS DECIMAL(38,4)) * CAST(dsum AS DECIMAL(38,4))) AS s2
             |      FROM day)
             |SELECT n_buckets, min_bucket, max_bucket,
             |       CAST(s1 AS DOUBLE) AS sum_buckets,
             |       CAST(s1 AS DOUBLE) / n_buckets AS avg_bucket,
             |       CAST(s2 AS DOUBLE) AS sum_of_squares,
             |       CAST(s2 AS DOUBLE) / n_buckets
             |         - (CAST(s1 AS DOUBLE) / n_buckets) * (CAST(s1 AS DOUBLE) / n_buckets) AS variance,
             |       sqrt(CAST(s2 AS DOUBLE) / n_buckets
             |         - (CAST(s1 AS DOUBLE) / n_buckets) * (CAST(s1 AS DOUBLE) / n_buckets)) AS std_deviation
             |FROM a""".stripMargin)),

    // bucket_correlation: exact Pearson r between the purchase and
    // click day-series (insert_zeros gap policy)
    Query("q_bucket_correlation", (s, dir) =>
      operators.Analytics.bucketCorrelation(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |         coalesce(sum(CASE WHEN event_type = 'purchase'
             |                           THEN CAST(value AS DECIMAL(12,2)) END),
             |                  CAST(0.0 AS DECIMAL(12,2))) AS x,
             |         coalesce(sum(CASE WHEN event_type = 'click'
             |                           THEN CAST(value AS DECIMAL(12,2)) END),
             |                  CAST(0.0 AS DECIMAL(12,2))) AS y
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(CAST(x AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4))) AS sxy,
             |        sum(CAST(x AS DECIMAL(38,4)) * CAST(x AS DECIMAL(38,4))) AS sxx,
             |        sum(CAST(y AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4))) AS syy
             |      FROM day)
             |SELECT n,
             |       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |       sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS correlation
             |FROM a""".stripMargin)),

    // intervals (ordered, max_gaps=6): hash → join → scan with ≤ 6
    // interior gaps, triple-count scored
    Query("text_intervals", (s, dir) =>
      text.TextOps.intervalsQuery(Tables.documents(s, dir),
        "hash", "join", "scan", 6, 25),
      Some(raw"""WITH tk AS (SELECT doc_id,
                |    unnest(string_split_regex(lower(text), '\s+')) AS t,
                |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
                |  FROM documents),
                |p1 AS (SELECT doc_id, i FROM tk WHERE t = 'hash'),
                |p2 AS (SELECT doc_id, i FROM tk WHERE t = 'join'),
                |p3 AS (SELECT doc_id, i FROM tk WHERE t = 'scan')
                |SELECT p1.doc_id, count(*) AS n_intervals
                |FROM p1 JOIN p3 ON p1.doc_id = p3.doc_id
                |WHERE p3.i > p1.i + 1 AND p3.i - p1.i - 2 <= 6
                |  AND EXISTS (SELECT 1 FROM p2 WHERE p2.doc_id = p1.doc_id
                |              AND p2.i > p1.i AND p2.i < p3.i)
                |GROUP BY p1.doc_id
                |ORDER BY n_intervals DESC, p1.doc_id LIMIT 25""".stripMargin)),

    // ES cumulative_sum pipeline agg (r13): running totals over the
    // day histogram — bounded bucket window
    Query("q_cumulative_sum", (s, dir) =>
      operators.Analytics.cumulativeSum(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CAST(sum(dsum) OVER (ORDER BY day_idx) AS DOUBLE) AS cum_sum,
             |       CAST(sum(n) OVER (ORDER BY day_idx) AS BIGINT) AS cum_n
             |FROM day""".stripMargin)),

    // ES derivative pipeline agg (r13): first difference + per-day
    // rate, null first bucket (the ES contract)
    Query("q_derivative", (s, dir) =>
      operators.Analytics.derivative(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CAST(dsum - lag(dsum) OVER w AS DOUBLE) AS deriv,
             |       CAST(dsum - lag(dsum) OVER w AS DOUBLE)
             |         / CAST(day_idx - lag(day_idx) OVER w AS DOUBLE) AS deriv_per_day
             |FROM day WINDOW w AS (ORDER BY day_idx)""".stripMargin)),

    // ES terms-agg shard approximation contract (r13): per-shard top
    // shardSize, merged counts + doc_count_error_upper_bound
    Query("q_terms_shard_error", (s, dir) =>
      text.TextOps.termsShardError(Tables.documents(s, dir), 3, 10, 25),
      Some(raw"""WITH tk AS (SELECT CAST(doc_id % 3 AS INTEGER) AS shard,
                |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
                |ps AS (SELECT shard, term, count(*) AS cnt FROM tk
                |       WHERE term <> '' GROUP BY 1, 2),
                |rk AS (SELECT shard, term, cnt,
                |         row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, term) AS rk
                |       FROM ps),
                |tails AS (SELECT shard,
                |            CASE WHEN max(rk) > 10
                |                 THEN min(CASE WHEN rk <= 10 THEN cnt END)
                |                 ELSE 0 END AS tail
                |          FROM rk GROUP BY shard),
                |tt AS (SELECT sum(tail) AS total_tail FROM tails),
                |ret AS (SELECT r.term, r.cnt, t.tail
                |        FROM rk r JOIN tails t ON r.shard = t.shard WHERE r.rk <= 10)
                |SELECT term, CAST(sum(cnt) AS BIGINT) AS doc_count,
                |       CAST(total_tail - sum(tail) AS BIGINT) AS error_bound
                |FROM ret CROSS JOIN tt
                |GROUP BY term, total_tail
                |ORDER BY doc_count DESC, term LIMIT 25""".stripMargin)),

    // ES bucket_count_ks_test (r13): two-sided KS statistic of the day
    // histogram's doc counts vs uniform
    Query("q_bucket_ks_test", (s, dir) =>
      operators.Analytics.bucketCountKsTest(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n
             |  FROM events GROUP BY 1),
             |b AS (SELECT day_idx, n, sum(n) OVER (ORDER BY day_idx) AS cum_n,
             |        row_number() OVER (ORDER BY day_idx) AS rk FROM day),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             |             CAST(sum(n) AS BIGINT) AS total FROM b)
             |SELECT n_buckets, total,
             |       max(abs(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE)
             |             - CAST(rk AS DOUBLE) / CAST(n_buckets AS DOUBLE))) AS d_stat
             |FROM b CROSS JOIN t GROUP BY 1, 2""".stripMargin)),

    // ES match_bool_prefix (r13): type-ahead bool form — full terms as
    // should matches + the in-flight token as an any-position prefix
    Query("text_match_bool_prefix", (s, dir) =>
      text.TextOps.matchBoolPrefix(Tables.documents(s, dir),
        Seq("dup", "query"), "sc", 25),
      Some(raw"""WITH d AS (SELECT doc_id,
                |    string_split_regex(lower(text), '\s+') AS toks FROM documents)
                |SELECT doc_id,
                |       CAST(len(list_filter(toks, x -> x = 'dup'))
                |          + len(list_filter(toks, x -> x = 'query'))
                |          + len(list_filter(toks, x -> x LIKE 'sc%')) AS BIGINT) AS score
                |FROM d
                |WHERE len(list_filter(toks, x -> x = 'dup'))
                |    + len(list_filter(toks, x -> x = 'query'))
                |    + len(list_filter(toks, x -> x LIKE 'sc%')) > 0
                |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // search_as_you_type: bool_prefix over root + _2gram + _3gram
    // shingle subfields, integer hit-count score
    Query("text_search_as_you_type", (s, dir) =>
      text.TextOps.searchAsYouType(Tables.documents(s, dir),
        "part filter sm", 20),
      Some(raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
                |g AS (SELECT doc_id, toks,
                |  CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                |       ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS sh2,
                |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                |       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS sh3
                |  FROM d),
                |s AS (SELECT doc_id,
                |    CAST(len(list_filter(toks, x -> x = 'part')) AS BIGINT)
                |  + CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT)
                |  + CAST(len(list_filter(toks, x -> x LIKE 'sm%')) AS BIGINT)
                |  + CAST(len(list_filter(sh2, x -> x = 'part filter')) AS BIGINT)
                |  + CAST(len(list_filter(sh2, x -> x LIKE 'filter sm%')) AS BIGINT)
                |  + CAST(len(list_filter(sh3, x -> x LIKE 'part filter sm%')) AS BIGINT) AS score
                |  FROM g)
                |SELECT doc_id, score FROM s WHERE score > 0
                |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ES rescore (r13): BM25 top-30 window re-ranked by phrase
    // proximity of the query's own terms (query scan adjacency),
    // combined 1.0×first + 2.0×phrase_tf
    Query("q_rescore", (s, dir) =>
      text.TextOps.rescoreSearch(Tables.documents(s, dir),
        Seq("dup", "query", "scan"), "query", "scan", 30, 10),
      Some(raw"""WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
                |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                |        CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
                |        CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf1,
                |        CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
                |      FROM d),
                |st0 AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks,
                |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
                |st AS (SELECT * FROM ${bm25IdfNest3}),
                |bm AS (SELECT doc_id,
                |    idf0 * (tf0 * (1.2e0 + 1)) / (tf0 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
                |    + idf1 * (tf1 * (1.2e0 + 1)) / (tf1 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))
                |    + idf2 * (tf2 * (1.2e0 + 1)) / (tf2 + 1.2e0 * ((1 - 0.75e0) + 0.75e0 * (dl / (CAST(total_toks AS DOUBLE) / n_docs)))) AS first_score
                |  FROM p CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
                |  ORDER BY first_score DESC, doc_id LIMIT 30),
                |tk AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM d),
                |ph AS (SELECT pa.doc_id, count(*) AS n
                |       FROM tk pa JOIN tk pb ON pa.doc_id = pb.doc_id AND pb.i = pa.i + 1
                |       WHERE pa.t = 'query' AND pb.t = 'scan' GROUP BY pa.doc_id)
                |SELECT bm.doc_id, first_score,
                |       CAST(coalesce(ph.n, 0) AS BIGINT) AS phrase_tf,
                |       first_score * 1.0e0 + CAST(coalesce(ph.n, 0) AS DOUBLE) * 2.0e0 AS score
                |FROM bm LEFT JOIN ph ON bm.doc_id = ph.doc_id
                |ORDER BY score DESC, bm.doc_id LIMIT 10""".stripMargin)),

    // intervals combinator AST (r13): all_of(ordered) inside any_of +
    // unordered multi-term match — minimal-interval algebra, oracle
    // generated from the SAME tree
    Query("text_intervals_ast", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsAstTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsAstTree, 25))),

    // any_of nested INSIDE all_of(ordered) with an outer gap cap —
    // the combinator-binds direction the flat form can't express
    Query("text_intervals_nested", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsNestedTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsNestedTree, 25))),

    // intervals `prefix` rule under all_of(ordered) (r13)
    Query("text_intervals_prefix", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsPrefixTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsPrefixTree, 25))),

    // intervals `filter` combinator (r13): not_containing
    Query("text_intervals_filter", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsFilterTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsFilterTree, 25))),

    // intervals `fuzzy` leaf rule (r14)
    Query("text_intervals_fuzzy", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsFuzzyTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsFuzzyTree, 25))),

    // intervals `wildcard` leaf rule (r14)
    Query("text_intervals_wildcard", (s, dir) =>
      text.IntervalsAst.intervalsAstQuery(Tables.documents(s, dir),
        intervalsWildcardTree, 25),
      Some(text.IntervalsAst.oracleSql(intervalsWildcardTree, 25))),

    // span family (r14): the ES-documented span→intervals compile
    // (Spans.toIntervals) — each query rides the intervals compiler
    // and its generated oracle
    Query("text_span_near", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanNearQuery, 25),
      Some(text.Spans.oracleSql(spanNearQuery, 25))),

    Query("text_span_or", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanOrQuery, 25),
      Some(text.Spans.oracleSql(spanOrQuery, 25))),

    Query("text_span_not", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanNotQuery, 25),
      Some(text.Spans.oracleSql(spanNotQuery, 25))),

    Query("text_span_within", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanWithinQuery, 25),
      Some(text.Spans.oracleSql(spanWithinQuery, 25))),

    Query("text_span_containing", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanContainingQuery, 25),
      Some(text.Spans.oracleSql(spanContainingQuery, 25))),

    Query("text_span_multi", (s, dir) =>
      text.Spans.spanSearch(Tables.documents(s, dir), spanMultiQuery, 25),
      Some(text.Spans.oracleSql(spanMultiQuery, 25))),

    // terms lookup: docs sharing tokens with doc 42 (set membership,
    // not TF scoring — the more_like_this contrast)
    Query("text_terms_lookup", (s, dir) =>
      text.TextOps.termsLookup(Tables.documents(s, dir), 42L, 25),
      Some(raw"""WITH lk AS (SELECT list_distinct(list_filter(
                |         string_split_regex(lower(text), '\s+'), x -> x <> '')) AS lt
                |       FROM documents WHERE doc_id = 42)
                |SELECT doc_id, n_shared FROM (
                |  SELECT d.doc_id,
                |    CAST(len(list_intersect(list_distinct(list_filter(
                |      string_split_regex(lower(d.text), '\s+'), x -> x <> '')), lk.lt)) AS BIGINT) AS n_shared
                |  FROM documents d CROSS JOIN lk WHERE d.doc_id <> 42) t
                |WHERE n_shared > 0
                |ORDER BY n_shared DESC, doc_id LIMIT 25""".stripMargin)),

    // TSDB time_series agg: per (user band, day) count/sum/last-value
    // series points in one struct-max hash agg
    Query("q_time_series", (s, dir) =>
      operators.Analytics.timeSeriesAgg(Tables.events(s, dir), 10),
      Some("""SELECT dim, day_idx, n, sum_value, ts_us AS last_ts_us,
             |       event_id AS last_event_id, value AS last_value FROM (
             |  SELECT user_id % 10 AS dim, epoch_us(ts) // 86400000000 AS day_idx,
             |         epoch_us(ts) AS ts_us, event_id, value,
             |         count(*) OVER w AS n,
             |         CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_value,
             |         row_number() OVER (PARTITION BY user_id % 10, epoch_us(ts) // 86400000000
             |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id % 10, epoch_us(ts) // 86400000000)) t
             |WHERE rn = 1""".stripMargin)),

    // join-field parent agg: child buckets → parent metrics, each
    // parent once per bucket
    Query("q_parent_agg", (s, dir) =>
      operators.Analytics.parentAgg(Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
      Some("""SELECT l_returnflag, count(*) AS n_parents,
             |       CAST(sum(tp) AS DOUBLE) AS sum_parent_total
             |FROM (SELECT DISTINCT l_returnflag, o_orderkey,
             |             CAST(o_totalprice AS DECIMAL(12,2)) AS tp
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |GROUP BY 1""".stripMargin)),

    // distance_feature: proximity-to-origin rational decay on ts
    // (origin mid-range, pivot = 1 day)
    Query("q_distance_feature", (s, dir) =>
      operators.Analytics.distanceFeature(Tables.events(s, dir),
        1705330000000000L, 86400000000L, 2.0, 20),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us,
             |       2.0 * 86400000000.0 /
             |         (86400000000.0 + CAST(abs(epoch_us(ts) - 1705330000000000) AS DOUBLE)) AS score
             |FROM events
             |ORDER BY score DESC, event_id LIMIT 20""".stripMargin)),

    // runtime fields: weekend day-of-week × value band derived at
    // query time (schema-on-read), faceted
    Query("q_runtime_fields", (s, dir) =>
      operators.Analytics.runtimeFields(Tables.events(s, dir)),
      Some("""SELECT day_of_week, value_band, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS day_of_week,
             |             CAST(floor(value / 50.0) AS BIGINT) AS value_band, value
             |      FROM events)
             |WHERE day_of_week IN (0, 6)
             |GROUP BY 1, 2""".stripMargin)),

    // random_sampler: deterministic md5-band p=0x200/0x1000=12.5%
    // sample, estimates rescaled by 1/p
    Query("q_random_sampler", (s, dir) =>
      operators.Analytics.randomSamplerAgg(Tables.events(s, dir), "200"),
      Some("""SELECT event_type, count(*) AS n_sampled,
             |       count(*) / 0.125e0 AS est_n,
             |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / 0.125e0 AS est_sum_value
             |FROM events
             |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 3) < '200'
             |GROUP BY event_type""".stripMargin)),

    // TSDB counter rate (reset-aware): per-user per-hour increase
    // rate, top-20
    Query("q_counter_rate", (s, dir) =>
      operators.Analytics.counterRate(Tables.events(s, dir), 20),
      Some("""WITH d AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |         CAST(value AS DECIMAL(12,2)) AS v,
             |         lag(CAST(value AS DECIMAL(12,2))) OVER
             |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
             |  FROM events),
             |i AS (SELECT user_id, ts_us,
             |        CASE WHEN prev IS NULL THEN CAST(0.0 AS DECIMAL(12,2))
             |             WHEN v >= prev THEN v - prev
             |             ELSE v END AS inc
             |      FROM d),
             |g AS (SELECT user_id, count(*) AS n_samples,
             |        CAST(sum(inc) AS DOUBLE) AS total_increase,
             |        max(ts_us) - min(ts_us) AS span_us
             |      FROM i GROUP BY user_id)
             |SELECT user_id, n_samples, total_increase, span_us,
             |       total_increase * 3600000000.0e0 / CAST(span_us AS DOUBLE) AS rate_per_hour
             |FROM g WHERE span_us > 0
             |ORDER BY rate_per_hour DESC, user_id LIMIT 20""".stripMargin)),

    Query("q_bool_filter", (s, dir) =>
      operators.Analytics.boolFilter(Tables.events(s, dir),
        50.0, Seq("click", "purchase"), 10L),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
             |FROM events
             |WHERE value >= 50 AND event_type IN ('click', 'purchase') AND NOT (user_id % 10 = 0)""".stripMargin)),

    Query("q_numeric_histogram", (s, dir) =>
      operators.Analytics.numericHistogram(Tables.events(s, dir), 10.0),
      Some("""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // bounds [-50, 650] at width 25 → buckets -2..26; values span 0-560
    // so the negative and >560 buckets exercise min_doc_count=0
    Query("q_histogram_bounds", (s, dir) =>
      operators.Analytics.histogramBounds(Tables.events(s, dir), 25.0, -50.0, 650.0),
      Some("""WITH agg AS (
             |  SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n,
             |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM events GROUP BY 1),
             |frame AS (SELECT unnest(range(-2, 27)) AS bucket)
             |SELECT bucket, coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
             |FROM frame FULL OUTER JOIN agg USING (bucket)""".stripMargin)),

    Query("q_boxplot", (s, dir) =>
      operators.Analytics.boxplot(Tables.events(s, dir)),
      Some(boxplotSql)),

    Query("q_mad", (s, dir) =>
      operators.Analytics.medianAbsDeviation(Tables.events(s, dir)),
      Some(madSql)),

    Query("q_string_stats", (s, dir) =>
      operators.Analytics.stringStats(Tables.events(s, dir)),
      Some("""SELECT event_type, count(*) AS n,
             |       min(length(props)) AS min_len, max(length(props)) AS max_len,
             |       CAST(sum(length(props)) AS BIGINT) AS sum_len,
             |       CAST(sum(length(props)) AS DOUBLE) / count(*) AS avg_len
             |FROM events GROUP BY event_type""".stripMargin)),

    Query("q_percentile_facet", (s, dir) =>
      operators.Analytics.percentileFacet(Tables.events(s, dir), Seq(0.5, 0.9, 0.99)),
      Some(percentileFacetSql)),

    // the 100 TB twins of the exact-percentile family: same discrete
    // rank contract — bit-identical results, the SAME oracle SQL drives
    // both — but two-pass histogram-CDF rank-select instead of the
    // window forms' full-corpus sort onto 5 reducers (Percentiles
    // scaladoc has the shape)
    Query("q_percentile_facet_dist", (s, dir) =>
      operators.Percentiles.percentileFacetDist(Tables.events(s, dir),
        Seq(0.5, 0.9, 0.99)),
      Some(percentileFacetSql)),

    Query("q_boxplot_dist", (s, dir) =>
      operators.Percentiles.boxplotDist(Tables.events(s, dir)),
      Some(boxplotSql)),

    Query("q_mad_dist", (s, dir) =>
      operators.Percentiles.madDist(Tables.events(s, dir)),
      Some(madSql)),

    Query("q_cardinality", (s, dir) =>
      operators.Analytics.cardinality(Tables.events(s, dir), "event_type", "user_id"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_distinct, count(*) AS n_events
             |FROM events GROUP BY event_type""".stripMargin)),

    Query("q_search_after", (s, dir) =>
      operators.Analytics.searchAfter(Tables.eventsRaw(s, dir),
        1705330000000000L, 0L, 50),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
             |WHERE epoch_us(ts) > 1705330000000000 OR (epoch_us(ts) = 1705330000000000 AND event_id > 0)
             |ORDER BY ts_us, event_id LIMIT 50""".stripMargin)),

    Query("q_hash_sample", (s, dir) =>
      operators.Analytics.hashSample(Tables.events(s, dir), "05"),
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '05'""".stripMargin)),

    // n=500: a real subset at every verify SF (1k-100k events)
    Query("q_sampler", (s, dir) =>
      operators.Analytics.samplerAgg(Tables.events(s, dir), 500),
      Some("""WITH s AS (SELECT event_type, value, event_id FROM events
             |           ORDER BY value DESC, event_id LIMIT 500)
             |SELECT event_type, count(*) AS n_docs,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |       min(event_id) AS min_id
             |FROM s GROUP BY event_type""".stripMargin)),

    // 150 users × cap 5 = 750 candidates > n=500 → both the per-key cap
    // and the global truncation bind
    Query("q_diversified_sampler", (s, dir) =>
      operators.Analytics.diversifiedSampler(Tables.events(s, dir), 5, 500),
      Some("""WITH r AS (SELECT event_type, user_id, value, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
             |  FROM events),
             |s AS (SELECT event_type, value, event_id FROM r WHERE rk <= 5
             |      ORDER BY value DESC, event_id LIMIT 500)
             |SELECT event_type, count(*) AS n_docs,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |       min(event_id) AS min_id
             |FROM s GROUP BY event_type""".stripMargin)),

    Query("q_rollup_agg", (s, dir) =>
      operators.Analytics.rollupAgg(Tables.events(s, dir)),
      Some("""SELECT coalesce(day_idx, -1) AS day_idx, coalesce(event_type, 'ALL') AS event_type,
             |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type, value FROM events)
             |GROUP BY ROLLUP(day_idx, event_type)""".stripMargin)),

    Query("q_pivot_daily", (s, dir) =>
      operators.Analytics.pivotDaily(Tables.events(s, dir),
        Seq("click", "error", "purchase", "signup", "view")),
      Some("""SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY 1""".stripMargin)),

    Query("q_cube_agg", (s, dir) =>
      operators.Analytics.cubeAgg(Tables.events(s, dir)),
      Some("""SELECT coalesce(day_idx, -1) AS day_idx, coalesce(event_type, 'ALL') AS event_type,
             |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type, value FROM events)
             |GROUP BY CUBE(day_idx, event_type)""".stripMargin)),

    Query("q_composite_agg", (s, dir) =>
      operators.Analytics.compositeAgg(Tables.events(s, dir), "click", 0L, 20),
      Some("""SELECT event_type, user_id // 100 AS user_bucket, count(*) AS n,
             |       count(DISTINCT user_id) AS n_users,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |HAVING event_type > 'click' OR (event_type = 'click' AND user_bucket > 0)
             |ORDER BY event_type, user_bucket LIMIT 20""".stripMargin)),

    // ES frequent_item_sets agg: size-2/3 itemsets over per-order
    // brand baskets, minimum_support 1‰ (exact integer cross-multiply)
    Query("q_frequent_item_sets", (s, dir) =>
      operators.Analytics.frequentItemSets(
        Tables.lineitem(s, dir), Tables.part(s, dir)),
      Some("""WITH basket AS (
             |  SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
             |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM basket),
             |pairs AS (
             |  SELECT a.bk, a.item AS item1, b.item AS item2
             |  FROM basket a JOIN basket b ON a.bk = b.bk AND a.item < b.item),
             |p2 AS (SELECT 2 AS set_size, item1, item2,
             |              CAST(NULL AS VARCHAR) AS item3, count(*) AS support
             |       FROM pairs GROUP BY 1, 2, 3, 4),
             |p3 AS (SELECT 3 AS set_size, p.item1, p.item2, c.item AS item3,
             |              count(*) AS support
             |       FROM pairs p JOIN basket c ON p.bk = c.bk AND c.item > p.item2
             |       GROUP BY 1, 2, 3, 4),
             |u AS (SELECT * FROM p2 UNION ALL SELECT * FROM p3),
             |f AS (SELECT u.*, nb.n_baskets FROM u, nb
             |      WHERE u.support * 1000 >= nb.n_baskets * 1),
             |r AS (SELECT f.*, row_number() OVER (PARTITION BY set_size
             |        ORDER BY support DESC, item1, item2, item3) AS rk FROM f)
             |SELECT CAST(set_size AS BIGINT) AS set_size, CAST(rk AS BIGINT) AS set_rank,
             |       item1, item2, item3, CAST(support AS BIGINT) AS support,
             |       CAST(support AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support_ratio
             |FROM r WHERE rk <= 20""".stripMargin)),

    Query("q_pipeline_aggs", (s, dir) =>
      // first bucket's derivative → 0.0 sentinel (ES emits no value
      // there; null would trip the value-hash compare)
      operators.Analytics.pipelineAggs(Tables.events(s, dir))
        .withColumn("derivative", coalesce(col("derivative"), lit(0.0))),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CAST(sum(dsum) OVER (ORDER BY day_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value,
             |       coalesce(CAST(dsum - lag(dsum) OVER (ORDER BY day_idx) AS DOUBLE), 0.0) AS derivative,
             |       CAST(sum(dsum) OVER w7 AS DOUBLE) / count(*) OVER w7 AS mov7_avg
             |FROM day
             |WINDOW w7 AS (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    Query("q_filters_facet", (s, dir) =>
      operators.Analytics.filtersFacet(Tables.events(s, dir)),
      Some("""SELECT 'high_value' AS bucket, count(*) FILTER (WHERE value >= 90) AS n,
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value >= 90), 0) AS DOUBLE) AS sum_value
             |FROM events
             |UNION ALL
             |SELECT 'clicks', count(*) FILTER (WHERE event_type = 'click'),
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE)
             |FROM events
             |UNION ALL
             |SELECT 'early_users', count(*) FILTER (WHERE user_id < 500),
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE user_id < 500), 0) AS DOUBLE)
             |FROM events""".stripMargin)),

    // filters agg with other_bucket: true — the residual _other_ slice
    Query("q_filters_other_bucket", (s, dir) =>
      operators.Analytics.filtersFacetOther(Tables.events(s, dir)),
      Some("""SELECT 'high_value' AS bucket, count(*) FILTER (WHERE value >= 90) AS n,
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value >= 90), 0) AS DOUBLE) AS sum_value
             |FROM events
             |UNION ALL
             |SELECT 'clicks', count(*) FILTER (WHERE event_type = 'click'),
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE)
             |FROM events
             |UNION ALL
             |SELECT 'early_users', count(*) FILTER (WHERE user_id < 500),
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE user_id < 500), 0) AS DOUBLE)
             |FROM events
             |UNION ALL
             |SELECT '_other_',
             |       count(*) FILTER (WHERE NOT (value >= 90) AND NOT (event_type = 'click') AND NOT (user_id < 500)),
             |       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))
             |         FILTER (WHERE NOT (value >= 90) AND NOT (event_type = 'click') AND NOT (user_id < 500)), 0) AS DOUBLE)
             |FROM events""".stripMargin)),

    Query("q_bucket_selector", (s, dir) =>
      operators.Analytics.bucketSelector(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |g AS (SELECT CAST(sum(dsum) AS DOUBLE) / count(*) AS avg_bucket FROM day)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value, avg_bucket
             |FROM day, g WHERE CAST(dsum AS DOUBLE) > avg_bucket""".stripMargin)),

    Query("q_stats_bucket", (s, dir) =>
      operators.Analytics.statsBucket(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT count(*) AS n_buckets,
             |       CAST(min(dsum) AS DOUBLE) AS min_bucket,
             |       CAST(max(dsum) AS DOUBLE) AS max_bucket,
             |       CAST(sum(dsum) AS DOUBLE) AS sum_buckets,
             |       CAST(sum(dsum) AS DOUBLE) / count(*) AS avg_bucket
             |FROM day""".stripMargin)),

    // lag=7: weekly deseasonalization over the ~31 day buckets
    Query("q_serial_diff", (s, dir) =>
      operators.Analytics.serialDiff(Tables.events(s, dir), 7),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       coalesce(CAST(dsum - lag(dsum, 7) OVER (ORDER BY day_idx) AS DOUBLE), 0.0) AS serial_diff
             |FROM day""".stripMargin)),

    // 7-bucket window, the q_pipeline_aggs mov7 convention
    Query("q_moving_fn", (s, dir) =>
      operators.Analytics.movingFn(Tables.events(s, dir), 7),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CAST(max(dsum) OVER w AS DOUBLE) AS mov_max,
             |       CAST(min(dsum) OVER w AS DOUBLE) AS mov_min,
             |       count(*) OVER w AS mov_n
             |FROM day
             |WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ES moving_percentiles pipeline agg: exact rank-selected p50/p90
    // over a 7-bucket sliding window of the day histogram (round 12)
    Query("q_moving_percentiles", (s, dir) =>
      operators.Analytics.movingPercentiles(Tables.events(s, dir), 7,
        Seq(0.5, 0.9)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |m AS (
             |  SELECT day_idx, n, dsum,
             |         list_sort(list(dsum) OVER (ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
             |  FROM day)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CAST(arr[CAST(ceil(0.5 * len(arr)) AS INTEGER)] AS DOUBLE) AS p50,
             |       CAST(arr[CAST(ceil(0.9 * len(arr)) AS INTEGER)] AS DOUBLE) AS p90
             |FROM m""".stripMargin)),

    // ES ip field + ip_range facet over the derived deterministic IPv4
    // (round 12): quarter-space buckets, zero-count ranges emitted
    Query("q_ip_range", (s, dir) =>
      operators.Analytics.ipRangeFacet(Tables.events(s, dir), ipEdges),
      Some({
        val full = Seq(10L * 16777216L) ++ ipEdges ++ Seq(11L * 16777216L)
        val cases = ipEdges.zipWithIndex
          .map { case (e, i) => s"WHEN u32 < $e THEN $i" }.mkString(" ")
        val values = full.init.zipWithIndex
          .map { case (lo, i) => s"($i, '${ipDotted(lo)}', '${ipDotted(full(i + 1))}')" }
          .mkString(", ")
        s"""WITH ip AS (SELECT user_id, ${operators.Analytics.ipU32Sql} AS u32 FROM events),
           |r AS (SELECT CASE $cases ELSE ${ipEdges.size} END AS range_idx, user_id FROM ip),
           |g AS (SELECT range_idx, count(*) AS n, count(DISTINCT user_id) AS n_users
           |      FROM r GROUP BY 1)
           |SELECT CAST(rr.range_idx AS BIGINT) AS range_idx, rr.ip_from, rr.ip_to,
           |       coalesce(g.n, 0) AS n, coalesce(g.n_users, 0) AS n_users
           |FROM (VALUES $values) rr(range_idx, ip_from, ip_to)
           |LEFT JOIN g ON rr.range_idx = g.range_idx""".stripMargin
      })),

    // ES percentiles_bucket: one-shot p25/p50/p90/p99 of the whole
    // day-histogram sum set (round 12)
    Query("q_percentiles_bucket", (s, dir) =>
      operators.Analytics.percentilesBucket(Tables.events(s, dir),
        Seq(0.25, 0.5, 0.9, 0.99)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |a AS (SELECT list_sort(list(dsum)) AS arr FROM day)
             |SELECT CAST(len(arr) AS BIGINT) AS n_buckets,
             |       CAST(arr[CAST(ceil(0.25 * len(arr)) AS INTEGER)] AS DOUBLE) AS p25,
             |       CAST(arr[CAST(ceil(0.5 * len(arr)) AS INTEGER)] AS DOUBLE) AS p50,
             |       CAST(arr[CAST(ceil(0.9 * len(arr)) AS INTEGER)] AS DOUBLE) AS p90,
             |       CAST(arr[CAST(ceil(0.99 * len(arr)) AS INTEGER)] AS DOUBLE) AS p99
             |FROM a""".stripMargin)),

    Query("q_rate", (s, dir) =>
      operators.Analytics.rateAgg(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n,
             |       CAST(n AS DOUBLE) / 24.0 AS docs_per_hour,
             |       CAST(dsum AS DOUBLE) / 24.0 AS value_per_hour
             |FROM day""".stripMargin)),

    Query("q_normalize", (s, dir) =>
      operators.Analytics.normalizeBuckets(Tables.events(s, dir)),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
             |  FROM events GROUP BY 1),
             |span AS (SELECT min(dsum) AS lo, max(dsum) AS hi FROM day)
             |SELECT day_idx, n, CAST(dsum AS DOUBLE) AS sum_value,
             |       CASE WHEN hi = lo THEN 0.0
             |            ELSE CAST(dsum - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
             |       END AS normalized
             |FROM day, span""".stripMargin)),

    // click vs view: the two largest strata at every SF
    Query("q_t_test", (s, dir) =>
      operators.Analytics.tTest(Tables.events(s, dir), "click", "view"),
      Some("""WITH s AS (SELECT
             |    count(*) FILTER (event_type = 'click') AS n_a,
             |    sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS sa,
             |    sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) FILTER (event_type = 'click') AS ssa,
             |    count(*) FILTER (event_type = 'view') AS n_b,
             |    sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS sb,
             |    sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) FILTER (event_type = 'view') AS ssb
             |  FROM events),
             |d AS (SELECT n_a, n_b,
             |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             |    CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb,
             |    CAST(ssa AS DOUBLE) AS dssa, CAST(ssb AS DOUBLE) AS dssb
             |  FROM s)
             |SELECT n_a, n_b, dsa / na AS mean_a, dsb / nb AS mean_b,
             |       (dsa / na - dsb / nb)
             |         / sqrt(((dssa - dsa * dsa / na) / (na - 1)) / na
             |              + ((dssb - dsb * dsb / nb) / (nb - 1)) / nb) AS t_stat
             |FROM d""".stripMargin)),

    Query("q_cumulative_cardinality", (s, dir) =>
      operators.Analytics.cumulativeCardinality(Tables.events(s, dir)),
      Some("""WITH fd AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour_idx
             |            FROM events GROUP BY 1),
             |pd AS (SELECT hour_idx, count(*) AS new_users FROM fd GROUP BY 1)
             |SELECT hour_idx, new_users,
             |       CAST(sum(new_users) OVER (ORDER BY hour_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
             |FROM pd""".stripMargin)),

    // target 10 buckets over the ~31-day span → the ladder picks 7-day
    // intervals (~5 buckets) at every SF
    Query("q_auto_date_histogram", (s, dir) =>
      operators.Analytics.autoDateHistogram(Tables.events(s, dir), 10),
      Some("""WITH span AS (
             |  SELECT max(epoch_us(ts)) // 86400000000
             |       - min(epoch_us(ts)) // 86400000000 + 1 AS sd FROM events),
             |iv AS (SELECT CASE WHEN sd // 1 + 1 <= 10 THEN 1
             |                   WHEN sd // 7 + 1 <= 10 THEN 7
             |                   WHEN sd // 30 + 1 <= 10 THEN 30
             |                   WHEN sd // 90 + 1 <= 10 THEN 90
             |                   ELSE 365 END AS interval_days FROM span)
             |SELECT (epoch_us(ts) // 86400000000) // interval_days AS bucket_idx,
             |       count(*) AS n, interval_days
             |FROM events, iv GROUP BY 1, interval_days""".stripMargin)),

    // 50 (type × user_mod) buckets at every SF → k=25 truncates for real
    Query("q_multi_terms", (s, dir) =>
      operators.Analytics.multiTerms(Tables.events(s, dir), 25),
      Some("""SELECT event_type, user_id % 10 AS user_mod, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY n DESC, event_type, user_mod LIMIT 25""".stripMargin)),

    // 31 day buckets at every SF → from=5/size=10 pages a real interior
    Query("q_bucket_sort", (s, dir) =>
      operators.Analytics.bucketSort(Tables.events(s, dir), 5, 10),
      Some("""WITH day AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*) AS n,
             |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM events GROUP BY 1)
             |SELECT day_idx, n, sum_value FROM day
             |ORDER BY sum_value DESC, day_idx LIMIT 10 OFFSET 5""".stripMargin)),

    Query("q_range_facet", (s, dir) =>
      // the [1000, ∞) bucket is empty at every SF (value ≤ ~490) —
      // exercising ES's zero-count-bucket contract
      operators.Analytics.rangeFacet(Tables.events(s, dir),
        Seq(0.0, 50.0, 100.0, 200.0, 400.0, 1000.0)),
      Some("""WITH spec AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
             |    (1, 50.0, 100.0), (2, 100.0, 200.0), (3, 200.0, 400.0),
             |    (4, 400.0, 1000.0), (5, 1000.0, -1.0)) t(bucket_id, lo, hi)),
             |agg AS (
             |  SELECT bucket_id, count(*) AS n,
             |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM events JOIN spec ON value >= lo AND (hi = -1.0 OR value < hi)
             |  GROUP BY bucket_id)
             |SELECT spec.bucket_id, lo, hi, coalesce(n, 0) AS n,
             |       coalesce(sum_value, 0.0) AS sum_value
             |FROM spec LEFT JOIN agg USING (bucket_id)""".stripMargin)),

    Query("q_matrix_stats", (s, dir) =>
      operators.Analytics.matrixStats(Tables.lineitem(s, dir)),
      // same exact-decimal power sums and the same double-op order as the
      // Spark side ((ab - a*b/n)/n, cov/sqrt(va*vb)) → bit-identical
      Some("""WITH s AS (
             |  SELECT count(*) AS n,
             |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
             |    sum(CAST(l_discount AS DECIMAL(18,4))) AS sz,
             |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxx,
             |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syy,
             |    sum(CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS szz,
             |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxy,
             |    sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxz,
             |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syz
             |  FROM lineitem),
             |p AS (
             |  SELECT 'quantity_extendedprice' AS pair, n,
             |         CAST(sx AS DOUBLE) AS a, CAST(sy AS DOUBLE) AS b,
             |         CAST(sxx AS DOUBLE) AS aa, CAST(syy AS DOUBLE) AS bb,
             |         CAST(sxy AS DOUBLE) AS ab FROM s
             |  UNION ALL SELECT 'quantity_discount', n, CAST(sx AS DOUBLE), CAST(sz AS DOUBLE),
             |         CAST(sxx AS DOUBLE), CAST(szz AS DOUBLE), CAST(sxz AS DOUBLE) FROM s
             |  UNION ALL SELECT 'extendedprice_discount', n, CAST(sy AS DOUBLE), CAST(sz AS DOUBLE),
             |         CAST(syy AS DOUBLE), CAST(szz AS DOUBLE), CAST(syz AS DOUBLE) FROM s)
             |SELECT pair, n, a / n AS mean_a, b / n AS mean_b,
             |       (ab - a * b / n) / n AS cov_ab,
             |       ((ab - a * b / n) / n)
             |         / sqrt(((aa - a * a / n) / n) * ((bb - b * b / n) / n)) AS corr_ab
             |FROM p""".stripMargin)),

    Query("q_top_hits", (s, dir) =>
      operators.Analytics.topHits(Tables.events(s, dir), 3),
      Some("""SELECT event_type,
             |       CAST(row_number() OVER (PARTITION BY event_type
             |           ORDER BY value DESC, event_id) AS INT) AS rank,
             |       event_id, epoch_us(ts) AS ts_us, user_id, value
             |FROM events QUALIFY rank <= 3""".stripMargin)),

    // 150 users at every SF → 20 collapsed groups truncate for real;
    // 3 inner hits each → 60 rows
    Query("q_field_collapse", (s, dir) =>
      operators.Analytics.fieldCollapse(Tables.events(s, dir), 20, 3),
      Some("""WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             |    CAST(row_number() OVER (PARTITION BY user_id
             |        ORDER BY value DESC, event_id) AS INT) AS rank,
             |    max(value) OVER (PARTITION BY user_id) AS best_value
             |  FROM events),
             |g AS (SELECT user_id FROM r WHERE rank = 1
             |      ORDER BY best_value DESC, user_id LIMIT 20)
             |SELECT r.user_id, best_value, rank, event_id, ts_us, event_type, value
             |FROM r JOIN g ON r.user_id = g.user_id
             |WHERE rank <= 3""".stripMargin)),

    Query("q_top_metrics", (s, dir) =>
      operators.Analytics.topMetrics(Tables.events(s, dir)),
      Some("""SELECT event_type, ts_us, event_id, value AS latest_value FROM (
             |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
             |    row_number() OVER (PARTITION BY event_type
             |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |  FROM events) t WHERE rn = 1""".stripMargin)),

    // function_score field_value_factor, log1p modifier on DetLn
    // (bit-exact per-row ln; factor 0.125 = exact power-of-two scaling)
    Query("q_function_score_fvf", (s, dir) =>
      operators.Analytics.fieldValueFactor(Tables.orders(s, dir),
        0.125, 1.5, 15),
      Some(operators.Analytics.fieldValueFactorSql(0.125, 1.5, 15))),

    // function_score with script_score-class functions (r16): sealed
    // score AST (DetLn log1p, saturation, clamp arithmetic) under
    // score_mode=sum / boost_mode=multiply — one tree compiles both
    // engines (ScoreAst.wiredBase/wiredFuncs)
    Query("q_function_score_script", (s, dir) =>
      operators.ScoreAst.wiredQuery(Tables.orders(s, dir)),
      Some(operators.ScoreAst.wiredSql())),

    // function_score with the DECAY kernels as AST nodes (r17,
    // VERDICT r16 #7): gauss + exp decay grids × saturation under
    // score_mode sum / boost_mode multiply — the composition ES users
    // write; the floor-grid margin proofs of q_decay_gauss/exp carry
    // over (same constants, same field), so the page is hash-green
    Query("q_function_score_decay", (s, dir) =>
      operators.ScoreAst.wiredDecayQuery(Tables.events(s, dir)),
      Some(operators.ScoreAst.wiredDecaySql())),

    // geo surface (SURVEY §2, round 11): deterministic lat/lon
    // derived from user_id/event_id (Geo.withCoords — exact modulo +
    // one double division, IEEE-identical in DuckDB)
    // box covers ~35% of the lat band × ~33% of lon → ~12% of events,
    // faceted per family like the ES filter+agg shape
    Query("q_geo_bounding_box", (s, dir) =>
      operators.Geo.boundingBox(operators.Geo.withCoords(Tables.events(s, dir)),
        -20.0, 40.0, -90.0, 30.0),
      // geo: coordinate derivation + geohash bit math generated from the
      // SAME Scala parameters as the Spark side (Geo.coordsSql /
      // Geo.geohashSql) so the two engines cannot drift
      Some(s"""WITH pts AS (SELECT event_type, value, ${operators.Geo.coordsSql} FROM events)
              |SELECT event_type, count(*) AS n,
              |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM pts
              |WHERE lat >= -20.0 AND lat <= 40.0 AND lon >= -90.0 AND lon <= 30.0
              |GROUP BY event_type""".stripMargin)),

    // plane-distance top-25 around (10, −30) within 20° radius
    Query("q_geo_distance", (s, dir) =>
      operators.Geo.distanceTopK(operators.Geo.withCoords(Tables.events(s, dir)),
        10.0, -30.0, 400.0, 25),
      Some(s"""WITH pts AS (SELECT event_id, ${operators.Geo.coordsSql} FROM events)
              |SELECT event_id, lat, lon,
              |       (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) AS d2
              |FROM pts
              |WHERE (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) <= 400.0
              |ORDER BY d2, event_id LIMIT 25""".stripMargin)),

    // precision-2 geohash buckets (≤1024 cells), top 20 by doc count
    Query("q_geohash_grid", (s, dir) =>
      operators.Geo.geohashGrid(operators.Geo.withCoords(Tables.events(s, dir)), 2, 20),
      Some(s"""WITH pts AS (SELECT ${operators.Geo.coordsSql} FROM events),
              |g AS (SELECT ${operators.Geo.geohashSql(2)} AS geohash FROM pts)
              |SELECT geohash, count(*) AS n FROM g
              |GROUP BY geohash ORDER BY n DESC, geohash LIMIT 20""".stripMargin)),

    // distance rings at 5/10/20/40° around (10, −30) — edges squared,
    // zero-count rings emitted like ES's full range list
    Query("q_geo_distance_rings", (s, dir) =>
      operators.Geo.distanceRings(operators.Geo.withCoords(Tables.events(s, dir)),
        10.0, -30.0, Seq(25.0, 100.0, 400.0, 1600.0)),
      Some(s"""WITH pts AS (SELECT value, ${operators.Geo.coordsSql} FROM events),
              |d AS (SELECT value,
              |        (lat - 10.0) * (lat - 10.0) + (lon - (-30.0)) * (lon - (-30.0)) AS d2
              |      FROM pts),
              |r AS (SELECT CASE WHEN d2 < 25.0 THEN 0 WHEN d2 < 100.0 THEN 1
              |                  WHEN d2 < 400.0 THEN 2 WHEN d2 < 1600.0 THEN 3
              |                  ELSE 4 END AS ring, value FROM d),
              |g AS (SELECT ring, count(*) AS n,
              |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |      FROM r GROUP BY ring)
              |SELECT CAST(rr.ring AS BIGINT) AS ring,
              |       coalesce(g.n, 0) AS n, coalesce(g.sum_value, 0.0) AS sum_value
              |FROM (SELECT unnest(range(0, 5)) AS ring) rr
              |LEFT JOIN g ON rr.ring = g.ring""".stripMargin)),

    // per-family geo_centroid on the exact decimal domain
    Query("q_geo_centroid", (s, dir) =>
      operators.Geo.centroids(operators.Geo.withCoords(Tables.events(s, dir)),
        "event_type"),
      Some(s"""WITH pts AS (SELECT event_type, ${operators.Geo.coordsSql} FROM events)
              |SELECT event_type, count(*) AS n,
              |       CAST(sum(CAST(lat AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS centroid_lat,
              |       CAST(sum(CAST(lon AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS centroid_lon
              |FROM pts GROUP BY event_type""".stripMargin)),

    // per-family geo_bounds (tight bounding box, pure min/max)
    Query("q_geo_bounds", (s, dir) =>
      operators.Geo.bounds(operators.Geo.withCoords(Tables.events(s, dir)),
        "event_type"),
      Some(s"""WITH pts AS (SELECT event_type, ${operators.Geo.coordsSql} FROM events)
              |SELECT event_type, min(lat) AS min_lat, max(lat) AS max_lat,
              |       min(lon) AS min_lon, max(lon) AS max_lon
              |FROM pts GROUP BY event_type""".stripMargin)),

    // ES geo_polygon filter (even-odd ray casting, concave hexagon) +
    // the per-family facet — the one geo query type missing from the
    // round-11 ring (VERDICT r11 next #4)
    Query("q_geo_polygon", (s, dir) =>
      operators.Geo.polygonFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoPolygon),
      Some(s"""WITH pts AS (SELECT event_type, value, ${operators.Geo.coordsSql} FROM events)
              |SELECT event_type, count(*) AS n,
              |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM pts
              |WHERE ${operators.Geo.pointInPolygonSql(geoPolygon)}
              |GROUP BY event_type""".stripMargin)),

    // ES geo_shape query (r13): synthetic envelopes classified
    // within / intersects / disjoint vs the shared concave polygon —
    // exact SAT edge tests + ray-cast corners, oracle generated from
    // the same vertex list
    Query("q_geo_shape", (s, dir) =>
      operators.Geo.geoShapeFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoPolygon),
      Some(s"""WITH pts AS (SELECT event_type, value, user_id, event_id,
              |                    ${operators.Geo.coordsSql} FROM events),
              |env AS (SELECT event_type, value, ${operators.Geo.envelopeSql} FROM pts)
              |SELECT ${operators.Geo.envelopeRelationSql(geoPolygon)} AS relation,
              |       event_type, count(*) AS n,
              |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM env
              |GROUP BY 1, 2""".stripMargin)),

    // the small-polygon twin: envelopes can CONTAIN the query shape,
    // so all four ES relations flow through the hash gate
    Query("q_geo_shape_small", (s, dir) =>
      operators.Geo.geoShapeFacet(
        operators.Geo.withCoords(Tables.events(s, dir)), geoTriangleSmall),
      Some(s"""WITH pts AS (SELECT event_type, value, user_id, event_id,
              |                    ${operators.Geo.coordsSql} FROM events),
              |env AS (SELECT event_type, value, ${operators.Geo.envelopeSql} FROM pts)
              |SELECT ${operators.Geo.envelopeRelationSql(geoTriangleSmall)} AS relation,
              |       event_type, count(*) AS n,
              |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM env
              |GROUP BY 1, 2""".stripMargin)),

    // ES geotile_grid at zoom 3 (8×8 web-mercator tiles), top 20 by
    // doc count — the libm exception with the exhaustive margin proof
    // (GeoSpec; see Geo.geotileGrid)
    Query("q_geotile_grid", (s, dir) =>
      operators.Geo.geotileGrid(
        operators.Geo.withCoords(Tables.events(s, dir)), 3, 20),
      Some(s"""WITH pts AS (SELECT ${operators.Geo.coordsSql} FROM events),
              |t AS (SELECT ${operators.Geo.geotileSql(3)} AS tile FROM pts)
              |SELECT tile, count(*) AS n FROM t
              |GROUP BY tile ORDER BY n DESC, tile LIMIT 20""".stripMargin)),

    // ES geohex_grid re-expressed: integer-exact two-offset-grid hexbin
    // (hex Voronoi cells), count + exact value sum per cell, top-20
    Query("q_geohex_grid", (s, dir) =>
      operators.Geo.geohexGrid(Tables.events(s, dir)),
      Some(operators.Geo.geohexGridSql())),

    // ES geo_line: per-family track of the 20 earliest points in
    // (ts, id) order, exploded — bounded TopKPairs prefilter, final
    // rank on groups×20 survivors only (round 12)
    Query("q_geo_line", (s, dir) =>
      operators.Geo.geoLine(
        operators.Geo.withCoords(Tables.events(s, dir)), 20),
      Some(s"""WITH pts AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us, ${operators.Geo.coordsSql} FROM events),
              |r AS (SELECT event_type, lat, lon,
              |        row_number() OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS seq
              |      FROM pts)
              |SELECT event_type, seq, lat, lon FROM r WHERE seq <= 20""".stripMargin)),

    Query("q_extended_stats", (s, dir) =>
      operators.Analytics.extendedStats(Tables.events(s, dir)),
      // same decimal power sums + fixed-order double derivation as Spark
      Some("""WITH s AS (
             |  SELECT event_type, count(*) AS n,
             |         min(value) AS min_value, max(value) AS max_value,
             |         sum(CAST(value AS DECIMAL(18,2))) AS sd,
             |         sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ssd
             |  FROM events GROUP BY event_type)
             |SELECT event_type, n, min_value, max_value,
             |       CAST(sd AS DOUBLE) AS sum_value,
             |       CAST(ssd AS DOUBLE) AS sum_of_squares,
             |       CAST(sd AS DOUBLE) / n AS avg_value,
             |       (CAST(ssd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / n AS variance,
             |       sqrt((CAST(ssd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / n) AS std_deviation
             |FROM s""".stripMargin)),

    // probes spread across the value distribution (range ~0-560)
    Query("q_percentile_ranks", (s, dir) =>
      operators.Analytics.percentileRanks(Tables.events(s, dir),
        Seq(10.0, 50.0, 200.0)),
      Some("""SELECT event_type, v AS value,
             |       count(*) FILTER (WHERE value <= v) AS n_le, count(*) AS n,
             |       CAST(count(*) FILTER (WHERE value <= v) AS DOUBLE) / count(*) * 100 AS pct_rank
             |FROM events CROSS JOIN (SELECT unnest([10.0, 50.0, 200.0]) AS v) vs
             |GROUP BY event_type, v""".stripMargin)),

    // edges: Jan 8 / Jan 15 / Jan 25 / Mar 1 2024 (epoch µs); data ends
    // Jan 31, so the last bucket [Mar 1, ∞) is zero-count at every SF —
    // exercising ES's every-bucket-emitted contract
    Query("q_date_range", (s, dir) =>
      operators.Analytics.dateRangeFacet(Tables.events(s, dir),
        Seq(1704672000000000L, 1705276800000000L, 1706140800000000L,
          1709251200000000L)),
      Some("""WITH spec AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(1704672000000000 AS BIGINT)),
             |    (1, 1704672000000000, 1705276800000000),
             |    (2, 1705276800000000, 1706140800000000),
             |    (3, 1706140800000000, 1709251200000000),
             |    (4, 1709251200000000, -1)) t(bucket_id, from_us, to_us)),
             |agg AS (
             |  SELECT bucket_id, count(*) AS n,
             |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |  FROM events JOIN spec
             |    ON (from_us = -1 OR epoch_us(ts) >= from_us)
             |   AND (to_us = -1 OR epoch_us(ts) < to_us)
             |  GROUP BY bucket_id)
             |SELECT spec.bucket_id, from_us, to_us, coalesce(n, 0) AS n,
             |       coalesce(sum_value, 0.0) AS sum_value
             |FROM spec LEFT JOIN agg USING (bucket_id)""".stripMargin)),

    // deterministic synthetic weight: (user_id mod 10) + 1
    Query("q_weighted_avg", (s, dir) =>
      operators.Analytics.weightedAvg(Tables.events(s, dir),
        col("user_id") % 10 + 1),
      Some("""WITH t AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             |                  CAST(user_id % 10 + 1 AS DECIMAL(18,2)) AS w FROM events)
             |SELECT event_type, count(*) AS n,
             |       CAST(sum(CAST(v * w AS DECIMAL(38,4))) AS DOUBLE)
             |         / CAST(sum(w) AS DOUBLE) AS weighted_avg,
             |       CAST(sum(w) AS DOUBLE) AS sum_weight
             |FROM t GROUP BY event_type""".stripMargin)),

    // same filter family as q_filters_facet → the two facets cohere
    Query("q_adjacency_matrix", (s, dir) =>
      operators.Analytics.adjacencyMatrix(Tables.events(s, dir), Seq(
        "high" -> (col("value") >= 90),
        "click" -> (col("event_type") === "click"),
        "early" -> (col("user_id") < 500))),
      Some("""SELECT 'high' AS key, count(*) FILTER (WHERE value >= 90) AS n FROM events
             |UNION ALL SELECT 'high&click', count(*) FILTER (WHERE value >= 90 AND event_type = 'click') FROM events
             |UNION ALL SELECT 'high&early', count(*) FILTER (WHERE value >= 90 AND user_id < 500) FROM events
             |UNION ALL SELECT 'click', count(*) FILTER (WHERE event_type = 'click') FROM events
             |UNION ALL SELECT 'click&early', count(*) FILTER (WHERE event_type = 'click' AND user_id < 500) FROM events
             |UNION ALL SELECT 'early', count(*) FILTER (WHERE user_id < 500) FROM events""".stripMargin)),

    Query("river_charset", (s, dir) => {
      // charset surface (ref HBaseRiver.charset:74): payload bytes →
      // charset-decoded string; round-trip proves lossless decode.
      // Null-safe (<=>, coalesced length) so a null payload compares
      // identically on both engines instead of leaking a NULL row
      val ev = Tables.events(s, dir)
      val cs = "UTF-8"
      ev.select(col("event_id"),
        coalesce(length(encode(col("props"), cs)).cast("long"), lit(0L)).as("n_bytes"),
        (decode(encode(col("props"), cs), cs) <=> col("props")).as("roundtrip_ok"))
    }, Some("""SELECT event_id, coalesce(octet_length(encode(props)), 0) AS n_bytes,
              |       decode(encode(props)) IS NOT DISTINCT FROM props AS roundtrip_ok
              |FROM events""".stripMargin)),

    Query("river_charset_latin1", (s, dir) => {
      // non-UTF-8 charset surface (ref HBaseRiver.charset:74 accepts an
      // arbitrary charset name): genuinely non-ASCII Latin-1 content
      // round-trips losslessly at 1 byte/char where UTF-8 needs 2 —
      // proves the decode path is charset-parameterized, not UTF-8-pinned
      val ev = Tables.events(s, dir)
      val cs = "ISO-8859-1"
      val raw = regexp_replace(col("event_type"), "e", "é")
      val enc = encode(raw, cs)
      ev.select(col("event_id"), raw.as("raw"),
        octet_length(enc).cast("long").as("n_bytes_latin1"),
        octet_length(encode(raw, "UTF-8")).cast("long").as("n_bytes_utf8"),
        (decode(enc, cs) <=> raw).as("roundtrip_ok"))
    },
      // DuckDB has no Latin-1 codec, but every char here (ASCII + 'é') is
      // Latin-1-mappable, so latin1 bytes = char count exactly; utf8 bytes
      // through the real encoder; the round-trip flag is asserted true
      Some("""SELECT event_id, replace(event_type, 'e', 'é') AS raw,
             |       length(replace(event_type, 'e', 'é')) AS n_bytes_latin1,
             |       octet_length(encode(replace(event_type, 'e', 'é'))) AS n_bytes_utf8,
             |       true AS roundtrip_ok
             |FROM events""".stripMargin)),

    Query("q_asof_join", (s, dir) =>
      // no-match → -1 sentinels: value-hash comparers disagree on NaN/null
      operators.Analytics.asofJoin(Tables.events(s, dir), "purchase", "click")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("matched_id"), lit(-1L)).as("matched_id"),
          coalesce(col("matched_ts_us"), lit(-1L)).as("matched_ts_us"),
          col("value")),
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS r_id
             |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
             |      FROM events WHERE event_type = 'purchase')
             |SELECT p.event_id, p.user_id, p.ts_us, coalesce(c.r_id, -1) AS matched_id,
             |       coalesce(c.ts_us, -1) AS matched_ts_us, p.value
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin)),

    // chi_square significance heuristic (r13): same contingency, the
    // pluggable-heuristic scorer ES offers beside the default
    Query("text_significant_chi2", (s, dir) =>
      text.TextOps.significantTermsChi2(Tables.documents(s, dir), 5L, 20),
      Some(raw"""WITH tok AS (SELECT source, term FROM (
                |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
                |        FROM documents) WHERE term <> ''),
                |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
                |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
                |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
                |tot AS (SELECT count(*) AS d FROM tok),
                |ct AS (SELECT source, term, a, b,
                |         CAST(a AS DOUBLE) * CAST(d - b - c + a AS DOUBLE)
                |           - CAST(c - a AS DOUBLE) * CAST(b - a AS DOUBLE) AS x,
                |         (CAST(a + (c - a) AS DOUBLE) * CAST(a + (b - a) AS DOUBLE))
                |           * (CAST((c - a) + (d - b - c + a) AS DOUBLE)
                |              * CAST((b - a) + (d - b - c + a) AS DOUBLE)) AS denom,
                |         CAST(d AS DOUBLE) AS dd
                |       FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
                |       WHERE a >= 5)
                |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
                |       CASE WHEN denom = 0 THEN NULL ELSE dd * (x * x) / denom END AS chi2
                |FROM ct
                |ORDER BY chi2 DESC, source, term LIMIT 20""".stripMargin)),

    // mutual_information heuristic (r13) — the trio's third scorer
    Query("text_significant_mi", (s, dir) =>
      text.TextOps.significantTermsMi(Tables.documents(s, dir), 5L, 20),
      // generated from the same cell definitions + DetLn program as the
      // Spark side (r14 dual-compile)
      Some(text.TextOps.significantMiOracleSql(5, 20))),

    // JLH (r13) — ES's DEFAULT significance heuristic, transcendental-free
    Query("text_significant_jlh", (s, dir) =>
      text.TextOps.significantTermsJlh(Tables.documents(s, dir), 5L, 20),
      Some(raw"""WITH tok AS (SELECT source, term FROM (
                |        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
                |        FROM documents) WHERE term <> ''),
                |ast AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
                |bt AS (SELECT term, count(*) AS b FROM tok GROUP BY 1),
                |cs AS (SELECT source, count(*) AS c FROM tok GROUP BY 1),
                |tot AS (SELECT count(*) AS d FROM tok),
                |p AS (SELECT source, term, a, b,
                |        CAST(a AS DOUBLE) / CAST(c AS DOUBLE) AS pfg,
                |        CAST(b AS DOUBLE) / CAST(d AS DOUBLE) AS pbg
                |      FROM ast JOIN bt USING (term) JOIN cs USING (source) CROSS JOIN tot
                |      WHERE a >= 5)
                |SELECT source, term, a AS n_in_source, b AS n_in_corpus,
                |       CASE WHEN pfg > pbg THEN (pfg - pbg) * (pfg / pbg) ELSE 0.0 END AS jlh
                |FROM p
                |ORDER BY jlh DESC, source, term LIMIT 20""".stripMargin)),

    // significant_terms background_filter (r15): the background set is
    // the lang='en' slice, not the whole index — all four heuristics
    // over the one scoped contingency frame, ranked by JLH (ES default)
    Query("text_significant_bg", (s, dir) =>
      text.TextOps.significantTermsBackground(Tables.documents(s, dir),
        "src3", "en", 2L, 20),
      Some(text.TextOps.significantBgOracleSql("src3", "en", 2L, 20))),

    // fuzzy completion (r13): typed 'bach' still completes to batch
    // AND hash — the ES completion suggester's typo tolerance
    Query("text_completion_fuzzy", (s, dir) =>
      text.TextOps.completionSuggestFuzzy(Tables.documents(s, dir),
        "bach", 2, 15),
      Some(raw"""WITH tk AS (SELECT doc_id,
                |    unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
                |SELECT term, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
                |       CAST(max(CASE WHEN substr(term, 1, 4) = 'bach' THEN 1 ELSE 0 END) AS BIGINT) AS exact
                |FROM tk
                |WHERE term <> '' AND levenshtein(substr(term, 1, 4), 'bach') <= 2
                |GROUP BY term
                |ORDER BY exact DESC, n_occ DESC, n_docs DESC, term LIMIT 15""".stripMargin)),

    Query("q_salted_join", (s, dir) =>
      operators.Skew.saltedJoin(Tables.events(s, dir), Tables.customer(s, dir),
        "user_id", "c_custkey", "event_id", 8)
        .select(col("event_id"), col("user_id"), col("c_name"), col("value")),
      Some("""SELECT event_id, user_id, c_name, value
             |FROM events JOIN customer ON user_id = c_custkey""".stripMargin)),

    // ES _terms_enum API (r14): ascending distinct-term walk under a
    // prefix, with doc frequencies — the field-value autocomplete
    Query("text_terms_enum", (s, dir) =>
      text.TextOps.termsEnum(Tables.documents(s, dir), "s", 25),
      Some(raw"""SELECT term, count(*) AS doc_freq FROM (
                |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS term
                |  FROM documents) t
                |WHERE substr(term, 1, 1) = 's'
                |GROUP BY term ORDER BY term LIMIT 25""".stripMargin)),

    // ES _termvectors API: one doc's term vector (tf, first position)
    // + the corpus stats the API reports (doc_freq, ttf)
    Query("text_termvectors", (s, dir) =>
      text.TextOps.termVectors(Tables.documents(s, dir), 7L),
      // generated — same doc id / weight list / prune rule as the wiring
      Some(text.TextOps.termVectorsSql(7L))),

    // ES sparse_vector query (ELSER shape): integer-weight sparse dot
    // product with the df-ratio prune option (see sparseVectorWeights)
    Query("q_sparse_vector", (s, dir) =>
      text.TextOps.sparseVectorQuery(Tables.documents(s, dir),
        sparseVectorWeights, prunePpm = 790000L, k = 10),
      Some(text.TextOps.sparseVectorSql(sparseVectorWeights, 790000L, 10))),

    Query("q_supplier_topk_agg", (s, dir) =>
      operators.Analytics.supplierTopKAgg(Tables.lineitem(s, dir), 3),
      Some("""WITH t AS (SELECT l_suppkey,
             |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
             |    l_orderkey * 10 + l_linenumber AS line_id FROM lineitem)
             |SELECT l_suppkey, rank, line_id, price FROM (
             |  SELECT l_suppkey, price, line_id,
             |         CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY price DESC, line_id) AS INT) AS rank
             |  FROM t) s WHERE rank <= 3""".stripMargin)),

    Query("q_trailing_window", (s, dir) =>
      operators.Analytics.trailingWindow(Tables.events(s, dir), 600000000L),
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_sum,
             |       count(*) OVER w AS trailing_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // variable_width_histogram: 6 equal-frequency clusters with exact
    // quantile edges (distributed rank-select — no global sort)
    Query("q_variable_width_histogram", (s, dir) =>
      operators.Analytics.variableWidthHistogram(Tables.events(s, dir), 6),
      Some(variableWidthSql))
  )
}
