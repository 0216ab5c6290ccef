package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.util.Det

/** The query surface the reference's sink serves (filters, aggregations,
  * facets, top-k — the reason the river imports data at all, see
  * HBaseParser.setMinTimestamp:258 using search + statistical facet), as a
  * library of declarative Spark operators over the TPC-H-ish tables.
  *
  * Scale notes: dimension sides of every join are `broadcast()` (region/
  * nation/supplier/customer are tiny at TPC-H ratios); fact-side filters
  * are plain column predicates so they push to the parquet scan; money
  * aggregates run on DECIMAL (exact, partial-aggregable map-side) and
  * surface as DOUBLE.
  */
object Analytics {

  private def dec2(c: Column) = c.cast(DecimalType(12, 2))
  private def dec42(c: Column) = c.cast(DecimalType(4, 2))

  /** TPC-H Q1 shape: grouped pricing summary with exact-decimal money sums. */
  def pricingSummary(lineitem: DataFrame, cutoff: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit(cutoff)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Det.intSum(col("l_quantity")).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec42(col("l_discount")))).cast("double").as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec42(col("l_discount"))) * (lit(1) + dec42(col("l_tax")))).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("long")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec42(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shape: segment customers' unshipped orders, top-k revenue. */
  def shippingPriority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       segment: String, cutoff: String, k: Int): DataFrame = {
    val cut = to_timestamp(lit(cutoff))
    lineitem.filter(col("l_shipdate") > cut)
      .join(orders.filter(col("o_orderdate") < cut), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === segment)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec42(col("l_discount")))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5 shape: revenue by nation within a region/year, dims broadcast. */
  def regionRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                    supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
                    regionName: String, yearStart: String, yearEnd: String): DataFrame =
    lineitem
      .join(orders.filter(col("o_orderdate") >= to_timestamp(lit(yearStart)) &&
          col("o_orderdate") < to_timestamp(lit(yearEnd))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec42(col("l_discount")))).cast("double").as("revenue"))

  /** TPC-H Q4 shape: order-priority counts for orders with a late-shipped
    * line item — an EXISTS expressed as a left-semi join. */
  def orderPriority(orders: DataFrame, lineitem: DataFrame, lateDays: Int): DataFrame =
    orders
      .join(lineitem,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))

  /** Terms facet + stats shape: top-k customers by total order value. */
  def topCustomers(customer: DataFrame, orders: DataFrame, k: Int): DataFrame =
    orders
      .groupBy("o_custkey")
      .agg(sum(dec2(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"), col("revenue"), col("n_orders"))
      .orderBy(col("revenue").desc, col("custkey"))
      .limit(k)

  /** Running windows per supplier: first k lines by ship order with a
    * cumulative quantity — one hash shuffle on the partition key. */
  def supplierRunning(lineitem: DataFrame, k: Int): DataFrame = {
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(order: _*)
    lineitem
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum(col("l_quantity").cast("long")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("rn") <= k)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"), col("running_qty"))
  }

  /** Gap-based sessionization: a new session starts after `gapUs` of
    * inactivity; per-user session/event counts. */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), Det.tsMicros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** ES terms facet: per-term doc counts + value stats, top-k by count.
    * One map-side-combinable hash aggregation; the top-k is a driver-
    * bounded sort of (few) distinct terms, not of the data. */
  def termsFacet(events: DataFrame, termCol: String, k: Int): DataFrame =
    events
      .groupBy(termCol)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("user_id")).as("n_users"),
        Det.moneySum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("n_docs").desc, col(termCol))
      .limit(k)

  /** ES terms aggregation ORDERED BY A SUB-AGGREGATION metric (r15
    * continuation — `"order": {"avg_value": "desc"}`, the second most
    * common terms order after doc_count): buckets rank by the mean of
    * a metric sub-agg instead of their size. The sort key is the
    * deterministic [[Det.moneyAvg]] (exact decimal sum ÷ exact count,
    * ONE double division — no order-dependent running mean), ties
    * break on the term. Unlike ES — where non-doc_count orders are
    * approximate under sharding (each shard returns its own top
    * shard_size) — the distributed hash agg here ranks every bucket
    * exactly; the shard-error analog is [[termsShardError]]'s bound.
    * One shuffle (hash agg), then a bounded TakeOrdered — never a
    * global sort. */
  def termsOrderBySubAgg(events: DataFrame, termCol: String, k: Int): DataFrame =
    events
      .groupBy(termCol)
      .agg(count(lit(1)).as("n_docs"),
        Det.moneyAvg(col("value")).as("avg_value"),
        Det.moneySum(col("value")).as("sum_value"))
      .orderBy(col("avg_value").desc, col(termCol))
      .limit(k)

  /** ES date-histogram facet: per-UTC-day buckets with counts and value
    * sums. The day key derives from the µs timestamp by exact integer
    * division so both engines bucket identically. */
  def dateHistogram(events: DataFrame): DataFrame =
    events
      .select(Det.dayIdx("ts").as("day_idx"),
        col("event_type"), col("value"))
      .groupBy("day_idx", "event_type")
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))

  /** The calendar bucket-edge ladder: instants (epoch µs) of every
    * `unit` start in IANA zone `tz` covering [fromYear, toYear) —
    * generated driver-side with java.time (the JDK's IANA tzdb), so
    * bucket edges are exact instants with real tz rules (DST, offset
    * history), not fixed-width arithmetic. month/quarter ladders are
    * 12/4 entries a year; week is 52–53 (ISO Monday starts, first
    * edge the Monday on/before Jan 1). Plan metadata: a few hundred
    * BIGINTs even for a decade of coverage. */
  def calendarEdgesUs(unit: String, tz: String, fromYear: Int,
      toYear: Int): IndexedSeq[Long] = {
    import java.time._
    import java.time.temporal.TemporalAdjusters
    val zone = ZoneId.of(tz)
    val first = LocalDate.of(fromYear, 1, 1)
    val starts: Iterator[LocalDate] = unit match {
      case "month" => Iterator.iterate(first)(_.plusMonths(1))
      case "quarter" => Iterator.iterate(first)(_.plusMonths(3))
      case "week" => Iterator.iterate(
        first.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY)))(
        _.plusWeeks(1))
      case "day" => Iterator.iterate(first)(_.plusDays(1))
      case u => throw new IllegalArgumentException(s"calendar unit: $u")
    }
    starts.takeWhile(_.getYear < toYear).map { d =>
      val i = d.atStartOfDay(zone).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }.toIndexedSeq
  }

  /** The coverage window's END instant (epoch µs): the first `unit`
    * start at/after Jan 1 `toYear` — i.e. the ladder element that
    * would follow [[calendarEdgesUs]]'s last edge. Events at/after it
    * are out-of-window and key to NULL (they must not silently fold
    * into the final real bucket — ADVICE r15). */
  def calendarWindowEndUs(unit: String, tz: String, fromYear: Int,
      toYear: Int): Long = {
    val edges = calendarEdgesUs(unit, tz, fromYear, toYear)
    calendarEdgesUs(unit, tz, fromYear, toYear + 1).find(_ > edges.last).get
  }

  /** ES date_histogram with `calendar_interval` month/quarter/week/day
    * in a real timezone (the Kibana default view): buckets start at
    * CALENDAR edges in `tz` — variable-width instants (a NY month is
    * 28–31 days and shifts by DST offset), not epoch arithmetic. Each
    * event keys to `max(edge ≤ ts)` over the generated
    * [[calendarEdgesUs]] ladder — a codegen'd array fold over plan
    * metadata, O(|ladder|) per row with the ladder bounded by the
    * coverage window (set fromYear/toYear to the retention window at
    * scale), zero joins, one hash aggregation. Events outside the
    * coverage window — BOTH sides (ADVICE r15: before the first edge
    * AND at/after the last edge's unit-end) — key to NULL (a visible
    * bucket, not silent drop, and not a silent fold into the final
    * real bucket). The DuckDB oracle is an INDEPENDENT replay — ICU
    * `date_trunc AT TIME ZONE` against java.time's ladder, two IANA
    * tzdb implementations agreeing (the window-clip bounds are shared
    * constants; the bucket MAPPING stays independent) — see
    * [[calendarHistogramSql]]. */
  def calendarDateHistogram(events: DataFrame, unit: String, tz: String,
      fromYear: Int = 2020, toYear: Int = 2030): DataFrame = {
    val edges = calendarEdgesUs(unit, tz, fromYear, toYear)
    val endUs = calendarWindowEndUs(unit, tz, fromYear, toYear)
    val tsUs = Det.tsMicrosOf(events, "ts")
    val bucketOf = (c: Column) =>
      when(c < lit(endUs), array_max(filter(typedlit(edges), e => e <= c)))
    if ((edges :+ endUs).forall(_ % 3600000000L == 0)) {
      // every edge sits on a whole UTC hour (true for whole-hour-offset
      // zones like America/New_York): pre-aggregate at HOUR grain first
      // — a codegen'd integer division and one map-side-combinable hash
      // agg over the corpus — and run the O(|ladder|) edge fold on the
      // few-thousand-row hour frame instead of per event (measured
      // 2.9 s → sub-second on the week ladder at sf0.1; decimal sums
      // re-aggregate exactly). The general fall-through keeps per-row
      // mapping for zones with sub-hour offsets.
      val hourly = events
        .select((tsUs - pmod(tsUs, lit(3600000000L))).as("hour_us"),
          col("value"))
        .groupBy("hour_us")
        .agg(count(lit(1)).as("hn"),
          // DECIMAL partials — the double cast happens ONCE at the end,
          // or the re-aggregation would double-round
          sum(col("value").cast("decimal(18,2)")).as("hv"))
      hourly
        .select(bucketOf(col("hour_us")).as("bucket_start_us"),
          col("hn"), col("hv"))
        .groupBy("bucket_start_us")
        .agg(sum(col("hn")).as("n"),
          sum(col("hv")).cast("double").as("sum_value"))
    } else
      events
        .select(bucketOf(tsUs).as("bucket_start_us"), col("value"))
        .groupBy("bucket_start_us")
        .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
  }

  /** The DuckDB twin of [[calendarDateHistogram]]: `ts AT TIME ZONE
    * 'UTC' AT TIME ZONE tz` → local wall time, ICU date_trunc to the
    * unit start, back to an instant, epoch µs; out-of-window instants
    * (before the first edge / at-or-after the window end) key to NULL
    * exactly like the engine. The bucket MAPPING is independent of
    * the Spark ladder by construction; only the two window-clip
    * constants are shared. (Bucket starts — 00:00 on a
    * month/quarter/Monday edge — are never inside a US DST gap, so
    * the local→instant step is unambiguous.) */
  def calendarHistogramSql(unit: String, tz: String,
      fromYear: Int = 2020, toYear: Int = 2030): String = {
    val firstUs = calendarEdgesUs(unit, tz, fromYear, toYear).head
    val endUs = calendarWindowEndUs(unit, tz, fromYear, toYear)
    s"""SELECT CASE WHEN epoch_us(ts) >= $firstUs AND epoch_us(ts) < $endUs
       |            THEN epoch_us(date_trunc('$unit', ts AT TIME ZONE 'UTC' AT TIME ZONE '$tz') AT TIME ZONE '$tz')
       |       END AS bucket_start_us,
       |       count(*) AS n,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1""".stripMargin
  }

  /** ES date_histogram with `offset`, `min_doc_count: 0` and
    * `extended_bounds` (r15 — the Kibana sparse-series behavior the
    * plain [[dateHistogram]] omits): EVERY bucket between
    * min(first data bucket, bounds.lo) and max(last data bucket,
    * bounds.hi) materializes, empty ones with n = 0 / sum = 0.0, and
    * bucket edges shift by `offsetUs`. Exact integer µs arithmetic
    * throughout. The data span probe is a 1-row min/max aggregate
    * (bounded metadata — the auto_date_histogram precedent); the fill
    * frame is `spark.range` over the bucket index range (bucket-count
    * rows, not data rows) left-joining the aggregated counts — at any
    * corpus scale the join is broadcast-sized on both sides because
    * aggregation happened first. Bucket indexing is TRUE floor
    * division (pmod-based), so events below epoch+offset bucket at
    * negative indices — ES's actual offset semantics — instead of
    * silently vanishing (ADVICE r15); the fill range extends to cover
    * them like any other data bucket. */
  def dateHistogramFilled(events: DataFrame, intervalUs: Long,
      offsetUs: Long, boundsLoUs: Long, boundsHiUs: Long): DataFrame = {
    require(intervalUs > 0 && offsetUs >= 0 && boundsHiUs >= boundsLoUs)
    val spark = events.sparkSession
    val us = Det.tsMicrosOf(events, "ts")
    // exact bucket index: subtract the POSITIVE remainder (pmod) first
    // so the double division is of an exact multiple (IEEE-exact) AND
    // the truncation is floor for negative shifted values — a raw
    // (us-off)/interval double division can edge-misbucket at µs scale
    val shifted = us - lit(offsetUs)
    val idxCol = ((shifted - pmod(shifted, lit(intervalUs))) / lit(intervalUs))
      .cast("long")
    val d = events.select(idxCol.as("idx"), col("value"))
    val agg = d.groupBy("idx")
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sv"))
    val span = d.agg(min(col("idx")), max(col("idx"))).collect()(0)
    val loIdx = Math.floorDiv(boundsLoUs - offsetUs, intervalUs)
    val hiIdx = Math.floorDiv(boundsHiUs - offsetUs, intervalUs)
    val (mn, mx) =
      if (span.isNullAt(0)) (loIdx, hiIdx)
      else (math.min(loIdx, span.getLong(0)), math.max(hiIdx, span.getLong(1)))
    spark.range(mn, mx + 1).toDF("idx")
      .join(agg, Seq("idx"), "left")
      .select((col("idx") * intervalUs + offsetUs).as("bucket_start_us"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sv"), lit(0.0)).as("sum_value"))
  }

  /** The DuckDB twin of [[dateHistogramFilled]], generated from the
    * same constants. */
  def dateHistogramFilledSql(intervalUs: Long, offsetUs: Long,
      boundsLoUs: Long, boundsHiUs: Long): String = {
    val loIdx = Math.floorDiv(boundsLoUs - offsetUs, intervalUs)
    val hiIdx = Math.floorDiv(boundsHiUs - offsetUs, intervalUs)
    // DuckDB `//` TRUNCATES toward zero (measured: -5 // 3 = -1), so
    // floor division is spelled pmod-style: subtract the positive
    // remainder, then divide the exact multiple — mirrors the engine
    s"""WITH d AS (SELECT (epoch_us(ts) - $offsetUs
       |             - (((epoch_us(ts) - $offsetUs) % $intervalUs + $intervalUs) % $intervalUs))
       |             // $intervalUs AS idx, value
       |           FROM events),
       |agg AS (SELECT idx, count(*) AS n,
       |               sum(CAST(value AS DECIMAL(18,2))) AS sv
       |        FROM d GROUP BY 1),
       |b AS (SELECT min(idx) AS mn, max(idx) AS mx FROM d),
       |rng AS (SELECT unnest(range(least($loIdx, COALESCE(mn, $loIdx)),
       |                            greatest($hiIdx, COALESCE(mx, $hiIdx)) + 1)) AS idx
       |        FROM b)
       |SELECT idx * $intervalUs + $offsetUs AS bucket_start_us,
       |       CAST(COALESCE(n, 0) AS BIGINT) AS n,
       |       CAST(COALESCE(sv, 0) AS DOUBLE) AS sum_value
       |FROM rng LEFT JOIN agg USING (idx)""".stripMargin
  }

  /** Tumbling-window aggregation — the batch twin of the streaming river's
    * windowed agg (same `window()` expression Structured Streaming uses). */
  def timeWindow(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
      .select((unix_micros(col("w.start")) / lit(1000000L)).cast("long").as("window_start_s"),
        col("event_type"), col("n"), col("sum_value"))

  /** TPC-H Q6 shape: pure filter + global aggregate — every predicate is
    * a plain column comparison, so at scale the whole WHERE clause lands
    * in `PushedFilters` (row-group pruning) and the scan reads 4 columns. */
  def revenueDelta(lineitem: DataFrame, yearStart: String, yearEnd: String,
                   discLo: Double, discHi: Double, qtyMax: Int): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= to_timestamp(lit(yearStart)) &&
        col("l_shipdate") < to_timestamp(lit(yearEnd)) &&
        col("l_discount") >= discLo && col("l_discount") <= discHi &&
        col("l_quantity") < qtyMax)
      .agg(sum(dec2(col("l_extendedprice")) * dec42(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q10 shape: revenue lost to returned items per customer, top-k.
    * Fact-fact join shuffles on orderkey; customer/nation broadcast. */
  def returnedItems(customer: DataFrame, nation: DataFrame, orders: DataFrame,
                    lineitem: DataFrame, k: Int): DataFrame =
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec42(col("l_discount")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /** TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    * the HAVING pre-aggregation runs map-side-combinable BEFORE the join,
    * so only qualifying orderkeys (a tiny set) reach the join. */
  def largeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                  qtyThreshold: Long, k: Int): DataFrame = {
    val big = lineitem.groupBy("l_orderkey")
      .agg(Det.intSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > qtyThreshold)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        dec2(col("o_totalprice")).cast("double").as("total_price"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Dimension-table profile: per-type part stats (count, retail price
    * sum/avg, size range) — one map-side-combinable hash agg. */
  def partTypeStats(part: DataFrame, k: Int): DataFrame =
    part.groupBy("p_type")
      .agg(count(lit(1)).as("n_parts"),
        Det.moneySum(col("p_retailprice")).as("sum_retail"),
        Det.moneyAvg(col("p_retailprice")).as("avg_retail"),
        min(col("p_size")).as("min_size"), max(col("p_size")).as("max_size"))
      .orderBy(col("n_parts").desc, col("p_type"))
      .limit(k)

  /** ES bool query: must(range) + filter(terms) + must_not(term) — all
    * plain predicates, the whole clause pushes to the scan. */
  def boolFilter(events: DataFrame, minValue: Double, types: Seq[String],
                 excludeUserMod: Long): DataFrame =
    events
      .filter(col("value") >= minValue &&
        col("event_type").isin(types: _*) &&
        !(col("user_id") % excludeUserMod === 0))
      .select(col("event_id"), Det.tsMicros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))

  /** ES numeric-histogram facet: fixed-width value buckets. The bucket
    * key is floor(value/width) on the raw double — identical arithmetic
    * on any engine — and the agg is map-side combinable. */
  def numericHistogram(events: DataFrame, width: Double): DataFrame =
    events
      .groupBy(floor(col("value") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))

  /** ES percentiles facet, exact: per-group rank-selected values at the
    * given fractions (value at row ceil(p·n) in (value, id) order — the
    * discrete percentile both engines compute identically; no
    * interpolation, no t-digest nondeterminism). One shuffle on the
    * group key; the per-group sort is the windowed rank. */
  def percentileFacet(events: DataFrame, fractions: Seq[Double]): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    events
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("p", explode(typedlit(fractions)))
      .filter(col("rn") === ceil(col("p") * col("n")))
      .select(col("event_type"), col("p"), col("value").as("pct_value"), col("n"))
  }

  /** ES cardinality agg, exact form: per-term distinct-key counts.
    * (Exact distinct = two-phase hash agg; the approximate HLL twin is
    * [[approxCardinality]], spec-checked for relative error.) */
  def cardinality(events: DataFrame, termCol: String, keyCol: String): DataFrame =
    events.groupBy(termCol)
      .agg(countDistinct(col(keyCol)).as("n_distinct"),
        count(lit(1)).as("n_events"))

  /** HLL++ cardinality — the 100 TB path: constant memory per group,
    * fully map-side combinable, no distinct shuffle. */
  def approxCardinality(events: DataFrame, termCol: String, keyCol: String,
                        rsd: Double = 0.05): DataFrame =
    events.groupBy(termCol)
      .agg(approx_count_distinct(col(keyCol), rsd).as("n_distinct_approx"),
        count(lit(1)).as("n_events"))

  /** ES search_after keyset pagination: strictly-after-(cursor) page in
    * (ts, id) order, over the scan-native events (Tables.eventsRaw). The
    * coarse `ts >= cursor` bound is a native-column literal predicate
    * that lands in PushedFilters (file/row-group pruning — the reason
    * deep ES pagination uses search_after, not OFFSET); the exact
    * µs tie-break filter runs on the survivors. Encoding-agnostic: a ns
    * literal on legacy BIGINT files, a folded timestamp literal on
    * current TIMESTAMP_MICROS files. */
  def searchAfter(eventsRaw: DataFrame, cursorTsUs: Long, cursorId: Long,
                  pageSize: Int): DataFrame = {
    val coarse = eventsRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") >= lit(cursorTsUs * 1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts") >= timestamp_micros(lit(cursorTsUs))
          .cast(org.apache.spark.sql.types.TimestampNTZType)
      case _ => col("ts") >= timestamp_micros(lit(cursorTsUs))
    }
    eventsRaw
      .filter(coarse)
      .select(col("event_id"), Det.tsMicrosOf(eventsRaw, "ts").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .filter(col("ts_us") > cursorTsUs ||
        (col("ts_us") === cursorTsUs && col("event_id") > cursorId))
      .orderBy(col("ts_us"), col("event_id"))
      .limit(pageSize)
  }

  /** Deterministic content-hash sampling: keep rows whose md5(id) hex
    * prefix falls under `hexLt` (e.g. "05" ≈ 5/256 ≈ 2%). Unlike
    * rand()-based sampling this is reproducible across engines, runs,
    * and repartitionings — the property a training-data pipeline needs
    * for auditable subsets. */
  def hashSample(events: DataFrame, hexLt: String): DataFrame =
    events
      .filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, hexLt.length) < hexLt)
      .select(col("event_id"), col("event_type"), col("value"))

  /** Shared body of [[rollupAgg]]/[[cubeAgg]]: day × type grouping-set
    * aggregation with nulls surfaced as sentinels so the result is
    * join- and compare-friendly; only the grouping step differs. */
  private def groupingSetAgg(events: DataFrame)(
      group: DataFrame => org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    group(events
        .select(Det.dayIdx("ts").as("day_idx"), col("event_type"), col("value")))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
      .select(coalesce(col("day_idx"), lit(-1L)).as("day_idx"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("sum_value"))

  /** Rollup aggregation (day × type with day-side subtotals + grand
    * total). */
  def rollupAgg(events: DataFrame): DataFrame =
    groupingSetAgg(events)(_.rollup("day_idx", "event_type"))

  /** Time-range window: per-user trailing sum over the last `rangeUs`
    * microseconds (RANGE frame, not ROWS — rows with equal timestamps
    * contribute symmetrically, so the result is deterministic even on
    * ties). One shuffle on the partition key; the frame is a pointer
    * walk over the sorted run. Exact-decimal sum surfaced as double. */
  def trailingWindow(events: DataFrame, rangeUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-rangeUs, 0)
    events
      .select(col("user_id"), Det.tsMicros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .withColumn("trailing_sum",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .withColumn("trailing_n", count(lit(1)).over(w))
  }

  /** Grouped top-k via the bounded TopKPairs aggregate: highest-priced
    * line items per supplier. Map-side combine ships ≤ k pairs per
    * supplier per partition — the scale path where the window form
    * shuffles and sorts every row (same results, spec-proven; this is
    * the TopKPairs aggregate exercised on the fact-table domain). */
  def supplierTopKAgg(lineitem: DataFrame, k: Int): DataFrame =
    lineitem
      .select(col("l_suppkey"),
        dec2(col("l_extendedprice")).cast("double").as("price"),
        // unique per (orderkey, linenumber): a deterministic tie-break id
        (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"))
      .groupBy("l_suppkey")
      .agg(graft.functions.TopKPairs.topK(col("price"), col("line_id"), k).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("l_suppkey"), (col("i") + 1).cast("int").as("rank"),
        col("s.id").as("line_id"), col("s.score").as("price"))

  /** ES top_hits aggregation: per-bucket top-k DOCUMENTS with full
    * payload columns, not just ranking keys. Two-scan shape built for
    * scale: TopKPairs' map-side combine reduces the corpus to ≤k ids
    * per (group, partition) — shuffle volume k·groups·partitions
    * instead of the data size — then the tiny (group, rank, id) frame
    * broadcast-joins back onto the corpus to attach the payload, so the
    * full rows never shuffle at all. The window row_number() form (the
    * oracle of `EsAggsSpec`'s equivalence case and of the driver's
    * `q_top_hits` SQL) sort-shuffles every row of every group. */
  def topHits(events: DataFrame, k: Int): DataFrame = {
    val tops = events
      .groupBy("event_type")
      .agg(graft.functions.TopKPairs.topK(col("value"), col("event_id"), k).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("rank"),
        col("s.id").as("event_id"))
    events.join(broadcast(tops), Seq("event_type", "event_id"))
      .select(col("event_type"), col("rank"), col("event_id"),
        Det.tsMicros(col("ts")).as("ts_us"), col("user_id"), col("value"))
  }

  /** Pivot: per-day event-type counts as columns (dynamic-schema
    * reshaping). The pivot values are passed explicitly so Spark skips
    * the extra distinct-scan pass and the schema is plan-time static —
    * the form that scales (a values-discovery pass over 100 TB just to
    * name columns is wasted work). */
  def pivotDaily(events: DataFrame, types: Seq[String]): DataFrame =
    events
      .select(Det.dayIdx("ts").as("day_idx"), col("event_type"))
      .groupBy("day_idx")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)

  /** Cube aggregation: day × type with BOTH marginals and the grand
    * total (rollup emits only the day-side subtotals). */
  def cubeAgg(events: DataFrame): DataFrame =
    groupingSetAgg(events)(_.cube("day_idx", "event_type"))

  /** As-of join: each `leftType` event matched to the most recent
    * `rightType` event at-or-before it for the same user. Expressed as a
    * union + running last-non-null window — ONE shuffle on user_id and a
    * linear merge, where a naive range join explodes quadratically in
    * events-per-user. The right side is pre-deduped to max(event_id) per
    * (user, ts) so the match is deterministic. */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      Det.tsMicros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    val right = ev.filter(col("event_type") === rightType)
      .groupBy("user_id", "ts_us").agg(max("event_id").as("r_id"))
      .select(col("user_id"), col("ts_us"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        struct(col("ts_us").as("r_ts_us"), col("r_id")).as("r"))
    val left = ev.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts_us"), lit(1).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("struct<r_ts_us:bigint,r_id:bigint>").as("r"))
    // right rows sort before left at equal ts (side 0 < 1) → at-or-before
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    right.unionByName(left)
      .withColumn("m", last(col("r"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("m.r_id").as("matched_id"), col("m.r_ts_us").as("matched_ts_us"),
        col("value"))
  }

  /** ES composite aggregation: deterministic key-ordered paging over ALL
    * group buckets (the facet analogue of search_after — `after` names
    * the last bucket key of the previous page). One map-side-combinable
    * hash aggregation; the page itself is a TakeOrderedAndProject over
    * the (already small) bucket set, never over the raw rows. At 100 TB
    * the bucket count, not the row count, bounds the sort. */
  def compositeAgg(events: DataFrame, afterType: String, afterBucket: Long,
                   size: Int): DataFrame =
    events
      .select(col("event_type"), expr("user_id div 100").as("user_bucket"),
        col("value"), col("user_id"))
      .groupBy("event_type", "user_bucket")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Det.moneySum(col("value")).as("sum_value"))
      .filter(col("event_type") > afterType ||
        (col("event_type") === afterType && col("user_bucket") > afterBucket))
      .orderBy("event_type", "user_bucket")
      .limit(size)

  /** ES frequent_item_sets aggregation (the 8.x market-basket agg):
    * mines itemsets of size 2 and 3 over per-order part-brand baskets,
    * keeps sets whose SUPPORT (fraction of baskets containing the set)
    * clears `minSupPermille`/1000 — ES's `minimum_support`, here an
    * EXACT integer cross-multiply (support·1000 ≥ n_baskets·permille),
    * never a float threshold — and pages the top `perSize` sets per
    * size by (support desc, items): the agg's `size` knob, per set
    * size so both rings stay exercised.
    *
    * Scale shape (a-priori, never all-pairs across baskets): the
    * basket table shuffles ONCE on the basket key; pair and triple
    * enumeration is per-basket local (baskets are bounded — ~4 lines
    * an order at TPC-H ratios, and real-world baskets are user-session
    * sized); the support counts ship slim (item,item[,item], 1) rows
    * with map-side combine. The per-size page windows over the
    * AGGREGATED itemset rows (item-vocabulary², not corpus, sized).
    * `support_ratio` is one IEEE division of two exact integers. */
  def frequentItemSets(lineitem: DataFrame, part: DataFrame,
      minSupPermille: Int = 1, perSize: Int = 20): DataFrame = {
    // ONE shuffle below the itemset counts: baskets aggregate to
    // per-order sorted distinct item arrays (collect_set dedupes the
    // (order, item) duplicates), and pair/triple enumeration is an
    // in-row combination expansion — baskets are bounded, so the
    // O(b³) blowup is per-row local, and it rides codegen'd Generate
    // operators (posexplode over ascending slices), never interpreted
    // HOF lambdas (the r15 hot-path rule). The r18 first cut expressed
    // the enumeration as basket self-joins; the item1/item2 renames
    // below those exchanges defeated ReuseExchange and the
    // fact⨝dim+distinct subtree recomputed SIX times.
    // item vocabulary: a DIMENSION attribute's distinct values — 25
    // brands at every TPC-H SF, bounded by the dim table, never the
    // fact table, so the driver-side collect is scale-safe. Sorted
    // assignment makes id order ≡ lexicographic item order, so
    // ascending-id enumeration reproduces the oracle's item1<item2<
    // item3 ordering exactly.
    val vocab: IndexedSeq[String] = part.select("p_brand").distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val v = vocab.size + 1L
    require(v * v * v > 0 && vocab.size < 2_000_000,
      s"item vocabulary ${vocab.size} overflows the v^3 BIGINT itemset key")
    val idOf = typedlit(vocab.zipWithIndex.map { case (b, i) => b -> (i + 1L) }.toMap)
    val decode = typedlit(vocab)
    val baskets = lineitem.select(col("l_orderkey").as("bk"), col("l_partkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("bk")
      .agg(sort_array(collect_set(element_at(idOf, col("p_brand")))).as("items"))
    val nB = baskets.select(count(lit(1)).as("n_baskets"))
    // slice(_, start, size(items)) = "the rest of the array" (slices
    // past the end are empty, so the generates terminate combos
    // exactly — no too-small-basket guard needed, unlike the
    // sequence() form whose (1, 0) range DESCENDS; sizing by the
    // array itself means NO basket cardinality silently truncates).
    // Each itemset travels as ONE encoded BIGINT ((b1·v + b2)·v + b3,
    // b3 = 0 for pairs — the intervals-AST encoding trick): the
    // data-scale shuffle into the support count carries 8-byte longs
    // into a primitive hash agg instead of 3-string tuples (the string
    // form read ×5 this one at sf1), and the strings decode AFTER the
    // count on the itemset-vocabulary-sized frame.
    val rest = size(col("items"))
    val p1 = baskets.select(col("items"),
      posexplode(col("items")).as(Seq("i", "b1")))
    val p2 = p1.select(col("items"), col("i"),
      ((col("b1") * v) * v).as("pairBase"),
      posexplode(slice(col("items"), col("i") + 2, rest)).as(Seq("j0", "b2")))
    // ONE generate pass emits the (i,j) pair key AND its triple
    // extensions together (a union of two branches would recompute the
    // basket agg and both generates — only the exchange below the agg
    // is reusable): a literal 0 prepended to the ascending tail slice
    // makes the pair just the b3=0 case of key = base + b3, so the
    // whole enumeration is plain codegen'd Generate + arithmetic — no
    // interpreted HOF lambda anywhere in the data-scale path
    val keys = p2
      .select((col("pairBase") + col("b2") * v).as("kb"),
        explode(concat(array(lit(0L)),
          slice(col("items"), col("i") + col("j0") + 3, rest))).as("b3"))
      .select((col("kb") + col("b3")).as("key"))
    def item(id: Column): Column = element_at(decode, id.cast("int"))
    // rank window runs on the aggregated itemset rows only; item3 is
    // all-NULL within size 2 and never NULL within size 3, so the
    // engines' opposite NULL-sort defaults can never disagree here
    val w = Window.partitionBy("set_size")
      .orderBy(col("support").desc, col("item1"), col("item2"), col("item3"))
    keys
      .groupBy("key")
      .agg(count(lit(1)).as("support"))
      .select(
        when(col("key") % v === 0, lit(2L)).otherwise(lit(3L)).as("set_size"),
        item(expr(s"key div ${v * v}")).as("item1"),
        item(expr(s"key div $v % $v")).as("item2"),
        when(col("key") % v === 0, lit(null).cast("string"))
          .otherwise(item(col("key") % v)).as("item3"),
        col("support"))
      .crossJoin(broadcast(nB))
      .filter(col("support") * lit(1000L) >=
        col("n_baskets") * lit(minSupPermille.toLong))
      .withColumn("set_rank", row_number().over(w).cast("long"))
      .filter(col("set_rank") <= perSize)
      .select(col("set_size"), col("set_rank"), col("item1"), col("item2"),
        col("item3"), col("support"),
        (col("support").cast("double") / col("n_baskets").cast("double"))
          .as("support_ratio"))
  }

  /** ES pipeline aggregations over a date_histogram: cumulative_sum,
    * derivative, and a 7-bucket moving average of the per-day value sum.
    * The parent histogram is a distributed exact-decimal aggregation;
    * the pipeline pass windows over the BUCKETS (one row per day — a
    * few thousand rows for a decade), so the unpartitioned window is a
    * bounded post-aggregation step, not a data-scale sort. All window
    * math stays on the DECIMAL domain; each output converts to double
    * once. */
  def pipelineAggs(events: DataFrame): DataFrame = {
    val day = events
      .select(Det.dayIdx("ts").as("day_idx"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("day_idx")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("dsum"))
    val w = Window.orderBy("day_idx")
    val mov = Window.orderBy("day_idx").rowsBetween(-6, 0)
    day
      .withColumn("cum_value",
        sum(col("dsum")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .withColumn("derivative", (col("dsum") - lag(col("dsum"), 1).over(w)).cast("double"))
      .withColumn("mov7_avg",
        sum(col("dsum")).over(mov).cast("double") / count(lit(1)).over(mov))
      .select(col("day_idx"), col("n"), col("dsum").cast("double").as("sum_value"),
        col("cum_value"), col("derivative"), col("mov7_avg"))
  }

  /** Shared parent of the bucket-pipeline aggs: the per-UTC-day value
    * histogram on the exact DECIMAL domain (one map-side-combinable
    * aggregation; a few thousand bucket rows for a decade of data). */
  private def dayBuckets(events: DataFrame): DataFrame =
    events
      .select(Det.dayIdx("ts").as("day_idx"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("day_idx")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("dsum"))

  /** ES bucket_selector (+ avg_bucket) pipeline agg: keep only the
    * date-histogram buckets whose value sum clears the avg_bucket
    * gauge — the post-aggregation HAVING of the ES pipeline family,
    * with the threshold itself a pipeline agg so the selection is
    * scale-free. The gauge is a 1-row frame broadcast onto the (already
    * tiny) bucket set; nothing below the parent aggregation re-shuffles.
    * Exact decimal sums; the one double division and the compare run in
    * the same fixed order on both engines. */
  def bucketSelector(events: DataFrame): DataFrame = {
    val day = dayBuckets(events)
    val gauge = day.agg(
      (sum(col("dsum")).cast("double") / count(lit(1))).as("avg_bucket"))
    day.crossJoin(broadcast(gauge))
      .filter(col("dsum").cast("double") > col("avg_bucket"))
      .select(col("day_idx"), col("n"),
        col("dsum").cast("double").as("sum_value"), col("avg_bucket"))
  }

  /** ES bucket_sort pipeline agg: order the parent date-histogram
    * buckets by an agg value and truncate with from/size — pagination
    * over BUCKETS, not rows. The sort input is the aggregated bucket
    * set (bounded), so the global order is a TakeOrdered over a few
    * hundred rows however big the scan was; the day_idx tie-break keeps
    * it deterministic. */
  def bucketSort(events: DataFrame, from: Int, size: Int): DataFrame =
    dayBuckets(events)
      .select(col("day_idx"), col("n"), col("dsum").cast("double").as("sum_value"))
      .orderBy(col("sum_value").desc, col("day_idx"))
      .offset(from)
      .limit(size)

  /** ES stats_bucket (and its max_bucket / min_bucket / avg_bucket /
    * sum_bucket special cases in one row): sibling-pipeline stats OVER
    * the parent date-histogram's bucket values — a second aggregation
    * of the (already tiny) bucket set, so the post-agg step is bounded
    * by bucket count, never data size. Exact decimal sums; avg is the
    * one double division. */
  def statsBucket(events: DataFrame): DataFrame =
    dayBuckets(events)
      .agg(count(lit(1)).as("n_buckets"),
        min(col("dsum")).cast("double").as("min_bucket"),
        max(col("dsum")).cast("double").as("max_bucket"),
        sum(col("dsum")).cast("double").as("sum_buckets"),
        (sum(col("dsum")).cast("double") / count(lit(1))).as("avg_bucket"))

  /** ES serial_diff pipeline agg: the value sum minus its value `lag`
    * buckets earlier in the date histogram (lag=1 is the derivative;
    * larger lags deseasonalize). The window runs over BUCKETS — one
    * row per day — so the unpartitioned window is a bounded post-agg
    * step. Leading buckets with no lag-partner emit 0.0 sentinels (the
    * q_pipeline_aggs derivative convention). */
  def serialDiff(events: DataFrame, lagN: Int): DataFrame = {
    val w = Window.orderBy("day_idx")
    dayBuckets(events)
      .withColumn("serial_diff",
        coalesce((col("dsum") - lag(col("dsum"), lagN).over(w)).cast("double"),
          lit(0.0)))
      .select(col("day_idx"), col("n"), col("dsum").cast("double").as("sum_value"),
        col("serial_diff"))
  }

  /** ES cumulative_sum pipeline agg (round 13): running totals of the
    * date-histogram metric. The window runs over BUCKETS (≤366 rows),
    * so the unpartitioned frame is a bounded post-agg step; the
    * cumulative sums stay on the exact DECIMAL/BIGINT domains and cast
    * once per row (the Det discipline — and cum_n must cast to BIGINT
    * in the oracle: DuckDB widens window sum(BIGINT) to HUGEINT, the
    * q_change_point class). */
  def cumulativeSum(events: DataFrame): DataFrame = {
    val w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    dayBuckets(events)
      .select(col("day_idx"), col("n"),
        col("dsum").cast("double").as("sum_value"),
        sum(col("dsum")).over(w).cast("double").as("cum_sum"),
        sum(col("n")).over(w).as("cum_n"))
  }

  /** ES derivative pipeline agg (round 13): first difference of the
    * date-histogram metric, plus the gap-normalized per-day rate (the
    * `unit` option). ES emits no value for the first bucket — null
    * here, same contract. The difference is exact decimal; the rate
    * divides DOUBLES (decimal/decimal division would round differently
    * across engines). Bounded bucket window, nothing at data scale. */
  def derivative(events: DataFrame): DataFrame = {
    val w = Window.orderBy("day_idx")
    dayBuckets(events)
      .withColumn("prev_sum", lag(col("dsum"), 1).over(w))
      .withColumn("prev_day", lag(col("day_idx"), 1).over(w))
      .select(col("day_idx"), col("n"),
        col("dsum").cast("double").as("sum_value"),
        (col("dsum") - col("prev_sum")).cast("double").as("deriv"),
        ((col("dsum") - col("prev_sum")).cast("double") /
          (col("day_idx") - col("prev_day")).cast("double")).as("deriv_per_day"))
  }

  /** ES bucket_count_ks_test pipeline agg (round 13, the ML-module
    * sibling of bucket_correlation): two-sided Kolmogorov–Smirnov
    * statistic of the day-histogram doc counts against the uniform
    * distribution — "are events spread evenly over the buckets?".
    * D = max over ordered buckets of |empirical CDF − uniform CDF|,
    * computed on exact integer/rational domains (one double division
    * per bucket, fixed order) over the bounded bucket frame; nothing
    * at data scale past the parent histogram. */
  def bucketCountKsTest(events: DataFrame): DataFrame = {
    val wCum = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    val buckets = dayBuckets(events)
      .select(col("day_idx"), col("n"),
        sum(col("n")).over(wCum).as("cum_n"),
        row_number().over(Window.orderBy("day_idx")).as("rk"))
    val totals = buckets.agg(
      count(lit(1)).as("n_buckets"), sum(col("n")).as("total"))
    buckets.crossJoin(broadcast(totals))
      .select(col("n_buckets"), col("total"),
        abs(col("cum_n").cast("double") / col("total").cast("double") -
          col("rk").cast("double") / col("n_buckets").cast("double")).as("dev"))
      .groupBy("n_buckets", "total")
      .agg(max(col("dev")).as("d_stat"))
  }

  /** ES moving_fn pipeline agg: arbitrary sliding-window functions over
    * the date-histogram bucket values — here max / min / window size,
    * the complement of q_pipeline_aggs' moving sum/avg. The window runs
    * over BUCKETS (one row per day), so the unpartitioned window is a
    * bounded post-agg step, never a data-scale sort. */
  def movingFn(events: DataFrame, windowBuckets: Int): DataFrame = {
    require(windowBuckets > 0)
    val w = Window.orderBy("day_idx").rowsBetween(-(windowBuckets - 1), 0)
    dayBuckets(events)
      .select(col("day_idx"), col("n"), col("dsum").cast("double").as("sum_value"),
        max(col("dsum")).over(w).cast("double").as("mov_max"),
        min(col("dsum")).over(w).cast("double").as("mov_min"),
        count(lit(1)).over(w).as("mov_n"))
  }

  /** ES moving_percentiles pipeline agg (round 12): exact rank-selected
    * percentiles of the value sum over a sliding window of
    * date-histogram buckets. Percentile = the k = ceil(p·n) order
    * statistic of the window's DECIMAL sums — a `sort_array` over a
    * ≤ windowBuckets-element array per bucket, so the whole pipeline
    * step is a bounded post-agg window (one row per day), never a
    * data-scale sort; DECIMAL keeps ordering exact and the DuckDB
    * oracle replays the identical list-sort + ceil-index convention. */
  def movingPercentiles(events: DataFrame, windowBuckets: Int,
      fractions: Seq[Double]): DataFrame = {
    require(windowBuckets > 0 && fractions.forall(p => p > 0 && p <= 1))
    val w = Window.orderBy("day_idx").rowsBetween(-(windowBuckets - 1), 0)
    val withArr = dayBuckets(events)
      .withColumn("__arr", sort_array(collect_list(col("dsum")).over(w)))
    val pCols = fractions.map { p =>
      element_at(col("__arr"), ceil(lit(p) * size(col("__arr"))).cast("int"))
        .cast("double").as(s"p${(p * 100).round}")
    }
    withArr.select(Seq(col("day_idx"), col("n"),
      col("dsum").cast("double").as("sum_value")) ++ pCols: _*)
  }

  /** ES ip field + ip_range aggregation (round 12). The synthetic
    * events carry no IP column, so one is DERIVED deterministically
    * from user_id (the `Geo.withCoords` pattern — exact integer modulo
    * per octet, so both engines materialize the identical address):
    * 10.(uid·7 mod 256).(uid·13 mod 256).(uid mod 256). Buckets are
    * half-open [from, to) ranges on the numeric u32 form — exactly how
    * ES evaluates ip_range internally — with every requested range
    * emitted (zero-count included) and the CIDR-ish dotted bounds
    * echoed per bucket. One narrow projection + hash agg. */
  def ipRangeFacet(events: DataFrame, edges: Seq[Long]): DataFrame = {
    require(edges == edges.sorted && edges.nonEmpty)
    val uid = col("user_id")
    val u32 = lit(10L * 16777216L) + (uid * 7 % 256) * 65536L +
      (uid * 13 % 256) * 256L + uid % 256
    val full = Seq(10L * 16777216L) ++ edges ++ Seq(11L * 16777216L)
    val rangeIdx = full.init.zipWithIndex.foldRight(lit(-1): Column) {
      case ((lo, i), acc) =>
        when(col("__u32") >= lit(lo) && col("__u32") < lit(full(i + 1)), lit(i))
          .otherwise(acc)
    }
    def dotted(v: Long): String =
      s"${v >> 24 & 255}.${v >> 16 & 255}.${v >> 8 & 255}.${v & 255}"
    val spark = events.sparkSession
    import spark.implicits._
    val allRanges = full.init.zipWithIndex
      .map { case (lo, i) => (i.toLong, dotted(lo), dotted(full(i + 1))) }
      .toDF("range_idx", "ip_from", "ip_to")
    val counts = events.select(u32.as("__u32"), col("user_id"))
      .select(rangeIdx.cast("long").as("range_idx"), col("user_id"))
      .groupBy("range_idx")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    // every range kept; the per-range counts (one row per range at
    // most) are the broadcast build side of the left outer join
    allRanges.join(broadcast(counts), Seq("range_idx"), "left")
      .select(col("range_idx"), col("ip_from"), col("ip_to"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** The identical u32 derivation as DuckDB SQL (kept adjacent so the
    * engines cannot drift). */
  val ipU32Sql: String =
    "(10 * 16777216 + (user_id * 7 % 256) * 65536 + (user_id * 13 % 256) * 256 + user_id % 256)"

  /** ES extended_stats_bucket sibling-pipeline agg: the extended-stats
    * set (count/min/max/sum/avg/sum_of_squares/variance/std_deviation)
    * OVER the date-histogram bucket values — [[statsBucket]] widened
    * with the second moment, on the [[extendedStats]] exact-decimal
    * discipline (squares at DECIMAL(38,4), fixed-order double
    * derivation — merge-order independent). One aggregation of the
    * bounded bucket set. */
  def extendedStatsBucket(events: DataFrame): DataFrame = {
    val d4 = DecimalType(38, 4)
    dayBuckets(events)
      .agg(count(lit(1)).as("n_buckets"),
        min(col("dsum")).cast("double").as("min_bucket"),
        max(col("dsum")).cast("double").as("max_bucket"),
        sum(col("dsum")).as("s1"),
        sum(col("dsum").cast(d4) * col("dsum").cast(d4)).as("s2"))
      .select(col("n_buckets"), col("min_bucket"), col("max_bucket"),
        col("s1").cast("double").as("sum_buckets"),
        (col("s1").cast("double") / col("n_buckets")).as("avg_bucket"),
        col("s2").cast("double").as("sum_of_squares"),
        (col("s2").cast("double") / col("n_buckets") -
          (col("s1").cast("double") / col("n_buckets")) *
            (col("s1").cast("double") / col("n_buckets"))).as("variance"))
      .withColumn("std_deviation", sqrt(col("variance")))
  }

  /** ES bucket_correlation pipeline agg (8.x, the `count_correlation`
    * shape made exact): Pearson r between two day-bucket metric series
    * — purchase value sums vs click value sums, days where a type is
    * absent contributing 0 (aligned series, the ES gap_policy:
    * insert_zeros). Power sums on the exact DECIMAL domain over the
    * BOUNDED bucket set (one conditional-agg histogram pass + one 1-row
    * aggregation), then the fixed-order double formula — the
    * matrixStats merge-order-independence discipline, so both engines
    * produce the identical bits. */
  def bucketCorrelation(events: DataFrame): DataFrame = {
    val d4 = DecimalType(38, 4)
    val day = events
      .select(Det.dayIdx("ts").as("day_idx"), col("event_type"),
        dec2(col("value")).as("v"))
      .groupBy("day_idx")
      .agg(
        coalesce(sum(when(col("event_type") === "purchase", col("v"))),
          dec2(lit(0.0))).as("x"),
        coalesce(sum(when(col("event_type") === "click", col("v"))),
          dec2(lit(0.0))).as("y"))
    val num = col("n") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = sqrt((col("n") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")) *
      (col("n") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")))
    day
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d4) * col("y").cast(d4)).as("sxy"),
        sum(col("x").cast(d4) * col("x").cast(d4)).as("sxx"),
        sum(col("y").cast(d4) * col("y").cast(d4)).as("syy"))
      // a zero-variance series has no defined correlation: emit NaN
      // explicitly (ANSI mode would otherwise raise DIVIDE_BY_ZERO
      // on the double division — found by the edge-case suite)
      .select(col("n"),
        when(den === 0.0, lit(Double.NaN)).otherwise(num / den)
          .as("correlation"))
  }

  /** ES ip_prefix aggregation (8.1+): buckets by the network prefix of
    * the ip field at `prefixLength` bits — the subnet rollup ip_range
    * cannot express without enumerating every subnet. Same
    * deterministic u32 ip derivation as [[ipRangeFacet]]; the prefix is
    * exact integer arithmetic (u32 − u32 mod 2^(32−len), division-free
    * in both engines), one map-side-combinable hash agg, dotted subnet
    * echoed per ES. */
  def ipPrefixFacet(events: DataFrame, prefixLength: Int): DataFrame = {
    require(prefixLength >= 1 && prefixLength <= 32)
    val uid = col("user_id")
    val u32 = lit(10L * 16777216L) + (uid * 7 % 256) * 65536L +
      (uid * 13 % 256) * 256L + uid % 256
    val block = 1L << (32 - prefixLength)
    val pfx = col("__u32") - (col("__u32") % block)
    events.select(u32.as("__u32"), col("user_id"))
      .select(pfx.as("prefix_u32"), col("user_id"))
      .groupBy("prefix_u32")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .select(
        concat(
          (col("prefix_u32") / 16777216L).cast("long") % 256, lit("."),
          (col("prefix_u32") / 65536L).cast("long") % 256, lit("."),
          (col("prefix_u32") / 256L).cast("long") % 256, lit("."),
          col("prefix_u32") % 256, lit("/"), lit(prefixLength)).as("subnet"),
        col("prefix_u32"), col("n"), col("n_users"))
  }

  /** ES bucket_script pipeline agg: per-bucket arithmetic over sibling
    * metrics — here the purchase/click value ratio per day (the
    * conversion-rate shape). Both metrics come from ONE conditional-agg
    * histogram pass (exact decimal sums); the script is one double
    * division per bucket row. Buckets with a zero denominator are
    * dropped, matching ES's skip gap policy. */
  def bucketScript(events: DataFrame): DataFrame = {
    events
      .select(Det.dayIdx("ts").as("day_idx"), col("event_type"),
        dec2(col("value")).as("v"))
      .groupBy("day_idx")
      .agg(
        sum(when(col("event_type") === "purchase", col("v"))).as("purchase_sum"),
        sum(when(col("event_type") === "click", col("v"))).as("click_sum"))
      .filter(col("click_sum").isNotNull && col("click_sum") > 0 &&
        col("purchase_sum").isNotNull)
      .select(col("day_idx"),
        col("purchase_sum").cast("double").as("purchase_sum"),
        col("click_sum").cast("double").as("click_sum"),
        (col("purchase_sum").cast("double") / col("click_sum").cast("double"))
          .as("ratio"))
  }

  /** ES rank_feature query, `saturation` function: score = boost ·
    * x/(x + pivot) over a numeric feature — the "boost by popularity"
    * primitive. Pure rational arithmetic (no log/sigmoid libm), so the
    * ranking is oracle-exact; narrow scan + bounded TakeOrdered. */
  def rankFeature(events: DataFrame, pivot: Double, boost: Double,
      k: Int): DataFrame = {
    require(pivot > 0)
    events
      .select(col("event_id"), col("value"),
        (lit(boost) * col("value") / (col("value") + lit(pivot))).as("score"))
      .orderBy(col("score").desc, col("event_id"))
      .limit(k)
  }

  /** Domain guard for ln-scoring inputs (r14 ADVICE): a negative field
    * value puts `1 + scaling·value` below DetLn's documented x ≥ 1
    * domain, producing silently-inaccurate scores IDENTICALLY on both
    * engines — the one failure class the dual-compiled oracle cannot
    * catch. Mirrors the intervals token-count guard: one compare per
    * row, fails loudly with the offending row id. Returns the value
    * cast to double when in-domain. */
  private def lnDomainGuard(value: Column, rowId: Column, site: String): Column =
    when(value >= 0, value.cast("double"))
      .otherwise(raise_error(concat(
        lit(s"$site: negative feature value at row "), rowId.cast("string"),
        lit(" is below the ln(1+x) domain"))))

  /** ES rank_feature `log` function (the third rank_feature form beside
    * [[rankFeature]]'s saturation and the linear retriever weights):
    * score = boost · ln(1 + scaling · value). Same DetLn discipline as
    * [[fieldValueFactor]] — libm-free per-row ln, scaling restricted to
    * a power of two so the argument carries exactly one rounding. */
  def rankFeatureLog(events: DataFrame, scaling: Double, boost: Double,
      k: Int): DataFrame = {
    require(scaling > 0 && scaling == java.lang.Math.scalb(1.0,
      java.lang.Math.getExponent(scaling)), "scaling must be a power of two")
    // A negative feature value would push 1 + scaling·value below
    // DetLn's x ≥ 1 domain and drift IDENTICALLY on both engines — the
    // one failure class the oracle is blind to. Fail loudly instead
    // (r14 ADVICE; the intervals token-count guard discipline).
    val v = lnDomainGuard(col("value"), col("event_id"), "rank_feature log")
    val arg = lit(1.0) + lit(scaling) * v
    events
      .select(col("event_id"), col("value"),
        (lit(boost) * graft.util.DetLn.lnExpr(arg)).as("score"))
      .orderBy(col("score").desc, col("event_id"))
      .limit(k)
  }

  /** The DuckDB twin of [[rankFeatureLog]] (nestSql DetLn replay). */
  def rankFeatureLogSql(scaling: Double, boost: Double, k: Int): String = {
    import graft.util.DetLn
    val base = s"""(SELECT event_id, value,
      CAST(1.0e0 + ${DetLn.dlit(scaling)} * CAST(value AS DOUBLE) AS DOUBLE) AS __rf_arg
      FROM events)"""
    val nested = DetLn.nestSql(base, DetLn.sqlItems("__rf_arg", "__rf_ln"))
    s"""SELECT event_id, value, ${DetLn.dlit(boost)} * __rf_ln AS score
       |FROM $nested q
       |ORDER BY score DESC, event_id LIMIT $k""".stripMargin
  }

  /** ES scripted_metric aggregation: user-supplied init/map/combine/
    * reduce scripts. Spark's partial-aggregation model IS
    * map/combine/reduce — a scripted metric whose combine is
    * associative+commutative compiles directly onto agg expressions, so
    * this operator is the composition API, not a new engine mechanism:
    * each metric is a (name, per-row map Column, merge kind) triple and
    * the whole bucket evaluates in ONE map-side-combinable hash agg.
    * Ships the ES docs' canonical "profit" script (map emits +amount
    * for sales, −amount for costs; reduce sums) plus a second state
    * (running max) to show multi-state scripts fold in the same pass.
    * Exact arithmetic on the cent-grain DECIMAL domain (`Det`
    * discipline), cast to double once at the end. */
  def scriptedMetric(events: DataFrame, saleThreshold: Double): DataFrame = {
    val amount = dec2(col("value"))
    val signed = when(col("value") > lit(saleThreshold), amount).otherwise(-amount)
    events
      .groupBy(col("event_type"))
      .agg(sum(signed).cast("double").as("profit"),
        max(signed).cast("double").as("max_txn"),
        count(lit(1)).as("n_txns"))
  }

  /** ES join-field `parent` aggregation (dual of [[childrenAgg]]): from
    * the CHILD context, bucket by a child field and aggregate the
    * PARENT docs — each parent counted ONCE per bucket however many of
    * its children land there (the ES parent-agg dedup rule, made
    * explicit as a distinct (bucket, parent) projection before the
    * aggregation — one extra hash shuffle on the pair key, which is
    * how ES's global ordinals pay for the same dedup). */
  def parentAgg(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_returnflag"), col("l_orderkey").as("o_orderkey"))
      .join(orders.select(col("o_orderkey"), col("o_totalprice")), Seq("o_orderkey"))
      .select(col("l_returnflag"), col("o_orderkey"), dec2(col("o_totalprice")).as("tp"))
      .distinct()
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_parents"),
        sum(col("tp")).cast("double").as("sum_parent_total"))

  /** ES percentiles_bucket pipeline agg (round 12): exact k = ceil(p·n)
    * order statistics of the WHOLE date-histogram bucket-sum set — the
    * one-shot sibling of [[movingPercentiles]]. One sort of the
    * (bucket-count-sized) sum list on the driver-free DECIMAL domain:
    * sort_array over an array built by collect_list in a 1-row global
    * aggregate — bucket cardinality is bounded by the date range, so
    * this is a metadata-sized array, not a data-scale sort. */
  def percentilesBucket(events: DataFrame, fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(p => p > 0 && p <= 1))
    val arr = dayBuckets(events)
      .agg(sort_array(collect_list(col("dsum"))).as("__arr"))
    val pCols = fractions.map { p =>
      // an empty bucket set has no order statistics: NULL, not an
      // element_at(0) ANSI error (the movingPercentiles sibling needs
      // no guard — its window always contains the current row)
      when(size(col("__arr")) === 0, lit(null).cast("double"))
        .otherwise(element_at(col("__arr"),
          ceil(lit(p) * size(col("__arr"))).cast("int")).cast("double"))
        .as(s"p${(p * 100).round}")
    }
    arr.select(Seq(size(col("__arr")).cast("long").as("n_buckets")) ++ pCols: _*)
  }

  /** ES rate aggregation: date-histogram bucket totals rescaled to a
    * finer unit (day buckets reported as per-hour rates). The rescale
    * is one double division per BUCKET on top of the usual one-pass
    * map-side-combinable histogram — nothing beyond the parent agg
    * touches data scale. */
  def rateAgg(events: DataFrame): DataFrame =
    dayBuckets(events)
      .select(col("day_idx"), col("n"),
        (col("n").cast("double") / 24.0).as("docs_per_hour"),
        (col("dsum").cast("double") / 24.0).as("value_per_hour"))

  /** ES normalize pipeline agg (method rescale_0_1): each bucket's
    * value sum rescaled into [0, 1] by the min/max over all buckets.
    * The gauge is a 1-row aggregate of the (tiny) bucket set broadcast
    * back onto it — the bucketSelector shape; a degenerate span (all
    * buckets equal) emits 0.0 per ES's convention for a zero range.
    * Subtractions stay on the exact DECIMAL domain; each output is one
    * double division. */
  def normalizeBuckets(events: DataFrame): DataFrame = {
    val day = dayBuckets(events)
    val span = day.agg(min(col("dsum")).as("lo"), max(col("dsum")).as("hi"))
    day.crossJoin(broadcast(span))
      .select(col("day_idx"), col("n"), col("dsum").cast("double").as("sum_value"),
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise((col("dsum") - col("lo")).cast("double") /
            (col("hi") - col("lo")).cast("double")).as("normalized"))
  }

  /** ES t_test aggregation (Welch's unequal-variance form): t statistic
    * between the value distributions of two event types, from EXACT
    * decimal power sums (n, Σv, Σv² per side) in ONE conditional-
    * aggregation scan — the extendedStats/matrixStats pattern, so the
    * result is independent of partial-merge order and the final
    * fixed-order double formula matches the oracle bit-for-bit. At
    * 100 TB this is a single map-side-combined pass. */
  def tTest(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val d2 = DecimalType(18, 2); val d4 = DecimalType(38, 4)
    def cnt(t: String) = count(when(col("event_type") === t, 1))
    def s1(t: String) = sum(when(col("event_type") === t, col("value").cast(d2)))
    def s2(t: String) = sum(when(col("event_type") === t,
      (col("value").cast(d2) * col("value").cast(d2)).cast(d4)))
    val agg = events.agg(
      cnt(typeA).as("n_a"), s1(typeA).as("sa"), s2(typeA).as("ssa"),
      cnt(typeB).as("n_b"), s1(typeB).as("sb"), s2(typeB).as("ssb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val sa = col("sa").cast("double"); val sb = col("sb").cast("double")
    val ssa = col("ssa").cast("double"); val ssb = col("ssb").cast("double")
    val ma = sa / na; val mb = sb / nb
    val va = (ssa - sa * sa / na) / (na - 1)
    val vb = (ssb - sb * sb / nb) / (nb - 1)
    agg.select(col("n_a"), col("n_b"), ma.as("mean_a"), mb.as("mean_b"),
      ((ma - mb) / sqrt(va / na + vb / nb)).as("t_stat"))
  }

  /** ES cumulative_cardinality pipeline agg: running count of DISTINCT
    * users ever seen, per hour bucket (hourly, not daily — the dense
    * user base saturates within two days, which would leave the check
    * a 1-2 row near-vacuity). The naive form (distinct inside a
    * growing window) rescans the corpus per bucket; the scale form is
    * two bounded steps: (1) each user's FIRST hour — one hash agg on
    * user_id; (2) first-seen counts per hour, cumulatively summed over
    * the bucket set. The running sum of new-user counts IS the running
    * distinct count, and nothing beyond the per-user agg ever touches
    * data scale. */
  def cumulativeCardinality(events: DataFrame): DataFrame = {
    // exact integer div (the Det.dayIdx pattern): float `/` + cast
    // truncates toward zero, diverging from the oracle's floor `//` for
    // pre-1970 timestamps
    val hourIdx = expr("unix_micros(ts) div 3600000000")
    val firstHour = events
      .select(col("user_id"), hourIdx.as("hour_idx"))
      .groupBy("user_id")
      .agg(min(col("hour_idx")).as("first_hour"))
    val perHour = firstHour.groupBy(col("first_hour").as("hour_idx"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("hour_idx").rowsBetween(Window.unboundedPreceding, 0)
    perHour.withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("hour_idx"), col("new_users"), col("cum_users"))
  }

  /** ES auto_date_histogram: the caller names a target BUCKET COUNT,
    * not an interval; the interval is chosen (from a fixed day-grained
    * ladder) as the smallest that keeps the bucket count within
    * target. The span probe is a 1-column min/max aggregate (a
    * column-pruned scan here; through the hbasesim source the same
    * probe answers from parquet footer statistics with 0 row reads)
    * and the histogram itself is the usual one-pass map-side agg.
    * Ladder and rounding are exact integer arithmetic, so the chosen
    * interval is reproducible on any engine. */
  def autoDateHistogram(events: DataFrame, targetBuckets: Int): DataFrame = {
    require(targetBuckets > 0)
    val dayUs = 86400000000L
    val span = events.agg(
      min(Det.tsMicros(col("ts"))).as("lo"), max(Det.tsMicros(col("ts"))).as("hi"))
      .head()
    // an empty table aggregates to a (null, null) row — degrade to the
    // empty histogram instead of an NPE in getLong
    if (span.isNullAt(0))
      events.sparkSession.emptyDataFrame
        .select(lit(0L).as("bucket_idx"), lit(0L).as("n"),
          lit(0L).as("interval_days"))
    else {
      val spanDays = (span.getLong(1) / dayUs) - (span.getLong(0) / dayUs) + 1
      val ladder = Seq(1L, 7L, 30L, 90L, 365L)
      val intervalDays = ladder.find(d => spanDays / d + 1 <= targetBuckets)
        .getOrElse(ladder.last)
      events
        // exact integer div end-to-end (Det.dayIdx pattern): float `/` +
        // cast truncates toward zero vs the oracle's floor `//`
        .select(expr(s"(unix_micros(ts) div 86400000000) div $intervalDays")
          .as("bucket_idx"))
        .groupBy("bucket_idx")
        .agg(count(lit(1)).as("n"))
        .withColumn("interval_days", lit(intervalDays))
    }
  }

  /** ES multi_terms aggregation: terms facet over a COMPOUND key
    * (every combination of the component fields), ordered by doc count
    * with the key as tie-break, top-k. One map-side-combinable hash
    * agg on the compound key; the top-k sorts buckets, not rows. */
  def multiTerms(events: DataFrame, k: Int): DataFrame =
    events
      .select(col("event_type"), (col("user_id") % 10).as("user_mod"),
        col("value"))
      .groupBy("event_type", "user_mod")
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
      .orderBy(col("n").desc, col("event_type"), col("user_mod"))
      .limit(k)

  /** ES filters aggregation: N named predicate buckets computed in ONE
    * scan via conditional aggregation, then unpivoted to (bucket, n,
    * sum_value) rows. No per-filter pass, no shuffle beyond the single
    * global aggregate. */
  def filtersFacet(events: DataFrame): DataFrame = {
    def bucket(cond: Column) = struct(
      count(when(cond, 1)).as("n"),
      coalesce(sum(when(cond, col("value")).cast(DecimalType(18, 2))),
        lit(0).cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    events
      .agg(bucket(col("value") >= 90).as("high_value"),
        bucket(col("event_type") === "click").as("clicks"),
        bucket(col("user_id") < 500).as("early_users"))
      .select(expr(
        """stack(3,
          |  'high_value',  high_value.n,  high_value.sum_value,
          |  'clicks',      clicks.n,      clicks.sum_value,
          |  'early_users', early_users.n, early_users.sum_value)
          |  AS (bucket, n, sum_value)""".stripMargin))
  }

  /** [[filtersFacet]] with ES `other_bucket: true` (r15 continuation):
    * a fourth `_other_` bucket counts the docs matching NONE of the
    * named filters — the residual every dashboard wants next to its
    * named slices. Buckets overlap (a doc can hit several), so
    * `_other_` is a real predicate, not `total − Σ named`. Same one
    * map-side-combined aggregation pass. */
  def filtersFacetOther(events: DataFrame): DataFrame = {
    def bucket(cond: Column) = struct(
      count(when(cond, 1)).as("n"),
      coalesce(sum(when(cond, col("value")).cast(DecimalType(18, 2))),
        lit(0).cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    val fHigh = col("value") >= 90
    val fClick = col("event_type") === "click"
    val fEarly = col("user_id") < 500
    events
      .agg(bucket(fHigh).as("high_value"),
        bucket(fClick).as("clicks"),
        bucket(fEarly).as("early_users"),
        bucket(!fHigh && !fClick && !fEarly).as("other"))
      .select(expr(
        """stack(4,
          |  'high_value',  high_value.n,  high_value.sum_value,
          |  'clicks',      clicks.n,      clicks.sum_value,
          |  'early_users', early_users.n, early_users.sum_value,
          |  '_other_',     other.n,       other.sum_value)
          |  AS (bucket, n, sum_value)""".stripMargin))
  }

  /** ES range aggregation: arbitrary (non-uniform) explicit bucket edges
    * over `value` — [lo, hi) per bucket, open-ended last bucket. The
    * histogram facet's fixed-width cousin; a when-chain keyed bucket id
    * keeps it a single codegen'd aggregation. ES returns EVERY requested
    * range, zero-count ranges included, so the bucket spec is data (a
    * literal frame the aggregated rows left-join onto) and absent
    * buckets surface as n=0 / sum_value=0. The open upper edge surfaces
    * as -1 (sentinel, not null, per the grouping-set convention). */
  def rangeFacet(events: DataFrame, edges: Seq[Double]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val lows = edges
    val his = edges.drop(1).map(Some(_)) :+ None
    val spec = lows.zip(his).zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo, hi.getOrElse(-1.0)) }
      .toDF("bucket_id", "lo", "hi")
    val bucketId = lows.zip(his).zipWithIndex.foldLeft(lit(-1L)) {
      case (acc, ((lo, hi), i)) =>
        val cond = hi match {
          case Some(h) => col("value") >= lo && col("value") < h
          case None    => col("value") >= lo
        }
        when(cond, lit(i.toLong)).otherwise(acc)
    }
    val agg = events
      .select(bucketId.as("bucket_id"), col("value"))
      .filter(col("bucket_id") >= 0)
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
    spec.join(agg, Seq("bucket_id"), "left")
      .select(col("bucket_id"), col("lo"), col("hi"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** ES percentile_ranks: the dual of the percentiles facet — for each
    * probe value, the percentage of observations ≤ it, per bucket.
    * Exact form: one conditional-aggregation scan (a ≤-count per probe
    * value beside the group count — map-side combinable, no sort, no
    * window), then the k probe cells unpivot via lit-keyed struct
    * explode. The rank is one fixed-order double expression
    * (n_le / n · 100) both engines evaluate identically. At 100 TB this
    * is a single pass whatever the probe count — the rank-selected
    * percentiles twin ([[percentileFacet]]) needs the per-group sort;
    * ranks of KNOWN values never do. */
  def percentileRanks(events: DataFrame, values: Seq[Double]): DataFrame = {
    require(values.nonEmpty, "percentile_ranks needs at least one probe value")
    val agg = events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        values.zipWithIndex.map { case (v, i) =>
          count(when(col("value") <= v, 1)).as(s"le$i") }: _*)
    agg
      .select(col("event_type"), col("n"),
        explode(array(values.zipWithIndex.map { case (v, i) =>
          struct(lit(v).as("value"), col(s"le$i").as("n_le")) }: _*)).as("c"))
      .select(col("event_type"), col("c.value").as("value"),
        col("c.n_le").as("n_le"), col("n"),
        (col("c.n_le").cast("double") / col("n") * 100).as("pct_rank"))
  }

  /** ES date_range aggregation: explicit non-uniform date edges over the
    * event timestamp — ES semantics exactly: k edges make k+1 buckets
    * ((-∞, e0), [e0, e1), …, [ek−1, ∞)), EVERY bucket emitted including
    * zero-count ones, open edges surfaced as the -1 sentinel. Same
    * shape as [[rangeFacet]]: a when-chain bucket id keeps the scan one
    * codegen'd aggregation; the bucket spec is a literal frame the
    * aggregated rows left-join onto. Bucketing runs on the exact µs
    * timestamp (integer compares — no timezone/calendar arithmetic to
    * diverge between engines). */
  def dateRangeFacet(events: DataFrame, edgesUs: Seq[Long]): DataFrame = {
    require(edgesUs.nonEmpty, "date_range needs at least one edge")
    val spark = events.sparkSession
    import spark.implicits._
    val los = None +: edgesUs.map(Some(_))
    val his = edgesUs.map(Some(_)) :+ None
    val spec = los.zip(his).zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo.getOrElse(-1L), hi.getOrElse(-1L)) }
      .toDF("bucket_id", "from_us", "to_us")
    val ts = Det.tsMicros(col("ts"))
    val bucketId = los.zip(his).zipWithIndex.foldLeft(lit(-1L)) {
      case (acc, ((lo, hi), i)) =>
        val cond = (lo.map(ts >= _) ++ hi.map(ts < _)).reduce(_ && _)
        when(cond, lit(i.toLong)).otherwise(acc)
    }
    val agg = events
      .select(bucketId.as("bucket_id"), col("value"))
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
    spec.join(agg, Seq("bucket_id"), "left")
      .select(col("bucket_id"), col("from_us"), col("to_us"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** ES extended_stats: count/min/max/sum/avg/sum_of_squares/variance/
    * std_deviation per bucket, from EXACT decimal power sums (value is
    * 2-dp, so squares are exact at 4-dp) — one map-side-combinable
    * aggregation; the variance/std derivation is a fixed-order double
    * formula both engines evaluate identically, so the result is
    * independent of partial-merge order (Spark's builtin var_pop is
    * a streaming-moment aggregate and is not). The per-element square
    * is held at DECIMAL(38,4) — wide enough for |value| up to 1e17, so
    * no silent null-on-overflow under non-ANSI casts. */
  def extendedStats(events: DataFrame): DataFrame = {
    val d2 = DecimalType(18, 2); val d4 = DecimalType(38, 4)
    val agg = events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        sum(col("value").cast(d2)).as("s"),
        sum((col("value").cast(d2) * col("value").cast(d2)).cast(d4)).as("ss"))
    val n = col("n").cast("double")
    val s = col("s").cast("double"); val ss = col("ss").cast("double")
    val variance = (ss - s * s / n) / n
    agg.select(col("event_type"), col("n"), col("min_value"), col("max_value"),
      s.as("sum_value"), ss.as("sum_of_squares"),
      (s / n).as("avg_value"), variance.as("variance"),
      sqrt(variance).as("std_deviation"))
  }

  /** ES weighted_avg aggregation: Σ(v·w)/Σ(w) per bucket on exact
    * decimal domains (v·w held at DECIMAL(38,4) so no overflow→null
    * inside the documented value domain), one double division at the
    * end. The weight is any deterministic column expression the caller
    * supplies. */
  def weightedAvg(events: DataFrame, weight: Column): DataFrame = {
    val d2 = DecimalType(18, 2); val d4 = DecimalType(38, 4)
    events
      .withColumn("__w", weight.cast(d2))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(d2) * col("__w")).cast(d4)).as("vw"),
        sum(col("__w")).as("w"))
      .select(col("event_type"), col("n"),
        (col("vw").cast("double") / col("w").cast("double")).as("weighted_avg"),
        col("w").cast("double").as("sum_weight"))
  }

  /** ES adjacency_matrix aggregation: doc counts for each named filter
    * AND each pairwise intersection, all in ONE conditional-aggregation
    * scan (no per-cell pass, no join); the k + k·(k-1)/2 cells unpivot
    * via an explode of (key, n) structs — keys ride as `lit` values, so
    * arbitrary filter names (quotes included) are safe. At 100 TB this
    * is a single map-side-combined pass whatever the filter count. */
  def adjacencyMatrix(events: DataFrame, filters: Seq[(String, Column)]): DataFrame = {
    require(filters.nonEmpty, "adjacency_matrix needs at least one named filter")
    val cells = filters.zipWithIndex.flatMap { case ((na, ca), i) =>
      ((na, ca) +: filters.drop(i + 1).map { case (nb, cb) =>
        (s"$na&$nb", ca && cb)
      })
    }
    val agg = events.agg(
      count(when(cells.head._2, 1)).as("c0"),
      cells.tail.zipWithIndex.map { case ((_, c), i) =>
        count(when(c, 1)).as(s"c${i + 1}") }: _*)
    agg
      .select(explode(array(cells.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("key"), col(s"c$i").as("n")) }: _*)).as("cell"))
      .select(col("cell.key").as("key"), col("cell.n").as("n"))
  }

  /** ES histogram with `extended_bounds` + `min_doc_count: 0`: fixed-
    * width value buckets where EVERY bucket between the explicit bounds
    * is emitted, zero-count ones included (the numeric-histogram twin
    * of [[rangeFacet]]'s zero-bucket contract; the plain histogram
    * [[numericHistogram]] emits only non-empty buckets). The bucket
    * frame is a literal sequence the aggregated rows left-join onto —
    * the data side stays one map-side-combinable agg; data falling
    * outside the bounds still aggregates into its own bucket, per ES
    * (extended_bounds only EXTENDS the emitted range). */
  def histogramBounds(events: DataFrame, width: Double,
                      boundLo: Double, boundHi: Double): DataFrame = {
    require(width > 0 && boundLo <= boundHi)
    val spark = events.sparkSession
    import spark.implicits._
    val loIdx = math.floor(boundLo / width).toLong
    val hiIdx = math.floor(boundHi / width).toLong
    val agg = events
      .groupBy(floor(col("value") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
    val frame = (loIdx to hiIdx).toDF("bucket")
    frame.join(agg, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** ES boxplot aggregation, exact form: min / q1 / median / q3 / max
    * per bucket from rank-selected values (value at row ceil(p·n) in
    * (value, id) order — the same discrete percentile contract as
    * [[percentileFacet]]; no interpolation, no t-digest). One shuffle
    * on the group key; the three quartiles come out of ONE windowed
    * pass via conditional aggregation over the rank-flagged rows. */
  def boxplot(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value")))
    events
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        pick(0.25).as("q1"), pick(0.5).as("median"), pick(0.75).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
  }

  /** ES median_absolute_deviation, exact form: MAD = median(|x − m|)
    * with m = median(x), both medians the discrete rank-selected kind
    * (deterministic under ties via the id tie-break; ES's own version
    * is t-digest-approximate — the exact form is the oracle-able
    * contract). Two windowed passes over the same group partitioning:
    * medians, then deviation ranks. The |x − m| subtraction is a
    * single IEEE op both engines round identically. */
  def medianAbsDeviation(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val w1 = byType.orderBy(col("value"), col("event_id"))
    val med = events
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w1))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("m", max(when(col("rn") === ceil(lit(0.5) * col("n")),
        col("value"))).over(byType))
    val w2 = byType.orderBy(abs(col("value") - col("m")), col("event_id"))
    med
      .withColumn("dev", abs(col("value") - col("m")))
      .withColumn("drn", row_number().over(w2))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("m")).as("median_value"),
        max(when(col("drn") === ceil(lit(0.5) * col("n")), col("dev"))).as("mad"))
  }

  /** ES string_stats: count / min / max / avg length over a string
    * field per bucket (the Shannon-entropy member of ES's version is
    * intentionally omitted: it needs ln(), which is not correctly-
    * rounded across libms, so no exact cross-engine oracle exists).
    * One map-side-combinable agg; lengths are exact integers, avg is
    * the single double division. */
  def stringStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), length(col("props")).cast("long").as("len"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("len")).as("min_len"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("avg_len", col("sum_len").cast("double") / col("n"))

  /** ES sampler aggregation: restrict sub-aggregations to the top-`n`
    * highest-"scoring" documents (score here = the deterministic
    * (value desc, event_id) order — ES uses query relevance; the
    * boundedness is the point). The sample is a TakeOrdered — per-
    * partition bounded heaps, k·partitions rows shuffled, never a full
    * sort — and the sub-agg (a terms facet over the sample) runs on ≤ n
    * rows wherever the scan was 100 TB. */
  def samplerAgg(events: DataFrame, n: Int): DataFrame =
    events
      .select(col("event_type"), col("value"), col("event_id"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(n)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_docs"), Det.moneySum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"))

  /** ES diversified_sampler: the sampler with a per-key cap — at most
    * `maxPerKey` documents per `user_id` may enter the sample, so one
    * hot key can't crowd it out. The cap runs through the bounded
    * TopKPairs aggregate (map-side combine ships ≤ maxPerKey pairs per
    * (user, partition) — no window sort of the corpus), the capped pool
    * then TakeOrdered-truncates to `n`, and the tiny id frame
    * broadcast-joins the payload back for the sub-agg (the topHits
    * pattern: full rows never shuffle). */
  def diversifiedSampler(events: DataFrame, maxPerKey: Int, n: Int): DataFrame = {
    val sample = events
      .groupBy("user_id")
      .agg(graft.functions.TopKPairs.topK(col("value"), col("event_id"), maxPerKey).as("top"))
      .select(explode(col("top")).as("s"))
      .select(col("s.id").as("event_id"), col("s.score").as("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(n)
    events.join(broadcast(sample.select("event_id")), Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_docs"), Det.moneySum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** ES top_metrics: per bucket, the metric value carried by the row
    * with the top sort key (the latest timestamp here) — top_hits
    * restricted to k=1 and a metric column, which admits a much
    * stronger plan: ONE lexicographic struct-max aggregation, map-side
    * combinable, no window, no sort, no second pass. (ts_us, event_id)
    * is unique, so the argmax is deterministic. */
  def topMetrics(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(max(struct(Det.tsMicros(col("ts")).as("ts_us"), col("event_id"),
        col("value"))).as("m"))
      .select(col("event_type"), col("m.ts_us").as("ts_us"),
        col("m.event_id").as("event_id"), col("m.value").as("latest_value"))

  /** ES 8.7 TSDB `time_series` aggregation: per (dimension, time
    * bucket) series points — doc count, exact value sum, and the
    * LAST value in the bucket (the TSDB downsampling record shape).
    * Dimension = user band, bucket = UTC day. The last-value is the
    * [[topMetrics]] lexicographic struct-max (unique (ts_us, event_id)
    * makes the argmax deterministic), so the whole agg is ONE
    * map-side-combinable hash aggregation — no window, no sort, the
    * same shape a TSDB rollup job wants at petabyte scale. */
  def timeSeriesAgg(events: DataFrame, dimMod: Int): DataFrame = {
    require(dimMod > 1)
    events
      .groupBy((col("user_id") % dimMod).as("dim"),
        Det.dayIdx("ts").as("day_idx"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"),
        max(struct(unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))).as("m"))
      .select(col("dim"), col("day_idx"), col("n"), col("sum_value"),
        col("m.ts_us").as("last_ts_us"), col("m.event_id").as("last_event_id"),
        col("m.value").as("last_value"))
  }

  /** ES field collapse + inner_hits: search results collapsed to one
    * group per `user_id`, groups ordered by their best hit (value desc,
    * the collapse-field sort ES applies), top `nGroups` groups kept,
    * each carrying its `kInner` best documents (the inner_hits) with
    * full payload. Scale shape is the [[topHits]] pattern twice over:
    * TopKPairs' map-side combine reduces the corpus to ≤ kInner ids per
    * (user, partition) — no window sort of the data; the group page is
    * a TakeOrdered over the (already aggregated) per-user rows; and the
    * tiny (user, rank, id) frame broadcast-joins the payload back, so
    * full rows never shuffle. The windowed row_number form is the
    * oracle and the equivalence case in `EsAggsSpec`. */
  def fieldCollapse(events: DataFrame, nGroups: Int, kInner: Int): DataFrame = {
    val groups = events
      .groupBy("user_id")
      .agg(graft.functions.TopKPairs.topK(col("value"), col("event_id"), kInner).as("top"))
      .withColumn("best_value", col("top").getItem(0).getField("score"))
      .orderBy(col("best_value").desc, col("user_id"))
      .limit(nGroups)
    val inner = groups
      .select(col("user_id"), col("best_value"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("user_id"), col("best_value"), (col("i") + 1).cast("int").as("rank"),
        col("s.id").as("event_id"))
    events.join(broadcast(inner), Seq("user_id", "event_id"))
      .select(col("user_id"), col("best_value"), col("rank"), col("event_id"),
        Det.tsMicros(col("ts")).as("ts_us"), col("event_type"), col("value"))
  }

  /** ES matrix_stats: pairwise covariance/correlation over numeric
    * fields, from EXACT decimal power sums (n, Σx, Σx², Σxy) — one
    * map-side-combinable aggregation over the fact table, then a
    * driver-scale derivation row per pair. Spark's builtin corr() is a
    * streaming-moment aggregate whose result depends on partial-merge
    * order; the power-sum form is deterministic on any cluster AND
    * matches the oracle bit-for-bit because the final double formula
    * (cov = (sxy - sx*sy/n)/n, corr = cov/sqrt(va*vb)) is evaluated in
    * the same order by both engines. */
  def matrixStats(lineitem: DataFrame): DataFrame = {
    val d4 = DecimalType(18, 4)
    def s1(c: Column) = sum(c.cast(d4))
    def s2(a: Column, b: Column) = sum(a.cast(d4) * b.cast(d4))
    val x = col("l_quantity"); val y = col("l_extendedprice"); val z = col("l_discount")
    val sums = lineitem.agg(
      count(lit(1)).as("n"),
      s1(x).as("sx"), s1(y).as("sy"), s1(z).as("sz"),
      s2(x, x).as("sxx"), s2(y, y).as("syy"), s2(z, z).as("szz"),
      s2(x, y).as("sxy"), s2(x, z).as("sxz"), s2(y, z).as("syz"))
    def pairRow(name: String, sa: String, sb: String, saa: String,
                sbb: String, sab: String) = {
      val n = col("n").cast("double")
      val a = col(sa).cast("double"); val b = col(sb).cast("double")
      val aa = col(saa).cast("double"); val bb = col(sbb).cast("double")
      val ab = col(sab).cast("double")
      val cov = (ab - a * b / n) / n
      val va = (aa - a * a / n) / n
      val vb = (bb - b * b / n) / n
      struct(lit(name).as("pair"), col("n").as("n"),
        (a / n).as("mean_a"), (b / n).as("mean_b"),
        cov.as("cov_ab"), (cov / sqrt(va * vb)).as("corr_ab"))
    }
    sums
      .select(explode(array(
        pairRow("quantity_extendedprice", "sx", "sy", "sxx", "syy", "sxy"),
        pairRow("quantity_discount", "sx", "sz", "sxx", "szz", "sxz"),
        pairRow("extendedprice_discount", "sy", "sz", "syy", "szz", "syz")
      )).as("p"))
      .select("p.pair", "p.n", "p.mean_a", "p.mean_b", "p.cov_ab", "p.corr_ab")
  }

  /** ES function_score LINEAR decay on a numeric field: events scored
    * by proximity of `value` to `origin` — decay 1.0 inside `offset`
    * of the origin, falling linearly to `decay` at distance `scale`,
    * clamped at 0 beyond (ES's s = scale/(1−decay) pivot form,
    * written as one fixed-order double expression: linear decay is the
    * family member with no exp()/gauss libm dependence, so the score
    * is oracle-exact). Narrow scan + bounded TakeOrdered; the geo/date
    * variants are the same arithmetic over a different distance. */
  def decayFunctionScore(events: DataFrame, origin: Double, scale: Double,
      offset: Double, decay: Double, k: Int): DataFrame = {
    require(scale > 0 && decay > 0 && decay < 1 && offset >= 0)
    val s = scale / (1 - decay) // pivot: decay_value(scale) = `decay` exactly
    val dist = greatest(abs(col("value") - lit(origin)) - lit(offset), lit(0.0))
    events
      .select(col("event_id"), col("value"),
        greatest((lit(s) - dist) / lit(s), lit(0.0)).as("decay_score"))
      .orderBy(col("decay_score").desc, col("event_id"))
      .limit(k)
  }

  /** ES function_score GAUSS decay — the second documented
    * transcendental exception after geotile's Mercator ln (r14;
    * everything else in the engine is transcendental-free by design).
    * score = exp(−d²/(2σ²)) with d = |value − origin| and
    * 2σ² = scale²/ln(1/decay) precomputed ONCE in Scala and embedded
    * as the same double literal in both engines' programs — at query
    * time only `exp` is libm.
    *
    * Hash-greenness follows the geotile floor-margin discipline: the
    * raw score never leaves the engine; the output is
    * `floor(score × M)` (BIGINT) with M = 773,856,391 — a non-round
    * multiplier chosen by exhaustive search over the ENTIRE finite
    * synthetic value domain (v = k/100, k ∈ [0, 100000]) so every
    * domain point's scaled score sits ≥ ~400× the worst cross-libm
    * exp drift bound (≈1e-15 relative: ≤2 ulp exp gap + one multiply
    * rounding) away from the nearest floor boundary. A round 1e9 grid
    * would NOT work: decay = 0.5 puts d = n·scale at score 2^(−n²),
    * ulps from a decimal boundary (measured: margin 1.6e-9 at
    * d = 240). The one exact-integral domain point is v = origin,
    * where exp(0) = 1 is an IEEE-mandated special value every libm
    * returns exactly — integral results floor identically with no
    * margin needed (the geotile lat = 0 precedent). The margin proof
    * is re-run exhaustively in EsAggsSpec. */
  val GaussGridM = 773856391.0
  def gaussDecayScore(events: DataFrame, origin: Double, scale: Double,
      decay: Double, k: Int): DataFrame = {
    require(scale > 0 && decay > 0 && decay < 1)
    val twoSigmaSq = scale * scale / math.log(1 / decay)
    val d = abs(col("value") - lit(origin))
    events
      .select(col("event_id"), col("value"),
        floor(exp(-(d * d) / lit(twoSigmaSq)) * lit(GaussGridM))
          .as("score_grid"))
      .orderBy(col("score_grid").desc, col("event_id"))
      .limit(k)
  }

  /** The DuckDB twin of [[gaussDecayScore]], generated from the same
    * constants (shortest-roundtrip double literals parse to the
    * identical IEEE value in DuckDB). */
  def gaussDecaySql(origin: Double, scale: Double, decay: Double,
      k: Int): String = {
    val twoSigmaSq = scale * scale / math.log(1 / decay)
    s"""SELECT event_id, value,
       |  CAST(floor(exp(-((abs(value - ${origin}e0)) * (abs(value - ${origin}e0))) / ${twoSigmaSq}e0) * $GaussGridM) AS BIGINT) AS score_grid
       |FROM events
       |ORDER BY score_grid DESC, event_id LIMIT $k""".stripMargin
  }

  /** ES function_score EXP decay — the last decay family member
    * (linear is libm-free, gauss is the r14 precedent; same floor-grid
    * discipline here). score = exp(−λ·d) with d = |value − origin| and
    * λ = ln(1/decay)/scale precomputed ONCE in Scala and embedded as
    * the identical double literal in both engines' programs — at query
    * time only `exp` is libm.
    *
    * Output is `floor(score × M)` (BIGINT) with M = 791,765,213 —
    * searched exhaustively (r15) over the ENTIRE finite synthetic
    * value domain (v = k/100, k ∈ [0, 100000]) so every scaled score
    * sits ≥ ~1100× the cross-libm exp drift bound (≈1e-15 relative)
    * from the nearest floor boundary. The one exact-integral point is
    * v = origin, where exp(0) = 1 is IEEE-mandated exact in every
    * libm (the gauss v = origin precedent). Margin proof re-run
    * exhaustively in EsAggsSpec. */
  val ExpGridM = 791765213.0
  def expDecayScore(events: DataFrame, origin: Double, scale: Double,
      decay: Double, k: Int): DataFrame = {
    require(scale > 0 && decay > 0 && decay < 1)
    val lambda = math.log(1 / decay) / scale
    val d = abs(col("value") - lit(origin))
    events
      .select(col("event_id"), col("value"),
        floor(exp(-(d * lit(lambda))) * lit(ExpGridM)).as("score_grid"))
      .orderBy(col("score_grid").desc, col("event_id"))
      .limit(k)
  }

  /** The DuckDB twin of [[expDecayScore]], generated from the same
    * constants with the same textual association order. */
  def expDecaySql(origin: Double, scale: Double, decay: Double,
      k: Int): String = {
    val lambda = math.log(1 / decay) / scale
    s"""SELECT event_id, value,
       |  CAST(floor(exp(-((abs(value - ${origin}e0)) * ${lambda}e0)) * $ExpGridM) AS BIGINT) AS score_grid
       |FROM events
       |ORDER BY score_grid DESC, event_id LIMIT $k""".stripMargin
  }

  /** ES function_score `field_value_factor` with the `log1p` modifier:
    * score = weight · ln(1 + factor · field) — the "boost by
    * popularity/price" pattern ES users reach for first. The logarithm
    * is [[graft.util.DetLn.lnExpr]], the libm-free codegen'd kernel, so
    * the per-row double scores are BIT-IDENTICAL on both engines (the
    * multi_match discipline — no libm ln anywhere). `factor` should be
    * a power of two (the wiring uses 0.125) so factor·field is EXACT
    * scaling and the whole argument carries one rounding (the 1+x add),
    * identical everywhere. Domain: 1 + factor·field ≥ 1 — log1p's whole
    * point, and DetLn's domain. One narrow projection + driver-bounded
    * top-k; no shuffle. */
  def fieldValueFactor(orders: DataFrame, factor: Double, weight: Double,
      k: Int): DataFrame = {
    require(factor > 0 && factor == java.lang.Math.scalb(1.0,
      java.lang.Math.getExponent(factor)), "factor must be a power of two")
    val arg = lit(1.0) + lit(factor) *
      lnDomainGuard(col("o_totalprice"), col("o_orderkey"), "field_value_factor log1p")
    orders
      .select(col("o_orderkey"), col("o_totalprice"),
        (lit(weight) * graft.util.DetLn.lnExpr(arg)).as("score"))
      .orderBy(col("score").desc, col("o_orderkey"))
      .limit(k)
  }

  /** The DuckDB twin of [[fieldValueFactor]] — the DetLn program
    * replayed per row as nested one-column-per-level subqueries
    * ([[graft.util.DetLn.nestSql]]; flat lateral aliases bind
    * exponentially — the r14 measurement). Same literals, same
    * association order (`weight * lnv`). */
  def fieldValueFactorSql(factor: Double, weight: Double, k: Int): String = {
    import graft.util.DetLn
    val base = s"""(SELECT o_orderkey, o_totalprice,
      CAST(1.0e0 + ${DetLn.dlit(factor)} * CAST(o_totalprice AS DOUBLE) AS DOUBLE) AS __fvf_arg
      FROM orders)"""
    val nested = DetLn.nestSql(base, DetLn.sqlItems("__fvf_arg", "__fvf_ln"))
    s"""SELECT o_orderkey, o_totalprice,
       |       ${DetLn.dlit(weight)} * __fvf_ln AS score
       |FROM $nested q
       |ORDER BY score DESC, o_orderkey LIMIT $k""".stripMargin
  }

  /** ES missing aggregation: the bucket of documents that DON'T carry a
    * field, beside the present-value terms buckets (the ES pattern of a
    * `terms` agg plus a sibling `missing` agg on the same field). The
    * synthetic events always carry `props.k`, so the wiring derives a
    * genuinely-sparse field from it deterministically (k % `absentMod`
    * == 0 → absent) — both engines build the identical field, so the
    * absence pattern is oracle-replayable, not an accident of the data.
    * One conditional projection + one hash agg; the missing bucket is
    * just another group key (ES's `missing` bucket), so the whole agg
    * stays map-side combinable. */
  def missingAgg(events: DataFrame, absentMod: Int, termMod: Int): DataFrame = {
    val k = expr("from_json(props, 'k BIGINT')").getField("k")
    val field = when(k % absentMod === 0, lit(null).cast("string"))
      .otherwise(concat(lit("c"), (k % termMod).cast("string")))
    events
      .select(coalesce(field, lit("__missing__")).as("bucket"), col("value"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
  }

  /** ES global aggregation: metrics over ALL documents computed beside
    * the query-context hits — the "show the filtered slice against the
    * corpus gauge" pattern. One conditional-agg scan (the filters-facet
    * shape): the query predicate becomes a CASE inside each aggregate,
    * so corpus and hit metrics share a single pass and the global side
    * costs no second scan — ES pays the same trick via its global
    * bucket short-circuiting the query. */
  def globalAgg(events: DataFrame, hit: Column): DataFrame =
    events.agg(
      count(when(hit, 1)).as("n_hits"),
      sum(when(hit, dec2(col("value")))).cast("double").as("sum_hits"),
      count(lit(1)).as("n_all"),
      sum(dec2(col("value"))).cast("double").as("sum_all"))

  /** ES join-field `children` aggregation (the agg-side complement of
    * the has_child QUERY): parent buckets (order priority) with metrics
    * over their CHILD docs — child count, exact child quantity sum,
    * distinct parents having children. The parent attribute travels to
    * the child via one equi-join on the parent key (ES co-locates
    * parent and child on one shard for exactly this); aggregation is
    * one map-side-combinable hash agg on the parent bucket. */
  def childrenAgg(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderpriority"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity"), col("l_extendedprice")), Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_children"),
        countDistinct(col("o_orderkey")).as("n_parents"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))

  /** ES terms-agg partitioning (`include.partition` / `num_partitions`):
    * page a huge-cardinality terms facet by deterministically splitting
    * the TERM space — each request aggregates only the terms in one
    * hash partition, so no single response materializes the full
    * cardinality. Partition = md5 first hex nibble of the term, divided
    * into `nPartitions` equal ranges (the q_hash_sample md5-band
    * discipline — reproducible on any engine, unlike ES's internal
    * murmur3). The partition predicate applies BEFORE the aggregation,
    * so the hash agg only sees ~1/nPartitions of the key space. */
  def termsPartition(events: DataFrame, nPartitions: Int, partition: Int,
      k: Int): DataFrame = {
    require(nPartitions > 0 && 16 % nPartitions == 0 && partition >= 0
      && partition < nPartitions)
    val span = 16 / nPartitions
    val nib = instr(lit("0123456789abcdef"),
      substring(md5(col("user_id").cast("string").cast("binary")), 1, 1)) - 1
    events
      .filter(floor(nib / span) === partition)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(k)
  }

  /** ES change_point aggregation (8.x), deterministic step-change
    * detector: over the date-histogram bucket means, pick the split
    * maximizing the between-segment mean shift |mean_L − mean_R| (both
    * segments non-empty), earliest split day on ties. ES runs several
    * ML detectors here; the max-mean-shift split IS its step_change
    * detector's core statistic, and the exact-arithmetic form (decimal
    * cumulative sums, one fixed-order double division per side) is the
    * deterministic contract an oracle can replay. Everything past the
    * day histogram is a bounded post-agg window over bucket rows. */
  def changePoint(events: DataFrame): DataFrame = {
    val day = dayBuckets(events)
    val w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    val gauge = day.agg(sum(col("dsum")).as("t_sum"),
      sum(col("n")).as("t_n"), max(col("day_idx")).as("last_day"))
    day
      .withColumn("c_sum", sum(col("dsum")).over(w))
      .withColumn("c_n", sum(col("n")).over(w))
      .crossJoin(broadcast(gauge))
      // split AFTER this bucket: left = [first..day], right = (day..last]
      .filter(col("day_idx") < col("last_day"))
      .withColumn("mean_left", col("c_sum").cast("double") / col("c_n"))
      .withColumn("mean_right",
        (col("t_sum") - col("c_sum")).cast("double") / (col("t_n") - col("c_n")))
      .withColumn("shift", abs(col("mean_right") - col("mean_left")))
      .orderBy(col("shift").desc, col("day_idx"))
      .limit(1)
      .select(col("day_idx").as("split_after_day"), col("c_n").as("n_left"),
        (col("t_n") - col("c_n")).as("n_right"),
        col("mean_left"), col("mean_right"), col("shift"))
  }

  /** ES variable_width_histogram aggregation, deterministic
    * equal-frequency form: `nBuckets` clusters whose edges are the
    * exact i/nBuckets quantiles of the value (the ceil(p·n) order
    * statistic in (value, id) order — the percentile-family contract),
    * each cluster reporting count/min/max/exact-decimal mean. ES's
    * version is an order-dependent online clustering; the quantile-edge
    * form is the deterministic contract an oracle can replay, and it
    * IS what variable-width buckets converge to on stationary data.
    * Edges come from the distributed rank-select ([[Percentiles]] — no
    * global sort, three narrow scans), collect as ≤ nBuckets−1 doubles
    * (bounded metadata), and the cluster id is a codegen'd
    * count-of-edges-below compare chain; ties at an edge go left. */
  def variableWidthHistogram(events: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val fracs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val edges = Percentiles.rankSelect(
        events.select(lit(0L).as("__g"), col("value"), col("event_id")),
        "__g", "value", "event_id", fracs)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).map(_._2) // one edge per fraction, p-ascending
    // reduceOption: an EMPTY input yields zero edges (rank-select over
    // nothing), and the operator must then produce an empty result,
    // not crash building the cluster expression
    val cluster = edges.map(e => when(lit(e) < col("value"), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    events
      .select(col("value"), cluster.cast("long").as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        (sum(dec2(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
  }

  /** ES runtime fields (schema-on-read): fields that exist only in the
    * query's runtime mapping — here day-of-week from the timestamp and
    * a coarse value band — filtered and faceted like indexed fields.
    * In Spark a runtime field IS a projected expression, which is the
    * point: the derivation runs codegen'd inside the scan, the filter
    * on it still prunes early, and no reindex ever happens. Weekend
    * traffic per value band; exact integer arithmetic both engines
    * share (1970-01-01 anchors day 0 = Thursday). */
  def runtimeFields(events: DataFrame): DataFrame = {
    val dow = (Det.dayIdx("ts") + lit(4)) % 7 // 0=Sun..6=Sat
    val band = floor(col("value") / 50.0).cast("long")
    events
      .select(dow.as("day_of_week"), band.as("value_band"), col("value"))
      .filter(col("day_of_week") === 0 || col("day_of_week") === 6)
      .groupBy("day_of_week", "value_band")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
  }

  /** ES random_sampler aggregation (8.2+): aggregate a p-probability
    * sample and RESCALE the estimates by 1/p — the "cheap approximate
    * facet over a huge index" primitive. ES uses a seeded RNG; the
    * engine form is the md5-band deterministic sample (the hashSample
    * discipline — reproducible across engines/runs/partitionings),
    * with p an exact binary fraction so the rescale is exact. The
    * sample predicate runs in the scan; everything downstream touches
    * only the sample. */
  def randomSamplerAgg(events: DataFrame, bandHexLt: String): DataFrame = {
    // p = band/4096 for a 3-hex-digit band: exact in double
    require(bandHexLt.nonEmpty && bandHexLt.length <= 4)
    val p = java.lang.Long.parseLong(bandHexLt, 16).toDouble /
      math.pow(16.0, bandHexLt.length)
    events
      .filter(substring(md5(col("event_id").cast("string").cast("binary")),
        1, bandHexLt.length) < bandHexLt)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"),
        (count(lit(1)) / lit(p)).as("est_n"),
        (sum(dec2(col("value"))).cast("double") / lit(p)).as("est_sum_value"))
  }

  /** ES TSDB `rate` aggregation over a COUNTER field (reset-aware):
    * per time series (user), the per-hour rate of counter increase,
    * where a negative delta is a counter reset and contributes the new
    * value (the increase since the restart) — the Prometheus/ES-TSDB
    * contract. Deltas come from one lag window per series key (a
    * single hash shuffle on user_id — series are independent, so this
    * scales out by key); increases accumulate on the exact DECIMAL
    * domain, one double division by the series' µs span at the end.
    * Series with a single sample (span 0) are dropped. */
  def counterRate(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val withDelta = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), dec2(col("value")).as("v"))
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("inc",
        when(col("prev").isNull, dec2(lit(0.0)))
          .when(col("v") >= col("prev"), col("v") - col("prev"))
          .otherwise(col("v"))) // reset: counter restarted at v
    withDelta
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("inc")).cast("double").as("total_increase"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
      .filter(col("span_us") > 0)
      .withColumn("rate_per_hour",
        col("total_increase") * lit(3600000000.0e0) / col("span_us").cast("double"))
      .orderBy(col("rate_per_hour").desc, col("user_id"))
      .limit(k)
  }

  /** ES distance_feature query: rank documents by closeness of a date
    * field to an origin, score = boost · pivot / (pivot + |ts − origin|)
    * — the rational-decay relevance signal ES recommends over
    * function_score for dates ("boost recent documents"). The µs
    * distance is exact integer arithmetic; the score is one fixed-order
    * double division, so the ranking is oracle-exact (no exp()).
    * Narrow scan + bounded TakeOrdered. */
  def distanceFeature(events: DataFrame, originUs: Long, pivotUs: Long,
      boost: Double, k: Int): DataFrame = {
    require(pivotUs > 0)
    val distUs = abs(unix_micros(col("ts")) - lit(originUs))
    events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        (lit(boost) * lit(pivotUs.toDouble) /
          (lit(pivotUs.toDouble) + distUs.cast("double"))).as("score"))
      .orderBy(col("score").desc, col("event_id"))
      .limit(k)
  }
}
