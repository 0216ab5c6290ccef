package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.river.River
import graft.util.Det

/** SURVEY §2 River core: the reference river's scan, watermark, upsert, field
  * handling and nested-document surface. */
private[graft] object RiverQueries {

  /** Two-phase river scan (reference facet-then-scan): tiny watermark
    * aggregates over the simulated sink (= the first half of the key
    * space — the "already-imported" snapshot, deterministic so the
    * oracle can reproduce it), then a literal-predicate scan of the raw
    * events so the filter pushes into the parquet source (file/row-group
    * pruning at scale). An empty table or empty sink degrades to a full
    * scan, mirroring the reference's setMinTimestamp(0) first-import
    * path. Returns rows past the watermark with `ts` still in the file's
    * scan-native form (raw epoch-ns BIGINT or TimestampType µs). */
  private def literalScan(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(s, dir)
    val halfRow = raw.agg(floor(max(col("event_id")) / 2).cast("long")).head()
    if (halfRow.isNullAt(0)) raw // empty table → full (empty) scan
    else {
      val sink = raw.filter(col("event_id") < halfRow.getLong(0))
      River.watermarkMicros(sink, "ts") match {
        case Some(wmUs) => River.scanPastWatermark(raw, "ts", wmUs)
        case None => raw // empty sink → first import, full scan
      }
    }
  }

  private val normPlain = """regexp_replace(lower('Type#' || upper(event_type) || '.props:K'), '[^a-z0-9\-_]', '', 'g')"""

  private val normSep   = """regexp_replace(lower('Type#' || upper(event_type) || '.props:K'), '[^a-z0-9\-_\.]', '', 'g')"""

  private val sinkWm =
    """half AS (SELECT max(event_id) // 2 AS h FROM events),
      |wm AS (SELECT max(epoch_us(ts)) AS w FROM events, half WHERE event_id < h)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("river_incremental_scan", (s, dir) => {
      val scan = literalScan(s, dir)
      scan.select(col("event_id"),
        Det.tsMicrosOf(scan, "ts").as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    }, Some(s"""WITH $sinkWm
               |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
               |FROM events, wm WHERE epoch_us(ts) > w""".stripMargin)),

    Query("river_stats_facet", (s, dir) =>
      River.statsFacet(Tables.events(s, dir), "ts"),
      Some("""WITH t AS (SELECT epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 // 3600 AS h FROM events),
             |a AS (SELECT count(*) AS n, min(s) AS min_s, max(s) AS max_s, CAST(sum(s) AS BIGINT) AS sum_s,
             |             CAST(sum(h * h) AS BIGINT) AS shh, CAST(sum(h) AS BIGINT) AS sh FROM t)
             |SELECT n, min_s, max_s, sum_s,
             |       CAST(sum_s AS DOUBLE) / n AS avg_s,
             |       CAST(shh AS DOUBLE) / n - (CAST(sh AS DOUBLE) / n) * (CAST(sh AS DOUBLE) / n) AS var_h,
             |       sqrt(CAST(shh AS DOUBLE) / n - (CAST(sh AS DOUBLE) / n) * (CAST(sh AS DOUBLE) / n)) AS std_h
             |FROM a""".stripMargin)),

    Query("river_latest_per_key", (s, dir) => {
      val ev = Tables.events(s, dir)
      River.latestPerKey(ev, "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), Det.tsMicros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
    }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM events
              |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin)),

    Query("river_first_per_key", (s, dir) => {
      // ES `create` op semantics (first write wins, later docs with the
      // same _id rejected) — the dual of the upsert view: same single
      // hash shuffle, ascending order
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), Det.tsMicros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }, Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM events
              |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) = 1""".stripMargin)),

    Query("river_batching", (s, dir) => {
      val ev = Tables.events(s, dir)
      River.assignBatches(ev, Seq(Det.tsMicros(col("ts")), col("event_id")), 100)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"), Det.moneySum(col("value")).as("sum_value"))
    }, Some("""WITH t AS (SELECT *, (row_number() OVER (ORDER BY epoch_us(ts), event_id) - 1) // 100 AS batch_id FROM events)
              |SELECT batch_id, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id,
              |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM t GROUP BY batch_id""".stripMargin)),

    Query("river_normalize_fields", (s, dir) => {
      val ev = Tables.events(s, dir)
      val raw = concat(lit("Type#"), upper(col("event_type")), lit(".props:K"))
      // r21 (guide §1.2): raw/norm are pure functions of event_type, so
      // dedup the narrow column FIRST (map-side-combining hash agg) and
      // run the two regex normalizations on the handful of survivors —
      // the old order paid 2 regex evals per corpus row before its
      // distinct. upper() is not injective, so the final distinct on
      // the derived strings stays; the row set is identical.
      ev.select(col("event_type")).distinct()
        .select(raw.as("raw"),
          River.normalizeField(raw).as("norm_plain"),
          River.normalizeField(raw, Some(".")).as("norm_sep"))
        .distinct()
    }, Some(s"""SELECT DISTINCT 'Type#' || upper(event_type) || '.props:K' AS raw,
               |       $normPlain AS norm_plain,
               |       $normSep AS norm_sep
               |FROM events""".stripMargin)),

    Query("river_projection", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("event_type"),
          Det.tsMicros(col("ts")).as("ts_us"), col("value")),
      Some("""SELECT event_id, event_type, epoch_us(ts) AS ts_us, value FROM events
             |WHERE event_type IN ('view', 'click')""".stripMargin)),

    Query("river_id_extraction", (s, dir) => {
      val ev = Tables.events(s, dir)
      val k = River.extractId(col("props"), "k")
      ev.select(col("event_id"), k.cast("long").as("k_id"),
        concat(col("event_type"), lit(":"), k).as("doc_id"))
    }, Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_id,
              |       event_type || ':' || json_extract_string(props, '$.k') AS doc_id
              |FROM events""".stripMargin)),

    Query("river_nested_columns", (s, dir) => {
      val ev = Tables.events(s, dir)
      // materialize qualifier, then the parsed struct, so the JSON
      // extraction and the split run once per row, not per output column
      ev.withColumn("qualifier", concat(col("event_type"), lit("-"),
          River.extractId(col("props"), "k")))
        .withColumn("__p", River.parseQualifier(col("qualifier"), "-"))
        .select(col("event_id"), col("qualifier"),
          array_join(col("__p.path"), ".").as("parent"),
          col("__p.leaf").as("leaf"), col("value"))
    }, Some("""WITH t AS (SELECT event_id, event_type || '-' || json_extract_string(props, '$.k') AS qualifier, value FROM events)
              |SELECT event_id, qualifier, split_part(qualifier, '-', 1) AS parent,
              |       split_part(qualifier, '-', 2) AS leaf, value
              |FROM t""".stripMargin)),

    // dynamic-mapping drift: fields first appearing after the mapping
    // bootstrap slice (the ES mapping-explosion audit)
    Query("river_mapping_drift", (s, dir) =>
      river.River.mappingDrift(Tables.events(s, dir), 200L),
      Some(raw"""WITH t AS (SELECT event_id,
                |    regexp_replace(lower(split_part(event_type || '-' || json_extract_string(props, '$$.k'), '-', 1)), '[^a-z0-9\-_]', '', 'g') AS p0,
                |    regexp_replace(lower(split_part(event_type || '-' || json_extract_string(props, '$$.k'), '-', 2)), '[^a-z0-9\-_]', '', 'g') AS l0
                |  FROM events),
                |f AS (SELECT event_id,
                |        CASE WHEN l0 = '' OR l0 IS NULL THEN p0 ELSE p0 || '.' || l0 END AS full_path
                |      FROM t),
                |known AS (SELECT DISTINCT full_path FROM f WHERE event_id < 200)
                |SELECT full_path, min(event_id) AS first_seen, count(*) AS n_rows
                |FROM f
                |WHERE event_id >= 200
                |  AND full_path NOT IN (SELECT full_path FROM known)
                |GROUP BY full_path""".stripMargin)),

    Query("q_nested_match", (s, dir) =>
      river.Nested.nestedMatch(
        river.Nested.nestedDocs(Tables.events(s, dir)), "click", 15.0),
      // Nested-surface oracles replay the ES nested semantics on the FLAT
      // item rows — exactly equivalent because collect_list → filter/size
      // commutes with GROUP BY + conditional counts (per-element predicates
      // never cross items).
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent,
             |                   value
             |            FROM events)
             |SELECT user_id, day_idx, count(*) AS n_items,
             |       count(CASE WHEN parent = 'click' AND value >= 15 THEN 1 END) AS n_match
             |FROM it GROUP BY 1, 2 HAVING n_match > 0""".stripMargin)),

    Query("q_nested_exists", (s, dir) =>
      river.Nested.nestedExists(river.Nested.nestedDocs(Tables.events(s, dir))),
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent
             |            FROM events)
             |SELECT user_id, day_idx, count(*) AS n_items, count(parent) AS n_nested
             |FROM it GROUP BY 1, 2 HAVING n_nested > 0""".stripMargin)),

    Query("q_nested_terms_agg", (s, dir) =>
      river.Nested.nestedTermsAgg(river.Nested.nestedDocs(Tables.events(s, dir))),
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent,
             |                   value
             |            FROM events)
             |SELECT parent, count(*) AS n_nested,
             |       count(DISTINCT (user_id, day_idx)) AS n_parent_docs,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM it WHERE parent IS NOT NULL GROUP BY 1""".stripMargin)),

    // reverse_nested with parent-level sub-aggs (r15): per nested
    // term, parent metrics counted ONCE per parent — exact-decimal
    // per-row array fold, no second shuffle
    Query("q_reverse_nested", (s, dir) =>
      river.Nested.reverseNestedAgg(
        river.Nested.nestedDocs(Tables.events(s, dir))),
      Some("""WITH it AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             |                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
             |                        THEN NULL ELSE event_type END AS parent,
             |                   value
             |            FROM events),
             |par AS (SELECT user_id, day_idx, count(*) AS p_items,
             |               sum(CAST(value AS DECIMAL(18,2))) AS p_value
             |        FROM it GROUP BY 1, 2),
             |pt AS (SELECT DISTINCT user_id, day_idx, parent FROM it WHERE parent IS NOT NULL)
             |SELECT parent, count(*) AS n_parent_docs,
             |       CAST(sum(p_items) AS BIGINT) AS sum_parent_items,
             |       CAST(sum(p_value) AS DOUBLE) AS sum_parent_value
             |FROM pt JOIN par USING (user_id, day_idx)
             |GROUP BY 1""".stripMargin)),

    Query("river_delete_old", (s, dir) => {
      val scanned = literalScan(s, dir)
      val failed = Tables.eventsRaw(s, dir).filter(col("event_id") % 97 === 0)
      River.deleteOldKeys(scanned, failed, "event_id")
    }, Some(s"""WITH $sinkWm
               |SELECT event_id FROM events, wm
               |WHERE epoch_us(ts) > w AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 97 = 0)""".stripMargin)),

    Query("hbase_source_scan", (s, dir) =>
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .filter(col("ts_us") > 1705320000000000L && col("event_type") === "click")
        .select("event_id", "ts_us", "user_id", "event_type", "value"),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
             |FROM events
             |WHERE epoch_us(ts) > 1705320000000000 AND event_type = 'click'""".stripMargin)),

    Query("hbase_source_watermark", (s, dir) =>
      // the reference's watermark facet (HBaseParser.setMinTimestamp:258):
      // ES answers max(_timestamp) from index metadata without touching
      // docs; here max/min/count push into the source and come from
      // parquet footer statistics — zero row reads, zero row groups opened
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .agg(max(col("ts_us")).as("max_ts_us"), min(col("ts_us")).as("min_ts_us"),
          count(lit(1)).as("n")),
      Some("""SELECT max(epoch_us(ts)) AS max_ts_us, min(epoch_us(ts)) AS min_ts_us,
             |       count(*) AS n
             |FROM events""".stripMargin)),

    Query("hbase_source_page", (s, dir) =>
      // ES search_after keyset page served by the source: the cursor
      // filter AND the top-N both push into the scan (bounded heap per
      // row group ships ≤ pageSize rows; Spark merges partials)
      s.read.format("hbasesim").option("path", s"$dir/events.parquet").load()
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .filter(col("ts_us") > 1705330000000000L)
        .orderBy(col("ts_us"), col("event_id"))
        .limit(50),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
             |FROM events WHERE epoch_us(ts) > 1705330000000000
             |ORDER BY ts_us, event_id LIMIT 50""".stripMargin)),

    Query("river_parse_tree", (s, dir) => {
      val ev = Tables.events(s, dir)
      // readDataTree equivalent: the row payload parsed into a typed
      // document (ref HBaseParser.readDataTree:204) + id extraction
      val doc = expr("from_json(props, 'k BIGINT')")
      ev.select(col("event_id"), doc.getField("k").as("k"),
        concat(River.normalizeField(col("event_type")), lit(":"),
          doc.getField("k").cast("string")).as("doc_id"))
    }, Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
              |       regexp_replace(lower(event_type), '[^a-z0-9\-_]', '', 'g') || ':'
              |         || json_extract_string(props, '$.k') AS doc_id
              |FROM events""".stripMargin)),

    Query("river_full_pipeline", (s, dir) => {
      val scanned = literalScan(s, dir)
      val parsed = scanned.select(
        col("event_id"), Det.tsMicrosOf(scanned, "ts").as("ts_us"), col("value"),
        concat(River.normalizeField(col("event_type")), lit(":"),
          River.extractId(col("props"), "k")).as("doc_id"))
      val latest = River.latestPerKey(parsed, "doc_id", "ts_us", "event_id")
      River.assignBatches(latest, Seq(col("ts_us"), col("event_id")), 100)
        .select("doc_id", "event_id", "ts_us", "value", "batch_id")
    }, Some(raw"""WITH $sinkWm,
               |scan AS (SELECT event_id, epoch_us(ts) AS ts_us, value, event_type, props FROM events, wm WHERE epoch_us(ts) > w),
               |parsed AS (SELECT event_id, ts_us, value,
               |                  regexp_replace(lower(event_type), '[^a-z0-9\-_]', '', 'g') || ':' || json_extract_string(props, '$$.k') AS doc_id
               |           FROM scan),
               |latest AS (SELECT * FROM parsed QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ts_us DESC, event_id DESC) = 1),
               |batched AS (SELECT *, (row_number() OVER (ORDER BY ts_us, event_id) - 1) // 100 AS batch_id FROM latest)
               |SELECT doc_id, event_id, ts_us, value, batch_id FROM batched""".stripMargin))
  )
}
