package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns every operator relies on, checked at load so a schema
    * drift fails fast with a clear message instead of a mid-plan
    * resolution error. */
  private val requiredColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text"),
    "embeddings" -> Seq("vec_id", "embedding"),
    "lineitem" -> Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))

  /** Parquet reader tolerant of every ts encoding the driver has shipped
    * (see SURVEY §3's encoding matrix):
    *  - INT64 TIMESTAMP(NANOS) [legacy]: nanosAsLong=true reads it as a
    *    BIGINT of epoch-ns instead of failing;
    *  - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) [current]: read
    *    as TimestampNTZType (Spark default inference) — the physical
    *    epoch-µs wall-clock, which matches what DuckDB's oracle sees
    *    (naive TIMESTAMP). Consumers that need an instant dispatch via
    *    `Det.tsMicrosOf` / `River.scanPastWatermark`; `load` normalizes
    *    events.ts to TimestampType for window()/watermark code.
    *  - INT64 TIMESTAMP(MICROS, adjusted) : TimestampType natively.
    * Deliberately NO global `inferTimestampNTZ.enabled=false` here: that
    * override (round 11) silently turned orders.o_orderdate /
    * lineitem.l_shipdate tz-aware, and the two queries that project a raw
    * timestamp to output then wrote isAdjustedToUTC=true parquet the
    * DuckDB oracle can't mirror (q3/q18 schema+hash FAIL, VERDICT r11).
    * The schema comes from the file's footer on the driver
    * ([[graft.util.ParquetRead]]), so a load runs no Spark job. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    // conditional: a per-load redundant set was the round-11 suspect for
    // cached-relation invalidation (ruled out by the round-12 isolated
    // re-times — SCALING.md — but only-set-when-different is strictly
    // safer for any conf-keyed cache)
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.util.ParquetRead.read(spark, path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    val schema = df.schema // the footer's schema, read on the driver
    requiredColumns.get(name).foreach { cols =>
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"table '$name' at $dir is missing columns: $missing")
    }
    // Normalize events.ts to TimestampType(µs) whatever the file carried;
    // downstream code (Det.tsMicros/dayIdx, window(), watermarks) assumes it.
    if (name == "events") schema("ts").dataType match {
      case LongType => // legacy epoch-ns BIGINT → exact integer division
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // current driver encoding (µs NTZ), default path
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }

  /** events with `ts` left in the file's own scan-native form — either raw
    * epoch-ns BIGINT (legacy files) or TimestampType µs (current files) —
    * the form whose watermark predicates reach `PushedFilters` (a computed
    * µs/ns column would not). Consumers dispatch via `Det.tsMicrosOf` /
    * `River.scanPastWatermark`, which handle both. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/events.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
