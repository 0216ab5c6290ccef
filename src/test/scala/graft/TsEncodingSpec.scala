package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.river.River
import graft.util.Det

/** Round-10 postmortem regression net: the driver regenerated
  * `events.ts` as TIMESTAMP_MICROS NTZ and the engine's hard-wired
  * ns assumptions silently returned 1000×-wrong values. This spec pins
  * every read path (Tables.load, Tables.eventsRaw + watermark scan,
  * hbasesim source incl. footer stats and row-group pruning) to the SAME
  * answers on the same rows written in each encoding the data has ever
  * shipped in:
  *  - INT64 TIMESTAMP(MICROS) adjusted-UTC   (Spark TimestampType write)
  *  - INT64 TIMESTAMP(MICROS) isAdjustedToUTC=false (NTZ — current data)
  *  - INT64 TIMESTAMP(NANOS)                 (legacy data, parquet-mr write)
  */
class TsEncodingSpec extends SparkSpec {

  // 5 rows with sub-second µs precision; one pair shares a second
  private val rowsUs: Seq[(Long, Long, Long, String, Double, String)] = Seq(
    (1L, 1705320000000001L, 10L, "click", 1.5, """{"k":"a"}"""),
    (2L, 1705320000999999L, 11L, "view", 2.5, """{"k":"b"}"""),
    (3L, 1705406400123456L, 10L, "click", 3.5, """{"k":"c"}"""),
    (4L, 1705492800500000L, 12L, "purchase", 4.5, """{"k":"d"}"""),
    (5L, 1705579200000000L, 11L, "view", 5.5, """{"k":"e"}"""))

  private def base: DataFrame = {
    import spark.implicits._
    rowsUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
  }

  /** dir/events.parquet with ts as TimestampType (INT64 µs adjusted —
    * SparkSpec pins outputTimestampType=TIMESTAMP_MICROS, not INT96). */
  private def writeMicrosAdjusted(): String = {
    val dir = Files.createTempDirectory("graft-enc-us").toString
    base.withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** dir/events.parquet with ts as TIMESTAMP_NTZ (isAdjustedToUTC=false,
    * µs) — byte-for-byte the current driver encoding. */
  private def writeMicrosNtz(): String = {
    val dir = Files.createTempDirectory("graft-enc-ntz").toString
    base.withColumn("ts", timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      .drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** dir/events.parquet with ts as INT64 TIMESTAMP(NANOS) — the legacy
    * driver encoding. Spark cannot write ns, so parquet-mr writes it. */
  private def writeNanos(): String = {
    val dir = Files.createTempDirectory("graft-enc-ns").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    new java.io.File(s"$dir/events.parquet").getParentFile.mkdirs()
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val factory = new SimpleGroupFactory(schema)
    try rowsUs.foreach { case (id, us, uid, typ, v, props) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L) // µs → ns, exact
      g.add("user_id", uid)
      g.add("event_type", typ)
      g.add("value", v)
      g.add("props", props)
      writer.write(g)
    } finally writer.close()
    dir
  }

  private lazy val dirs: Map[String, String] = Map(
    "micros_adjusted" -> writeMicrosAdjusted(),
    "micros_ntz" -> writeMicrosNtz(),
    "nanos" -> writeNanos())

  private val expectUs: Map[Long, Long] = rowsUs.map(r => r._1 -> r._2).toMap

  test("Tables.load yields identical µs instants in every encoding") {
    for ((enc, dir) <- dirs) {
      val got = Tables.events(spark, dir)
        .select(col("event_id"), Det.tsMicros(col("ts")).as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expectUs, s"encoding=$enc")
    }
  }

  test("watermark + literal scan agree across encodings and stay pushed") {
    val wm = expectUs(3L) // watermark at row 3 → rows 4,5 pass
    for ((enc, dir) <- dirs) {
      val raw = Tables.eventsRaw(spark, dir)
      assert(River.watermarkMicros(raw.filter(col("event_id") <= 3), "ts")
        .contains(wm), s"encoding=$enc")
      val scan = River.scanPastWatermark(raw, "ts", wm)
      assert(scan.select("event_id").collect().map(_.getLong(0)).toSet
        == Set(4L, 5L), s"encoding=$enc")
      val plan = scan.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      assert(pushed.contains("GreaterThanOrEqual(ts,"),
        s"encoding=$enc pushed=[$pushed]\n$plan")
    }
  }

  test("hbasesim decodes identical ts_us in every encoding (incl. footer stats)") {
    for ((enc, dir) <- dirs) {
      val src = spark.read.format("hbasesim")
        .option("path", s"$dir/events.parquet").load()
      val got = src.select("event_id", "ts_us")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expectUs, s"encoding=$enc")
      // footer-stats watermark (zero row reads) must use the same unit
      val agg = src.agg(max(col("ts_us")), min(col("ts_us")), count(lit(1))).head()
      assert(agg.getLong(0) == expectUs(5L) && agg.getLong(1) == expectUs(1L)
        && agg.getLong(2) == 5L, s"encoding=$enc agg=$agg")
      // minStamp filter (row-group pruning + per-row filter) in µs
      val past = src.filter(col("ts_us") > expectUs(3L))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(past == Set(4L, 5L), s"encoding=$enc")
    }
  }

  test("hbasesim handles a MIXED-encoding directory (per-file dispatch)") {
    // a table whose files were written in different eras: one µs-NTZ
    // part, one ns part — the unit must resolve per FILE, so rows 1-3
    // (ns file) and 4-5 (µs file) all decode to the same µs instants
    val dir = Files.createTempDirectory("graft-enc-mixed").toString
    val table = s"$dir/events.parquet"
    new java.io.File(table).mkdirs()
    // part 1: rows 1-3 in TIMESTAMP(NANOS) via parquet-mr
    val nsSchema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(s"$table/part-ns.parquet"))
      .withType(nsSchema).build()
    val factory = new SimpleGroupFactory(nsSchema)
    try rowsUs.take(3).foreach { case (id, us, uid, typ, v, props) =>
      val g = factory.newGroup()
      g.add("event_id", id); g.add("ts", us * 1000L); g.add("user_id", uid)
      g.add("event_type", typ); g.add("value", v); g.add("props", props)
      writer.write(g)
    } finally writer.close()
    // part 2: rows 4-5 in µs NTZ via Spark
    base.filter(col("event_id") > 3)
      .withColumn("ts", timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      .drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(table)
    val got = spark.read.format("hbasesim").option("path", table).load()
      .select("event_id", "ts_us")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expectUs)
    // footer-stats watermark across the mixed files is still exact
    val agg = spark.read.format("hbasesim").option("path", table).load()
      .agg(max(col("ts_us")), min(col("ts_us"))).head()
    assert(agg.getLong(0) == expectUs(5L) && agg.getLong(1) == expectUs(1L))
  }

  test("hbasesim rejects an INT96 ts instead of decoding it wrong") {
    val dir = Files.createTempDirectory("graft-enc-int96").toString
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      base.withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val e = intercept[Exception] {
      spark.read.format("hbasesim").option("path", s"$dir/events.parquet")
        .load().agg(max(col("ts_us"))).head()
    }
    assert(e.getMessage != null && e.getMessage.contains("INT64"),
      s"expected the INT64 requirement in: ${e.getMessage}")
  }
}
