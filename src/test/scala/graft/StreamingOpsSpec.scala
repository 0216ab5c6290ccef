package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.river.StreamingRiver

/** Streaming dedup + sessionization twins of the batch operators. */
class StreamingOpsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming dedup emits each key once (matches batch distinct)") {
    val events = Tables.events(spark, sfDir).cache()
    val src = tmp("dedup-src")
    // duplicate the stream: every event appears twice across two files
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)

    val got = StreamingRiver.toMemory(
      StreamingRiver.streamingDedup(stream, Seq("event_id"), "10 seconds"),
      "append", "dstream", tmp("dedup-ckpt"))
    assert(got.select("event_id").distinct().count() == got.count(),
      "a key was emitted more than once")
    assert(got.count() == events.count(),
      "every distinct key must survive the dedup")
  }

  test("streaming percolation emits exactly the batch percolator's matches") {
    import graft.text.BoolDsl
    import graft.text.BoolDsl._
    val docs = Tables.documents(spark, sfDir)
    val src = tmp("perc-src")
    // three files → three micro-batches
    (0 until 3).foreach(b =>
      docs.filter(col("doc_id") % 3 === b)
        .write.mode("append").parquet(src))
    val stream = spark.readStream.schema(docs.schema).parquet(src)
    val queries = Seq(
      "alert1" -> Bool(must = Seq(MatchQ("hash")),
        filter = Seq(RangeQ("n_chars", gte = Some(200)))),
      "alert2" -> Bool(should = Seq(MatchQ("join"), MatchQ("vector")),
        filter = Seq(TermQ("lang", "en")), minimumShouldMatch = 1))
    val got = StreamingRiver.toMemory(StreamingRiver.streamingPercolate(stream, queries),
      "append", "perc_stream", tmp("perc-ckpt"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = BoolDsl.percolateDsl(docs, queries)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batch && got.nonEmpty,
      "streamed matches must equal the batch percolator exactly")
  }

  test("streaming release gate: released fingerprints and redactions " +
      "equal the batch recompute (r15)") {
    import graft.pipeline.Pipeline
    import graft.text.TextOps
    val docs = Tables.documents(spark, sfDir)
    val src = tmp("gate-src")
    (0 until 3).foreach(b =>
      docs.filter(col("doc_id") % 3 === b)
        .write.mode("append").parquet(src))
    val stream = spark.readStream.schema(docs.schema).parquet(src)
    val bench = docs.filter(col("source").isin("src0", "src1"))
      .select(explode(array_distinct(Pipeline.wordNgrams(col("text"), 4))).as("gram"))
      .distinct()
    val got = StreamingRiver.toMemory(StreamingRiver.streamingReleaseGate(stream, bench, 4),
      "append", "gate_stream", tmp("gate-ckpt"))
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    // batch recompute with the same shared stages; keeper identity is
    // arrival-order in the stream, so compare at fingerprint grain
    val want = docs
      .filter(Pipeline.qualityPassCol)
      .crossJoin(broadcast(bench.agg(collect_set(col("gram")).as("bg"))))
      .filter(!arrays_overlap(
        array_distinct(Pipeline.wordNgrams(col("text"), 4)), col("bg")))
      .select(TextOps.fingerprintCol(col("text")).as("fp"),
        Pipeline.redactedCol.as("red"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    // fingerprint sets equal; each released redaction is one of the
    // batch redactions of its fingerprint group (keeper-independent)
    val wantByFp = want.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == wantByFp.keySet,
      s"released set diverges: ${got.size} vs ${wantByFp.size}")
    got.foreach { case (fp, red) =>
      assert(wantByFp(fp).contains(red), s"redaction not in batch set: $fp") }
    assert(got.nonEmpty, "the gate must release something at this SF")
    // the gate genuinely gates: something was dropped from the corpus
    assert(got.size < docs.count(), "no doc was filtered or deduped")
  }

  test("streaming importance resampler: streamed verdicts equal the " +
      "batch frozen form, which equals the full operator when the " +
      "frozen model IS the corpus model (r18)") {
    import graft.pipeline.Pipeline
    val docs = Tables.documents(spark, sfDir)
    val tgt = Seq("src0", "src1")
    // freeze the model exactly as the batch operator derives it
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val tokd = docs.select(col("source"), explode(toks).as("w"))
    val ct = tokd.filter(col("source").isin(tgt: _*))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ca = tokd.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (tT, tA) = (ct.values.sum, ca.values.sum)
    val src = tmp("resample-src")
    (0 until 3).foreach(b =>
      docs.filter(col("doc_id") % 3 === b)
        .write.mode("append").parquet(src))
    val stream = spark.readStream.schema(docs.schema).parquet(src)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(StreamingRiver.toMemory(
      StreamingRiver.streamingResample(stream, tgt, ct, ca, tT, tA),
      "append", "resample_stream", tmp("resample-ckpt")))
    val frozen = rows(Pipeline.importanceResampleFrozen(docs, tgt, ct, ca, tT, tA))
    val full = rows(Pipeline.importanceResample(docs, tgt))
    assert(streamed == frozen, "streamed verdicts must equal the batch frozen form")
    assert(frozen == full,
      "frozen form must equal the full operator under the corpus model")
    assert(streamed.nonEmpty && streamed.size < docs.count(),
      "the resampler must accept some docs and reject others at this SF")
  }

  test("streaming mask planner: streamed plans equal the batch " +
      "recompute exactly (r15)") {
    import graft.pipeline.Pipeline
    val docs = Tables.documents(spark, sfDir)
    val src = tmp("plan-src")
    (0 until 3).foreach(b =>
      docs.filter(col("doc_id") % 3 === b)
        .write.mode("append").parquet(src))
    val stream = spark.readStream.schema(docs.schema).parquet(src)
    val got = StreamingRiver.toMemory(StreamingRiver.streamingMaskPlanner(stream),
      "append", "plan_stream", tmp("plan-ckpt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Pipeline.spanCorruption(docs.filter(Pipeline.qualityPassCol))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == batch && got.nonEmpty,
      "streamed plans must equal the batch planner exactly")
  }

  test("trending terms: streamed windowed counts equal the batch recompute") {
    val docs = Tables.documents(spark, sfDir)
    // deterministic synthetic timestamps: one doc per minute
    val stamped = docs.withColumn("ts",
      timestamp_micros(col("doc_id") * 60L * 1000000L))
    val src = tmp("trend-src")
    (0 until 3).foreach(b =>
      stamped.filter(col("doc_id") % 3 === b).write.mode("append").parquet(src))
    val stream = spark.readStream.schema(stamped.schema).parquet(src)
    val got = StreamingRiver.toMemory(
      StreamingRiver.trendingTerms(stream, "10 minutes", "10 seconds"),
      "complete", "trend_stream", tmp("trend-ckpt"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    val batch = stamped
      .select(col("ts"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(window(col("ts"), "10 minutes"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("term"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    assert(got == batch && got.nonEmpty)
    assert(got.keys.map(_._1).toSet.size > 1, "must produce multiple windows")
  }

  test("stream-stream interval join matches the batch interval join") {
    val events = Tables.events(spark, sfDir).cache()
    val src = tmp("ij-src")
    events.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)

    val streamed = StreamingRiver.toMemory(
        StreamingRiver.intervalJoin(stream, "purchase", "click", 600L, "10 seconds"),
        "append", "ijstream", tmp("ij-ckpt"))
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val batch = StreamingRiver.intervalJoin(events, "purchase", "click", 600L, "10 seconds")
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("declared sink schema (customMapping analogue) is enforced at upsert") {
    import graft.river.{River, RiverConfig, StreamingRiver}
    val events = Tables.events(spark, sfDir).cache()
    val sink = tmp("map-sink") + "/index"
    val cfg = RiverConfig(sourcePath = "", sinkPath = sink, keyCol = "user_id",
      sinkSchemaDdl = Some("user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"))
    StreamingRiver.upsertBatch(events, cfg, "event_id")
    val idx = spark.read.parquet(sink)
    assert(idx.columns.toSeq == Seq("user_id", "ts", "event_id", "value"),
      s"sink schema not the declared one: ${idx.columns.toSeq}")
    val expect = River.latestPerKey(events, "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = idx.select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("streaming session windows match batch session_window counts") {
    val events = Tables.events(spark, sfDir).cache()
    val src = tmp("sess-src")
    events.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)

    val streamed = StreamingRiver.toMemory(
        StreamingRiver.sessionWindows(stream, "30 minutes", "10 seconds"),
        "complete", "sstream", tmp("sess-ckpt"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) -> r.getLong(3))
      .toMap

    val batch = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start"),
        col("session_window.end"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) -> r.getLong(3))
      .toMap

    assert(streamed == batch)
    assert(batch.nonEmpty)
    // sanity: session count per user matches the lag-based sessionizer
    val viaLag = graft.operators.Analytics.sessionize(events, 1800000000L)
      .agg(sum("n_sessions")).head().getLong(0)
    assert(batch.size.toLong == viaLag)
  }

  test("streaming anomalies: pre-batch gauge flags outliers, replayed exactly by a plain replica") {
    import spark.implicits._
    val src = tmp("anom-src")
    // batch 1: baseline for 'click' (no flags possible — cold start);
    // batch 2: one outlier + one in-band event, plus a cold-start key
    val b1 = Seq(
      ("click", 1L, 10.00), ("click", 2L, 10.10), ("click", 3L, 9.90),
      ("click", 4L, 10.05), ("click", 5L, 9.95))
    val b2 = Seq(
      ("click", 6L, 99.00),  // outlier vs batch-1 gauge
      ("click", 7L, 10.02),  // in-band
      ("view", 8L, 500.0))   // cold-start key: never flagged
    Seq(b1, b2).foreach(b =>
      b.toDF("event_type", "event_id", "value")
        .coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream
      .schema(b1.toDF("event_type", "event_id", "value").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val got = StreamingRiver.toMemory(StreamingRiver.anomalies(stream, 3.0, 5L),
        "append", "anomstream", tmp("anom-ckpt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet

    // plain replica of the documented semantics over the two batches
    val cents1 = b1.map(x => math.round(x._3 * 100))
    val n = cents1.size.toLong
    val meanC = cents1.sum.toDouble / n
    val varC = (cents1.map(c => c * c).sum.toDouble -
      cents1.sum.toDouble * cents1.sum.toDouble / n) / n
    val stdC = math.sqrt(varC)
    val want = b2.filter(_._1 == "click")
      .filter(e => math.abs(math.round(e._3 * 100).toDouble - meanC) > 3.0 * stdC)
      .map(e => (e._1, e._2, e._3, meanC / 100.0, stdC / 100.0)).toSet
    assert(want.map(_._2) == Set(6L), "replica sanity: exactly the outlier")
    assert(got == want, s"got=$got want=$want")
  }
}
