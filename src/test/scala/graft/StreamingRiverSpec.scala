package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.river.{River, RiverConfig, StreamingRiver}

class StreamingRiverSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming upsert converges to the batch latest-per-key result") {
    val src = tmp("river-src")
    val sink = tmp("river-sink") + "/index"
    val ckpt = tmp("river-ckpt")
    val events = Tables.events(spark, sfDir).cache()

    // stage the events as files so readStream replays them as a stream
    events.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)

    val cfg = RiverConfig(sourcePath = src, sinkPath = sink, keyCol = "user_id")
    val q = StreamingRiver.run(stream, cfg, ckpt)
    q.awaitTermination()

    val streamed = spark.read.parquet(sink)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = River.latestPerKey(events, "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("incremental second run only adds newer rows (watermark semantics)") {
    val src = tmp("river2-src")
    val sink = tmp("river2-sink") + "/index"
    val ckpt = tmp("river2-ckpt")
    val events = Tables.events(spark, sfDir).cache()
    val cut = events.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)

    val old = events.filter(col("ts").cast("long") <= cut)
    val recent = events.filter(col("ts").cast("long") > cut)
    old.write.mode("overwrite").parquet(src)
    val schema = events.schema
    val cfg = RiverConfig(sourcePath = src, sinkPath = sink, keyCol = "user_id")

    StreamingRiver.run(spark.readStream.schema(schema).parquet(src), cfg, ckpt)
      .awaitTermination()
    val afterFirst = spark.read.parquet(sink).count()

    recent.write.mode("append").parquet(src)
    StreamingRiver.run(spark.readStream.schema(schema).parquet(src), cfg, ckpt)
      .awaitTermination()

    val finalIdx = spark.read.parquet(sink)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = River.latestPerKey(events, "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalIdx == expect)
    assert(afterFirst > 0)
  }

  test("partitioned upsert rewrites only touched buckets") {
    import org.apache.hadoop.fs.Path
    val sink = tmp("river5-sink") + "/index"
    val nBuckets = 8
    val events = Tables.events(spark, sfDir).cache()
    val cfg = RiverConfig(sourcePath = "n/a", sinkPath = sink, keyCol = "user_id")

    // batch 1: everything → full index across buckets
    StreamingRiver.upsertBatchPartitioned(events, cfg, "event_id", nBuckets)

    val fs = new Path(sink).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileState(): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(sink), true)
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          m += f.getPath.toString -> (f.getLen, f.getModificationTime)
      }
      m.toMap
    }
    val before = fileState()
    assert(before.nonEmpty)

    // batch 2: a handful of keys → only their buckets may change
    val spark2 = spark; import spark2.implicits._
    val someKeys = events.select("user_id").distinct().orderBy("user_id")
      .limit(3).as[Long].collect()
    val batch2 = events.filter(col("user_id").isin(someKeys.map(Long.box): _*))
      .withColumn("value", col("value") + 1000.0)
      .withColumn("ts", (col("ts").cast("long") + 1000000000L).cast(events.schema("ts").dataType))
    val touchedBuckets = batch2
      .select(pmod(hash(col("user_id")), lit(nBuckets)).as("b"))
      .distinct().as[Int].collect().toSet
    assert(touchedBuckets.size < nBuckets, "keys must not cover every bucket")
    StreamingRiver.upsertBatchPartitioned(batch2, cfg, "event_id", nBuckets)

    val after = fileState()
    def bucketOf(path: String): Int =
      "kbucket=(\\d+)".r.findFirstMatchIn(path).get.group(1).toInt
    // untouched buckets: identical file names, lengths, AND mtimes (not rewritten)
    val beforeUntouched = before.filter { case (p, _) => !touchedBuckets(bucketOf(p)) }
    val afterUntouched = after.filter { case (p, _) => !touchedBuckets(bucketOf(p)) }
    assert(beforeUntouched == afterUntouched)
    assert(beforeUntouched.nonEmpty)
    // touched buckets: rewritten (different files)
    assert(before.keySet.filter(p => touchedBuckets(bucketOf(p))) !=
      after.keySet.filter(p => touchedBuckets(bucketOf(p))))

    // content converges to the batch latest-per-key over (batch1 ∪ batch2)
    val got = spark.read.parquet(sink)
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    val expect = River.latestPerKey(
        events.unionByName(batch2), "user_id", "ts", "event_id")
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    assert(got == expect)
    // the updated keys actually carry batch-2 values
    someKeys.foreach(k => assert(got(k)._2 > 100000, s"key $k not updated: ${got(k)}"))
  }

  test("streaming run with a partitioned sink converges like the snapshot sink") {
    val src = tmp("river6-src")
    val sink = tmp("river6-sink") + "/index"
    val ckpt = tmp("river6-ckpt")
    val events = Tables.events(spark, sfDir).cache()
    events.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
    val cfg = RiverConfig(sourcePath = src, sinkPath = sink, keyCol = "user_id")
    StreamingRiver.run(stream, cfg, ckpt, sinkBuckets = 8).awaitTermination()

    val streamed = spark.read.parquet(sink)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = River.latestPerKey(events, "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("partitioned upsert restores and merges buckets a crash left renamed aside") {
    import org.apache.hadoop.fs.Path
    val sink = tmp("river7-sink") + "/index"
    val nBuckets = 8
    val events = Tables.events(spark, sfDir).cache()
    val cfg = RiverConfig(sourcePath = "n/a", sinkPath = sink, keyCol = "user_id")
    StreamingRiver.upsertBatchPartitioned(events, cfg, "event_id", nBuckets)

    val spark2 = spark; import spark2.implicits._
    val bucketOf = events
      .select(col("user_id"), pmod(hash(col("user_id")), lit(nBuckets)))
      .distinct().as[(Long, Int)].collect().toMap
    val buckets = bucketOf.values.toSeq.distinct.sorted
    assert(buckets.size >= 2)
    val (hit, miss) = (buckets(0), buckets(1))
    val hitKeys = bucketOf.collect { case (k, b) if b == hit => k }.toSeq.sorted
    assert(hitKeys.nonEmpty)
    // a crash after the rename-aside: both buckets survive only as backups
    val fs = new Path(sink).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(hit, miss).foreach { b =>
      assert(fs.rename(new Path(s"$sink/kbucket=$b"), new Path(s"$sink/.kbucket_old_$b")))
    }

    // the next poll updates one key of `hit` and does not touch `miss`
    val batch2 = events.filter(col("user_id") === hitKeys.head)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("ts", (col("ts").cast("long") + 1000000000L).cast(events.schema("ts").dataType))
    StreamingRiver.upsertBatchPartitioned(batch2, cfg, "event_id", nBuckets)

    val left = fs.listStatus(new Path(sink)).map(_.getPath.getName).toSet
    assert(left.contains(s"kbucket=$hit") && left.contains(s"kbucket=$miss"))
    assert(!left.exists(_.startsWith(".kbucket_old_")), s"backups left behind: $left")
    val got = spark.read.parquet(sink)
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    val expect = River.latestPerKey(
        events.unionByName(batch2), "user_id", "ts", "event_id")
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    assert(got == expect)
    assert(got(hitKeys.head)._2 > 100000)
  }

  test("repeat river polls compile no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val landing = tmp("river8-src")
    val sink = tmp("river8-sink") + "/index"
    val ckpt = tmp("river8-ckpt")
    val events = Tables.events(spark, sfDir).cache()
    val cfg = RiverConfig(sourcePath = landing, sinkPath = sink, keyCol = "user_id")
    val compiledPerPoll = (0 until 3).map { i =>
      // each poll picks up one newly landed file past the checkpoint
      events.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(landing)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamingRiver.run(spark.readStream.schema(events.schema).parquet(landing),
        cfg, ckpt, sinkBuckets = 8).awaitTermination()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiledPerPoll(2) == 0, s"classes compiled per poll: $compiledPerPoll")

    val streamed = spark.read.parquet(sink)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = River.latestPerKey(events, "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stateful latest-per-key (mapGroupsWithState) matches the batch operator") {
    val events = Tables.events(spark, sfDir).cache()
    val src = tmp("river4-src")
    val ckpt = tmp("river4-ckpt")
    // two stages of files → two micro-batch groups exercising state carry-over
    events.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(src)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    val streamed = StreamingRiver.runLatestToMemory(
        spark, stream, "user_id", "event_id", "lstream", ckpt)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val batch = graft.river.River.latestPerKey(events, "user_id", "ts", "event_id")
      .select(col("user_id"), graft.util.Det.tsMicros(col("ts")), col("event_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming windowed aggregation matches the batch twin") {
    val events = Tables.events(spark, sfDir)
    val ckpt = tmp("river3-ckpt")
    val src = tmp("river3-src")
    events.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)

    val streamed = StreamingRiver.runWindowedToMemory(
        spark, stream, "5 minutes", "wstream", ckpt)
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 100))).toMap

    val batch = events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 100))).toMap

    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming CDC tombstones: recency decides; live view equals batch replay") {
    val spark2 = spark; import spark2.implicits._
    // crafted recency fixture, applied as three micro-batches
    val sink = tmp("cdc-sink") + "/index"
    val cfg = RiverConfig(sourcePath = "unused", sinkPath = sink, keyCol = "user_id")
    def b(rows: (Long, Long, Long, Boolean)*) =
      rows.toSeq.toDF("user_id", "ts", "event_id", "deleted")
    StreamingRiver.upsertBatchWithDeletes(
      b((1L, 10L, 1L, false), (2L, 10L, 2L, false)), cfg, "event_id", "deleted")
    StreamingRiver.upsertBatchWithDeletes(
      b((1L, 5L, 3L, true),   // stale tombstone: must NOT delete key 1
        (2L, 15L, 4L, true),  // fresh tombstone: deletes key 2
        (3L, 12L, 5L, false),
        (4L, 15L, 6L, true)), cfg, "event_id", "deleted")
    StreamingRiver.upsertBatchWithDeletes(
      b((2L, 20L, 7L, false),  // reinsert after delete: key 2 returns
        (4L, 9L, 8L, false)),  // LATE OLD record: stored tombstone wins
      cfg, "event_id", "deleted")
    val live = StreamingRiver.liveIndex(spark, cfg, "deleted")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == Map(1L -> 1L, 2L -> 7L, 3L -> 5L))

    // full-stream convergence: streamed live view == batch latest-per-key
    // with tombstones filtered, on the real events with a derived flag
    val src = tmp("cdc-src")
    val sink2 = tmp("cdc-sink2") + "/index"
    val ckpt = tmp("cdc-ckpt")
    val changes = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("event_id") % 7 === 0).as("deleted"))
    changes.repartition(4).write.mode("overwrite").parquet(src)
    val cfg2 = RiverConfig(sourcePath = src, sinkPath = sink2, keyCol = "user_id")
    StreamingRiver.runWithDeletes(
      spark.readStream.schema(changes.schema).parquet(src), cfg2, ckpt,
      seqCol = "event_id", deleteCol = "deleted").awaitTermination()
    val streamedLive = StreamingRiver.liveIndex(spark, cfg2, "deleted")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val replay = River.latestPerKey(changes, "user_id", "ts", "event_id")
      .filter(!col("deleted"))
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedLive == replay)
    // the tombstones genuinely delete some keys at this SF
    val allKeys = River.latestPerKey(changes, "user_id", "ts", "event_id").count()
    assert(streamedLive.size < allKeys)
  }

  test("CDC upsert enforces the declared sink schema and keeps the delete flag") {
    import org.apache.spark.sql.types.{BooleanType, StructType}
    val sink = tmp("cdc-ddl-sink") + "/index"
    val ddl = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DECIMAL(12,2)"
    val cfg = RiverConfig(sourcePath = "unused", sinkPath = sink, keyCol = "user_id",
      sinkSchemaDdl = Some(ddl))
    val changes = Tables.events(spark, sfDir)
      .withColumn("deleted", col("event_id") % 7 === 0)
    StreamingRiver.upsertBatchWithDeletes(changes, cfg, "event_id", "deleted")

    val idx = spark.read.parquet(sink)
    val declared = StructType.fromDDL(ddl).add("deleted", BooleanType)
    assert(idx.schema.map(f => f.name -> f.dataType) ==
      declared.map(f => f.name -> f.dataType), s"index schema: ${idx.schema.simpleString}")
    val live = StreamingRiver.liveIndex(spark, cfg, "deleted")
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val replay = River.latestPerKey(changes, "user_id", "ts", "event_id")
      .filter(!col("deleted"))
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == replay)
  }
}
