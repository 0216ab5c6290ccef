package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
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

  /** Jobs started by `body`, and the last physical plan Spark reported
    * for each SQL execution it ran. The listener bus is asynchronous, so
    * a marker job on each side of `body` is the handshake: once the
    * listener has seen a marker job start, every earlier event has been
    * delivered to it. */
  private def observe(body: => Unit): (Int, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val marker = "graft.spec.handshake"
    val jobs = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]
    val (started, ended) = (new CountDownLatch(1), new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
          case Some("start") => started.countDown()
          case Some(_) => ended.countDown()
          case None => if (started.getCount == 0) jobs.incrementAndGet(): Unit
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (started.getCount == 0) e match {
          case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
          case _ =>
        }
    }
    def handshake(phase: String, seen: CountDownLatch): Unit = {
      sc.setLocalProperty(marker, phase)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(seen.await(60, TimeUnit.SECONDS), s"listener missed the $phase marker")
    }
    sc.addSparkListener(listener)
    try {
      handshake("start", started)
      body
      handshake("end", ended)
    } finally sc.removeSparkListener(listener)
    (jobs.get, plans.values.asScala.toSeq)
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** An index of every event in `nBuckets` buckets, and a poll updating
    * three of its keys (newer ts, value + 1000). */
  private def bucketedIndex(prefix: String, nBuckets: Int): (RiverConfig, DataFrame, DataFrame) = {
    val sink = tmp(prefix) + "/index"
    val events = Tables.events(spark, sfDir)
    val cfg = RiverConfig(sourcePath = "n/a", sinkPath = sink, keyCol = "user_id")
    StreamingRiver.upsertBatchPartitioned(events, cfg, "event_id", nBuckets)
    val keys = events.select("user_id").distinct().orderBy("user_id").limit(3)
      .collect().map(_.getLong(0))
    val poll = events.filter(col("user_id").isin(keys.map(Long.box).toSeq: _*))
      .withColumn("value", col("value") + 1000.0)
      .withColumn("ts", (col("ts").cast("long") + 1000000000L).cast(events.schema("ts").dataType))
    (cfg, events, poll)
  }

  /** Every file under `dir`, hidden ones included: relative path → md5. */
  private def fileBytes(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString -> java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap finally walk.close()
  }

  test("a partitioned poll onto a non-empty index runs 3 jobs") {
    val (cfg, _, poll) = bucketedIndex("river9-sink", 8)
    val (jobs, _) = observe(StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", 8))
    assert(jobs == 3, s"jobs per poll: $jobs")
  }

  test("a partitioned poll shuffles once, bucket-aligned, on min(nBuckets, cores) partitions") {
    val (cfg, _, poll) = bucketedIndex("river10-sink", 8)
    val (_, plans) = observe(StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", 8))
    val exchanges = plans.flatMap(nodes).filter(_.nodeName == "Exchange").map(_.simpleString)
    val parts = math.min(8, spark.sparkContext.defaultParallelism)
    assert(exchanges.size == 1, s"exchanges: $exchanges")
    assert(exchanges.head.startsWith("Exchange shufflepartitionidpassthrough(") &&
      exchanges.head.contains(s"), $parts), "), exchanges.head)
  }

  test("a partitioned poll writes one file per touched bucket") {
    // without AQE every shuffle runs at the shuffle-partition setting
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> conf.get(k))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "5")
    try onePerBucket() finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  private def onePerBucket(): Unit = {
    val nBuckets = 7
    val (cfg, events, poll) = bucketedIndex("river11-sink", nBuckets)
    def filesPerBucket(): Map[Int, Int] =
      new java.io.File(cfg.sinkPath).listFiles().filter(_.getName.startsWith("kbucket="))
        .map(d => d.getName.stripPrefix("kbucket=").toInt ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val full = filesPerBucket()
    assert(full.size > 1 && full.values.forall(_ == 1), full)
    val before = fileBytes(cfg.sinkPath)
    StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", nBuckets)
    val changed = fileBytes(cfg.sinkPath).keySet.diff(before.keySet)
      .map(p => "kbucket=(\\d+)".r.findFirstMatchIn(p).get.group(1).toInt)
    assert(changed.nonEmpty)
    val after = filesPerBucket()
    assert(changed.forall(after(_) == 1), after)
    val got = spark.read.parquet(cfg.sinkPath).select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = River.latestPerKey(events.unionByName(poll), "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("a poll onto an index whose files carry an extra column fails and writes nothing") {
    val sink = tmp("river12-sink") + "/index"
    val events = Tables.events(spark, sfDir)
    val cfg = RiverConfig(sourcePath = "n/a", sinkPath = sink, keyCol = "user_id")
    StreamingRiver.upsertBatchPartitioned(events.withColumn("extra", lit(1)), cfg, "event_id", 8)
    val before = fileBytes(sink)
    val e = intercept[AnalysisException] {
      StreamingRiver.upsertBatchPartitioned(events.limit(50), cfg, "event_id", 8)
    }
    assert(e.getMessage.contains("Cannot resolve column name \"extra\""), e.getMessage)
    assert(fileBytes(sink) == before)
  }

  test("a partitioned poll with another bucket count fails before it writes anything") {
    val (cfg, events, poll) = bucketedIndex("river13-sink", 8)
    val marker = new java.io.File(cfg.sinkPath, "_kbuckets_8")
    assert(marker.isFile && marker.length == 0)
    val before = fileBytes(cfg.sinkPath)
    for (n <- Seq(4, 16)) {
      val e = intercept[IllegalArgumentException] {
        StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", n)
      }
      assert(e.getMessage.contains("has 8 buckets") && e.getMessage.contains(s"uses $n"),
        e.getMessage)
      assert(fileBytes(cfg.sinkPath) == before, s"poll at $n changed the index")
    }
    // an index written before the marker: checked by its bucket directories
    assert(marker.delete())
    val legacy = fileBytes(cfg.sinkPath)
    val e = intercept[IllegalArgumentException] {
      StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", 4)
    }
    assert(e.getMessage.contains("more than the 4 buckets"), e.getMessage)
    assert(fileBytes(cfg.sinkPath) == legacy)
    StreamingRiver.upsertBatchPartitioned(poll, cfg, "event_id", 8)
    assert(marker.isFile)
    // a marker-less index at 4 buckets has no bucket >= 8, but its keys
    // sit in the wrong buckets for 8
    val (cfg4, _, poll4) = bucketedIndex("river14-sink", 4)
    assert(new java.io.File(cfg4.sinkPath, "_kbuckets_4").delete())
    val legacy4 = fileBytes(cfg4.sinkPath)
    val e4 = intercept[IllegalArgumentException] {
      StreamingRiver.upsertBatchPartitioned(poll4, cfg4, "event_id", 8)
    }
    assert(e4.getMessage.contains("written with another bucket count"), e4.getMessage)
    assert(fileBytes(cfg4.sinkPath) == legacy4)
    val got = spark.read.parquet(cfg.sinkPath).select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = River.latestPerKey(events.unionByName(poll), "user_id", "ts", "event_id")
      .select("user_id", "event_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
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
