package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SparkEntry, Tables, Verify}
import graft.dedup.{Dedup, MinHash}
import graft.pipeline.Pipeline
import graft.river.{RiverConfig, StreamingRiver}

/** The benchmark's JVM side: drives one workload through the library's
  * public entry points and records what it timed.
  *
  * Usage: `Main key=value ...` with `workload` (river_ingest |
  * es_query_mix | corpus_release), `work` (the run's work directory,
  * already holding the generated inputs), `cores`, `seconds` (length of
  * the timed phase) and `trace` (0 | 1). Writes `result.json` (one record
  * per operation) and, when tracing, `trace.jsonl` (spans and counts)
  * into `work`. Scoring and correctness checks happen in `run.py`.
  *
  * Closed loop, one client thread: the next operation starts when the
  * previous one has returned. With `trace=1` traced and untraced
  * operations interleave over the same state (every other river cycle
  * or release; each ES query twice in a row, once with the listeners
  * attached), so their difference is the tracing overhead.
  * `fail_first_timed=1` makes the first timed operation throw, to test
  * the failure accounting. */
object Main {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Run(var spark: SparkSession, val args: Map[String, String]) {
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val tracing: Boolean = args("trace") == "1"
    val trace = new Trace(spark)
    val ops = ArrayBuffer.empty[String]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var firstTimedMs: Double = -1
    private var nOps = 0
    private var failNextTimed = args.get("fail_first_timed").contains("1")

    /** Run one operation; `body` returns extra fields for its record. */
    def op(phase: String, name: String, group: String, traced: Boolean = false)(
        body: Int => Seq[(String, Any)]): Unit = {
      val id = nextId()
      val t = traced && tracing
      if (t) trace.attach()
      if (phase == "timed" && firstTimedMs < 0) firstTimedMs = nowMs
      val start = nowMs
      val (extra, err) =
        try {
          if (phase == "timed" && failNextTimed) {
            failNextTimed = false
            sys.error("injected failure")
          }
          (body(id), "")
        }
        catch { case e: Throwable => (Seq.empty, String.valueOf(e.getMessage).take(300)) }
      val end = nowMs
      if (t) {
        trace.span("operation", name, id, start, end)
        trace.detach()
      }
      record(id, phase, name, group, start, end, t, err, extra)
    }

    def record(id: Int, phase: String, name: String, group: String, start: Double,
        end: Double, traced: Boolean, err: String, extra: Seq[(String, Any)]): Unit =
      ops += Json.obj(Seq("i" -> id, "phase" -> phase, "name" -> name, "group" -> group,
        "start" -> start, "end" -> end, "traced" -> traced, "ok" -> err.isEmpty,
        "error" -> err) ++ extra: _*)

    def nextId(): Int = { nOps += 1; nOps - 1 }

    /** Closed loop: run `step` until `secs` have elapsed (the step
      * decides how much one iteration does, and returns false, doing
      * nothing, when its inputs have run out); at least once, and when
      * tracing at least `traceMin` times (two, so that one traced and
      * one untraced iteration exist). Running out of inputs early is
      * recorded as `input_exhausted`. */
    def timedLoop(secs: Double = seconds, traceMin: Int = 2)(step: Int => Boolean): Unit = {
      val until = nowMs + secs * 1000
      val atLeast = if (tracing) traceMin else 1
      def wanted(i: Int) = i < atLeast || nowMs < until
      var i = 0
      while (wanted(i) && step(i)) i += 1
      if (wanted(i)) info("input_exhausted") = true
    }

    /** With tracing on: restart the session at local[1] (same JVM, so
      * code stays compiled) and run `step` for half the run length, at
      * least once; the speedup is the untraced timed throughput over
      * this one. */
    def singleCoreBaseline(step: Int => Boolean): Unit = if (tracing) {
      spark.stop()
      spark = session(1, work)
      timedLoop(seconds / 2, traceMin = 1)(step)
    }

    def write(): Unit = {
      info("peak_rss_kb") = peakRssKb()
      info("first_timed_ms") = firstTimedMs
      val body = Json.obj("info" -> info.toMap).dropRight(1) +
        ",\"ops\":[" + ops.mkString(",") + "]}"
      Files.writeString(Paths.get(work, "result.json"), body)
      if (tracing) trace.dump(s"$work/trace.jsonl")
    }
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val run = new Run(session(a("cores").toInt, a("work")), a)
    run.spark.sparkContext.setLogLevel("ERROR")
    try a("workload") match {
      case "river_ingest" => RiverIngest.run(run)
      case "es_query_mix" => EsQueryMix.run(run)
      case "corpus_release" => CorpusRelease.run(run)
      case w => sys.error(s"unknown workload $w")
    } finally {
      run.write()
      run.spark.stop()
    }
  }

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** The registry's DuckDB oracle SQL for `names`, as `oracle.json`. */
  def writeOracles(work: String, names: Seq[String]): Unit =
    Files.writeString(Paths.get(work, "oracle.json"),
      Json.value(names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))

  def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName)
}

/** river_ingest: the poll loop. Each cycle lands one slice file in the
  * source directory and runs one `AvailableNow` import into a bucketed
  * parquet index. */
object RiverIngest {
  import Main.{nowMs, listFiles}

  def run(r: Main.Run): Unit = {
    val buckets = r.args("buckets").toInt
    val w = r.work
    val staged = new File(s"$w/staged")
    val backfill = listFiles(staged).filter(_.getName.startsWith("backfill"))
    val schema = r.spark.read.parquet(backfill.head.getPath).schema
    val landing = s"$w/river/landing"
    val index = s"$w/river/index"
    Files.createDirectories(Paths.get(landing))
    // Index listings and file footers are read outside the operation's
    // window, so the per-layer figures of a traced cycle cover only the
    // landing and the import.
    def cycle(tag: String, files: Seq[File], phase: String, traced: Boolean): Unit = {
      val t = traced && r.tracing
      val before = if (t) bucketFiles(index) else Map.empty[String, Set[(String, Long)]]
      val rowsIn = files.map(f => parquetRows(f.getPath)).sum
      val bytesIn = files.map(_.length).sum
      var (opId, call, done) = (-1, 0.0, 0.0)
      var prog = Seq.empty[StreamingQueryProgress]
      r.op(phase, tag, "river", traced) { id =>
        opId = id
        val landed = nowMs
        files.foreach(f => Files.move(f.toPath, Paths.get(landing, f.getName),
          StandardCopyOption.ATOMIC_MOVE))
        call = nowMs
        val q = StreamingRiver.run(r.spark.readStream.schema(schema).parquet(landing),
          RiverConfig(sourcePath = landing, sinkPath = index, keyCol = "user_id"),
          s"$w/river/ckpt", sinkBuckets = buckets)
        q.awaitTermination()
        done = nowMs
        prog = q.recentProgress.toSeq
        Seq("landed" -> landed, "visible" -> done, "rows" -> rowsIn)
      }
      if (t && done > 0) {
        r.trace.span("library_call", "StreamingRiver.run", opId, call, done)
        val trig = prog.map { p =>
          val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
          (t0, d)
        }
        trig.headOption.foreach { case (t0, _) =>
          r.trace.span("stream_start", "stream_start", opId, call, t0) }
        trig.foreach { case (t0, d) =>
          val te = t0 + d.getOrElse("triggerExecution", 0L)
          r.trace.span("trigger", "trigger", opId, t0, te, d.toSeq.map { case (k, v) => s"d_$k" -> v }: _*)
          val wal = d.getOrElse("walCommit", 0L)
          val add = d.getOrElse("addBatch", 0L)
          r.trace.span("addBatch", "addBatch", opId, te - wal - add, te - wal)
        }
        val lastEnd = trig.lastOption.map { case (t0, d) => t0 + d.getOrElse("triggerExecution", 0L) }
        val after = bucketFiles(index)
        val touched = after.keys.filter(b => after.get(b) != before.get(b)).toSeq
        val written = touched.flatMap(after(_))
        val rowsRewritten = touched.flatMap(b => after(b).map(f => parquetRows(s"$index/$b/${f._1}"))).sum
        r.trace.add(Json.obj("k" -> "river_cycle", "op" -> opId,
          "start_ms" -> trig.headOption.map(_._1 - call).getOrElse(0.0),
          "stop_ms" -> lastEnd.map(done - _).getOrElse(0.0),
          "touched_buckets" -> touched.size, "buckets" -> buckets,
          "bytes_written" -> written.map(_._2).sum, "bytes_in" -> bytesIn,
          "rows_rewritten" -> rowsRewritten, "rows_in" -> rowsIn))
      }
    }

    // the reference's initial run: a bulk import into an empty index,
    // on a cold JVM like a first deployment
    cycle("backfill", backfill, "backfill", traced = false)
    val slices = listFiles(staged).filter(_.getName.startsWith("slice"))
    val nWarm = r.args("warmup").toInt
    slices.take(nWarm).foreach(f => cycle("warmup", Seq(f), "warmup", traced = false))
    val timed = slices.drop(nWarm)
    var next = 0
    def step(phase: String)(i: Int): Boolean = next < timed.size && {
      cycle("cycle", Seq(timed(next)), phase, traced = phase == "timed" && i % 2 == 0)
      next += 1
      true
    }
    r.timedLoop()(step("timed"))
    r.singleCoreBaseline(step("baseline"))
    r.info("index") = index
    r.info("landing") = landing
  }

  /** kbucket directory → set of (file name, bytes) of its parquet parts. */
  def bucketFiles(index: String): Map[String, Set[(String, Long)]] =
    listFiles(new File(index)).filter(_.getName.startsWith("kbucket=")).map { d =>
      d.getName -> listFiles(d).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length).toSet
    }.toMap

  def parquetRows(path: String): Long = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path),
      new org.apache.hadoop.conf.Configuration()))
    try rd.getRecordCount finally rd.close()
  }
}

/** es_query_mix: a seeded sequence of registry queries, each built
  * through `SparkEntry.queries` and written to the `noop` sink. */
object EsQueryMix {
  val modules: Map[String, Seq[String]] = Map(
    "operators" -> Seq("q_terms_facet", "q_date_histogram", "q_percentile_facet",
      "q_composite_agg", "q_cardinality", "q_top_hits", "q1_pricing_summary",
      "q_geo_distance", "q_nested_match"),
    "text" -> Seq("text_bm25", "text_match_query", "q_bool_dsl", "q_query_string",
      "q_multi_match", "text_phrase_match"),
    "similarity" -> Seq("ann_bruteforce_topk"),
    "sources.hbasesim" -> Seq("hbase_source_scan", "hbase_source_page"),
    "river" -> Seq("river_incremental_scan"))
  val moduleOf: Map[String, String] = for ((m, qs) <- modules; q <- qs) yield q -> m

  def run(r: Main.Run): Unit = {
    val dir = s"${r.work}/es"
    val passes = Files.readAllLines(Paths.get(r.work, "sequence.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    warmup(r, dir, passes.head.distinct.sorted)
    Main.writeOracles(r.work, passes.head.distinct)
    def query(phase: String, q: String, traced: Boolean = false): Unit =
      r.op(phase, q, moduleOf(q), traced) { id =>
        val t0 = Main.nowMs
        val df = SparkEntry.queries(q)(r.spark, dir)
        val t1 = Main.nowMs
        df.write.format("noop").mode("overwrite").save()
        val t2 = Main.nowMs
        if (traced && r.tracing) {
          r.trace.span("library_call", "SparkEntry.queries", id, t0, t1)
          r.trace.span("action", "noop_write", id, t1, t2)
        }
        Seq("build_ms" -> (t1 - t0))
      }
    // and each once more, sequentially, so the JIT settles before timing
    (0 until r.args("warm_passes").toInt).foreach(_ => passes.head.distinct.foreach(query("warmup", _)))
    // The timed loop runs whole passes, continuing after the pass the
    // warm-up used: every run times the same multiset of queries, so its
    // figures do not depend on where the clock stopped in the mix. A
    // traced run runs each query twice in a row, traced and untraced
    // (which goes first alternates), so the tracing overhead compares
    // like with like.
    val timed = passes.tail
    var next = 0
    def step(phase: String)(i: Int): Boolean = next < timed.size && {
      timed(next).zipWithIndex.foreach { case (q, j) =>
        if (phase == "timed" && r.tracing) {
          query(phase, q, traced = j % 2 == 0)
          query(phase, q, traced = j % 2 == 1)
        } else query(phase, q)
      }
      next += 1
      true
    }
    r.timedLoop(traceMin = 1)(step("timed"))
    r.singleCoreBaseline(step("baseline"))
  }

  /** Untimed warm-up: every distinct query once, on one thread per core,
    * its output written as parquet for the oracle comparison. */
  private def warmup(r: Main.Run, dir: String, names: Seq[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      r.spark.sparkContext.defaultParallelism)
    val runs = names.map { q =>
      val id = r.nextId()
      q -> id -> pool.submit(new java.util.concurrent.Callable[(Double, Double, String)] {
        def call(): (Double, Double, String) = {
          val t0 = Main.nowMs
          val err = try {
            Verify.normalizeOutput(SparkEntry.queries(q)(r.spark, dir))
              .coalesce(1).write.mode("overwrite").parquet(s"${r.work}/out/$q")
            ""
          } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
          (t0, Main.nowMs, err)
        }
      })
    }
    runs.foreach { case ((q, id), f) =>
      val (t0, t1, err) = f.get()
      r.record(id, "warmup", q, moduleOf(q), t0, t1, traced = false, err, Seq.empty)
    }
    pool.shutdown()
  }
}

/** corpus_release: one `Pipeline.releaseManifestV3` per operation over a
  * generated corpus, via the registry entry `pipe_release_manifest_v3`
  * (which adds the registry's deterministic PII strings first). */
object CorpusRelease {
  val entry = "pipe_release_manifest_v3"
  val benchSources = Seq("src0", "src1")

  def run(r: Main.Run): Unit = {
    val dir = s"${r.work}/corpus"
    r.op("warmup", entry, "pipeline") { _ =>
      SparkEntry.queries(entry)(r.spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"${r.work}/out/$entry")
      Seq.empty
    }
    Main.writeOracles(r.work, Seq(entry))
    def step(phase: String)(i: Int): Boolean = {
      val traced = phase == "timed" && i % 2 == 0
      r.op(phase, entry, "pipeline", traced) { id =>
        val t0 = Main.nowMs
        val m = SparkEntry.queries(entry)(r.spark, dir)
        val t1 = Main.nowMs
        m.write.format("noop").mode("overwrite").save()
        if (traced && r.tracing)
          r.trace.span("library_call", "Pipeline.releaseManifestV3", id, t0, t1)
        Seq.empty
      }
      true
    }
    r.timedLoop()(step("timed"))
    if (r.tracing) stages(r, dir)
    r.singleCoreBaseline(step("baseline"))
  }

  /** Each stage function of the v3 chain alone on the same input,
    * materialised; times and counts land in `info`. */
  private def stages(r: Main.Run, dir: String): Unit = {
    val spark = r.spark
    val sc = spark.sparkContext
    // the registry entry's input: documents plus its fixed PII strings
    val docs = Tables.documents(spark, dir).withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" call 555-867-5309 today")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789 on file")).otherwise(lit(""))))
    val emb = Tables.embeddings(spark, dir)
    def timed[T](name: String)(f: => T): T = {
      sc.setJobGroup(name, name)
      val t0 = Main.nowMs
      val out = f
      r.info(s"$name.s") = (Main.nowMs - t0) / 1000
      r.info(s"$name.jobs") = sc.statusTracker.getJobIdsForGroup(name).length
      sc.clearJobGroup()
      out
    }
    val fp = timed("pipeline.fingerprint_keepers")(
      Pipeline.fingerprintKeepers(docs, benchSources).localCheckpoint())
    val pairs = timed("dedup.minhash_pairs")(
      MinHash.nearDupPairs(fp, n = 3, numHashes = 32, bands = 16, tau = 0.8).localCheckpoint())
    val shingles = fp.withColumn("th", MinHash.tokenHashes(col("text")))
      .select(col("doc_id"), MinHash.shinglesFromTokenHashes(col("th"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    r.info("dedup.minhash_candidates") = MinHash.candidatePairs(shingles, 32, 16).count()
    r.info("dedup.minhash_confirmed") = pairs.count()
    val labels = timed("dedup.clusters")(
      Dedup.nearDupClusters(pairs).withColumnRenamed("id", "doc_id").localCheckpoint())
    val strKeepers = fp.join(labels, Seq("doc_id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
      .drop("cluster").localCheckpoint()
    val keeperEmb = emb.select(col("vec_id"), col("embedding"))
      .join(strKeepers.select(col("doc_id").as("vec_id")), "vec_id")
    timed("dedup.semantic_pairs")(
      Dedup.embeddingNearDupAuto(keeperEmb, 0.45, ivfNprobe = 4).localCheckpoint())
    timed("pipeline.v3_keepers")(
      Pipeline.v3Keepers(docs, emb, benchSources, 0.8, 0.45))
    timed("pipeline.release_total")(
      Pipeline.releaseManifestV3(docs, emb, benchSources, 4, 0.2))
  }
}
