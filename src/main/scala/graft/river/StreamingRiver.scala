package graft.river

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Structured Streaming form of the river (SURVEY §2 group 1): the
  * reference's poll loop (`HBaseParser.run:50` — scan past the
  * watermark every `interval`, bulk-index, repeat) becomes
  * `readStream → transform → foreachBatch upsert`, with Spark's
  * checkpointing replacing the hand-rolled `setMinTimestamp` watermark:
  * each micro-batch only ever sees new rows, exactly-once per batch id.
  *
  * The sink is a parquet "index": a snapshot holding the latest doc per
  * key (ES upsert semantics). `upsertBatch` merges a micro-batch into
  * it with one `latestPerKey` pass over `existing ∪ batch`; at scale
  * the same merge runs against a partitioned/bucketed index so only
  * touched partitions rewrite.
  */
object StreamingRiver {

  /** customMapping analogue: conform every batch to the declared sink
    * schema (project + cast) before merging, so the index's schema is
    * the declared one — not whatever the source scan inferred. `flag`
    * (the CDC delete column) is kept even when the DDL omits it. */
  private def conform(rawBatch: DataFrame, cfg: RiverConfig,
      flag: Option[String] = None): DataFrame =
    cfg.sinkSchemaDdl match {
      case Some(ddl) =>
        val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        rawBatch.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)) ++
          flag.filterNot(schema.fieldNames.contains).map(col): _*)
      case None => rawBatch
    }

  /** Merge one (micro-)batch into the parquet index, last write wins. */
  def upsertBatch(rawBatch: DataFrame, cfg: RiverConfig, seqCol: String): Unit =
    mergeSnapshot(conform(rawBatch, cfg), cfg, seqCol)

  /** CDC upsert with DELETE tombstones — the streaming twin of the
    * reference's delete-old step (HBaseRiver.java:176-180 removes
    * vanished keys; a change stream spells the same fact as delete
    * markers): rows whose `deleteCol` is true are tombstones, and
    * RECENCY decides — a tombstone deletes its key only while it is the
    * key's latest record; a stale tombstone arriving after a newer
    * upsert must not delete, and a reinsert after a delete restores.
    *
    * The index STORES tombstones (flag column intact): forgetting them
    * at merge would let a late-arriving older record resurrect a
    * deleted key. Readers go through [[liveIndex]] (filters the flag);
    * compacting tombstones older than the late-data horizon is the
    * maintenance step, exactly like any watermark. Same declared-schema
    * conform and crash discipline as [[upsertBatch]]. */
  def upsertBatchWithDeletes(batch: DataFrame, cfg: RiverConfig,
      seqCol: String, deleteCol: String): Unit = {
    require(batch.columns.contains(deleteCol), s"batch lacks $deleteCol")
    mergeSnapshot(conform(batch, cfg, Some(deleteCol)), cfg, seqCol)
  }

  /** One `latestPerKey` pass over `existing ∪ batch` into the snapshot
    * index. Crash-safe swap ([[IndexCommit]]): the new snapshot is fully
    * written to a staging dir, the old index is renamed aside to its
    * `__old` backup (never deleted while it is the only copy), the
    * staging becomes the index, then the backup is dropped — a restarted
    * batch re-merges from whichever copy survived. */
  private def mergeSnapshot(batch: DataFrame, cfg: RiverConfig, seqCol: String): Unit = {
    val spark = batch.sparkSession
    val index = new Path(cfg.sinkPath)
    val fs = IndexCommit.fileSystem(spark, cfg.sinkPath)
    val staging = new Path(cfg.sinkPath + "__staging")
    val old = new Path(cfg.sinkPath + "__old")
    IndexCommit.recover(fs, index, old, fs.exists(index), fs.exists(old))
    val merged =
      if (fs.exists(index))
        River.latestPerKey(readIndex(spark, index, index).unionByName(batch),
          cfg.keyCol, cfg.tsCol, seqCol)
      else River.latestPerKey(batch, cfg.keyCol, cfg.tsCol, seqCol)
    merged.write.mode("overwrite").parquet(staging.toString)
    IndexCommit.swapIn(fs, staging, index, old, fs.exists(index))
  }

  /** The parquet index at `root`, read with the Spark schema in the
    * footer of one parquet file of `sampleDir` (read on the driver) plus
    * the index's `partition` columns. With `mergeSchema` off, that is the
    * schema `spark.read.parquet` would infer from one footer, without the
    * inference job; with no footer to read it falls back to that path. */
  private def readIndex(spark: SparkSession, root: Path, sampleDir: Path,
      partition: Seq[StructField] = Nil): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    Try {
      val sample = sampleDir.getFileSystem(conf).listStatus(sampleDir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(sample, conf))
      val footer = try DataType.fromJson(rd.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
      finally rd.close()
      spark.read.schema(StructType(footer.fields ++ partition)).parquet(root.toString)
    }.getOrElse(spark.read.parquet(root.toString))
  }

  /** The live view of a tombstone-carrying index: rows whose delete
    * flag is false. The tombstones stay on disk (see
    * [[upsertBatchWithDeletes]]); this is the read every consumer
    * takes. */
  def liveIndex(spark: org.apache.spark.sql.SparkSession, cfg: RiverConfig,
      deleteCol: String): DataFrame =
    spark.read.parquet(cfg.sinkPath).filter(!col(deleteCol)).drop(deleteCol)

  /** Streaming CDC import with deletes: change stream → foreachBatch
    * tombstone-aware upsert ([[upsertBatchWithDeletes]]). */
  def runWithDeletes(changes: DataFrame, cfg: RiverConfig,
      checkpointDir: String, seqCol: String = "event_id",
      deleteCol: String = "deleted"): StreamingQuery =
    sink(changes, checkpointDir) { (batch, _) =>
      upsertBatchWithDeletes(batch, cfg, seqCol, deleteCol)
    }

  /** Partition-pruned upsert: the index is hash-partitioned on the key
    * (`kbucket=pmod(hash(key), nBuckets)` directories) and a micro-batch
    * rewrites ONLY the buckets its keys fall in — the reference's bulk
    * upsert touches only the batch's docs (HBaseParser.java:135-159);
    * here a batch touching 2 of 256 buckets reads and rewrites 2/256 of
    * the index instead of all of it. Untouched bucket directories are
    * not opened, not read, not rewritten — byte-identical after the
    * batch.
    *
    * The bucket count is part of the layout: a key's bucket moves when
    * it changes, and the stale copy in its old bucket would never be
    * read or removed. An empty `_kbuckets_<n>` file at the index root
    * records it, and a poll with any other count fails before it writes
    * anything. An index without the file passes if no bucket it holds is
    * out of range and every key of its highest bucket hashes to that
    * bucket at this count (one extra job, on that poll only), and then
    * gets one.
    *
    * Three jobs per poll: the touched bucket ids (no shuffle), the merge
    * shuffle and the rewrite. The merge runs on `parts =
    * min(nBuckets, defaultParallelism)` tasks, bucket `b` on task
    * `b mod parts`, so each touched bucket is written as one file (AQE
    * does not coalesce a shuffle with an explicit partition count). The
    * bucket is thus the unit of write parallelism: the merge keeps every
    * core busy only when the poll touches at least as many buckets as
    * there are cores, and a backfill into fewer buckets than cores is
    * slower than a key-hash shuffle.
    *
    * Crash-safe per-bucket swap: merged buckets are fully written to a
    * staging dir first, then each touched bucket is renamed aside (to a
    * dot-prefixed name Spark readers ignore) and replaced; at every
    * instant each bucket exists either under its live or its backup
    * name, and the next batch restores any backup a crash left behind.
    *
    * Scale: `touched` is bounded by nBuckets (driver-side metadata, not
    * data); the existing-side read prunes partitions via the kbucket
    * filter; the merge shuffles only touched-bucket rows; bucket state
    * comes from one directory listing, not per-bucket `exists` probes. */
  def upsertBatchPartitioned(rawBatch: DataFrame, cfg: RiverConfig,
      seqCol: String, nBuckets: Int = 32): Unit = {
    require(nBuckets > 0)
    val batch = conform(rawBatch, cfg)
    val spark = batch.sparkSession
    val index = new Path(cfg.sinkPath)
    val fs = IndexCommit.fileSystem(spark, cfg.sinkPath)
    def live(b: Int) = new Path(s"${cfg.sinkPath}/kbucket=$b")
    def bak(b: Int) = new Path(s"${cfg.sinkPath}/.kbucket_old_$b")
    def names(dir: Path): Set[String] =
      try fs.listStatus(dir).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    val listed = names(index)
    val marker = s"_kbuckets_$nBuckets"
    val counts = listed.collect { case BucketCount(n) => n.toInt }
    require(counts.forall(_ == nBuckets),
      s"index ${cfg.sinkPath} has ${counts.toSeq.sorted.mkString(", ")} buckets but this " +
        s"poll uses $nBuckets; a key's bucket depends on the count")
    val stray = listed.collect { case BucketDir(b) if b.toInt >= nBuckets => b.toInt }
    require(stray.isEmpty, s"index ${cfg.sinkPath} holds bucket ${stray.max}, " +
      s"so it has more than the $nBuckets buckets of this poll")
    (0 until nBuckets).foreach(b => IndexCommit.recover(fs, live(b), bak(b),
      listed(s"kbucket=$b"), listed(s".kbucket_old_$b")))
    val liveBuckets = (0 until nBuckets).filter(b =>
      listed(s"kbucket=$b") || listed(s".kbucket_old_$b")).toSet
    if (counts.isEmpty && liveBuckets.nonEmpty) {
      val b = liveBuckets.max
      require(readIndex(spark, live(b), live(b))
        .filter(pmod(hash(col(cfg.keyCol)), lit(nBuckets)) =!= b).isEmpty,
        s"index ${cfg.sinkPath} has no _kbuckets_<n> file and its bucket $b holds keys " +
          s"of other buckets at $nBuckets; it was written with another bucket count")
    }
    val bucketed = batch.withColumn("kbucket",
      pmod(hash(col(cfg.keyCol)), lit(nBuckets)))
    val touched = bucketed.select("kbucket").as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.sorted
    if (touched.isEmpty) return
    val both =
      if (liveBuckets.isEmpty) bucketed
      else {
        // sample the footer of a bucket this poll reads, if it reads any
        val sample = touched.find(liveBuckets).getOrElse(liveBuckets.min)
        // kbucket is a partition column → this filter prunes directories:
        // untouched buckets are never opened
        readIndex(spark, index, live(sample), Seq(bucketed.schema("kbucket")))
          .filter(col("kbucket").isin(touched.map(Integer.valueOf).toSeq: _*))
          .unionByName(bucketed)
      }
    // the window keeps the shuffle's partitioning: its extra columns are
    // functions of the key, so the winners are the same
    val parts = math.min(nBuckets, spark.sparkContext.defaultParallelism)
    val task = pmod(col("kbucket"), lit(parts))
    val merged = River.latestPerKey(both.repartitionById(parts, task),
      cfg.keyCol, cfg.tsCol, seqCol, within = Seq(col("kbucket"), task))
    val staging = new Path(cfg.sinkPath + "__staging")
    fs.delete(staging, true)
    merged.write.partitionBy("kbucket").mode("overwrite").parquet(staging.toString)
    fs.mkdirs(index)
    if (!listed(marker)) fs.create(new Path(index, marker)).close()
    val staged = names(staging)
    touched.filter(b => staged(s"kbucket=$b")).foreach(b =>
      IndexCommit.swapIn(fs, new Path(s"$staging/kbucket=$b"), live(b), bak(b), liveBuckets(b)))
    fs.delete(staging, true)
  }

  private val BucketCount = "_kbuckets_(\\d+)".r
  private val BucketDir = "\\.?kbucket(?:=|_old_)(\\d+)".r

  /** The library's one `foreachBatch` wiring: an AvailableNow query
    * over `stream`, checkpointed at `checkpointDir`, handing `f` each
    * micro-batch and its id — re-homed, zero-copy, into the session that
    * built the stream. Each query runs in a cloned session whose new
    * artifact state gives executors a new classloader, and Spark's
    * codegen cache is keyed by classloader, so without the re-home
    * every poll recompiles the same classes. Batch contents and
    * checkpoint semantics are unchanged; there is no switch for it. */
  def sink(stream: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val home = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        f(org.apache.spark.sql.graftglue.Glue.rehome(home, batch), id)
      }
      .start()
  }

  /** Run a streaming query over a bounded stream to its end into an
    * in-memory sink and return the sink's table: how the specs compare
    * each streaming twin below with its batch operator. */
  def toMemory(df: DataFrame, outputMode: String, queryName: String,
      checkpointDir: String): DataFrame = {
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("memory")
      .queryName(queryName)
      .start()
      .awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** The streaming import: events stream → normalize/project → upsert
    * into the index per micro-batch. */
  def run(events: DataFrame, cfg: RiverConfig, checkpointDir: String,
      seqCol: String = "event_id", sinkBuckets: Int = 0): StreamingQuery = {
    val projected = cfg.family match {
      case Some(f) => events.filter(col("event_type") === f)
      case None => events
    }
    // the merge orders by seqCol, so the projection keeps it
    val selected =
      if (cfg.qualifiers.nonEmpty)
        projected.select((cfg.keyCol +: cfg.tsCol +: seqCol +: cfg.qualifiers)
          .distinct.map(col): _*)
      else projected
    sink(selected, checkpointDir) { (batch, _) =>
      if (sinkBuckets > 0) upsertBatchPartitioned(batch, cfg, seqCol, sinkBuckets)
      else upsertBatch(batch, cfg, seqCol)
    }
  }

  /** Streaming tumbling-window aggregation with a watermark — the
    * streaming twin of Analytics.timeWindow (counts + sums per window ×
    * event_type), for the ES-side "date histogram facet" surface. */
  def windowedCounts(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** The latest observation per key, carried as explicit keyed state —
    * the `mapGroupsWithState` form of the upsert: each micro-batch
    * updates per-key state (ts, seq, value) with last-write-wins
    * semantics and emits the current winner. Spark's state store
    * persists it across batches (RocksDB-backed on a cluster), which is
    * how a continuously-running import keeps upsert state without
    * rewriting a snapshot per batch. */
  case class KeyedLatest(key: Long, ts_us: Long, seq: Long, value: Double)

  def latestPerKeyStateful(events: DataFrame, keyCol: String, seqCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col(keyCol).cast("long").as("key"),
      unix_micros(col("ts")).as("ts_us"),
      col(seqCol).cast("long").as("seq"),
      col("value").cast("double").as("value")).as[KeyedLatest]
    typed.groupByKey(_.key)
      .mapGroupsWithState[KeyedLatest, KeyedLatest](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[KeyedLatest], state: GroupState[KeyedLatest]) =>
          val best = (state.getOption.iterator ++ rows).maxBy(r => (r.ts_us, r.seq))
          state.update(best)
          best
      }.toDF()
  }

  /** Streaming exact dedup: drop repeats of a key within the watermark
    * horizon — the streaming twin of dedup_exact, with state that ages
    * out instead of growing forever (the property that keeps a
    * continuous 100 TB/day ingest's dedup state bounded). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming gap-based sessionization via session_window — the
    * streaming twin of Analytics.sessionize (same gap semantics,
    * watermark-bounded state, one session row per closed session). */
  def sessionWindows(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n_events"))

  /** Stream-stream interval join: each `leftType` event joined to the
    * same user's `rightType` events from the trailing `intervalSec`
    * seconds. Both sides carry watermarks and the join condition bounds
    * right.ts within [left.ts - interval, left.ts], so Spark can expire
    * buffered state — the join runs with bounded memory on an unbounded
    * stream (the 100 TB/day property). */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
      intervalSec: Long, watermark: String): DataFrame = {
    val left = events.filter(col("event_type") === leftType)
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"),
        col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    left.join(right,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $intervalSec SECONDS") &&
        col("r_ts") <= col("l_ts"))
  }

  /** Trending terms (round 13) — the streaming "what is being written
    * about RIGHT NOW" surface ES dashboards build from date_histogram +
    * terms: tumbling-window term counts over a timestamped doc stream,
    * watermarked so state ages out. Tokenization is a stateless narrow
    * explode; the windowed count is the only stateful op — partial
    * aggregation per micro-batch, state keyed (window, term). Ranking
    * happens on the BOUNDED per-window result at read time (top-k of a
    * window's vocabulary), not in the stateful operator. */
  def trendingTerms(docStream: DataFrame, windowLen: String,
      watermark: String): DataFrame =
    docStream
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(window(col("ts"), windowLen), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("term"), col("n"))

  /** Streaming percolation (round 13) — the canonical ES percolator
    * deployment: registered alert queries stand, DOCUMENTS stream past
    * them, each arriving doc emits its matching (doc_id, query_id)
    * pairs. `BoolDsl.percolateDsl` is a stateless narrow transform
    * (per-row predicate array, no aggregation, no join), so it
    * composes with Structured Streaming directly — no state store, no
    * watermark, every micro-batch independent; at scale this is the
    * shape that lets one doc stream fan past 10⁵ registered alerts
    * with per-batch latency. Spec pins streamed output == the batch
    * percolator on the same corpus. */
  def streamingPercolate(docStream: DataFrame,
      queries: Seq[(String, graft.text.BoolDsl.Query)]): DataFrame =
    graft.text.BoolDsl.percolateDsl(docStream, queries)

  /** Per-key running sums for the streaming anomaly detector — EXACT
    * integer state (value is 2-decimal money: cents = round(100·v) is
    * exact), so folding a micro-batch is order-free and the state
    * replays identically after a restart. */
  case class AnomalyState(n: Long, sumCents: Long, sumSqCents: Long)
  case class AnomalyEvent(event_type: String, event_id: Long, value: Double)
  case class AnomalyAlert(event_type: String, event_id: Long, value: Double,
      mean_before: Double, std_before: Double)

  /** Streaming per-key anomaly detection (r14) — the
    * `flatMapGroupsWithState` surface: each event_type carries running
    * (n, Σcents, Σcents²) state; a micro-batch's events are flagged
    * against the state AS OF BEFORE the batch (|v − mean| > k·stddev,
    * population stddev), then the whole batch folds into the state.
    * Batch-internal events never suppress each other, flagging is
    * per-event against a batch-constant gauge (order-free), and the
    * fold is integer sums (order-free) — so the emitted alert set is
    * deterministic for a given micro-batch partitioning, and the spec
    * replays it from a plain-Scala replica. Keys with fewer than
    * `minN` prior events flag nothing (cold start). This is the
    * streaming twin of the batch change-point/outlier surface: state
    * is three longs per key — bounded forever, no watermark needed. */
  def anomalies(events: DataFrame, k: Double, minN: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("event_type"), col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value")).as[AnomalyEvent]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[AnomalyEvent], state: GroupState[AnomalyState]) =>
          val st = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L))
          val batch = rows.toVector
          val alerts =
            if (st.n >= minN) {
              val meanC = st.sumCents.toDouble / st.n
              val varC = (st.sumSqCents.toDouble - st.sumCents.toDouble *
                st.sumCents.toDouble / st.n) / st.n
              val stdC = math.sqrt(math.max(varC, 0.0))
              batch.collect {
                case e if math.abs(math.round(e.value * 100).toDouble - meanC) >
                    k * stdC =>
                  AnomalyAlert(key, e.event_id, e.value,
                    meanC / 100.0, stdC / 100.0)
              }
            } else Vector.empty
          val cents = batch.map(e => math.round(e.value * 100))
          state.update(AnomalyState(
            st.n + batch.size,
            st.sumCents + cents.sum,
            st.sumSqCents + cents.map(c => c * c).sum))
          alerts.iterator
      }.toDF()
  }

  /** STREAMING RELEASE GATE (r15 continuation — the batch release
    * chain's ingest-time form: documents pass the gate as they arrive
    * instead of in a nightly recompute). Stages, all from the batch
    * pipeline's own shared column definitions so the two forms cannot
    * drift:
    *
    *  1. quality gate — [[graft.pipeline.Pipeline.qualityPassCol]],
    *     stateless narrow filter;
    *  2. benchmark decontamination — the STATIC benchmark gram set
    *     aggregates to a one-row array frame that stream-static
    *     cross-joins (broadcast) into every micro-batch; the doc check
    *     is one `arrays_overlap`, per-row, no stream-side shuffle
    *     (eval sets are bounded — the percolator-forest discipline);
    *  3. PII scrub — [[graft.pipeline.Pipeline.redactedCol]], narrow;
    *  4. exact near-dup — streaming `dropDuplicates` on the content
    *     fingerprint: the state store keeps one entry per distinct
    *     fingerprint ever released, so re-ingests and cross-batch
    *     duplicates drop exactly once. Keeper identity is
    *     arrival-order (streaming semantics) — audits compare
    *     fingerprint SETS, not keeper ids. In production bound the
    *     state with dropDuplicatesWithinWatermark when the dup horizon
    *     is known.
    */
  def streamingReleaseGate(docStream: DataFrame, benchGrams: DataFrame,
      n: Int): DataFrame = {
    val benchArr = benchGrams
      .agg(collect_set(col("gram")).as("bench_grams"))
    docStream
      .filter(graft.pipeline.Pipeline.qualityPassCol)
      .crossJoin(broadcast(benchArr))
      .filter(!arrays_overlap(
        array_distinct(graft.pipeline.Pipeline.wordNgrams(col("text"), n)),
        col("bench_grams")))
      .select(col("doc_id"), col("source"),
        graft.text.TextOps.fingerprintCol(col("text")).as("fingerprint"),
        graft.pipeline.Pipeline.redactedCol.as("redacted"))
      .dropDuplicates("fingerprint")
  }

  /** STREAMING MASK PLANNER (r15 continuation — the training-plan
    * stage run at ingest: documents that pass the quality gate get
    * their span-corruption plan computed as they arrive, so the
    * training job reads precomputed plans instead of re-deriving them
    * per epoch). Both stages are stateless narrow transforms
    * ([[graft.pipeline.Pipeline.qualityPassCol]] filter +
    * [[graft.pipeline.Pipeline.spanCorruption]]'s arithmetic explode
    * — no aggregation, no join, no state store), so the composition
    * runs in append mode with per-batch latency at any corpus rate,
    * and the plan for a doc is identical whether it arrived streamed
    * or batch (the spanCorruption determinism contract). */
  def streamingMaskPlanner(docStream: DataFrame): DataFrame =
    graft.pipeline.Pipeline.spanCorruption(
      docStream.filter(graft.pipeline.Pipeline.qualityPassCol))

  /** STREAMING IMPORTANCE RESAMPLING (round 18 — the at-ingest form of
    * [[graft.pipeline.Pipeline.importanceResample]]): documents are
    * scored against a FROZEN target/corpus unigram model (trained once
    * on a seed sample, the DSIR discipline) as they arrive, and only
    * the md5-band survivors flow downstream. Entirely stateless —
    * two HOF folds over the token array against plan-literal maps plus
    * integer band arithmetic, no join, no aggregation, no state store —
    * so it runs in append mode with per-batch latency at any corpus
    * rate, and a doc's verdict is identical whether it arrived streamed
    * or batch (the frozen-model determinism contract, spec-pinned). */
  def streamingResample(docStream: DataFrame, targetSources: Seq[String],
      ct: Map[String, Long], ca: Map[String, Long], tTgt: Long, tAll: Long,
      lambdaInv: Int = 2): DataFrame =
    graft.pipeline.Pipeline.importanceResampleFrozen(docStream,
      targetSources, ct, ca, tTgt, tAll, lambdaInv)
}
