package graft.river

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.util.Det

/** The river's import surface (reference: `/root/reference/src/main/java/
  * org/elasticsearch/river/hbase/`), re-expressed as declarative Spark
  * operators. Each function is a standalone, composable DataFrame
  * transformation; `fullPipeline` chains them the way `HBaseParser.parse`
  * does.
  *
  * Scale notes: the incremental scan is a plain predicate on the source
  * (pushed to the parquet/source scan, so at 100 TB it prunes files and row
  * groups instead of reading them); latest-per-key is one hash shuffle on
  * the key; the *global* bulk-batch numbering (the reference's
  * single-threaded bulk requests, HBaseParser.java:104) keeps its exact
  * total-order semantics but runs as parallel two-phase offset numbering —
  * `assignBatchesPerPartition` is the order-free shuffle-less variant.
  */
object River {

  /** Incremental scan: rows of `src` newer than the sink's watermark —
    * the Spark form of `Scanner.setMinTimestamp(maxIndexedTs + 1)`
    * (HBaseParser.java:258-280). The watermark is a 1-row aggregate,
    * broadcast so no shuffle touches the (huge) source. */
  def incrementalScan(src: DataFrame, sink: DataFrame, tsCol: String): DataFrame = {
    val wm = sink.agg(max(col(tsCol)).as("__wm"))
    src.join(broadcast(wm), col(tsCol) > col("__wm")).drop("__wm")
  }

  /** Sink watermark in epoch-µs — the reference's "statistical facet"
    * round trip (HBaseParser.setMinTimestamp:258): a tiny driver-side
    * aggregate. Encoding-agnostic via `Det.tsMicrosOf` (unit conversion
    * commutes with max — monotonic). None on an empty sink (first
    * import). */
  def watermarkMicros(sink: DataFrame, tsCol: String): Option[Long] = {
    val row = sink.agg(max(Det.tsMicrosOf(sink, tsCol))).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Two-phase incremental scan, phase 2: rows strictly past `wmUs`,
    * expressed as a LITERAL predicate in the ts column's NATIVE encoding —
    * so unlike [[incrementalScan]]'s runtime broadcast join, the filter
    * reaches the source scan (`PushedFilters` + row-group/file pruning: at
    * 100 TB the import reads only data past the watermark, exactly like
    * `Scanner.setMinTimestamp`). Semantics are exact in every encoding:
    * µs-truncated ts > wmUs ⟺ ts_µs ≥ wmUs+1 ⟺ ts_ns ≥ (wmUs+1)·1000.
    * The timestamp branch uses `timestamp_micros(lit)` — foldable, so
    * Catalyst collapses it to a plain timestamp literal that pushes down;
    * a µs-long *computed column* here would silently defeat pruning. */
  def scanPastWatermark(srcRaw: DataFrame, tsCol: String, wmUs: Long): DataFrame =
    srcRaw.schema(tsCol).dataType match {
      case LongType => // legacy raw epoch-ns BIGINT
        srcRaw.filter(col(tsCol) >= lit((wmUs + 1L) * 1000L))
      case TimestampNTZType =>
        srcRaw.filter(col(tsCol) >= timestamp_micros(lit(wmUs + 1L)).cast(TimestampNTZType))
      case _ =>
        srcRaw.filter(col(tsCol) >= timestamp_micros(lit(wmUs + 1L)))
    }

  /** The ES "statistical facet" the reference uses to find its watermark
    * (HBaseParser.java:264: count/min/max/sum/mean/variance/stddev over
    * `_timestamp`). Computed on exact integer domains (seconds for
    * min/max/sum, hours for the second moment) so the result is
    * reproducible bit-for-bit regardless of partitioning — see Det. */
  def statsFacet(df: DataFrame, tsCol: String): DataFrame = {
    val s = Det.tsSeconds(col(tsCol))
    val withUnits = df.select(s.as("s"), (s / lit(3600L)).cast("long").as("h"))
    withUnits.agg(
      count(lit(1)).as("n"),
      min(col("s")).as("min_s"),
      max(col("s")).as("max_s"),
      sum(col("s")).as("sum_s"),
      sum(col("h") * col("h")).as("__shh"),
      sum(col("h")).as("__sh")
    ).select(
      col("n"), col("min_s"), col("max_s"), col("sum_s"),
      (col("sum_s").cast("double") / col("n")).as("avg_s"),
      (col("__shh").cast("double") / col("n") -
        (col("__sh").cast("double") / col("n")) * (col("__sh").cast("double") / col("n"))).as("var_h"),
      sqrt(col("__shh").cast("double") / col("n") -
        (col("__sh").cast("double") / col("n")) * (col("__sh").cast("double") / col("n"))).as("std_h")
    )
  }

  /** Upsert view: last write wins per key, the semantics of indexing by
    * `_id` (HBaseParser.java:145-159). One hash shuffle on the key; ties on
    * the timestamp are broken by `seqCol` so the result is deterministic.
    * `within` adds window-partition columns after the key; each must be a
    * function of the key (the winners stay the same), and a `df` already
    * partitioned by one of them keeps its partitioning (no extra shuffle). */
  def latestPerKey(df: DataFrame, keyCol: String, tsCol: String, seqCol: String,
      within: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol) +: within: _*)
      .orderBy(col(tsCol).desc, col(seqCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Deterministic bulk-batch assignment (reference `batchSize`,
    * HBaseParser.java:104): global sequence order → batch id — the exact
    * total order the reference's sequential bulk requests impose, computed
    * WITHOUT a single-reducer global window. Two-phase numbering:
    *
    *  1. range-partition on the order key (sorted partitions, parallel);
    *  2. per-partition row counts → driver-side exclusive-scan offsets
    *     (a ≤numPartitions-element Seq, metadata not data);
    *  3. global rank = offset(partition) + rank-within-partition, so
    *     `batch_id = rank / batchSize` — identical to a global
    *     `Window.orderBy` row_number, but every stage is parallel.
    *
    * Determinism: range partitions are ordered and the order key must be
    * unique (callers pass a tie-break column), so offset + local rank IS
    * the global rank regardless of where the sampled range boundaries
    * land. The range-partitioned frame is `localCheckpoint`ed (eager,
    * one materialization) before the counts action — two separate
    * DataFrame actions on the un-pinned plan would re-sample range
    * boundaries with fresh seeds and the offsets could go stale.
    * (Earlier rounds used `rdd.zipWithIndex` for the same one-lineage
    * guarantee; that route leaves Tungsten for a per-row Row-conversion
    * round trip AND recomputes the shuffle+sort for the second action —
    * measured ~2× slower with GC-sensitive swings, r13 SCALING.md.) */
  def assignBatches(df: DataFrame, orderCols: Seq[Column], batchSize: Int): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__ord", struct(orderCols: _*))
      .repartitionByRange(nParts, col("__ord"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // per-partition counts → driver exclusive scan: ≤ nParts longs of
    // METADATA, the Pipeline.scala two-phase offset pattern
    val counts = sorted.groupBy(col("__pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    var acc = 0L
    val offsets = counts.keys.toSeq.sorted.map { p =>
      val o = acc; acc += counts(p); p -> o
    }.toMap
    val offMap = typedLit(if (offsets.isEmpty) Map(0 -> 0L) else offsets)
    val w = Window.partitionBy(col("__pid")).orderBy(col("__ord"))
    sorted
      .withColumn("batch_id",
        floor((element_at(offMap, col("__pid")) + row_number().over(w) - 1)
          / batchSize).cast("long"))
      .drop("__ord", "__pid")
  }

  /** Scale-out batch assignment: batches are local to a partition
    * (shuffle-free), keyed (partition, local sequence). This is what a
    * 1000-executor import actually runs; `assignBatches` is the
    * reference-faithful sequential twin. */
  def assignBatchesPerPartition(df: DataFrame, batchSize: Int): DataFrame = {
    // materialize the partition id and sequence BEFORE the window's
    // shuffle: evaluated after it, spark_partition_id() would disagree
    // with the window key and batches would collide past batchSize
    val withPid = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    val w = Window.partitionBy(col("__pid")).orderBy(col("__mid"))
    withPid.withColumn("__seq", row_number().over(w) - 1)
      .withColumn("batch_id",
        struct(col("__pid").as("part"), (col("__seq") / batchSize).cast("long").as("seq")))
      .drop("__seq", "__pid", "__mid")
  }

  /** Field normalization (HBaseRiver.normalizeField:314): lowercase, keep
    * only [a-z0-9-_] plus the separator's chars. Only character-class
    * metacharacters are escaped — a bare backslash before a letter
    * (e.g. separator "u" → \u) would be an illegal or
    * semantics-changing regex escape. */
  def normalizeField(c: Column, columnSeparator: Option[String] = None): Column = {
    val extra = columnSeparator.getOrElse("").distinct.map {
      case ch if "\\]^[-&".contains(ch) => "\\" + ch
      case ch => ch.toString
    }.mkString
    regexp_replace(lower(c), s"[^a-z0-9\\-_$extra]", "")
  }

  /** Id extraction from the parsed payload (HBaseParser.findKeyInDataTree:
    * 184): a JSON-path lookup into the row's document. */
  def extractId(payload: Column, path: String): Column =
    get_json_object(payload, s"$$.$path")

  /** Column-separator nesting (HBaseParser.readQualifierStructure:226),
    * arbitrary depth: qualifier "a::b::c" with separator "::" nests the
    * value at path a.b with leaf c. Mirrors the reference's recursion:
    * a missing separator leaves a flat (normalized) field; an empty
    * tail segment collapses ("set2::" → leaf "set2",
    * HBaseParserTest.testEmptySubQualifier); each segment is normalized
    * when `normalize` (HBaseRiver.isNormalizeFields). Returns a struct
    * (path: array, leaf, full_path dotted). */
  def parseQualifier(qualifier: Column, sep: String, normalize: Boolean = true): Column = {
    val parts = filter(split(qualifier, java.util.regex.Pattern.quote(sep)),
      p => p =!= "")
    val norm = if (normalize) transform(parts, p => normalizeField(p)) else parts
    struct(
      slice(norm, lit(1), greatest(size(norm) - 1, lit(0))).as("path"),
      // guard: a separators-only qualifier leaves no segments, and ANSI
      // mode (Spark 4 default) makes element_at on an empty array throw
      when(size(norm) > 0, element_at(norm, -1)).as("leaf"),
      array_join(norm, ".").as("full_path"))
  }

  /** DYNAMIC-MAPPING DRIFT report (r15 continuation — the ES behavior
    * the reference's mapping bootstrap feeds: with dynamic mapping on,
    * every unseen field the river ships silently ADDS a mapping entry,
    * and unbounded qualifier spaces explode the index mapping — the
    * classic ES incident). The registered mapping is the distinct
    * full-path set of the bootstrap slice (event_id < `bootstrapMaxId`
    * — the analog of HBaseRiver's initial mapping read); the report is
    * every path that first appears AFTER it, with first-seen id and
    * row count — what an operator alerts on before the mapping hits
    * the field limit. Paths derive from [[parseQualifier]] (the same
    * normalize + separator semantics as the ingest path, so the audit
    * can never disagree with the parser). The known set is
    * path-distinct (bounded by the mapping size, not the corpus) and
    * BROADCASTS to an anti-join; one hash agg on the drifting rows. */
  def mappingDrift(events: DataFrame, bootstrapMaxId: Long): DataFrame = {
    val q = concat(col("event_type"), lit("-"), extractId(col("props"), "k"))
    val withPath = events
      .withColumn("full_path", parseQualifier(q, "-").getField("full_path"))
      .select(col("event_id"), col("full_path"))
    val known = withPath.filter(col("event_id") < bootstrapMaxId)
      .select("full_path").distinct()
    withPath.filter(col("event_id") >= bootstrapMaxId)
      .join(broadcast(known), Seq("full_path"), "left_anti")
      .groupBy("full_path")
      .agg(min(col("event_id")).as("first_seen"), count(lit(1)).as("n_rows"))
  }

  /** Delete-set derivation for `deleteOld` (HBaseParser.java:176-180):
    * scanned keys minus failed keys — an anti-join, so it stays a
    * distributed set op instead of a driver-side map. */
  def deleteOldKeys(scanned: DataFrame, failed: DataFrame, keyCol: String): DataFrame =
    scanned.select(keyCol).join(failed.select(keyCol), Seq(keyCol), "left_anti")
}
