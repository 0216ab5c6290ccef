package graft.similarity

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GraftFunctions
import graft.river.IndexCommit

/** Maintained IVF index for ANN search (VERDICT r11 next #5 — the
  * [[graft.dedup.DedupIndex]] pattern applied to [[Ann.ivfTopK]]).
  *
  * `Ann.ivfTopK` re-runs Lloyd on every invocation; a warehouse
  * doesn't. The production shape this object maintains, the way the
  * reference's river maintains its ES index batch-by-batch
  * (HBaseParser.run:50 — poll, import the delta, repeat):
  *
  *  - `centroids/v=<batchId>`: the trained centroid matrix, one row per
  *    list (cent_id = matrix row index). Trained on the first ingest
  *    batch (deterministic seeds + fixed Lloyd rounds) and FROZEN;
  *    centroid drift is handled by PERIODIC RE-TRAIN writing a new
  *    version (r13 — `maintain(retrainEvery = n)` or an explicit
  *    [[trainCentroids]] with a fresh batchId), never by per-batch
  *    mutation. Old versions stay on disk: their assignments remain
  *    valid and queryable.
  *  - `assignments/cv=<version>/ingest=<batchId>/cent_id=<list>/`: the
  *    cluster-bucketed corpus — (vec_id, embedding) under a PHYSICAL
  *    cent_id partition directory, recorded UNDER THE CENTROID VERSION
  *    that assigned it (`cv=`). Append-only per ingest batch, and
  *    partitioned by list id so a query that probes `nprobe` lists
  *    reads ONLY those directories (parquet partition pruning — the
  *    actual IVF win: nprobe/nCentroids of the corpus touched, not a
  *    post-scan filter). Probing is PER VERSION: a query selects its
  *    probe lists against each version's own centroids and prunes to
  *    that version's matching cent_id directories — probing old
  *    partitions with new centroids would silently break the IVF
  *    invariant (a vector assigned to list 3 under v0 may belong to
  *    list 7 under v1, and the probe would miss it).
  *
  * Exactly-once under foreachBatch retries: re-training with an
  * existing centroid version is a no-op; a replayed assignment batch
  * overwrites its own ingest partition — both idempotent
  * (`AnnIndexSpec` pins replay, batch-N == from-scratch, and
  * indexed == recompute equality).
  */
object AnnIndex {

  private def centsDir(root: String) = s"$root/centroids"
  private def assignDir(root: String) = s"$root/assignments"
  private def pqDir(root: String) = s"$root/pq"

  /** Complete (committed) centroid versions, ascending. */
  def centroidVersions(spark: SparkSession, root: String): Seq[Long] =
    IndexCommit.versions(spark, centsDir(root))

  /** Train the centroid matrix on `trainEmb` and commit it as version
    * `batchId` — a no-op if that version already exists (replay).
    * Deterministic: seeded by the first `nCentroids` vectors by id plus
    * fixed Lloyd rounds, like [[Ann.ivfTopK]].
    *
    * `pqM > 0` additionally trains per-subspace PQ codebooks on the
    * same batch (IVFADC — VERDICT r14 next #1): `pqM` subspaces ×
    * `pqKs` entries, committed under `pq/v=<batchId>` BEFORE the
    * centroids commit, so any version visible through
    * [[centroidVersions]] always has its codebooks. Subsequent
    * [[appendBatch]] calls then encode every ingested vector's `codes`
    * into the cent_id partitions (64 bits a vector at the defaults —
    * they ride the existing partition files), and
    * [[ivfpqTopKIndexed]] ADC-scans only the probed lists. */
  def trainCentroids(trainEmb: DataFrame, batchId: Long, root: String,
      nCentroids: Int = 16, lloydRounds: Int = 3,
      pqM: Int = 0, pqKs: Int = 16, pqTrainOn: DataFrame = null): Unit = {
    val spark = trainEmb.sparkSession
    import spark.implicits._
    if (!centroidVersions(spark, root).contains(batchId)) {
      if (pqM > 0) {
        // `pqTrainOn` decouples the codebook sample from the centroid
        // training frame: at scale codebooks train well on a ~10%
        // sample (faiss discipline; r17 probe: −0.04 recall at 10⁵)
        // but the COARSE centroids need ≥ ~100 vectors per list —
        // training both on one small sample was measured to halve
        // IVFADC recall (0.63 → 0.33 at 10⁵, SCALING.md r17).
        val pqFrame = Option(pqTrainOn).getOrElse(trainEmb)
        val firstDim = pqFrame.select(size(col("embedding"))).limit(1).collect()
        // empty training batch → commit EMPTY codebooks (the empty-
        // corpus sweep contract: probes return no neighbors, no crash)
        val (rows: Seq[(Int, Int, Seq[Double])], counted: Option[Long]) =
          if (firstDim.isEmpty) (Seq.empty, Some(0L))
          else {
            val (cbs, cnt) = Ann.pqTrainCodebooksCounted(pqFrame,
              firstDim(0).getInt(0), pqM, pqKs, lloydRounds)
            (for { (cb, j) <- cbs.zipWithIndex.toSeq
                   (cent, c) <- cb.zipWithIndex }
              yield (j, c, cent.toSeq), cnt)
          }
        rows.toDF("subspace", "code", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"${pqDir(root)}/v=$batchId")
        // r20 (SCALING.md coarsebound): for PQ-composed indexes the
        // coarse quantizer's training mass drives recall hard — at
        // 10⁶/ks=256 a ~316 vec/list sample costs −0.47 recall vs the
        // 1000 vec/list full frame; the r17 "~100/list floor" does not
        // transfer to this regime. Warn (train-time, stderr) so a
        // scaled-up user sees the trade the probe measured. The count
        // rides the fused codebook-training aggregate when the
        // codebooks trained on `trainEmb` itself (r20 ADVICE: the
        // dedicated count() here was a full extra corpus pass per
        // train); only a decoupled `pqTrainOn` still pays one.
        val nTrain =
          if (pqTrainOn == null) counted.getOrElse(trainEmb.count())
          else trainEmb.count()
        if (nTrain > 0 && nTrain < 1000L * nCentroids)
          System.err.println(s"[AnnIndex] coarse quantizer training on " +
            s"$nTrain vectors for $nCentroids lists " +
            s"(~${nTrain / math.max(1, nCentroids)}/list): below the " +
            s"1000/list full-frame regime — measured recall penalty at " +
            s"10^6/ks=256 is -0.47 at ~316/list (SCALING.md r20); " +
            s"prefer a larger coarse-train sample where affordable")
      }
      val cents = Ann.lloydCentroids(trainEmb, nCentroids, lloydRounds)
      cents.toDF("cent_id", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"${centsDir(root)}/v=$batchId")
    }
  }

  /** The PQ codebooks committed for a centroid version, as
    * subspace-indexed (ks × sub) matrices — empty when the version was
    * trained without PQ (or on an empty batch). Metadata scale:
    * m × ks × sub doubles. */
  def readPqCodebooksV(spark: SparkSession, root: String,
      version: Long): IndexedSeq[Array[Array[Double]]] = {
    val p = new Path(s"${pqDir(root)}/v=$version")
    val fs = IndexCommit.fileSystem(spark, p.toString)
    if (!fs.exists(new Path(p, "_SUCCESS"))) IndexedSeq.empty
    else spark.read.parquet(p.toString).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** A specific committed centroid version, in cent_id = row-index
    * order. nCentroids × dim doubles — metadata scale, the one
    * sanctioned driver-side collect here. */
  def readCentroidsV(spark: SparkSession, root: String, version: Long): Seq[(Int, Seq[Double])] =
    spark.read.parquet(s"${centsDir(root)}/v=$version")
      .orderBy("cent_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq

  /** The maintained centroid matrix (newest complete version). */
  def readCentroids(spark: SparkSession, root: String): Seq[(Int, Seq[Double])] = {
    val vs = centroidVersions(spark, root)
    require(vs.nonEmpty, s"no centroid snapshot under $root — train first")
    readCentroidsV(spark, root, vs.last)
  }

  /** Assign one ingest batch of (vec_id, embedding) against the NEWEST
    * frozen centroids and append it to the cluster-bucketed corpus —
    * its own ingest partition under that centroid version's `cv=`
    * directory, physically sub-partitioned by cent_id. A replayed
    * batch id overwrites its own partition (idempotent: the newest
    * version at replay time is the same version that first wrote it,
    * because retrain-then-append runs in one foreachBatch body). */
  def appendBatch(batchEmb: DataFrame, batchId: Long, root: String): Unit = {
    val spark = batchEmb.sparkSession
    val v = centroidVersions(spark, root).last
    val assign = Ann.centroidAssigner(spark,
      Ann.centMatrix(readCentroidsV(spark, root, v)))
    // Replays write to a staging dir and RENAME into place (r14
    // ADVICE): mode("overwrite") directly on the ingest dir deletes
    // `_SUCCESS` + data files non-atomically, so a reader that passed
    // the committedIngests check just before the overwrite could still
    // see a torn partition. With rename-aside (IndexCommit.swapIn, as
    // in StreamingRiver.upsertBatch) a reader sees a COMPLETE batch whenever
    // it sees one at all — never a mix. Known residual window (ADVICE
    // r15): between rename(dest → old) and rename(staging → dest) the
    // ingest partition exists under NEITHER name, so a concurrent
    // committedIngests listing taken in that instant misses the whole
    // batch (reads the index as-of before this ingest — stale, not
    // torn). Replays re-write identical content, so staleness
    // self-heals on the next listing; closing the window entirely
    // needs a version-suffixed directory + pointer-file flip (the
    // DedupIndex snapshot scheme) — deliberately not paid here because
    // ingest=N directories are append-only identities, not mutating
    // snapshots.
    // staging/old names must NOT start with "ingest=" or
    // committedIngests would list a half-swapped replay twice
    val dest = new Path(s"${assignDir(root)}/cv=$v/ingest=$batchId")
    val staging = new Path(s"${assignDir(root)}/cv=$v/.staging-ingest-$batchId")
    val old = new Path(s"${assignDir(root)}/cv=$v/.old-ingest-$batchId")
    val fs = IndexCommit.fileSystem(spark, dest.toString)
    IndexCommit.recover(fs, dest, old, fs.exists(dest), fs.exists(old))
    if (fs.exists(staging)) fs.delete(staging, true)
    // versions trained with PQ (trainCentroids pqM > 0) also encode the
    // m-code PQ words at ingest — the IVFADC composition: codes ride
    // the cent_id partition files, so a probe ADC-scans probed lists
    // without ever shipping embedding bytes in the candidate stage
    val cbs = readPqCodebooksV(spark, root, v)
    val base = batchEmb.select(col("vec_id"),
      col("embedding"),
      assign(col("embedding"), 1).getItem(0).as("cent_id"))
    val encoded =
      if (cbs.isEmpty) base
      else base.withColumn("codes", Ann.pqEncodeCol(
        col("embedding").cast("array<double>"), cbs, cbs(0)(0).length))
    encoded
      .write.partitionBy("cent_id").mode("overwrite")
      .parquet(staging.toString)
    IndexCommit.swapIn(fs, staging, dest, old, fs.exists(dest))
  }

  /** The cluster-bucketed corpus across every ingested batch, with the
    * `cv` centroid-version partition column. Filters on (cv, cent_id)
    * prune to the probed list directories (spec-checked via the scan's
    * partition count). An index built over an EMPTY corpus holds
    * partition markers but no data files — schema inference then
    * fails, so that case degrades to an explicit empty frame with the
    * index schema (probes of an empty index return no neighbors, they
    * don't crash). */
  /** Ingest partitions whose write COMMITTED (`_SUCCESS` present) —
    * the DedupIndex snapshot discipline applied to reads (r14): a
    * reader racing `maintain()` mid-retrain must see each ingest
    * partition entirely or not at all, never a half-written parquet
    * directory. Metadata-scale listing (versions × batches dirs). */
  private def committedIngests(spark: SparkSession, root: String): Seq[Path] = {
    val base = new Path(assignDir(root))
    val fs = IndexCommit.fileSystem(spark, assignDir(root))
    if (!fs.exists(base)) Seq.empty
    else for {
      cv <- fs.listStatus(base).toSeq
      if cv.isDirectory && cv.getPath.getName.startsWith("cv=")
      ing <- fs.listStatus(cv.getPath).toSeq
      if ing.isDirectory && ing.getPath.getName.startsWith("ingest=")
      if fs.exists(new Path(ing.getPath, "_SUCCESS"))
    } yield ing.getPath
  }

  def assignments(spark: SparkSession, root: String): DataFrame = {
    val committed = committedIngests(spark, root)
    def emptyFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("cent_id", IntegerType),
          StructField("cv", LongType))))
    }
    if (committed.isEmpty) emptyFrame
    else
      try
        spark.read.option("basePath", assignDir(root))
          .parquet(committed.map(_.toString): _*)
          .select(col("vec_id"), col("embedding"), col("cent_id"),
            col("cv").cast("long").as("cv"))
      catch {
        // an EMPTY corpus commits ingest markers with zero data files
        // (partitionBy of an empty frame) — schema inference then
        // fails; degrade to the explicit empty frame (probes of an
        // empty index return no neighbors, they don't crash)
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => emptyFrame
      }
  }

  /** [[assignments]] plus the per-vector PQ `codes` column — the
    * IVFADC read path. Only valid on an index whose every version was
    * trained with `pqM > 0` (mixed indices would union mismatched
    * schemas). Same committed-ingest discipline and empty-corpus
    * degradation. */
  def assignmentsWithCodes(spark: SparkSession, root: String): DataFrame = {
    val committed = committedIngests(spark, root)
    def emptyFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("codes", ArrayType(IntegerType)),
          StructField("cent_id", IntegerType),
          StructField("cv", LongType))))
    }
    if (committed.isEmpty) emptyFrame
    else
      try
        spark.read.option("basePath", assignDir(root))
          .parquet(committed.map(_.toString): _*)
          .select(col("vec_id"), col("embedding"), col("codes"),
            col("cent_id"), col("cv").cast("long").as("cv"))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => emptyFrame
      }
  }

  /** Structured Streaming maintenance: first batch trains the
    * centroids, every batch (including the first) appends its
    * assignments — the river's poll loop with the IVF index as sink.
    * `retrainEvery > 0` re-trains on every n-th batch (batchId % n == 0,
    * trained on that batch's vectors), committing a NEW centroid
    * version; subsequent batches assign against it while the old
    * versions' assignments stay queryable under their own `cv=`
    * partitions (the drift path the versioned-snapshot design
    * promises; `AnnIndexSpec` pins it). Replay stays exactly-once:
    * trainCentroids with an existing version id is a no-op and the
    * retrain-then-append order is deterministic per batch id. */
  def maintain(embStream: DataFrame, root: String, checkpoint: String,
      nCentroids: Int = 16, lloydRounds: Int = 3,
      retrainEvery: Int = 0, pqM: Int = 0, pqKs: Int = 16): StreamingQuery =
    graft.river.StreamingRiver.sink(embStream, checkpoint) { (batch, id) =>
      val needTrain = centroidVersions(batch.sparkSession, root).isEmpty ||
        (retrainEvery > 0 && id > 0 && id % retrainEvery == 0)
      if (needTrain)
        trainCentroids(batch, id, root, nCentroids, lloydRounds, pqM, pqKs)
      appendBatch(batch, id, root)
    }

  /** IVF top-k READING the maintained index: probe list selection
    * happens against the persisted centroid matrix, candidates come
    * from ONLY the probed cent_id partitions (the probed id set is
    * ≤ nQueries × nprobe ints — metadata — so it collects into a
    * literal IN-filter that parquet partition-prunes), and exact cosine
    * re-ranks inside them. Identical output to the recompute form with
    * the same frozen centroids (`AnnIndexSpec`), without touching
    * (1 − nprobe/nCentroids) of the corpus. */
  /** Incremental SEMANTIC near-dup against the maintained index — the
    * embedding analog of `MinHash.incrementalNearDupPairsWithIndex`,
    * and the shape a continuously-ingesting corpus actually runs
    * (dedup the delta BEFORE ingesting it): each new vector probes its
    * `nprobe` nearest frozen centroids, candidates are (delta ×
    * probed cent_id partitions of the cluster-bucketed corpus) plus
    * the delta-sized within-probe self-join, and exact cosine ≥ τ
    * confirms in-stage. The probed id set is ≤ nCentroids ints
    * (metadata), so the corpus read partition-prunes; the corpus is
    * never re-assigned or self-joined. Emits pairs touching ≥ 1 new
    * vector, `a_id < b_id`; PRECONDITION: the delta is NOT yet
    * ingested (else the self-match guard hides real dups).
    * Subset-of-exact + recall spec in `AnnIndexSpec`. */
  def incrementalEmbeddingNearDup(spark: SparkSession, root: String,
      newEmb: DataFrame, tau: Double, nprobe: Int = 2): DataFrame = {
    val versions = centroidVersions(spark, root)
    require(versions.nonEmpty, s"no centroid snapshot under $root — train first")
    val all = assignments(spark, root)
    // per centroid version: probe the delta against THAT version's
    // centroids and prune to its own cv= partitions (versions is
    // metadata — a handful of snapshots, not data scale)
    val vsOld = versions.map { v =>
      val assign = Ann.centroidAssigner(spark,
        Ann.centMatrix(readCentroidsV(spark, root, v)))
      val delta = newEmb.select(col("vec_id"), col("embedding"),
        explode(assign(col("embedding"), nprobe)).as("cent_id"))
      val probed = delta.select("cent_id").distinct()
        .collect().map(_.getInt(0)).sorted // bounded by nCentroids
      val corpus = all
        .filter(col("cv") === v && col("cent_id").isin(probed.map(Int.box): _*))
      delta
        .select(col("cent_id"), col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        .join(corpus.select(col("cent_id"), col("vec_id").as("o_id"),
          col("embedding").as("o_emb")), Seq("cent_id"))
        .filter(col("n_id") =!= col("o_id")) // disjointness guard
        .withColumn("cos_sim", GraftFunctions.cosineSim(col("n_emb"), col("o_emb")))
        .filter(col("cos_sim") >= tau)
        .select(least(col("n_id"), col("o_id")).as("a_id"),
          greatest(col("n_id"), col("o_id")).as("b_id"), col("cos_sim"))
    }.reduce(_.unionByName(_))
    // delta-vs-delta self pairs: any single assigner works (both sides
    // use the same lists) — use the newest
    val assignNew = Ann.centroidAssigner(spark,
      Ann.centMatrix(readCentroidsV(spark, root, versions.last)))
    val deltaNew = newEmb.select(col("vec_id"), col("embedding"),
        explode(assignNew(col("embedding"), nprobe)).as("cent_id"))
      .persist()
    val vsNew = deltaNew
      .select(col("cent_id"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .join(deltaNew.select(col("cent_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb")), Seq("cent_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_sim") >= tau)
      .select("a_id", "b_id", "cos_sim")
    vsOld.unionByName(vsNew).dropDuplicates("a_id", "b_id")
  }

  /** Probe-width law (r20 — VERDICT r19 #1, codifying the 10⁷
    * measurement): CONSTANT COVERAGE DOES NOT TRANSFER ACROSS DECADES.
    * At 10⁷ vectors / k=√n=3163 lists, refine saturates and the coarse
    * probe MASS binds — recall holds ≥ 0.65 only once nprobe grows
    * ~∝ k (the measured working point: nprobe 128 of 3163 lists,
    * SCALING.md r19). A flat nprobe=8 that works at 10⁴–10⁵ (8 of 16
    * lists = half the corpus) collapses to 8/3163 = 0.25% coverage at
    * 10⁷ — the 0.36-recall cliff the probe measured. Default: an
    * EXPLICIT nprobe > 0 is honored verbatim (the flat override);
    * nprobe = 0 (auto) resolves per centroid VERSION to
    * max(8, ⌈nLists/25⌉), so a retrained era with more lists probes
    * proportionally wider while small indexes keep the wired floor. */
  private[graft] def autoNprobe(nLists: Int): Int =
    math.max(8, math.ceil(nLists / 25.0).toInt)

  def ivfTopKIndexed(spark: SparkSession, root: String, emb: DataFrame,
      nQueries: Int, k: Int, nprobe: Int = 0): DataFrame = {
    val versions = centroidVersions(spark, root)
    require(versions.nonEmpty, s"no centroid snapshot under $root — train first")
    val all = assignments(spark, root)
    // per version: probe with that version's centroids, prune to its
    // cv= partitions — candidates from every era of the index
    val sim = versions.map { v =>
      val cents = readCentroidsV(spark, root, v)
      val np = if (nprobe > 0) nprobe else autoNprobe(cents.size)
      val assign = Ann.centroidAssigner(spark, Ann.centMatrix(cents))
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(assign(col("embedding"), np)).as("cent_id"))
      val probed = queries.select("cent_id").distinct()
        .collect().map(_.getInt(0)).sorted // bounded: ≤ nQueries × nprobe
      val cand = all
        .filter(col("cv") === v && col("cent_id").isin(probed.map(Int.box): _*))
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
          col("cent_id"))
      broadcast(queries).join(cand, Seq("cent_id"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
        .select("query_id", "cand_id", "cos_sim")
    }.reduce(_.unionByName(_))
    // a vector can be a candidate under several versions/lists — one
    // vote per (query, candidate) before ranking; then the bounded
    // TopKPairs fold (r14 VERDICT minor: ≤ k pairs per query per
    // partition map-side, no full candidate sort under list skew)
    sim.dropDuplicates("query_id", "cand_id")
      .groupBy("query_id")
      .agg(graft.functions.TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }

  /** IVFADC top-k — PQ composed INSIDE the maintained IVF index
    * (VERDICT r14 next #1; the composition that survives 10⁹ vectors,
    * the IVFADC of Jégou et al.'s PQ paper re-expressed on the
    * versioned index):
    *
    *  - candidate stage: queries probe their `nprobe` nearest lists per
    *    centroid version and ADC-score ONLY those `cent_id=` partitions
    *    — reading the ingest-time `codes` column alone (m small ints a
    *    vector; the scan's ReadSchema carries no embedding bytes), so
    *    candidate rows are ~nprobe/nCentroids of the flat [[Ann.pqTopK]]
    *    n × nQueries scan, AND each row is 32× slimmer;
    *  - per-query ADC lookup tables against each version's own
    *    codebooks (nQueries × m × ks doubles — plan metadata, the flat
    *    PQ discipline);
    *  - the bounded TopKPairs fold keeps `refine`·k approx survivors
    *    per query (max-vote across versions first — ADC scores from
    *    different codebook eras both approximate the same dot);
    *  - exact-cosine refine joins the ≤ nQueries·refine·k survivor ids
    *    (broadcast) back to the SAME probed partitions' embedding
    *    column — partition-pruned again, never a full-corpus read.
    *
    * Requires every version trained with `pqM > 0`
    * ([[trainCentroids]]); versions without codebooks contribute no
    * candidates. Empty index/query set degrades to the typed empty
    * frame (sweep contract). Rows-only gate + recall/candidate-ratio
    * specs in `AnnIndexSpec`. */
  def ivfpqTopKIndexed(spark: SparkSession, root: String, emb: DataFrame,
      nQueries: Int, k: Int, nprobe: Int = 0, refine: Int = 10): DataFrame = {
    import graft.functions.TopKPairs
    val versions = centroidVersions(spark, root)
    require(versions.nonEmpty, s"no centroid snapshot under $root — train first")
    def emptyOut = emb.select(col("vec_id").as("query_id"), lit(1).as("rank"),
      col("vec_id").as("cand_id"), lit(0.0).as("cos_sim")).filter(lit(false))
    val all = assignmentsWithCodes(spark, root)
    val e64 = col("embedding").cast("array<double>")
    // query vectors: bounded driver-side metadata (nQueries rows), the
    // pqTopK LUT discipline
    val qRows = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), e64.as("e")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qRows.isEmpty) return emptyOut
    val qiMap = map_from_arrays(typedlit(qRows.map(_._1).toSeq),
      typedlit(qRows.indices.toList))
    val perV = versions.flatMap { v =>
      val cbs = readPqCodebooksV(spark, root, v)
      if (cbs.isEmpty) None
      else {
        val m = cbs.length
        val sub = cbs(0)(0).length
        val cents = readCentroidsV(spark, root, v)
        // the probe-width law (see [[autoNprobe]]): explicit > 0 wins,
        // auto scales with this version's trained list count
        val np = if (nprobe > 0) nprobe else autoNprobe(cents.size)
        val assign = Ann.centroidAssigner(spark, Ann.centMatrix(cents))
        val queries = emb.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"),
            explode(assign(col("embedding"), np)).as("cent_id"))
          .withColumn("qi", element_at(qiMap, col("query_id")))
        val probed = queries.select("cent_id").distinct()
          .collect().map(_.getInt(0)).sorted // bounded: ≤ nQueries × nprobe
        val probedPred = col("cv") === v &&
          col("cent_id").isin(probed.map(Int.box): _*)
        // codegen'd ADC kernel (r22, guide §4): the previous
        // `aggregate(...)` HOF over a nested LUT literal evaluated as an
        // interpreted lambda per candidate row — see
        // [[graft.functions.PqAdcScore]]; same add order, bit-identical
        val lut = Ann.pqLut(qRows.map(_._2).toSeq, cbs, sub)
        val scored = broadcast(queries)
          .join(all.filter(probedPred)
            .select(col("vec_id").as("cand_id"), col("codes"), col("cent_id")),
            Seq("cent_id"))
          .filter(col("query_id") =!= col("cand_id"))
          .select(col("query_id"),
            graft.functions.GraftFunctions.pqAdcScore(
              col("codes"), col("qi"), lut).as("approx"),
            col("cand_id"))
        Some((scored, probedPred))
      }
    }
    if (perV.isEmpty) return emptyOut
    val surv = perV.map(_._1).reduce(_.unionByName(_))
      .groupBy("query_id", "cand_id").agg(max(col("approx")).as("approx"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("approx"), col("cand_id"), refine * k).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("cand_id"))
    // exact refine: embeddings from the probed partitions only (a
    // vector ingests under exactly one cv, so the union is the corpus
    // slice, not duplicates; dropDuplicates guards replayed eras)
    val probedCorpus = all.filter(perV.map(_._2).reduce(_ || _))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .dropDuplicates("cand_id")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    probedCorpus.join(broadcast(surv), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
  }
}
