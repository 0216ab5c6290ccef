package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.similarity.{Ann, AnnIndex}

/** Maintained IVF index (AnnIndex): the StreamingDedupIndexSpec
  * contract applied to ANN — batch-N maintenance == from-scratch,
  * replay idempotence, and the indexed query == an index-free recompute
  * against the same frozen centroids. */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def buildIndex(root: String): Unit = {
    AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, root)
    (0L until 3L).foreach(b =>
      AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root))
  }

  private def assignSet(df: DataFrame): Set[(Long, Int)] =
    df.select(col("vec_id"), col("cent_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("batch-by-batch assignments equal a from-scratch pass over the whole corpus") {
    val root = tmp("ann-idx")
    buildIndex(root)
    val mat = Ann.centMatrix(AnnIndex.readCentroids(spark, root))
    val scratch = emb.select(col("vec_id"),
      GraftFunctions.topCentroids(col("embedding"), mat, 1).getItem(0).as("cent_id"))
    assert(assignSet(AnnIndex.assignments(spark, root)) == assignSet(scratch))
    assert(assignSet(scratch).size == emb.count())
  }

  test("replayed train + append batches are no-ops (exactly-once under retries)") {
    val root = tmp("ann-idx")
    buildIndex(root)
    val before = assignSet(AnnIndex.assignments(spark, root))
    val centsBefore = AnnIndex.readCentroids(spark, root)
    // foreachBatch may replay after a crash: same train id, same batch id
    AnnIndex.trainCentroids(emb.filter(col("vec_id") % 3 === 0), 0L, root)
    AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === 2), 2L, root)
    assert(AnnIndex.readCentroids(spark, root) == centsBefore)
    assert(assignSet(AnnIndex.assignments(spark, root)) == before)
    assert(AnnIndex.centroidVersions(spark, root) == Seq(0L))
  }

  test("an ingest a crash left renamed aside is seen exactly once after the replayed append") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = tmp("ann-idx")
    buildIndex(root)
    val before = assignSet(AnnIndex.assignments(spark, root))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ingest(b: Int) = new Path(s"$root/assignments/cv=0/ingest=$b")
    def old(b: Int) = new Path(s"$root/assignments/cv=0/.old-ingest-$b")
    // batch 2: a crash between the two renames left only the backup;
    // batch 1: a crash after them left the backup beside its ingest
    assert(fs.rename(ingest(2), old(2)))
    assert(FileUtil.copy(fs, ingest(1), fs, old(1), false, spark.sparkContext.hadoopConfiguration))
    val ids = (df: DataFrame) => df.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(AnnIndex.assignments(spark, root)).sorted ==
      ids(emb.filter(col("vec_id") % 3 =!= 2)).sorted, "a backup is not a committed ingest")
    // foreachBatch replays both batch ids after the crash
    Seq(2L, 1L).foreach(b => AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root))
    val got = ids(AnnIndex.assignments(spark, root))
    assert(got.size == got.distinct.size && got.size == emb.count())
    assert(assignSet(AnnIndex.assignments(spark, root)) == before)
    assert(!fs.exists(old(2)) && !fs.exists(old(1)))
  }

  test("indexed query equals the recompute form with the same frozen centroids") {
    val root = tmp("ann-idx")
    buildIndex(root)
    val got = AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // index-free recompute: same matrix, same probe WIDTH as the auto
    // default resolves for this index (the r20 nprobe law — the default
    // is no longer a flat constant), corpus assigned by the pure
    // expression instead of read from the bucketed table
    val mat = Ann.centMatrix(AnnIndex.readCentroids(spark, root))
    val np = AnnIndex.autoNprobe(mat.length)
    val corpus = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"),
      GraftFunctions.topCentroids(col("embedding"), mat, 1).getItem(0).as("cent_id"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(GraftFunctions.topCentroids(col("embedding"), mat, np)).as("cent_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cand_id"))
    val expect = broadcast(queries).join(corpus, Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("cand_id")))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("probe-width law (r20 — VERDICT r19 #1): the auto default scales " +
      "nprobe with the trained list count; flat override still honored") {
    // the floor: small indexes keep the wired nprobe=8 (8 of 16 lists)
    assert(AnnIndex.autoNprobe(16) == 8)
    assert(AnnIndex.autoNprobe(200) == 8)
    // past the floor the law is nprobe = ceil(k/25) — the measured 10^7
    // working point (SCALING.md r19: 128 of 3163 lists holds recall
    // 0.656 where the flat 8 measured 0.36)
    assert(AnnIndex.autoNprobe(1000) == 40)
    assert(AnnIndex.autoNprobe(3163) == 127)
    // the default CALL resolves through the law: auto == explicit at
    // the resolved width, and an explicit flat value is honored verbatim
    val root = tmp("ann-law")
    buildIndex(root)
    val nLists = AnnIndex.readCentroids(spark, root).size
    def page(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val auto = page(AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 5))
    val explicit = page(AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 5,
      nprobe = AnnIndex.autoNprobe(nLists)))
    assert(auto == explicit && auto.nonEmpty)
    // flat override honored verbatim: width-1 candidates are each
    // query's single nearest list only — a strict subset of the auto
    // width's candidate pool, so every width-1 candidate id must also
    // be reachable at the auto width
    val cand1 = AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 100000, nprobe = 1)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candAuto = AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 100000)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand1.nonEmpty && cand1.subsetOf(candAuto),
      "width-1 override must probe a subset of the auto width's lists")
  }

  test("MMR pool-source equivalence (r16 #1): a full-probe index pool " +
      "reproduces the brute-force MMR page exactly; the wired nprobe=8 " +
      "pool keeps usable recall") {
    val root = tmp("ann-mmr-idx")
    buildIndex(root)
    // nprobe = nCentroids: every list probed, so the index pool IS the
    // exact pool — the greedy rounds must then emit the identical page
    // (proves the rerank math is pool-source-invariant, the contract
    // ann_mmr_indexed rides)
    val viaIndexFull = Ann.mmrRerank(emb, 10, poolSource = (e, nq, p) =>
        AnnIndex.ivfTopKIndexed(spark, root, e, nq, p, nprobe = 16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val viaBrute = Ann.mmrRerank(emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(viaIndexFull == viaBrute && viaBrute.nonEmpty)
    // the wired probe (nprobe=8 of 16): the approximate pool must still
    // cover most of the exact pool (candidate recall — what the index
    // trades), and the page shape stays nQueries x k
    val exactPool = Ann.bruteForceTopKAgg(emb, 10, 20)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idxPool = AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 20, nprobe = 8)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactPool intersect idxPool).size.toDouble / exactPool.size
    assert(recall >= 0.6, s"pool recall $recall")
    val page = Ann.mmrRerank(emb, 10, poolSource = (e, nq, p) =>
      AnnIndex.ivfTopKIndexed(spark, root, e, nq, p, nprobe = 8)).collect()
    assert(page.length == 10 * 5)
    assert(page.map(r => (r.getLong(0), r.getLong(1))).distinct.length == 50)
  }

  test("hard-negatives pool-source equivalence (r19 #2): an exhaustive pool " +
      "reproduces brute force exactly; the wired index pool keeps recall") {
    val root = tmp("ann-hn-idx")
    buildIndex(root)
    def rows(df: DataFrame): Set[(Long, Int, Long, Int, Double)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("cand_id")),
        r.getInt(r.fieldIndex("neg_label")), r.getDouble(r.fieldIndex("cos_sim"))))
        .toSet
    // exhaustive pool (every candidate ranked) ⇒ the survivor-grain
    // label filter sees exactly what the fused brute-force predicate
    // sees — outputs must be bit-identical
    val n = emb.count().toInt
    val viaExhaustive = rows(Ann.hardNegativesFromPool(emb, 10, 5, pool = n,
      poolSource = Ann.bruteForceTopKAgg))
    val viaBrute = rows(Ann.hardNegatives(emb, 10, 5))
    assert(viaExhaustive == viaBrute && viaBrute.nonEmpty)
    // full-probe INDEX pool at exhaustive depth: same contract through
    // the maintained index read path
    val viaIndexFull = rows(Ann.hardNegativesFromPool(emb, 10, 5, pool = n,
      poolSource = (e, nq, p) =>
        AnnIndex.ivfTopKIndexed(spark, root, e, nq, p, nprobe = 16)))
    assert(viaIndexFull == viaBrute)
    // the wired shape (nprobe=8, pool=50): full pages, usable recall of
    // the exact hard-negative set
    val wired = rows(Ann.hardNegativesFromPool(emb, 10, 5, pool = 50,
      poolSource = (e, nq, p) =>
        AnnIndex.ivfTopKIndexed(spark, root, e, nq, p, nprobe = 8)))
    assert(wired.map(t => (t._1, t._2)).size == 50, "10 full pages of 5")
    val exactSet = viaBrute.map(t => (t._1, t._3))
    val recall = wired.map(t => (t._1, t._3)).count(exactSet) / 50.0
    assert(recall >= 0.6, s"hard-negative recall $recall")
    // the mined negatives must actually mismatch their anchor's label
    val qLab = emb.filter(col("vec_id") < 10).select("vec_id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    wired.foreach(t => assert(t._4 != qLab(t._1), s"same-label negative $t"))
  }

  test("streaming maintenance converges to the batch-built index") {
    val root = tmp("ann-idx")
    val src = tmp("ann-idx-src")
    (0L until 3L).foreach { b =>
      emb.filter(col("vec_id") % 3 === b).select("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream
      .schema(emb.select("vec_id", "embedding").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = AnnIndex.maintain(stream, root, tmp("ann-idx-ckpt"))
    q.awaitTermination()
    assert(AnnIndex.centroidVersions(spark, root).size == 1)
    // the streamed split is by FILE, not vec_id%3, so compare against a
    // from-scratch assignment with the streamed index's own centroids
    val mat = Ann.centMatrix(AnnIndex.readCentroids(spark, root))
    val scratch = emb.select(col("vec_id"),
      GraftFunctions.topCentroids(col("embedding"), mat, 1).getItem(0).as("cent_id"))
    assert(assignSet(AnnIndex.assignments(spark, root)) == assignSet(scratch))
  }

  test("incremental embedding near-dup: subset of exact, usable recall, new-new covered") {
    val root = tmp("ann-idx")
    val old = emb.filter(col("vec_id") % 10 =!= 0)
    val neu = emb.filter(col("vec_id") % 10 === 0)
    AnnIndex.trainCentroids(old, 0L, root)
    (0L until 2L).foreach(b =>
      AnnIndex.appendBatch(old.filter(col("vec_id") % 2 === b), b, root))
    val tau = 0.4
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet(AnnIndex.incrementalEmbeddingNearDup(spark, root, neu, tau, nprobe = 4))
    // exact incremental reference: all pairs touching >= 1 new vector
    val newIds = neu.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = pairSet(graft.dedup.Dedup.embeddingNearDup(emb, tau))
      .filter { case (a, b) => newIds(a) || newIds(b) }
    assert(got.subsetOf(exact), s"false positives: ${(got -- exact).take(3)}")
    assert(exact.nonEmpty && got.nonEmpty)
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall (${got.size}/${exact.size})")
    // both pair kinds must be exercised: new-old and new-new
    assert(got.exists { case (a, b) => newIds(a) ^ newIds(b) }, "no new-old pair")
  }

  test("periodic re-train (r13): new version commits, old assignments stay " +
      "queryable under their cv=, indexed == per-version recompute") {
    val root = tmp("ann-idx")
    val eraA = emb.filter(col("vec_id") % 2 === 0)
    val eraB = emb.filter(col("vec_id") % 2 === 1)
    // era 0 trains v0 and ingests under cv=0; drift re-train on era B's
    // (different) vectors commits v1, era B ingests under cv=1
    AnnIndex.trainCentroids(eraA, 0L, root)
    AnnIndex.appendBatch(eraA, 0L, root)
    AnnIndex.trainCentroids(eraB, 1L, root)
    AnnIndex.appendBatch(eraB, 1L, root)
    assert(AnnIndex.centroidVersions(spark, root) == Seq(0L, 1L))
    val c0 = AnnIndex.readCentroidsV(spark, root, 0L)
    val c1 = AnnIndex.readCentroidsV(spark, root, 1L)
    assert(c0 != c1, "drift fixture must produce different centroid versions")
    // old assignments untouched and queryable under their own version
    val asn = AnnIndex.assignments(spark, root)
    assert(asn.filter(col("cv") === 0L).count() == eraA.count())
    assert(asn.filter(col("cv") === 1L).count() == eraB.count())
    // indexed probe == index-free recompute that mirrors the
    // per-version contract (each era assigned + probed by ITS centroids)
    val got = AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def eraCands(v: Long, corpusEra: DataFrame) = {
      val mat = Ann.centMatrix(AnnIndex.readCentroidsV(spark, root, v))
      // the recompute mirrors the auto probe-width law per era (r20)
      val np = AnnIndex.autoNprobe(mat.length)
      val corpus = corpusEra.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"),
        GraftFunctions.topCentroids(col("embedding"), mat, 1).getItem(0).as("cent_id"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(GraftFunctions.topCentroids(col("embedding"), mat, np)).as("cent_id"))
      broadcast(queries).join(corpus, Seq("cent_id"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos_sim", GraftFunctions.cosineSim(col("q_emb"), col("c_emb")))
        .select("query_id", "cand_id", "cos_sim")
    }
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cand_id"))
    val expect = eraCands(0L, eraA).unionByName(eraCands(1L, eraB))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("cand_id")))).toSet
    assert(got == expect && got.nonEmpty)
    // neighbors must come from BOTH eras (old data still served)
    val cands = got.map(_._3)
    assert(cands.exists(_ % 2 == 0) && cands.exists(_ % 2 == 1),
      "re-trained index must still serve pre-retrain assignments")
  }

  test("streaming maintenance with retrainEvery commits a second version") {
    val root = tmp("ann-idx")
    val src = tmp("ann-idx-src")
    (0L until 3L).foreach { b =>
      emb.filter(col("vec_id") % 3 === b).select("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream
      .schema(emb.select("vec_id", "embedding").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = AnnIndex.maintain(stream, root, tmp("ann-idx-ckpt"), retrainEvery = 2)
    q.awaitTermination()
    // batches 0,1,2: v0 from first batch, v2 from the periodic retrain
    assert(AnnIndex.centroidVersions(spark, root) == Seq(0L, 2L))
    // every vector is indexed exactly once across the cv= partitions
    val asn = AnnIndex.assignments(spark, root)
    assert(asn.count() == emb.count())
    assert(asn.select("vec_id").distinct().count() == emb.count())
    assert(asn.filter(col("cv") === 2L).count() > 0, "retrain era must ingest")
  }

  test("probe during retrain: either era's complete answer, never a torn mix") {
    import org.apache.hadoop.fs.Path
    val root = tmp("ann-idx")
    val eraA = emb.filter(col("vec_id") % 2 === 0)
    val eraB = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.trainCentroids(eraA, 0L, root)
    AnnIndex.appendBatch(eraA, 0L, root)
    def probe(): Set[(Long, Int, Long)] =
      AnnIndex.ivfTopKIndexed(spark, root, emb, 10, 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val preRetrain = probe()
    assert(preRetrain.nonEmpty)

    // mid-retrain window 1: the new centroid version is committed but
    // its ingest hasn't started — the reader must serve the OLD era's
    // complete answer (cv=1 contributes zero candidates), not crash or
    // mix eras
    AnnIndex.trainCentroids(eraB, 1L, root)
    assert(probe() == preRetrain,
      "centroids-committed / ingest-absent window must serve the old era")

    // mid-retrain window 2: the ingest partition is on disk but its
    // write has not committed (no _SUCCESS — the state a reader racing
    // appendBatch can observe). It must be INVISIBLE: old era's
    // complete answer again, never a torn half-read
    AnnIndex.appendBatch(eraB, 1L, root)
    val marker = new Path(s"$root/assignments/cv=1/ingest=1/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false), "test setup: marker must exist")
    assert(probe() == preRetrain, "uncommitted ingest must be invisible")

    // the commit lands → the full two-era answer, with the new era's
    // vectors now served
    fs.create(marker).close()
    val after = probe()
    val asn = AnnIndex.assignments(spark, root)
    assert(asn.count() == emb.count(), "both eras visible after commit")
    assert(after.map(_._3).exists(_ % 2 == 1), "new era must be served")
    assert(after == probe(), "committed reads are deterministic")
  }

  test("probe reads only the probed cent_id partitions") {
    val root = tmp("ann-idx")
    buildIndex(root)
    val mat = Ann.centMatrix(AnnIndex.readCentroids(spark, root))
    val nLists = mat.length
    // a 1-query, 1-probe plan must scan fewer partition dirs than exist
    val probedPlan = AnnIndex.assignments(spark, root)
      .filter(col("cent_id") === 0)
      .queryExecution.executedPlan.toString
    val m = "partition count: (\\d+)".r.findFirstMatchIn(probedPlan)
      .orElse("numPartitions=(\\d+)".r.findFirstMatchIn(probedPlan))
    // plan-string partition counters vary by Spark version; fall back to
    // the input-file check which is version-stable
    val files = AnnIndex.assignments(spark, root).filter(col("cent_id") === 0)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("cent_id=0")),
      s"scan escaped the probed partition: ${files.take(3).mkString(",")}")
    assert(nLists > 1, "degenerate index: single list")
    m.foreach(mm => assert(mm.group(1).toInt < 3 * nLists))
  }

  private def buildPqIndex(root: String): Unit = {
    // codebooks train on the full frame: at scale this is a corpus
    // SAMPLE (the faiss discipline), but a third of this 500-vector
    // test corpus under-trains the 16x16 codebooks (probed recall
    // 0.70 vs 0.88 full — measured r15), which is sample noise, not
    // the operator
    AnnIndex.trainCentroids(emb, 0L, root, pqM = 16)
    (0L until 3L).foreach(b =>
      AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root))
  }

  test("IVFADC: recall@5 >= flat-PQ floor; candidate scan reads codes, " +
      "not embeddings; candidate rows shrink to the probed-list fraction") {
    val root = tmp("ann-ivfpq")
    buildPqIndex(root)
    val probe = AnnIndex.ivfpqTopKIndexed(spark, root, emb, 10, 5, nprobe = 8)
    // the candidate stage must read the codes column WITHOUT embedding
    // bytes (the IVFADC point: 64-bit words move, 256-byte vectors
    // don't) — at least one file scan in the plan carries codes and no
    // embedding in its ReadSchema
    val planLines = probe.queryExecution.executedPlan.toString.split("\n")
    assert(planLines.exists(l => l.contains("ReadSchema") &&
      l.contains("codes") && !l.contains("embedding")),
      "no codes-only candidate scan found in the plan")
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.nonEmpty)
    // recall vs exact brute force: >= the flat-PQ spec floor (0.8)
    val exact = Ann.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"IVFADC recall@5 $mean below the flat-PQ floor")
    // candidate-row ratio: the ADC scan touches Σ_q Σ_{probed lists of q}
    // |list| rows where flat pqTopK touches n × nQueries — the SCALING
    // probe the composition exists for
    val asn = AnnIndex.assignmentsWithCodes(spark, root)
    val listSizes = asn.groupBy("cent_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val mat = Ann.centMatrix(AnnIndex.readCentroidsV(spark, root, 0L))
    val probedRows = emb.filter(col("vec_id") < 10)
      .select(explode(GraftFunctions.topCentroids(col("embedding"), mat, 8)).as("c"))
      .collect().map(r => listSizes.getOrElse(r.getInt(0), 0L)).sum
    val flatRows = emb.count() * 10
    val ratio = probedRows.toDouble / flatRows
    info(f"IVFADC candidate rows: $probedRows vs flat $flatRows (ratio $ratio%.3f)")
    assert(ratio < 0.65,
      s"probed-list candidate fraction $ratio not materially below flat PQ")
  }

  test("IVFADC replay + retrain: codes follow their version's codebooks, " +
      "probe stays correct across eras") {
    val root = tmp("ann-ivfpq")
    val eraA = emb.filter(col("vec_id") % 2 === 0)
    val eraB = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.trainCentroids(eraA, 0L, root, pqM = 16)
    AnnIndex.appendBatch(eraA, 0L, root)
    AnnIndex.trainCentroids(eraB, 1L, root, pqM = 16)
    AnnIndex.appendBatch(eraB, 1L, root)
    // each era has its own codebooks; replay of a train id is a no-op
    val cb0 = AnnIndex.readPqCodebooksV(spark, root, 0L)
    val cb1 = AnnIndex.readPqCodebooksV(spark, root, 1L)
    assert(cb0.nonEmpty && cb1.nonEmpty && cb0.length == 16)
    AnnIndex.trainCentroids(eraA, 0L, root, pqM = 16)
    assert(AnnIndex.readPqCodebooksV(spark, root, 0L)
      .map(_.map(_.toSeq).toSeq) == cb0.map(_.map(_.toSeq).toSeq))
    // replayed append is idempotent (staging + rename swap)
    AnnIndex.appendBatch(eraB, 1L, root)
    val asn = AnnIndex.assignmentsWithCodes(spark, root)
    assert(asn.count() == emb.count())
    assert(asn.select("vec_id").distinct().count() == emb.count())
    // codes re-derive from the version's OWN codebooks (spot-check era B)
    val mat1 = Ann.centMatrix(AnnIndex.readCentroidsV(spark, root, 1L))
    val sub = cb1(0)(0).length
    val expectB = eraB.select(col("vec_id"),
      Ann.pqEncodeCol(col("embedding").cast("array<double>"), cb1, sub).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toMap
    val gotB = asn.filter(col("cv") === 1L).select("vec_id", "codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toMap
    assert(gotB == expectB, "ingested codes must match the era's codebooks")
    // probe across both eras returns full pages touching both eras
    val page = AnnIndex.ivfpqTopKIndexed(spark, root, emb, 10, 5, nprobe = 8)
      .collect()
    assert(page.length == 50, s"expected 10 full pages, got ${page.length}")
    val cands = page.map(_.getLong(2)).toSet
    assert(cands.exists(_ % 2 == 0) && cands.exists(_ % 2 == 1),
      "both eras must serve candidates")
  }
}
