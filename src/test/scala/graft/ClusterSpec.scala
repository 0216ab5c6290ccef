package graft

import graft.dedup.Dedup

/** [[Dedup.nearDupClusters]]: transitive components, agreement with a
  * driver-side union-find on random graphs and on the shapes label
  * propagation can get wrong, and its job count (one Spark job per
  * round). Every case runs in seconds. */
class ClusterSpec extends SparkSpec {

  test("label propagation finds transitive components") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated-by-absence 99
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chains converge (diameter > 1 round)") {
    import spark.implicits._
    val chain = (1L until 20L).map(i => (i, i + 1))
    val got = Dedup.nearDupClusters(chain.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 20 && got.values.forall(_ == 1L))
  }

  test("clusters on real near-dup pairs are closed under the pair relation") {
    val pairs = Dedup.ngramJaccard(Tables.documents(spark, sfDir), 3, 0.8)
      .select("a_id", "b_id").cache()
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.collect().foreach { r =>
      assert(clusters(r.getLong(0)) == clusters(r.getLong(1)),
        s"pair ${r.getLong(0)}-${r.getLong(1)} split across clusters")
    }
    assert(clusters.nonEmpty)
  }

  import spark.implicits._

  private def clusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val rows = Dedup.nearDupClusters(pairs.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length, "an id appears twice")
    rows.toMap
  }

  /** Smallest reachable id per node, by union-find on the driver. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  test("random graphs up to 200 nodes match a driver-side union-find") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val graph: Gen[Seq[(Long, Long)]] = for {
      nodes <- Gen.choose(1, 200)
      edges <- Gen.choose(0, 240)
      pairs <- Gen.listOfN(edges,
        Gen.zip(Gen.choose(0L, nodes.toLong), Gen.choose(0L, nodes.toLong)))
    } yield pairs
    val prop = Prop.forAll(graph) { pairs =>
      val got = clusters(pairs)
      val want = unionFind(pairs)
      if (got != want) println(s"MISMATCH pairs=$pairs\n got=$got\n want=$want")
      got == want
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("a star whose hub is not the smallest id labels every leaf with the smallest leaf") {
    val star = Seq(7L, 3L, 99L, 120L).map(leaf => (50L, leaf))
    assert(clusters(star) == Seq(50L, 7L, 3L, 99L, 120L).map(_ -> 3L).toMap)
  }

  test("a self-pair and both directions of one pair give one row per id") {
    val pairs = Seq((5L, 5L), (2L, 1L), (1L, 2L), (8L, 8L), (9L, 4L))
    assert(clusters(pairs) ==
      Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 8L -> 8L, 4L -> 4L, 9L -> 4L))
  }

  test("an empty pair frame gives an empty (id bigint, cluster bigint)") {
    val out = Dedup.nearDupClusters(Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(out.schema.map(f => f.name -> f.dataType.sql) ==
      Seq("id" -> "BIGINT", "cluster" -> "BIGINT"))
    assert(out.collect().isEmpty)
  }

  test("integral ids of any width are widened to bigint; string ids are rejected") {
    val ints = Seq((3, 1), (2, 3)).toDF("a_id", "b_id")
    assert(Dedup.nearDupClusters(ints).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val strings = Seq(("doc-7", "doc-3")).toDF("a_id", "b_id")
    val e = intercept[IllegalArgumentException](Dedup.nearDupClusters(strings))
    assert(e.getMessage.contains("a_id is STRING"), e.getMessage)
  }

  test("a chain of 64 nodes is one cluster") {
    val chain = (1L until 64L).map(i => (i + 1, i))
    assert(clusters(chain) == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("each round is one Spark job after the pair plan") {
    // a local pair frame: the pair plan starts no job of its own. The
    // initial label already covers one hop, so a chain of 5 nodes
    // (diameter 4) takes 4 rounds — 3 that move a label and the one
    // that sees nothing change — and a star whose hub is the smallest
    // id takes one.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    var out: org.apache.spark.sql.DataFrame = null
    val (chainJobs, _) = observe { out = Dedup.nearDupClusters(chain) }
    assert(out.collect().map(_.getLong(1)).toSet == Set(1L))
    assert(chainJobs == 4, s"$chainJobs jobs for 4 rounds")
    val (starJobs, _) = observe { out = Dedup.nearDupClusters(star) }
    assert(out.collect().map(_.getLong(1)).toSet == Set(1L))
    assert(starJobs == 1, s"$starJobs jobs for 1 round")
  }
}
