package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline
import graft.similarity.Ann

/** Job counts of the near-dup path: a Lloyd round is one Spark job and
  * gives the `avg` form's means, and a corpus release runs a pinned
  * number of jobs. */
class DedupJobsSpec extends SparkSpec {

  private def vectors(n: Int, dim: Int, partitions: Int): DataFrame = {
    val rnd = new scala.util.Random(11)
    val data = (0 until n).map(i => Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, partitions),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).localCheckpoint()
  }

  /** Lloyd rounds as a per-(centroid, dim) `avg` aggregate, the form
    * the one-job round replaced. */
  private def avgLloyd(emb: DataFrame, k: Int, rounds: Int): Seq[(Int, Seq[Double])] = {
    var cents = emb.orderBy("vec_id").limit(k).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }.toSeq
    (0 until rounds).foreach { _ =>
      val assign = Ann.centroidAssigner(spark, Ann.centMatrix(cents))
      val means = emb
        .select(col("embedding").cast("array<double>").as("e"))
        .select(assign(col("e"), 1).getItem(0).as("ci"), posexplode(col("e")).as(Seq("dim", "v")))
        .groupBy("ci", "dim").agg(avg(col("v")).as("m"))
        .collect().groupBy(_.getInt(0))
      cents = cents.map { case (i, old) =>
        i -> means.get(i).map(rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          .getOrElse(old)
      }
    }
    cents
  }

  private def bits(cs: Seq[(Int, Seq[Double])]) =
    cs.map { case (i, v) => i -> v.map(java.lang.Double.doubleToRawLongBits) }

  test("lloydCentroids runs one job per round plus the seed job") {
    val emb = vectors(400, 8, 4)
    Seq(1, 3).foreach { rounds =>
      val (jobs, _) = observe { Ann.lloydCentroids(emb, 12, rounds) }
      assert(jobs == rounds + 1, s"$jobs jobs for $rounds rounds")
    }
    Glue.dropCheckpoint(emb)
  }

  test("lloydCentroids means equal the avg form bit for bit on one partition") {
    val emb = vectors(500, 16, 1)
    val got = Ann.lloydCentroids(emb, 9, 3)
    assert(got.length == 9)
    assert(bits(got) == bits(avgLloyd(emb, 9, 3)))
    Glue.dropCheckpoint(emb)
  }

  test("an sf0.001 releaseManifestV3 runs a pinned number of jobs") {
    // a table another suite cached turns its scan into a table-cache
    // stage, one more job: count against the bare tables
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    def release(): Int = {
      var out: DataFrame = null
      val (jobs, _) = observe {
        out = Pipeline.releaseManifestV3(docs, emb, Seq("src0", "src1"), 4, 0.2)
      }
      assert(out.count() > 0)
      Glue.dropCheckpoint(out)
      jobs
    }
    release() // warm-up: the first release may read table footers and stats
    val jobs = Seq(release(), release())
    assert(jobs.forall(_ == 28), s"release jobs $jobs")
  }
}
