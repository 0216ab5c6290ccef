package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic bench-scale dataset derivation: replicate an existing
  * SF directory `factor`× with disjoint key ranges, preserving the
  * per-copy join selectivities (fact FKs are offset in lockstep with
  * their dimension PKs) and the time range (densifying, like TPC-H SF
  * scaling does). Dimension tables region/nation stay fixed.
  *
  * Content columns are made DISSIMILAR per copy, not near-duplicated:
  * document words carry a per-copy suffix (every shingle/token/gram
  * differs across copies) and embeddings are element-rotated by the
  * copy index (norm-preserving, decorrelating). Replicating content
  * verbatim would make the corpus 90% duplicates — every near-dup /
  * LSH operator then does quadratic work on its own (legitimately
  * enormous) output, which measures the dataset artifact, not the
  * plan. Dup density should stay constant as SF grows, like a real
  * corpus.
  *
  * Bench-only: correctness always runs against the driver's parquet.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {

  /** A key space wide enough that offset copies never collide. */
  private val Stride = 10_000_000_000L

  private def copies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))

  private def off(c: String): org.apache.spark.sql.Column =
    col(c) + col("__c").cast("long") * Stride

  def main(args: Array[String]): Unit = {
    val Array(src, dst, f) = args.take(3)
    val factor = f.toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // Multi-file output, like any distributed writer at real scale: a
    // single part file is one parquet row group is ONE scan task, which
    // serializes every compute-heavy per-row stage (measured: minhash
    // signatures for the whole corpus on one core) and misrepresents
    // cluster behavior in the bench.
    val parts = spark.sparkContext.defaultParallelism
    def write(name: String, df: DataFrame): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    // fixed dimensions
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))

    write("customer", copies(Tables.customer(spark, src), factor)
      .withColumn("c_custkey", off("c_custkey")).drop("__c"))
    write("supplier", copies(Tables.supplier(spark, src), factor)
      .withColumn("s_suppkey", off("s_suppkey")).drop("__c"))
    write("part", copies(Tables.part(spark, src), factor)
      .withColumn("p_partkey", off("p_partkey")).drop("__c"))
    write("orders", copies(Tables.orders(spark, src), factor)
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")).drop("__c"))
    write("lineitem", copies(Tables.lineitem(spark, src), factor)
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")).drop("__c"))

    // events: ts left at its raw type (ns BIGINT or timestamp — Tables
    // handles both); same time range, factor× density
    write("events", copies(Tables.eventsRaw(spark, src), factor)
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")).drop("__c"))

    // per-copy word suffix: every token (hence every shingle, n-gram,
    // fingerprint) differs across copies — copies are new content, not dups
    write("documents", copies(Tables.documents(spark, src), factor)
      .withColumn("doc_id", off("doc_id"))
      .withColumn("text",
        when(col("__c") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " ", -1),
              w => concat(w, lit("c"), col("__c"))), " ")))
      .drop("__c"))

    // element rotation by copy index (mod dim — factors beyond the
    // dimension wrap, so copies c and c+dim carry identical vectors;
    // at factor 100 over dim-64 embeddings ~35% of vectors gain one
    // exact twin, a LINEAR artifact the near-dup ops absorb as extra
    // confirmed pairs, unlike verbatim text copies which would be
    // quadratic): norm-preserving, decorrelating
    write("embeddings", copies(Tables.embeddings(spark, src), factor)
      .withColumn("vec_id", off("vec_id"))
      .withColumn("embedding", {
        val d = size(col("embedding"))
        val r = pmod(col("__c"), d)
        when(r === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), r + 1, d - r),
            slice(col("embedding"), lit(1), r)))
      })
      .drop("__c"))

    spark.stop()
  }
}
