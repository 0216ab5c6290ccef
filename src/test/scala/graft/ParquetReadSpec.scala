package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.river.{RiverConfig, StreamingRiver}
import graft.util.ParquetRead

/** `ParquetRead.read` yields the schema `spark.read.parquet` infers,
  * on every layout the library opens, without the inference job. */
class ParquetReadSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSameSchema(path: String, sample: Option[String] = None): Unit = {
    val expected = spark.read.parquet(path).schema
    assert(ParquetRead.read(spark, path, sample).schema == expected, path)
  }

  test("testdata tables: the inferred schema, under the confs Tables sets") {
    Tables.region(spark, sfDir) // sets nanosAsLong the way every load does
    Tables.names.foreach(n => assertSameSchema(s"$sfDir/$n.parquet"))
  }

  test("a Spark-written directory of part files, with _SUCCESS and .crc files") {
    val dir = tmp("pr-parts") + "/t"
    Tables.events(spark, sfDir).repartition(3).write.parquet(dir)
    assertSameSchema(dir)
    assertSameSchema(s"$dir/part-*") // a glob: the inference path
  }

  test("an 8-bucket river index: kbucket discovered with the inferred type") {
    val sink = tmp("pr-river") + "/index"
    val cfg = RiverConfig(sourcePath = "n/a", sinkPath = sink, keyCol = "user_id")
    StreamingRiver.upsertBatchPartitioned(Tables.events(spark, sfDir), cfg, "event_id", 8)
    val expected = spark.read.parquet(sink).schema
    assert(expected.fieldNames.contains("kbucket"))
    Seq(None, Some(s"$sink/kbucket=3")).foreach { sample =>
      assert(ParquetRead.read(spark, sink, sample).schema == expected, sample)
    }
  }

  test("a v=<n> snapshot directory and its parent") {
    val root = tmp("pr-snap")
    Tables.documents(spark, sfDir).groupBy("lang").agg(count(lit(1)).as("df"))
      .write.parquet(s"$root/v=7")
    assertSameSchema(s"$root/v=7")
    assertSameSchema(root)
    assert(ParquetRead.read(spark, root).schema.fieldNames.last == "v")
  }

  test("the footer of the first data file in full-path order; hidden files skipped") {
    val root = tmp("pr-order")
    import spark.implicits._
    Seq(1L).toDF("a").write.parquet(s"$root/k=10")
    Seq("x").toDF("b").write.parquet(s"$root/k=2")
    Seq(1.0).toDF("c").write.parquet(s"$root/k=9")
    Seq(true).toDF("d").write.parquet(s"$root/_tmp")
    Seq(2).toDF("e").write.parquet(s"$root/.k=1")
    assertSameSchema(root)
    assert(ParquetRead.read(spark, root).schema.fieldNames.toSeq == Seq("a", "k"))
  }

  test("a _common_metadata, else a _metadata, before any data file") {
    val root = tmp("pr-summary")
    import spark.implicits._
    Seq(1L).toDF("a").write.parquet(s"$root/t")
    def summary(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val dir = tmp("pr-summary-src")
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val part = new java.io.File(dir).listFiles().find(_.getName.startsWith("part-")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$root/t/$name"))
    }
    summary(Seq("x").toDF("m"), "_metadata")
    assertSameSchema(s"$root/t")
    assert(ParquetRead.read(spark, s"$root/t").schema.fieldNames.toSeq == Seq("m"))
    summary(Seq(1.0).toDF("c"), "_common_metadata")
    assertSameSchema(s"$root/t")
    assert(ParquetRead.read(spark, s"$root/t").schema.fieldNames.toSeq == Seq("c"))
  }

  test("mergeSchema on: the merged schema") {
    val root = tmp("pr-merge")
    import spark.implicits._
    Seq(1L).toDF("a").write.parquet(s"$root/k=1")
    Seq("x").toDF("b").write.parquet(s"$root/k=2")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSameSchema(root)
      assert(ParquetRead.read(spark, root).schema.fieldNames.toSet == Set("a", "b", "k"))
    }
  }

  test("an empty directory and a missing path fail as spark.read.parquet does") {
    val empty = tmp("pr-empty")
    Seq(empty, s"$empty/missing").foreach { p =>
      val expected = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](ParquetRead.read(spark, p))
      assert(got.getCondition == expected.getCondition && got.getMessage == expected.getMessage)
    }
  }
}
