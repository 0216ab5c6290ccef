package graft.util

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftglue.Glue

/** The library's one parquet table reader. `spark.read.parquet(path)`
  * infers the schema with a Spark job (a `parallelize(...).collect()`
  * over the footers it reads), even for a single file; this reads the
  * same footer on the driver and hands Spark the schema, so opening a
  * table runs no job and yields the schema inference would have.
  *
  * The footer is the one `ParquetUtils.inferSchema` reads with
  * `mergeSchema` off: a `_common_metadata`, else a `_metadata`, else
  * the first data file in full-path order, skipping the names Spark's
  * listing skips. The walk lists directories in that order and stops at
  * the first data file; summary files are looked for in the directories
  * it lists (Parquet writes them only at the output root). Partition
  * directories (`kbucket=`, `v=`) are still discovered by Spark and
  * appended to the schema.
  *
  * With `spark.sql.parquet.mergeSchema` on, or with no footer to read
  * (nothing at the path, as for a glob; no data file; an unreadable
  * footer), it is `spark.read.parquet(path)`, with its errors. */
object ParquetRead {

  /** `path` as a DataFrame. `sample`, a directory or file under `path`
    * all of whose files share its schema (a river bucket this poll
    * reads), is where the footer is looked for instead of `path`. */
  def read(spark: SparkSession, path: String, sample: Option[String] = None): DataFrame = {
    val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    val schema = if (merge) None else Try {
      val from = new Path(sample.getOrElse(path))
      val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
      schemaFile(fs, fs.getFileStatus(from)).map(Glue.parquetFooterSchema(spark, _))
    }.toOption.flatten
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  private val summaries = Seq("_common_metadata", "_metadata")

  private def schemaFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else {
      // a directory's leaves sort after a sibling file `f` exactly when
      // `name + "/"` sorts after `f`, so this order is full-path order
      val kids = fs.listStatus(st.getPath)
        .filterNot(k => Glue.hiddenName(k.getPath.getName))
        .sortBy(k => k.getPath.getName + (if (k.isDirectory) "/" else ""))
      val files = kids.filterNot(_.isDirectory)
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(kids.iterator.flatMap { k =>
          if (k.isDirectory) schemaFile(fs, k)
          else Some(k).filterNot(f => summaries.contains(f.getPath.getName))
        }.nextOption())
    }
}
