package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.HadoopFSUtils

/** Narrow glue onto Spark's `private[sql]` surface (Column ↔ Catalyst
  * Expression, function registration, parquet footer schemas,
  * checkpoint block release). Lives
  * under `org.apache.spark.sql` for visibility — the standard pattern
  * for Spark extension libraries; everything else in graft stays in
  * public API land.
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder so `spark.sql("fn(...)")`
    * resolves it (temp function in the session's FunctionRegistry). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `batch` as a DataFrame of `home`, zero-copy (its planned
    * `InternalRow` RDD, no external `Row`s): jobs over it run in `home`. */
  def rehome(home: SparkSession, batch: DataFrame): DataFrame =
    classic(home).internalCreateDataFrame(batch.queryExecution.toRdd, batch.schema, false)

  /** `ds.localCheckpoint()` and its row count, both from the one job
    * that materializes the checkpoint (a `count()` after it would be a
    * second job). */
  def localCheckpointCounted(ds: DataFrame): (DataFrame, Long) = {
    val d = ds.asInstanceOf[ClassicDataset[_]]
    val qe = d.queryExecution
    val (rdd, n) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      (rdd, rdd.count())
    }
    (ClassicDataset.ofRows(classic(ds.sparkSession),
      LogicalRDD.fromDataset(rdd, d, isStreaming = false)), n)
  }

  /** Drop the blocks of a locally checkpointed RDD that nothing reads
    * any more. `RDD.unpersist` removes the same blocks but logs a
    * warning that the truncated lineage cannot be recomputed, which is
    * the point here. */
  def dropCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** [[dropCheckpoint]] for the checkpoints a Dataset's rows are read
    * from: each `LogicalRDD` leaf of its plan, followed through
    * one-to-one dependencies to the first persisted RDD. That is the
    * RDD itself for a `localCheckpoint`ed Dataset (not a cache-manager
    * entry, so `Dataset.unpersist` does not reach its blocks) and the
    * last round for a frame mapped from a checkpointed RDD
    * (`Dedup.nearDupClusters`). */
  def dropCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.collectLeaves().foreach {
      case r: LogicalRDD => persistedSource(r.rdd).foreach(dropCheckpoint)
      case _ =>
    }

  @scala.annotation.tailrec
  private def persistedSource(rdd: RDD[_]): Option[RDD[_]] =
    if (rdd.getStorageLevel != StorageLevel.NONE) Some(rdd)
    else rdd.dependencies match {
      case Seq(d: OneToOneDependency[_]) => persistedSource(d.rdd)
      case _ => None
    }

  /** True for a name Spark's file listing skips (`_`/`.` prefixed
    * without `=`, `._COPYING_`), except the `_metadata` and
    * `_common_metadata` summaries, which it keeps. */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet footer, read on the driver exactly
    * as `ParquetFileFormat.mergeSchemasInParallel` reads each footer it
    * touches: row groups skipped, the Spark schema stored in the footer
    * if there is one, else the parquet schema converted under the
    * session's binary, INT96, NTZ-inference, nanos and unknown-type
    * confs. */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus): StructType = {
    val session = classic(spark)
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val metadata = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, session.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, metadata), converter)
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
