package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** TimestampType → TimestampNTZType, recursively through containers.
    * The driver's DuckDB oracle reads the testdata's NTZ parquet and
    * emits naive TIMESTAMP; a tz-aware (isAdjustedToUTC=true) Spark
    * output therefore schema+hash-mismatches even when every instant is
    * identical — exactly the round-11 q3/q18 failure (VERDICT r11). */
  private def ntzType(dt: DataType): DataType = dt match {
    case TimestampType  => TimestampNTZType
    case s: StructType  => StructType(s.fields.map(f => f.copy(dataType = ntzType(f.dataType))))
    case a: ArrayType   => a.copy(elementType = ntzType(a.elementType))
    case m: MapType     => m.copy(keyType = ntzType(m.keyType), valueType = ntzType(m.valueType))
    case other          => other
  }

  /** Cast every tz-aware timestamp in the output to NTZ — lossless under
    * the pinned-UTC session (same physical epoch-µs), and the form the
    * DuckDB oracle mirrors bit-for-bit. No-op when nothing is tz-aware. */
  def normalizeOutput(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f => ntzType(f.dataType) != f.dataType)
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      val t = ntzType(f.dataType)
      if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
    }.toSeq: _*)
  }

  /** Column paths whose type the DuckDB oracle cannot mirror: tz-aware
    * timestamps (would write isAdjustedToUTC=true parquet) and interval
    * types (no stable parquet mapping). Run on the ALREADY-normalized
    * schema this is the guard that turns the r11 failure class into a
    * hard error instead of a silent hash mismatch. */
  def unmirrorableColumns(schema: StructType): Seq[String] = {
    def walk(path: String, dt: DataType): Seq[String] = dt match {
      case TimestampType => Seq(s"$path: TIMESTAMP (tz-aware)")
      case _: CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
        Seq(s"$path: $dt")
      case s: StructType => s.fields.toSeq.flatMap(f => walk(s"$path.${f.name}", f.dataType))
      case a: ArrayType  => walk(s"$path[]", a.elementType)
      case m: MapType    => walk(s"$path<key>", m.keyType) ++ walk(s"$path<val>", m.valueType)
      case _ => Nil
    }
    schema.fields.toSeq.flatMap(f => walk(f.name, f.dataType))
  }

  /** Throws if the (normalized) output schema still carries a type the
    * oracle can't mirror — fails THAT query loudly in the verify log
    * rather than shipping a guaranteed driver-gate mismatch. */
  def assertMirrorable(name: String, schema: StructType): Unit = {
    val bad = unmirrorableColumns(schema)
    require(bad.isEmpty,
      s"query '$name' would write oracle-unmirrorable columns: ${bad.mkString("; ")} " +
      "(cast tz-aware timestamps to TIMESTAMP_NTZ in the query, or extend Verify.normalizeOutput)")
  }

  /** `SparkEntry.oracleSql` as the JSON object `main` writes to
    * `oracle_sql.json`, in the map's iteration order. */
  def oracleJson: String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional args after the two dirs: run only the named queries
    // (diagnostics; the driver invokes with exactly two args → full suite)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = normalizeOutput(fn(spark, sfDir))
        assertMirrorable(name, out.schema)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }
}
