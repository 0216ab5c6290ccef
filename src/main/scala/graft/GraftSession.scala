package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: every main and every spec
  * gets its session here, so their confs cannot drift apart. */
object GraftSession {

  /** A `local[cpus]` session with graft's SQL functions
    * ([[GraftExtensions]]) and the confs the library's outputs and
    * kernels rely on. `cpus` defaults to `SPARK_GRAFT_CPUS`, else every
    * core. Returns the running session when there is one (Spark then
    * keeps its static confs and applies the runtime ones). */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // timestamps written as INT64 µs, never INT96: the hbasesim
      // source and the DuckDB oracle both read them
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // legacy INT64 TIMESTAMP(NANOS) columns read as epoch-ns longs;
      // `Tables` sets this on first load of any session, so a session
      // built here starts in the state every table read leaves it in
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TopKPairs aggregates over corpus-cardinality keys must hash, not
      // fall back to sort (see Dedup.embeddingNearDupIvf)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1L << 20)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
