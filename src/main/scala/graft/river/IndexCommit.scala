package graft.river

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol of every maintained index (the river's
  * snapshot and bucketed sinks, `DedupIndex`, `TermsIndex`,
  * `AnnIndex`) — the idempotent sink commit that makes a replayed
  * micro-batch exactly-once. Two shapes:
  *
  *  - versioned snapshots: a batch writes `v=<batchId>` next to the
  *    older versions; Spark's `_SUCCESS` marker is the commit point,
  *    readers take the newest committed version ([[versions]]), and
  *    superseded versions [[retire]] behind a reader grace window;
  *  - rename swaps: a directory rewritten in place is fully written to
  *    a staging name, then [[swapIn]] renames the live copy aside to a
  *    backup name and the staging copy into place. At every instant the
  *    live copy or its backup exists, and [[recover]] restores a backup
  *    that a crash between the two renames left behind.
  */
private[graft] object IndexCommit {

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed (`_SUCCESS`-marked) `v=<n>` versions under `base`,
    * ascending. */
  def versions(spark: SparkSession, base: String): Seq[Long] = {
    val fs = fileSystem(spark, base)
    val dir = new Path(base)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
  }

  /** Delete the versions older than `current` except the `retain`
    * newest of them. The kept ones are the reader grace window: a
    * concurrent reader that resolved an older version through
    * [[versions]] but has not executed its lazy DataFrame yet would
    * otherwise hit FileNotFound mid-query, so "readers take the newest
    * complete version" holds as long as no query outlives `retain`
    * maintenance cycles. */
  def retire(spark: SparkSession, base: String, versions: Seq[Long],
      current: Long, retain: Int): Unit = {
    val fs = fileSystem(spark, base)
    versions.filter(_ < current).sorted.dropRight(retain)
      .foreach(v => fs.delete(new Path(s"$base/v=$v"), true))
  }

  /** Leave no `backup`: a backup without its live copy is what a crash
    * between the two renames of [[swapIn]] left, and becomes the live
    * copy again; a backup beside its live copy is the leftover of a
    * finished swap and is deleted. Callers that listed the directory
    * pass the state they saw; the others pass `fs.exists` probes, which
    * run only when needed. */
  def recover(fs: FileSystem, live: Path, backup: Path,
      liveExists: => Boolean, backupExists: => Boolean): Unit =
    if (backupExists) {
      if (liveExists) fs.delete(backup, true) else fs.rename(backup, live)
    }

  /** Replace `live` with the fully written `staged` copy: rename the
    * live copy (if any) aside to `backup`, rename `staged` into place,
    * drop the backup. `backup` must not exist (see [[recover]]). */
  def swapIn(fs: FileSystem, staged: Path, live: Path, backup: Path,
      liveExists: Boolean): Unit = {
    if (liveExists) fs.rename(live, backup)
    fs.rename(staged, live)
    fs.delete(backup, true)
  }
}
