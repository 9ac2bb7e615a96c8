package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned table on plain parquet — the capability surface of
  * Drill's table-format plugins (reference: contrib/format-iceberg
  * IcebergGroupScan snapshot reads, format-deltalake): immutable
  * versioned writes and time travel, without the external table-format
  * libraries (not present in this container). Layout:
  * `base/v=N/part-*.parquet`; the latest committed version is the highest
  * N whose directory write completed (parquet `_SUCCESS`).
  */
object SnapshotTable {

  private def fs(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed snapshot versions, ascending. */
  def versions(spark: SparkSession, base: String): Seq[Int] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => f.exists(new Path(s.getPath, "_SUCCESS")))
      // non-numeric v=* dirs (a user's v=3.bak copy) are not snapshots —
      // .toInt used to throw and wedge the whole table
      .flatMap(_.getPath.getName.stripPrefix("v=").toIntOption)
      .sorted
  }

  /** Append a new immutable snapshot; returns its version id. The next
    * version counts over ALL v= directories, committed or not — a
    * crashed writer's uncommitted leftover must not wedge the table by
    * making every retry collide with the same errorifexists path
    * (versions() skips it, so reads stay clean either way). */
  def write(df: DataFrame, base: String): Int = {
    val f = fs(df.sparkSession, base)
    val dir = new Path(base)
    def taken: Seq[Int] =
      if (!f.exists(dir)) Seq.empty[Int]
      else f.listStatus(dir).toSeq
        .filter(s => s.getPath.getName.startsWith("v=") ||
          s.getPath.getName.startsWith(".v="))
        .flatMap(st => st.getPath.getName
          .stripPrefix(".").stripPrefix("v=").stripSuffix(".claim").toIntOption)
    // CLAIM the version with a put-if-absent marker before writing:
    // errorifexists' pre-job existence check is not atomic, so two
    // concurrent writers could interleave part files into one v=N dir
    // that still earned a _SUCCESS. Losers advance to the next id.
    var v = (taken :+ 0).max + 1
    var claimed = false
    var attempts = 0
    while (!claimed) {
      attempts += 1
      require(attempts <= 50, s"snapshot claim: gave up after 50 conflicts at $base")
      if (StagedFiles.publishIfAbsent(f, new Path(dir, s".v=$v.claim"),
          Array.emptyByteArray)) claimed = true
      else v = math.max(v + 1, (taken :+ 0).max + 1)
    }
    df.write.mode("errorifexists").parquet(s"$base/v=$v")
    // claim GC: a claim whose v=N DIRECTORY exists is spent — the dir
    // itself keeps N in `taken`. Without this, long-lived tables accrue
    // one marker per write forever (re-listed on every later conflict).
    try {
      val dirs = f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v=")).flatMap(_.stripPrefix("v=").toIntOption)
        .toSet
      f.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith(".v=") && p.getName.endsWith(".claim"))
        .filter(p => p.getName.stripPrefix(".v=").stripSuffix(".claim")
          .toIntOption.exists(dirs.contains))
        .foreach(p => f.delete(p, false))
    } catch { case scala.util.control.NonFatal(_) => () } // GC is best-effort
    v
  }

  /** Read a snapshot — latest by default, or time-travel to `version`. */
  def read(spark: SparkSession, base: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v=$v not found (have ${vs.mkString(",")})")
    spark.read.parquet(s"$base/v=$v")
  }
}
