package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** How a table writer makes a file visible — the one commit primitive of
  * the hand-rolled Delta, Iceberg and Paimon writers and of the small
  * JSON stores (catalogs, index pins, snapshot claims):
  *
  *  - [[stage]]: data files. A distributed parquet write lands under a
  *    UUID staging dir; each committed part then moves to the place the
  *    caller names, under a UUID-unique name, so two writers racing for
  *    one table version never share a staging dir or clobber each
  *    other's files before the commit decides the race.
  *  - [[publishIfAbsent]]: commit files (a Delta log version, an Iceberg
  *    metadata version, a Paimon snapshot). Full content becomes visible
  *    in one step, and never over an existing file.
  *  - [[replace]]: mutable single-file stores, replaced in place through
  *    a UUID tmp file.
  */
private[graft] object StagedFiles {

  /** One data file: its path (in staging when `dest` sees it, in the
    * table once moved), size, the `k=v` directory components of its
    * staged path (Spark's `partitionBy` rendering, unescaped; e.g.
    * `__p_<col>` -> value) and its footer row count (-1 when not
    * counted). */
  case class StagedFile(path: Path, size: Long,
                        partition: Map[String, String], rows: Long)

  /** Write `df` as parquet under a UUID staging dir of `table`
    * (directory-partitioned by `partitionBy`), then move each committed
    * part to `dest(staged, name)`, where `staged` is the part as it sits
    * in staging and `name` is a UUID-unique token (`<index>-<uuid>`) for
    * the caller's file name. `dest` returning None drops the part (it
    * goes with the staging dir). `countRows` reads each part's footer
    * once, for writers that record counts. Parts come back in
    * staged-path order; the staging dir is deleted. */
  def stage(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
            countRows: Boolean = false)
           (dest: (StagedFile, String) => Option[Path]): Seq[StagedFile] = {
    val spark = df.sparkSession
    val runId = UUID.randomUUID().toString
    val staging = new Path(table, s"_staging_$runId")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.partitionBy(partitionBy: _*).mode("overwrite").parquet(staging.toString)
    val root = fs.makeQualified(staging).toUri.getPath
    val made = scala.collection.mutable.Set.empty[Path]
    val moved = walkParquet(fs, staging).sortBy(_.getPath.toString).zipWithIndex
      .flatMap { case (st, i) =>
        val part = st.getPath
        val partition = part.toUri.getPath.stripPrefix(root).split('/')
          .filter(_.contains('=')).map { c =>
            val Array(k, v) = c.split("=", 2)
            k -> ExternalCatalogUtils.unescapePathName(v)
          }.toMap
        val staged = StagedFile(part, st.getLen, partition,
          if (countRows) parquetRowCount(spark, part) else -1L)
        dest(staged, f"$i%05d-$runId").map { to =>
          if (made.add(to.getParent)) fs.mkdirs(to.getParent)
          move(fs, part, to)
          staged.copy(path = to)
        }
      }
    fs.delete(staging, true)
    moved
  }

  /** Move a staged file into the table; a failed rename is an error,
    * never a silently missing file. */
  def move(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename failed: $from -> $to")

  /** Every committed parquet part under `p`: recurses past partition
    * directories (`__p_c=v`), skips Spark's `_temporary`/hidden dirs and
    * marker files. */
  private def walkParquet(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory) {
        // exact _temporary, not a _t prefix: a partition dir like
        // _tier=gold would otherwise be silently skipped at commit
        if (n == "_temporary" || n.startsWith(".")) Nil
        else walkParquet(fs, s.getPath)
      }
      else if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        Seq(s)
      else Nil
    }

  /** Row count from the parquet footer (metadata read, no data scan). */
  private def parquetRowCount(spark: SparkSession, p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Publish `bytes` at `dst` iff absent, the full content visible in one
    * step — never a torn or empty file at `dst`, never over an existing
    * one. A UUID tmp file is written first, then published:
    *
    *  - local filesystems (by class, so the checksum wrapper, the raw
    *    filesystem and their subclasses alike): a hard link. link(2)
    *    refuses an existing target atomically; Hadoop's local
    *    `create(p, false)` is exists-then-create, with a window between.
    *  - others: a no-replace rename (HDFS fails it on an existing
    *    target), then a read-back — on an object store the rename is a
    *    copy and two writers may both "win"; only the one whose bytes
    *    survived claims it.
    *
    * Returns false when `dst` already existed (the caller lost the race).
    * The tmp file is always removed. */
  def publishIfAbsent(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = tmpFor(dst)
    write(fs, tmp, bytes)
    try fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
        try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ =>
        !fs.exists(dst) && fs.rename(tmp, dst) && {
          val in = fs.open(dst)
          try in.readAllBytes().sameElements(bytes) finally in.close()
        }
    } finally fs.delete(tmp, false) // consumed by a successful rename
  }

  /** Replace `target` with `bytes` through a UUID tmp file: a fixed tmp
    * name let two concurrent writers interleave into one stream and
    * install corrupt JSON durably. */
  def replace(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(target)
    write(fs, tmp, bytes)
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(tmp, target), s"atomic rename failed for $target")
  }

  /** Hidden, UUID-unique sibling of `p` (listings of the commit dirs
    * match exact names, so it never reads as a commit). */
  private def tmpFor(p: Path): Path =
    new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp")

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val os = fs.create(p, true)
    try os.write(bytes) finally os.close()
  }
}
