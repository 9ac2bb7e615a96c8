package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_replace, udf}

/** Which rows of data file F are deleted: the one answer that Delta and
  * Iceberg merge-on-read reads, their DML and Delta OPTIMIZE share.
  *
  * One delete descriptor per data file, keyed by the canonical data-file
  * key ([[DeletedRows.key]]):
  *  - a Delta deletion vector (`u`, `i` or `p` storage, PROTOCOL.md
  *    §Deletion Vectors);
  *  - an Iceberg v3 Puffin deletion vector. Under the v3 scan rule the
  *    newest live DV of a file masks every v2 position delete of it
  *    (writers merge those positions into the DV);
  *  - failing a DV, the Iceberg v2 position-delete parquet files that can
  *    name F: those whose `referenced_data_file` is F, or that have none.
  *
  * Both entry points run on executors, in the task that scans F, the way
  * delta-spark's and Iceberg's own readers apply deletes: [[positions]]
  * loads F's positions once per task, and [[drop]] is a predicate on
  * `_metadata.file_path` / `_metadata.row_index` evaluated in the scan's
  * own task. No delete set is expanded into a DataFrame, broadcast or
  * joined. Query planning holds only the descriptors (metadata-scale).
  *
  * Equality deletes match by value, not by position, and stay joins
  * (`IcebergTable.buildRead`). */
private[graft] final class DeletedRows private (
    byFile: Map[String, DeletedRows.Deletes],
    conf: Option[Broadcast[SerializableHadoopConf]]) extends Serializable {
  import DeletedRows._

  // a task deserializes its own copy, so these caches live for one task
  @transient private lazy val loaded =
    scala.collection.mutable.HashMap.empty[String, Array[Long]]
  @transient private var lastFile: String = _
  @transient private var lastPositions: Array[Long] = _

  /** Deleted row positions of data file `file` (its canonical key),
    * sorted; empty when the file has no deletes. */
  def positions(file: String): Array[Long] =
    loaded.getOrElseUpdate(file, byFile.get(file).fold(Array.emptyLongArray) { d =>
      val hadoop = conf.get.value.value
      val ps = (d match {
        case DeltaDv(table, dv) => DeletionVectors.readPositions(dv, table, hadoop)
        case PuffinDv(path, offset, length) => Puffin.readDvBlob(hadoop, path, offset, length)
        case PositionFiles(dataFile, deleteFiles) =>
          deleteFiles.flatMap(positionsIn(_, dataFile, hadoop))
      }).toArray
      java.util.Arrays.sort(ps)
      ps
    })

  /** Whether row `pos` of the file at `uri` (a scan's URI-encoded
    * `_metadata.file_path`) is deleted; the file's key is worked out
    * only when the scan moves on to the next file. */
  private def deleted(uri: String, pos: Long): Boolean = {
    if (uri != lastFile) { lastPositions = positions(strip(uri)); lastFile = uri }
    java.util.Arrays.binarySearch(lastPositions, pos) >= 0
  }

  /** `scan` without its deleted rows. `scan` must be a plain file scan:
    * the predicate reads its `_metadata` columns. */
  def drop(scan: DataFrame): DataFrame =
    if (byFile.isEmpty) scan
    else {
      val isDeleted = udf((uri: String, pos: Long) => deleted(uri, pos))
        .withName("deleted_row")
      scan.filter(!isDeleted(col("_metadata.file_path"), col("_metadata.row_index")))
    }
}

private[graft] object DeletedRows {

  private[sources] sealed trait Deletes extends Serializable
  private final case class DeltaDv(tablePath: String,
                                   dv: DeletionVectors.DvDescriptor) extends Deletes
  private final case class PuffinDv(path: String, offset: Long,
                                    length: Long) extends Deletes
  /** `dataFile` is F's exact manifest spelling, which the spec requires
    * the delete rows' `file_path` to repeat. */
  private final case class PositionFiles(dataFile: String,
                                         deleteFiles: Seq[String]) extends Deletes

  private val SchemeAuthority = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"
  private val SchemeSlashes = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** The canonical data-file key of a raw path string (a decoded Delta
    * path, a manifest `file_path`, a listed file). Spark's
    * `_metadata.file_path` and `input_file_name()` are URI-ENCODED (a
    * space reads as `%20`), so the raw string is encoded the same way
    * (Hadoop `Path.toUri`). Then the scheme and the AUTHORITY go: the
    * scan's paths are always fully qualified (`hdfs://nn:8020/x`), while
    * paths resolved against a default-FS-relative table root are not.
    * Both sides of every comparison belong to one table, so dropping the
    * authority cannot conflate two files. */
  def key(path: String): String = strip(new Path(path).toUri.toString)

  /** [[key]] of a URI-encoded path: its scheme and authority dropped. */
  private def strip(uri: String): String =
    uri.replaceFirst(SchemeAuthority, "").replaceFirst(SchemeSlashes, "/")

  /** [[key]] of a column that already holds a URI-encoded path
    * (`_metadata.file_path`, `input_file_name()`): [[strip]] as a
    * column expression. */
  def keyCol(c: Column): Column =
    regexp_replace(regexp_replace(c, SchemeAuthority, ""), SchemeSlashes, "/")

  /** A Delta table's deletes: each live file's deletion vector. */
  def delta(spark: SparkSession, tablePath: String,
            files: Seq[DeltaLogReader.AddFile]): DeletedRows =
    of(spark, files.flatMap(f => f.dv.map(dv =>
      key(DeltaLogReader.decodedAbsolute(tablePath, f.path)) -> DeltaDv(tablePath, dv))).toMap)

  /** An Iceberg snapshot's position deletes (`content = 1` entries: v3
    * DVs and v2 parquet files) over `dataFiles`. */
  def iceberg(spark: SparkSession, dataFiles: Seq[IcebergTable.DataFileInfo],
              posDeletes: Seq[IcebergTable.DataFileInfo]): DeletedRows = {
    def target(f: IcebergTable.DataFileInfo): String = key(f.referencedDataFile.getOrElse(
      throw new IllegalArgumentException(
        s"PUFFIN delete entry without referenced_data_file: ${f.path}")))
    val (dvEntries, parquet) = posDeletes.partition(_.isDv)
    // at most one DV per data file is live in a valid v3 snapshot;
    // resolve defensively to the newest should a writer misbehave
    val dvs: Map[String, Deletes] = dvEntries.groupBy(target).map { case (k, fs) =>
      val f = fs.maxBy(_.seq)
      k -> PuffinDv(f.path,
        f.contentOffset.getOrElse(throw new IllegalArgumentException(
          s"DV entry without content_offset: ${f.path}")),
        f.contentSize.getOrElse(throw new IllegalArgumentException(
          s"DV entry without content_size_in_bytes: ${f.path}")))
    }
    val (unscoped, scoped) = parquet.partition(_.referencedDataFile.isEmpty)
    val scopedTo = scoped.groupBy(f => key(f.referencedDataFile.get))
    val byFile: Map[String, Deletes] =
      if (posDeletes.isEmpty) Map.empty
      else dataFiles.flatMap { f =>
        val k = key(f.path)
        dvs.get(k).orElse {
          val named = unscoped ++ scopedTo.getOrElse(k, Nil)
          Option.when(named.nonEmpty)(PositionFiles(f.path, named.map(_.path)))
        }.map(k -> _)
      }.toMap
    of(spark, byFile)
  }

  /** Canonical keys of the data files that v2 position-delete parquet
    * files name (their `file_path` column; a changelog's changed-file
    * set). */
  def namedFiles(spark: SparkSession, deleteFiles: Seq[String]): Set[String] =
    if (deleteFiles.isEmpty) Set.empty
    else graft.GraftSession.readParquet(spark, deleteFiles.head, deleteFiles.tail: _*)
      .select(col("file_path")).distinct()
      .collect().map(r => key(r.getString(0))).toSet

  /** Executors open delete files with the session's Hadoop conf, which
    * is broadcast only when some file has deletes. */
  private def of(spark: SparkSession, byFile: Map[String, Deletes]): DeletedRows =
    new DeletedRows(byFile, Option.when(byFile.nonEmpty)(spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))))

  /** The positions one v2 position-delete file holds for `dataFile`. The
    * spec sorts delete files by (file_path, pos), so the `file_path =
    * dataFile` filter skips, by row-group statistics, every group that
    * cannot hold it. */
  private def positionsIn(deleteFile: String, dataFile: String,
                          conf: Configuration): Seq[Long] = {
    val reader = ParquetReader.builder(new PositionReadSupport, new Path(deleteFile))
      .withConf(conf)
      .withFilter(FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn("file_path"),
        Binary.fromString(dataFile))))
      .build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(_.getLong("pos", 0)).toVector
    finally reader.close()
  }

  /** Reads `file_path` and `pos` only, with the repetition the file
    * declares (Spark writes them optional, the spec required). */
  private final class PositionReadSupport extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val s = context.getFileSchema
      new ReadSupport.ReadContext(new MessageType(s.getName,
        s.getType(s.getFieldIndex("file_path")), s.getType(s.getFieldIndex("pos"))))
    }
  }
}
