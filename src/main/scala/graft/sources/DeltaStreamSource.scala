package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE over the hand-rolled Delta log —
  * `spark.readStream.format("graft-delta").load(path)`: change streams
  * OUT of the lakehouse, the read-side twin of the exactly-once
  * streaming sinks. Follows the delta-spark DeltaSource contract
  * (io.delta's sources/DeltaSource.scala — the same v1 `Source` API,
  * offsets = log versions):
  *
  *  - initial batch = the full table snapshot at the stream's first
  *    observed version (or from `startingVersion`; `latest` streams only
  *    post-start appends);
  *  - each later batch = rows ADDED in the commit range (prev, cur] —
  *    dataChange=false adds (OPTIMIZE / compaction) never re-emit;
  *  - a commit that REMOVES data (overwrite, delete) fails the stream
  *    with a clear error unless `skipChangeCommits` is set, which skips
  *    the whole commit (delta's option of the same name);
  *  - deletion-vector commits refuse (same posture as readChanges);
  *    PARTITIONED tables stream with their log-recorded partition
  *    values attached as literal columns per tuple (the values live in
  *    the log, never in the data files); COLUMN-MAPPED tables refuse at
  *    source creation (files carry physical names — a logical-name
  *    scan would stream all-NULL rows).
  *
  * Offsets serialize as the plain version number, so checkpoints
  * restart exactly: a replayed range re-reads the same committed files
  * (Delta commits are immutable) and the sink's own idempotence
  * completes exactly-once.
  */
class DeltaStreamProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), DeltaStreamSource.tableSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext, parameters, metadataPath)
}

private[sources] object DeltaStreamSource {
  def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta source requires .load(<table path>)"))

  /** Admission-control progress persisted under the source's checkpoint
    * metadata dir. The v1 Source API gives a restarted source no way to
    * see the engine's committed offset before its first getOffset — an
    * in-memory-only tracker would restart the file-budget count from
    * scratch and return an offset BELOW the checkpoint, regressing it
    * and re-emitting delivered versions. One tiny file closes that. */
  private[sources] class Progress(spark: org.apache.spark.sql.SparkSession,
                                  metadataPath: String) {
    private val p = new Path(metadataPath, "graft-progress")
    private val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(): Option[Long] =
      try {
        // the rename fallback path (delete target, rename tmp) has a
        // crash window with NO progress file — the tmp is a complete
        // single-shot write, so fall back to it rather than regressing
        // the admission watermark and re-emitting delivered versions
        val src =
          if (fs.exists(p)) Some(p)
          else Some(new Path(metadataPath, ".graft-progress.tmp"))
            .filter(fs.exists)
        src.flatMap { f =>
          val in = fs.open(f)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim.toLongOption
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    def write(v: Long): Unit = {
      val tmp = new Path(metadataPath, ".graft-progress.tmp")
      val os = fs.create(tmp, true)
      try os.write(v.toString.getBytes("UTF-8")) finally os.close()
      if (!fs.rename(tmp, p)) { fs.delete(p, false); fs.rename(tmp, p) }
    }

    // the startingVersion=latest ANCHOR: resolved ONCE per stream and
    // persisted — a restart that re-resolved "latest" to the current
    // table version silently dropped the commits the crashed batch was
    // carrying (getBatch(None, end) replays against the anchor)
    private val a = new Path(metadataPath, "graft-anchor")
    def readAnchor(): Option[Long] =
      try {
        if (!fs.exists(a)) None
        else {
          val in = fs.open(a)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim.toLongOption
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    def writeAnchor(v: Long): Unit = // anchors are immutable
      StagedFiles.publishIfAbsent(fs, a, v.toString.getBytes("UTF-8"))
  }

  /** Newest version: JSON commits, or the checkpoint when every commit
    * file has been cleaned up (a checkpoint-only log used to crash
    * source creation with an unhelpful empty.max). */
  private[sources] def latestVersion(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Long =
    DeltaLogReader.tableVersions(spark, path).maxOption
      .orElse(DeltaLogReader.lastCheckpointVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"delta stream: no commits or checkpoint under $path"))

  def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  def tableSchema(sqlContext: SQLContext,
                  parameters: Map[String, String]): StructType = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // read() runs the protocol/column-mapping guards; readChanges adds
    // the partitioned-table refusal this source inherits. On a
    // checkpoint-only log (every JSON commit cleaned up) readChanges has
    // no commit to diff — latestVersion's checkpoint fallback alone
    // didn't save it from versions.max on an empty seq — so the CDF
    // schema derives from the snapshot schema + the two CDF columns;
    // the partitioned refusal re-fires on the first real commit.
    if (cdfMode(parameters)) {
      val versions = DeltaLogReader.tableVersions(spark, path)
      if (versions.nonEmpty)
        DeltaLogReader.readChanges(spark, path, versions.max).schema
      else StructType(DeltaLogReader.read(spark, path).schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType)))
    }
    else
      // metadata-only: read()'s full scan plan (partition grouping, DV
      // joins) is not needed to answer a schema question; snapshot()
      // still runs the protocol guards
      DeltaLogReader.snapshot(spark, path).schema
  }
}

class DeltaStreamSource(sqlContext: SQLContext,
                        parameters: Map[String, String],
                        metadataPath: String = "") extends Source {
  private val spark =
    sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val path = DeltaStreamSource.pathOf(parameters)
  private val startingVersion = parameters.get("startingVersion")
  private val skipChangeCommits =
    parameters.get("skipChangeCommits").exists(_.toBoolean)
  // readChangeFeed=true: emit CHANGE rows (schema + _change_type +
  // _commit_version) instead of appended rows — delta-spark's CDF
  // streaming mode. Data-changing commits are the point here, so they
  // never fail the stream; commits carrying cdc files serve them
  // row-exact, plain commits derive insert/delete (readChanges rules).
  private val cdf = DeltaStreamSource.cdfMode(parameters)
  private val mapper = new ObjectMapper()

  // non-CDF incremental batches read add-file parquet DIRECTLY, so the
  // source needs the partition columns up front (partition values live
  // in the LOG, never in the data files — a bare schema'd scan streamed
  // them as all-NULL) and must refuse column mapping (the files carry
  // PHYSICAL column names; a logical-name scan silently reads all-NULL
  // data columns). One log read at start serves the schema and both
  // guards. CDF mode delegates the guards to readChanges' own.
  private val (appendSchema, partCols): (Option[StructType], Seq[String]) =
    if (cdf) (None, Nil)
    else {
      val snap = DeltaLogReader.snapshot(spark, path)
      val mode = snap.colMode
      require(mode == "none" || mode.isEmpty,
        s"graft-delta stream: column-mapping mode '$mode' on $path is " +
          "not supported by the append stream (data files carry " +
          "physical column names — a logical-name scan would stream " +
          "all-NULL rows); read batches via DeltaLogReader.read")
      (Some(snap.schema), snap.partCols)
    }

  override val schema: StructType = appendSchema
    .getOrElse(DeltaStreamSource.tableSchema(sqlContext, parameters))

  private val maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toInt)

  private val progressStore =
    if (metadataPath.isEmpty) None
    else Some(new DeltaStreamSource.Progress(spark, metadataPath))

  // resolved EAGERLY at stream start so `startingVersion=latest` means
  // "versions after the stream began" — a lazy anchor forced at the
  // first batch would silently drop commits landing between stream
  // start and the first trigger. PERSISTED so a restart replays the
  // crashed batch against the SAME anchor: re-resolving "latest" after
  // a crash made getBatch(None, end) compute an empty range and
  // silently drop the commits that batch was carrying.
  private val startVersion: Long =
    if (!startingVersion.contains("latest"))
      DeltaStreamSource.latestVersion(spark, path) // modes that ignore it
    else progressStore.flatMap(_.readAnchor()).getOrElse {
      val v = DeltaStreamSource.latestVersion(spark, path)
      progressStore.foreach(_.writeAnchor(v))
      v
    }

  // where the admission budget STARTS counting for a fresh stream: the
  // configured anchor, not -1 — a capped startingVersion=latest stream
  // otherwise re-emitted the entire pre-anchor history once its first
  // empty batch committed (the Iceberg source had this logic; Delta
  // lacked it)
  private val budgetAnchor: Long = startingVersion match {
    case Some("latest") => startVersion
    case Some(v)        => v.toLong - 1
    case None           => -1L
  }

  // admission control (delta's maxFilesPerTrigger): a catch-up stream
  // must not plan the whole backlog as one batch. The v1 API has no
  // rate-limit hook, so like delta-spark's DeltaSource the source
  // tracks its own progress (commit()/getBatch, persisted in the
  // checkpoint's metadata dir via Progress) and getOffset advances only
  // as many versions as fit the file budget — never BELOW the persisted
  // progress, which after a restart would regress the engine's
  // checkpointed offset and re-emit delivered versions.
  private val progress = progressStore
  @volatile private var committed: Option[Long] =
    progress.flatMap(_.read()) // restart: resume the admission count

  override def commit(end: Offset): Unit = {
    committed = Some(ver(end))
    progress.foreach(_.write(ver(end)))
  }

  override def getOffset: Option[Offset] = {
    val latest = DeltaStreamSource.latestVersion(spark, path)
    val capped = maxFilesPerTrigger match {
      case None => latest
      case Some(budget) =>
        // committed WINS over the anchor: startingVersion=latest
        // re-resolves the anchor to the CURRENT latest on every restart,
        // so max(committed, anchor) let a mid-catchup restart skip the
        // budget loop and plan the whole backlog (checkpointed offset →
        // current latest) as ONE unbounded batch — the exact scenario
        // maxFilesPerTrigger exists for. The anchor only seeds FRESH
        // streams (the Iceberg twin already had this shape).
        val from = committed.getOrElse(budgetAnchor)
        var v = from
        var files = 0
        var next = if (v < latest) addFileCount(v + 1) else 0
        while (v < latest && (files == 0 || files + next <= budget)) {
          v += 1
          files += next
          next = if (v < latest) addFileCount(v + 1) else 0
        }
        math.max(v, from) // always admit at least one version
    }
    Some(LongOffset(capped))
  }

  // commit files are immutable once written — cache their add counts so
  // a capped stream catching up through a deep backlog doesn't re-scan
  // every not-yet-admitted commit on every trigger (the same O(n^2)
  // pathology the Iceberg/Paimon twins cache away)
  private val fileCountCache =
    scala.collection.mutable.Map.empty[Long, Int]

  private def addFileCount(v: Long): Int =
    fileCountCache.get(v).getOrElse {
      val p = new Path(new Path(path, "_delta_log"), f"$v%020d.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0 // NOT cached: the commit may appear next trigger
      else {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        // parse, don't substring-match: adds with dataChange=false
        // (OPTIMIZE re-adds) emit NO rows in addsBetween, so counting
        // them here let one compaction commit eat the whole
        // maxFilesPerTrigger budget for zero delivered data.
        // `mapper` is safe here: getOffset/getBatch run on the single
        // stream-execution thread that owns this source
        val om = mapper
        // a commit skipChangeCommits will SKIP must cost 0 — counting
        // its adds let one skipped overwrite eat the whole budget and
        // plan an empty batch while real appends waited (the same
        // zero-delivery pathology as dataChange=false re-adds)
        val nodes = lines.flatMap { l =>
          try Some(om.readTree(l)) catch { case _: Exception => None }
        }
        val skipped = skipChangeCommits && nodes.exists(nd =>
          nd.has("remove") &&
            Option(nd.get("remove").get("dataChange")).forall(_.asBoolean))
        val n =
          if (skipped) 0
          else nodes.count { node =>
            node.has("add") &&
              Option(node.get("add").get("dataChange")).forall(_.asBoolean)
          }
        fileCountCache(v) = n
        n
      }
    }

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val hi = ver(end)
    committed = Some(hi) // progress for admission control (commit() also updates)
    progress.foreach(_.write(hi))
    val range: (Long, Long) => DataFrame =
      if (cdf) changesBetween else addsBetween
    val batch = start.map(s => range(ver(s) + 1, hi)).getOrElse {
      startingVersion match {
        case Some("latest") => range(startVersion + 1, hi)
        case Some(v)        => range(v.toLong, hi)
        case None if cdf    => // initial snapshot rows stream as inserts
          import org.apache.spark.sql.functions.lit
          DeltaLogReader.read(spark, path, version = Some(hi))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(hi))
        case None           => // initial snapshot at the range end
          DeltaLogReader.read(spark, path, version = Some(hi))
      }
    }
    // MicroBatchExecution requires isStreaming=true on the returned plan
    org.apache.spark.sql.graftshim.StreamShim.asStreamingFrame(
      batch.select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*))
  }

  /** CDF-mode batch: readChanges over the commit range (empty when the
    * range holds no commits — a restart can land past a vacuum gap). */
  private def changesBetween(lo: Long, hi: Long): DataFrame = {
    val versions = DeltaLogReader.tableVersions(spark, path)
      .filter(v => v >= lo && v <= hi)
    versions.minOption match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(from) =>
        DeltaLogReader.readChanges(spark, path, from, Some(hi))
    }
  }

  private def addsBetween(lo: Long, hi: Long): DataFrame = {
    val logDir = new Path(path, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // add.path is RFC 2396 percent-ENCODED per PROTOCOL.md — decode like
    // DeltaLogReader.read/readChanges do ('+' protected from URLDecoder's
    // form semantics); this third copy used to skip the decode and fail
    // on any file name with a space
    def absolute(p: String): String = {
      val decoded =
        try java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
        catch { case _: IllegalArgumentException => p }
      if (decoded.startsWith("/") || decoded.contains("://")) decoded
      else s"$path/$decoded"
    }
    val files = (lo to hi).flatMap { v =>
      val p = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(p)) Nil // pre-history (vacuumed) or gap: nothing to emit
      else {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        val nodes = lines.filter(_.trim.nonEmpty).map(mapper.readTree)
        val removesData = nodes.exists(n => n.has("remove") &&
          Option(n.get("remove").get("dataChange")).forall(_.asBoolean))
        if (removesData && !skipChangeCommits)
          throw new IllegalStateException(
            s"graft-delta stream: version $v of $path removes data " +
              "(overwrite/delete). Streaming sources only append; set " +
              "skipChangeCommits=true to skip such commits.")
        if (removesData) Nil // skipChangeCommits: the WHOLE commit skips
        else nodes.filter { n =>
          n.has("add") &&
            Option(n.get("add").get("dataChange")).forall(_.asBoolean)
        }.map { n =>
          require(!n.get("add").has("deletionVector") ||
              n.get("add").get("deletionVector").isNull,
            s"graft-delta stream: deletion-vector commit (version $v) " +
              "is not supported")
          val add = n.get("add")
          // partition values ride the LOG (PROTOCOL.md), not the files;
          // NullNode.asText() would yield the STRING "null" — a null
          // partition value must stay null
          val pv: Map[String, String] =
            if (partCols.isEmpty) Map.empty
            else {
              val node = add.get("partitionValues")
              partCols.map { c =>
                val vn = if (node == null) null else node.get(c)
                c -> (if (vn == null || vn.isNull) null else vn.asText)
              }.toMap
            }
          (absolute(add.get("path").asText), pv)
        }
      }
    }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (partCols.isEmpty)
      spark.read.schema(schema).parquet(files.map(_._1): _*)
    else {
      // one scan per distinct partition tuple IN THIS BATCH with the
      // values as literal columns (a batch is one or few commits, so
      // tuple counts stay small — the DeltaLogReader literal shape)
      import org.apache.spark.sql.functions.lit
      val dataSchema = StructType(
        schema.fields.filterNot(f => partCols.contains(f.name)))
      files.groupBy(_._2).toSeq.map { case (pv, group) =>
        partCols.foldLeft(
          spark.read.schema(dataSchema).parquet(group.map(_._1): _*)) {
          (df, c) =>
            val raw = pv.getOrElse(c, null)
            df.withColumn(c,
              (if (raw == null) lit(null) else lit(raw))
                .cast(schema(c).dataType))
        }
      // MicroBatchExecution binds V1 batches POSITIONALLY to the declared
      // source schema — a partition column not declared last would stream
      // mis-bound without this reorder (the batch reader does the same).
      }.reduce(_ unionByName _)
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  override def stop(): Unit = ()
}
