package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Hand-rolled Delta Lake transaction-log reader — no delta-core jar, the
  * same way AvroReader/XlsxReader/PdfReader parse their formats directly.
  * A Delta table is plain parquet data files plus `_delta_log/`, a
  * sequence of version-numbered JSON commits (`%020d.json`), each line
  * one action: `add` (file enters the snapshot), `remove` (file leaves
  * it), `metaData` (table schema as Spark DataType JSON + partition
  * columns), `protocol`, `commitInfo`. Public protocol:
  * github.com/delta-io/delta PROTOCOL.md. Reference surface:
  * contrib/format-deltalake/.../DeltaGroupScan.java + snapshot/ (Drill
  * reads the same log through the delta standalone library).
  *
  * Snapshot reconstruction replays versions 0..V in order; the LAST
  * action per data-file path wins (a re-add after a remove restores the
  * file). The log is metadata-scale (KBs per commit) and parses
  * driver-side — exactly what every Delta implementation does — while
  * the DATA files are read with the ordinary distributed parquet scan,
  * so column pruning and predicate pushdown still reach the footers.
  *
  * That one replay ([[snapshot]]) serves readers and writers alike: a
  * scan, a DML statement, OPTIMIZE, a checkpoint and a stream's guards
  * each read the log once and pass the resulting [[Snapshot]] (version,
  * schema, protocol, metaData identity and configuration, live files,
  * txn versions) through, instead of re-scanning the log per question.
  *
  * Partition values live in the LOG (`add.partitionValues`), not in the
  * data files (Delta spec): they are attached as literal columns cast to
  * the declared type, one scan per distinct partition tuple — partition
  * count is metadata-scale by design.
  *
  * Checkpoints: real tables compact the log into
  * `%020d.checkpoint.parquet` (one action per row, struct columns) and
  * `_last_checkpoint` names the latest one — old JSON commits may then
  * be vacuumed. The snapshot bootstraps from the newest checkpoint at
  * or below the requested version and replays only the JSON commits
  * after it; time travel BELOW the oldest surviving state raises a
  * clear history-vacuumed error rather than a wrong answer.
  *
  * DELETION VECTORS (PROTOCOL.md §Deletion Vectors) are read: an add
  * action's `deletionVector` descriptor names a roaring bitmap of
  * deleted row indexes ([[DeletionVectors]] hand-rolls the codec), the
  * bitmaps expand to (file, row_index) pairs ON EXECUTORS (one task per
  * DV file — at 100 TB the positions never pass through the driver),
  * and the scan drops them with one LEFT ANTI join on
  * (`_metadata.file_path`, `row_index`) — broadcast when the summed
  * descriptor cardinality (known from metadata alone) is small.
  *
  * COLUMN MAPPING is read in BOTH modes: mode `name` resolves data
  * columns by the schema fields' `delta.columnMapping.physicalName`
  * metadata and renames back to logical names; mode `id` (what
  * icebergCompat writers emit) resolves by parquet FIELD ID through
  * Spark's fieldId read path, the requested schema carrying
  * `parquet.field.id` from `delta.columnMapping.id`. partitionValues
  * keys are physical under mapping (spec writer requirement) in both
  * modes and resolve the same way.
  *
  * V2 CHECKPOINTS (PROTOCOL.md §V2 Checkpoint Spec) bootstrap too:
  * the UUID-named top-level file (`<v>.checkpoint.<uuid>.parquet` or
  * `.json`) resolves, and its `sidecarFile` actions pull the file
  * actions from parquet sidecars under `_delta_log/_sidecars/`.
  *
  * Protocol guardrails (PROTOCOL.md reader-version rules): the replay
  * tracks the `protocol` action and REFUSES tables whose protocol
  * demands capabilities this reader does not implement (unknown
  * column-mapping modes, minReaderVersion > 3, unknown reader
  * features) — refusing beats silently wrong rows.
  */
object DeltaLogReader {

  private val mapper = new ObjectMapper()

  /** One live data file: its log path (percent-encoded, relative to the
    * table root), partition values, deletion vector, and the add
    * action's size (-1 = a legacy action without one) and modTime. */
  private[graft] case class AddFile(path: String,
      partitionValues: Map[String, String],
      dv: Option[DeletionVectors.DvDescriptor] = None,
      size: Long = -1L, modTime: Long = 0L)

  /** The resolved table state at one version: the latest metaData
    * (schema, partition columns, id, configuration), the latest protocol
    * (an absent minWriterVersion reads as 2), the live files and the max
    * `txn` version per appId. */
  private[graft] case class Snapshot(version: Long, schema: StructType,
      partCols: Seq[String], metaId: String,
      configuration: Map[String, String], minReader: Int, minWriter: Int,
      readerFeatures: Set[String], writerFeatures: Set[String],
      files: Seq[AddFile], txns: Map[String, Long]) {
    /** Column-mapping mode ("none" when unmapped). */
    def colMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")
  }

  /** JSON commit versions present in `_delta_log`, ascending (may start
    * past 0 on a vacuumed log — checkpoints carry the earlier state). */
  def tableVersions(spark: SparkSession, tablePath: String): Seq[Long] =
    jsonVersionsIn(tablePath, logFiles(spark, tablePath),
      lastCheckpointVersion(spark, tablePath))

  /** The files of `_delta_log`: ONE listing, which a snapshot reads both
    * its JSON versions and its checkpoint files from. */
  private def logFiles(spark: SparkSession, tablePath: String): Seq[Path] = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir))
      throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    fs.listStatus(logDir).toSeq.map(_.getPath)
  }

  private def jsonVersionsIn(tablePath: String, files: Seq[Path],
                             checkpoint: => Option[Long]): Seq[Long] = {
    val versions = files.map(_.getName).filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
    if (versions.isEmpty && checkpoint.isEmpty)
      throw new IllegalArgumentException(
        s"no JSON commits and no checkpoint in ${new Path(tablePath, "_delta_log")}")
    versions
  }

  /** Version of the latest checkpoint per `_last_checkpoint`, if any. */
  def lastCheckpointVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val p = new Path(new Path(tablePath, "_delta_log"), "_last_checkpoint")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val n = try mapper.readTree(in) finally in.close()
      Some(n.get("version").asLong)
    }
  }

  /** The non-blank lines of one JSON log file (a commit or a v2 JSON
    * checkpoint top), one action each. */
  private[sources] def jsonLines(fs: org.apache.hadoop.fs.FileSystem,
                                 p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).toList
    finally in.close()
  }

  /** The table state at `version` (default: latest) from ONE replay of
    * the log: bootstrap from the newest checkpoint at or below it (if
    * any), then replay the JSON commits after it. This is the only
    * decoder of `protocol`, `metaData`, `txn`, `add` and `remove`
    * actions; readers scan it and writers gate, merge and commit
    * against it. */
  private[graft] def snapshot(spark: SparkSession, tablePath: String,
                              version: Option[Long] = None): Snapshot = {
    // the checkpoint pointer before the listing: a checkpoint is written
    // before `_last_checkpoint` names it, so the listing holds its files
    val cpVersion = lastCheckpointVersion(spark, tablePath)
    val files = logFiles(spark, tablePath)
    val jsonVersions = jsonVersionsIn(tablePath, files, cpVersion)
    val latest = (jsonVersions ++ cpVersion).max
    val upTo = version.getOrElse(latest)
    require(jsonVersions.contains(upTo) || cpVersion.contains(upTo),
      s"version $upTo not in log of $tablePath " +
        s"(json: ${jsonVersions.mkString(", ")}; checkpoint: $cpVersion)")
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var schema: StructType = null
    var partCols: Seq[String] = Nil
    var metaId = "graft-fixture"
    var configuration = Map.empty[String, String]
    var minReader = 1
    var minWriter = 2
    var readerFeatures = Set.empty[String]
    var writerFeatures = Set.empty[String]
    val state = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    val txns = scala.collection.mutable.Map[String, Long]()

    def setMeta(id: Option[String], schemaString: String, pc: Seq[String],
                conf: Map[String, String]): Unit = {
      schema = DataType.fromJson(schemaString).asInstanceOf[StructType]
      partCols = pc
      metaId = id.getOrElse("graft-fixture")
      configuration = conf
    }
    // PROTOCOL.md: an absent minWriterVersion reads as 2
    def setProtocol(r: Int, w: Option[Int], rf: Set[String],
                    wf: Set[String]): Unit = {
      minReader = r; minWriter = w.getOrElse(2)
      readerFeatures = rf; writerFeatures = wf
    }
    def noteTxn(appId: String, v: Long): Unit =
      txns(appId) = math.max(v, txns.getOrElse(appId, Long.MinValue))

    // one parquet batch of checkpoint action rows (classic or multi-part
    // checkpoint, v2 top-level file or sidecar) folded into the replay
    // state: ONE collect for the metadata-scale actions, one for the
    // adds. Returns the sidecar paths a v2 top-level file names.
    def foldCheckpointParquet(actions: DataFrame): Seq[String] = {
      import org.apache.spark.sql.Row
      def opt[T](r: Row, n: String): Option[T] =
        if (r.schema.fieldNames.contains(n) && !r.isNullAt(r.fieldIndex(n)))
          Some(r.getAs[T](n))
        else None
      def strings(r: Row, n: String): Set[String] =
        opt[scala.collection.Seq[String]](r, n).map(_.toSet).getOrElse(Set.empty)
      val sidecars = scala.collection.mutable.ArrayBuffer[String]()
      val small = Seq("protocol", "metaData", "txn", "sidecarFile")
        .filter(actions.columns.contains)
      if (small.nonEmpty)
        actions.filter(small.map(col(_).isNotNull).reduce(_ || _))
          .select(small.map(col): _*).collect().foreach { r =>
            opt[Row](r, "metaData").foreach(m => setMeta(opt[String](m, "id"),
              m.getAs[String]("schemaString"),
              opt[scala.collection.Seq[String]](m, "partitionColumns").map(_.toSeq)
                .getOrElse(Nil),
              opt[scala.collection.Map[String, String]](m, "configuration")
                .map(_.toMap).getOrElse(Map.empty)))
            opt[Row](r, "protocol").foreach(p => setProtocol(
              p.getAs[Int]("minReaderVersion"), opt[Int](p, "minWriterVersion"),
              strings(p, "readerFeatures"), strings(p, "writerFeatures")))
            opt[Row](r, "txn").foreach(t =>
              noteTxn(t.getAs[String]("appId"), t.getAs[Long]("version")))
            opt[Row](r, "sidecarFile").foreach(sc => sidecars += sc.getAs[String]("path"))
          }
      if (actions.columns.contains("add")) {
        // project the add fields the state needs (stats stay unread)
        val addFields = actions.schema("add").dataType.asInstanceOf[StructType]
          .fieldNames.toSet
        val keep = Seq("path", "partitionValues", "deletionVector", "size",
          "modificationTime").filter(addFields)
        actions.filter(col("add").isNotNull)
          .select(keep.map(f => col(s"add.$f").as(f)): _*)
          .collect().foreach { r =>
            val dv = opt[Row](r, "deletionVector").map(d =>
              DeletionVectors.DvDescriptor(d.getAs[String]("storageType"),
                d.getAs[String]("pathOrInlineDv"), opt[Int](d, "offset").getOrElse(0),
                d.getAs[Int]("sizeInBytes"), d.getAs[Long]("cardinality")))
            val path = r.getAs[String]("path")
            state(path) = AddFile(path,
              opt[scala.collection.Map[String, String]](r, "partitionValues")
                .map(_.toMap).getOrElse(Map.empty), dv,
              opt[Long](r, "size").getOrElse(-1L),
              opt[Long](r, "modificationTime").getOrElse(0L))
          }
      }
      sidecars.toSeq
    }

    def sidecarPath(rel: String): String =
      if (rel.startsWith("/") || rel.contains("://")) rel
      else new Path(new Path(logDir, "_sidecars"), rel).toString

    // one JSON action (commit line or v2 json-checkpoint line) folded
    // into the replay state
    def applyJsonAction(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      def strings(a: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
        Option(a).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
      if (n.has("metaData")) {
        val md = n.get("metaData")
        setMeta(Option(md.get("id")).map(_.asText), md.get("schemaString").asText,
          strings(md.get("partitionColumns")),
          Option(md.get("configuration")).filterNot(_.isNull)
            .map(_.fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap)
            .getOrElse(Map.empty))
      } else if (n.has("protocol")) {
        val p = n.get("protocol")
        setProtocol(p.get("minReaderVersion").asInt,
          Option(p.get("minWriterVersion")).map(_.asInt),
          strings(p.get("readerFeatures")).toSet,
          strings(p.get("writerFeatures")).toSet)
      } else if (n.has("txn")) {
        val t = n.get("txn")
        noteTxn(t.get("appId").asText, t.get("version").asLong)
      } else if (n.has("add")) {
        val a = n.get("add")
        // NullNode.asText() returns the STRING "null" — a null partition
        // value (PROTOCOL.md writes {"p":null}) must stay a real null or
        // string partition columns silently read the value "null"
        val pv = Option(a.get("partitionValues"))
          .map(_.fields.asScala.map(e => e.getKey ->
            (if (e.getValue.isNull) null else e.getValue.asText)).toMap)
          .getOrElse(Map.empty[String, String])
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
          DeletionVectors.DvDescriptor(
            d.get("storageType").asText, d.get("pathOrInlineDv").asText,
            Option(d.get("offset")).filterNot(_.isNull).map(_.asInt).getOrElse(0),
            d.get("sizeInBytes").asInt, d.get("cardinality").asLong)
        }
        state(a.get("path").asText) = AddFile(a.get("path").asText, pv, dv,
          Option(a.get("size")).filterNot(_.isNull).map(_.asLong)
            .getOrElse(-1L),
          Option(a.get("modificationTime")).filterNot(_.isNull)
            .map(_.asLong).getOrElse(0L))
      } else if (n.has("remove")) {
        state.remove(n.get("remove").get("path").asText)
      } // checkpointMetadata/commitInfo actions carry no snapshot state
    }

    val replayFrom: Long = cpVersion.filter(_ <= upTo) match {
      case Some(cv) =>
        // checkpoint bootstrap: the RESOLVED state at cv, one action per
        // row. Classic = one `<v>.checkpoint.parquet`. V2 (PROTOCOL.md
        // §V2 Checkpoint Spec) = a UUID-named top-level file
        // (`<v>.checkpoint.<uuid>.parquet` or `.json`) whose
        // `sidecarFile` actions name parquet sidecars under
        // `_delta_log/_sidecars/` carrying the file actions.
        val prefix = f"$cv%020d.checkpoint"
        val cpFiles = files.filter(_.getName.startsWith(prefix))
        // MULTI-PART classic checkpoints (<v>.checkpoint.<part>.<of>.
        // parquet, delta.checkpoint.partSize): ALL parts fold — picking
        // one arbitrary part silently dropped most of the snapshot
        val MultiPart = (java.util.regex.Pattern.quote(prefix) +
          "\\.(\\d{10})\\.(\\d{10})\\.parquet").r
        val parts = cpFiles.flatMap(p => p.getName match {
          case MultiPart(_, of) => Some(p -> of.toInt)
          case _ => None
        })
        val sidecars: Seq[String] =
          if (parts.nonEmpty) {
            val of = parts.head._2
            require(parts.size == of,
              s"multi-part checkpoint at v$cv incomplete: " +
                s"${parts.size} of $of parts present in $logDir")
            foldCheckpointParquet(graft.GraftSession.readParquet(spark,
              parts.head._1.toString, parts.tail.map(_._1.toString): _*))
          } else {
            val top = cpFiles.find(_.getName == s"$prefix.parquet")
              .orElse(cpFiles.find(_.getName.endsWith(".parquet")))
              .orElse(cpFiles.find(_.getName.endsWith(".json")))
              .getOrElse(throw new IllegalArgumentException(
                s"_last_checkpoint names version $cv but no $prefix* file " +
                  s"exists in $logDir"))
            if (top.getName.endsWith(".json")) {
              // v2 JSON top-level: line-delimited actions (metaData,
              // protocol, txn, checkpointMetadata, sidecarFile, inline add)
              val nodes = jsonLines(fs, top).map(mapper.readTree)
              nodes.foreach(applyJsonAction)
              nodes.filter(_.has("sidecarFile"))
                .map(_.get("sidecarFile").get("path").asText)
            } else foldCheckpointParquet(
              graft.GraftSession.readParquet(spark, top.toString))
          }
        if (sidecars.nonEmpty)
          foldCheckpointParquet(graft.GraftSession.readParquet(spark,
            sidecarPath(sidecars.head), sidecars.tail.map(sidecarPath): _*))
        cv + 1
      case None =>
        require(jsonVersions.nonEmpty && jsonVersions.min == 0L,
          s"history below version ${jsonVersions.headOption.getOrElse(-1L)} was " +
            s"vacuumed and no checkpoint covers version $upTo of $tablePath")
        0L
    }

    // GAP check: a missing mid-log commit (crashed cleanup, manual
    // delete, listing miss) must be a LOUD failure — silently skipping
    // it resurrects deleted rows and vanishes added ones
    val replaySet = jsonVersions.filter(v => v >= replayFrom && v <= upTo)
    // the sliding check alone misses a LEADING gap (replayFrom itself
    // absent while later commits exist) and a trailing one — require
    // exact coverage of [replayFrom, upTo]
    if (upTo >= replayFrom)
      require(replaySet.size == upTo - replayFrom + 1,
        s"delta log of $tablePath is missing commits: expected versions " +
          s"$replayFrom..$upTo, found ${replaySet.sorted.mkString(",")} — " +
          "refusing a silently-wrong snapshot")
    replaySet.sorted.sliding(2).foreach {
      case Seq(a, b) => require(b == a + 1,
        s"delta log of $tablePath has a gap: version ${a + 1} missing " +
          s"between $a and $b — refusing a silently-wrong snapshot")
      case _ => ()
    }
    replaySet.foreach(v => jsonLines(fs, new Path(logDir, f"$v%020d.json"))
      .foreach(line => applyJsonAction(mapper.readTree(line))))
    require(schema != null, s"no metaData action in log of $tablePath")
    val snap = Snapshot(upTo, schema, partCols, metaId, configuration,
      minReader, minWriter, readerFeatures, writerFeatures,
      state.values.toSeq, txns.toMap)
    checkProtocol(tablePath, snap)
    snap
  }

  /** [[snapshot]] at the latest version, None when `tablePath` has no
    * `_delta_log` yet (a writer creating the table). */
  private[graft] def snapshotIfExists(spark: SparkSession,
                                      tablePath: String): Option[Snapshot] = {
    val logDir = new Path(tablePath, "_delta_log")
    Option.when(logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(logDir))(snapshot(spark, tablePath))
  }

  /** Reader features this implementation actually honors when a table
    * declares minReaderVersion 3 (PROTOCOL.md table-features):
    * timestampNtz is plain schema/parquet behavior Spark covers,
    * vacuumProtocolCheck changes nothing at read time, deletionVectors,
    * columnMapping (BOTH modes — `name` via physicalName metadata, `id`
    * via parquet field-id matching; unknown future modes re-refuse on
    * the mode itself) and v2Checkpoint (UUID-named top-level +
    * sidecars) are implemented here. Anything else would make this
    * reader silently return WRONG rows, so it must refuse. */
  private val supportedReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "deletionVectors",
      "columnMapping", "v2Checkpoint")

  /** PROTOCOL.md reader-version rules: a reader MUST refuse tables whose
    * protocol demands capabilities it does not implement, instead of
    * degrading to wrong answers (the compressed-SAS refusal posture). */
  private def checkProtocol(tablePath: String, snap: Snapshot): Unit = {
    val colMappingMode = snap.colMode
    require(snap.minReader <= 3,
      s"Delta table $tablePath requires minReaderVersion ${snap.minReader}; " +
        "this reader implements protocol versions 1-3")
    // mode `name` resolves via physicalName metadata in read(); mode
    // `id` resolves via parquet FIELD IDS (Spark's fieldId.read path,
    // which read() enables session-wide — see its scaladoc) — any other
    // value is from a future spec revision and must refuse
    require(colMappingMode == "none" || colMappingMode == "name" ||
        colMappingMode == "id",
      s"Delta table $tablePath uses column mapping mode '$colMappingMode' " +
        "(only 'none', 'name' and 'id' are supported — an unknown mode " +
        "would silently misread columns)")
    if (snap.minReader >= 3) {
      val unsupported = snap.readerFeatures -- supportedReaderFeatures
      require(unsupported.isEmpty,
        s"Delta table $tablePath requires reader features " +
          s"${unsupported.toSeq.sorted.mkString("[", ", ", "]")} this reader " +
          "does not implement (supported: " +
          s"${supportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
          "reading anyway could silently drop or corrupt rows")
    }
  }

  /** (schema, partitionColumns, (path, partitionValues,
    * hasDeletionVector)) of the latest snapshot. */
  private[graft] def activeState(spark: SparkSession, tablePath: String)
      : (StructType, Seq[String], Seq[(String, Map[String, String], Boolean)]) = {
    val s = snapshot(spark, tablePath)
    (s.schema, s.partCols, s.files.map(f => (f.path, f.partitionValues, f.dv.nonEmpty)))
  }

  /** Read the table at `version` (default: latest commit).
    *
    * SESSION-CONF SIDE EFFECT (column-mapping mode `id` tables only):
    * reading an id-mode table sets `spark.sql.parquet.fieldId.read
    * .enabled=true` on the session and leaves it set — Spark offers no
    * per-scan reader option and the conf is read at plan time of the
    * lazily-returned frame, so it cannot be save-and-restored around
    * this call. Sessions built by `GraftSession.getOrCreate()` already
    * declare it as an engine default (same value, no behavior change);
    * for sessions built elsewhere, later reads whose REQUESTED schema
    * carries `parquet.field.id` metadata (e.g. Iceberg-derived schemas)
    * will match file columns by field id under it, and files missing
    * ids fail loudly rather than mis-bind. Isolate with
    * `spark.newSession()` if that semantic is unwanted session-wide.
    *
    * Partitioned tables have two plan shapes, chosen by DISTINCT
    * partition-tuple count:
    *  - at most `maxLiteralPartitions` tuples: one scan per tuple with
    *    the partition values as LITERAL columns — a filter on a
    *    partition column constant-folds non-matching scans out of the
    *    plan entirely (asserted in PlanAuditSpec)
    *  - beyond: ONE parquet scan over every live file plus a broadcast
    *    equi-join from input_file_name() to the log's partition values —
    *    plan size stays O(1) in partition count where the literal form
    *    would build a union with one child per tuple. */
  def read(spark: SparkSession, tablePath: String,
           version: Option[Long] = None,
           maxLiteralPartitions: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    val snap = snapshot(spark, tablePath, version)
    val (schema, partCols, files) = (snap.schema, snap.partCols, snap.files)
    // column mapping: mode `name` scans by the fields' PHYSICAL names
    // (physicalName metadata) and the final select renames back; mode
    // `id` scans by parquet FIELD ID — the requested schema carries
    // `parquet.field.id` from the delta.columnMapping.id metadata and
    // Spark's fieldId read path matches file columns by id, exactly the
    // PROTOCOL.md §Column Mapping contract (icebergCompat writers emit
    // id mode; their physical names are still recorded, so partition
    // values key by physicalName in BOTH modes). Flat schemas only —
    // mapping metadata on a NESTED field refuses.
    val PhysKey = "delta.columnMapping.physicalName"
    val IdKey = "delta.columnMapping.id"
    val byFieldId = snap.colMode == "id"
    if (byFieldId) {
      require(schema.fields.forall(_.metadata.contains(IdKey)),
        s"Delta table $tablePath declares column mapping mode 'id' but " +
          "some schema fields carry no delta.columnMapping.id")
      // Spark's field-id matching is a GraftSession engine default
      // (declared at build time — see GraftSession.builder); set here
      // too for sessions built elsewhere. Scoping it per-scan is not
      // possible (no reader option exists and the conf is read at PLAN
      // time of the lazily-returned frame), so the flag is an engine
      // semantic, not a stealth toggle: only schemas that CARRY
      // parquet.field.id metadata (built just below) change behavior
      // under it, and missing ids in a file fail loudly.
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    def assertFlat(dt: DataType): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        require(!f.metadata.contains(PhysKey),
          s"column mapping on nested field '${f.name}' is not supported")
        assertFlat(f.dataType)
      }
      case org.apache.spark.sql.types.ArrayType(et, _) => assertFlat(et)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        assertFlat(k); assertFlat(v)
      case _ => ()
    }
    schema.fields.foreach(f => assertFlat(f.dataType))
    val phys: Map[String, String] = schema.fields.map(f => f.name ->
      (if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
       else f.name)).toMap
    val dataSchema = StructType(schema.fields
      .filterNot(f => partCols.contains(f.name))
      .map { f =>
        val m =
          if (byFieldId)
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", f.metadata.getLong(IdKey)).build()
          else org.apache.spark.sql.types.Metadata.empty
        StructField(phys(f.name), f.dataType, f.nullable, m)
      })
    def absolute(p: String): String = decodedAbsolute(tablePath, p)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val deleted = DeletedRows.delta(spark, tablePath, files)
    def baseScan(paths: Seq[String]): DataFrame =
      deleted.drop(spark.read.schema(dataSchema).parquet(paths: _*))
    val out: DataFrame =
      if (partCols.isEmpty) baseScan(files.map(f => absolute(f.path)))
      else {
        val byTuple = files.groupBy(_.partitionValues)
        if (byTuple.size <= maxLiteralPartitions)
          byTuple.toSeq.map { case (pv, group) =>
            val base = baseScan(group.map(f => absolute(f.path)))
            partCols.foldLeft(base) { (df, c) =>
              val raw = pv.get(phys(c)).orNull // absent/null => NULL partition
              df.withColumn(c,
                (if (raw == null) lit(null) else lit(raw)).cast(schema(c).dataType))
            }
          }.reduce(_ unionByName _)
        else {
          // one scan + broadcast (file key -> partition values) join
          import spark.implicits._
          val pvRows = files.map(f => (DeletedRows.key(absolute(f.path)),
            partCols.map(c => f.partitionValues.get(phys(c)).orNull)))
          val pvDf = broadcast(pvRows.toDF("__file", "__pv"))
          val scan = baseScan(files.map(f => absolute(f.path)))
            .withColumn("__file", DeletedRows.keyCol(input_file_name()))
          partCols.zipWithIndex.foldLeft(scan.join(pvDf, "__file")) {
            case (df, (c, i)) =>
              df.withColumn(c, col("__pv").getItem(i).cast(schema(c).dataType))
          }
        }
      }
    // physical -> logical rename; helper/aux columns drop here
    out.select(schema.fieldNames.map(c =>
      if (partCols.contains(c)) col(c) else col(phys(c)).as(c)).toSeq: _*)
  }

  /** PROTOCOL.md: add.path is RFC 2396 percent-ENCODED relative to the
    * table root — decode before touching the filesystem (identity in the
    * LOG stays the encoded form). '+' is literal under RFC 2396
    * (URLDecoder's form-decoding would turn it into a space), so protect
    * it before decoding %XX escapes; a lone % passes through. */
  private[sources] def decodedAbsolute(tablePath: String, p: String): String = {
    val decoded =
      try java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
      catch { case _: IllegalArgumentException => p }
    if (decoded.startsWith("/") || decoded.contains("://")) decoded
    else s"$tablePath/$decoded"
  }

  /** CHANGE DATA FEED read (PROTOCOL.md §Add CDC File): every row change
    * in versions [fromVersion, toVersion] with `_change_type` and
    * `_commit_version` columns. Commits carrying `cdc` actions serve
    * their `_change_data/` files verbatim (the writer already
    * materialized update_preimage/update_postimage there); commits
    * without them derive changes the way delta-spark does — a
    * dataChange add IS its file's rows as inserts, a dataChange remove
    * IS its file's rows as deletes (the removed file still exists until
    * vacuum; a vacuumed file errors clearly at scan). Plain distributed
    * parquet scans per commit, unioned; no state, no driver rows.
    * Tables with column mapping or deletion vectors refuse (their
    * change semantics need the mapped/DV-aware machinery). */
  def readChanges(spark: SparkSession, tablePath: String,
                  fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val versions = tableVersions(spark, tablePath)
    val hi = toVersion.getOrElse(versions.max)
    require(versions.contains(fromVersion),
      s"version $fromVersion not in log of $tablePath (have " +
        s"${versions.mkString(", ")} — older history may be vacuumed)")
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // schema + protocol posture from the snapshot at the range end
    val snap = snapshot(spark, tablePath, Some(hi))
    val (schema, partCols) = (snap.schema, snap.partCols)
    require(partCols.isEmpty,
      s"readChanges supports unpartitioned tables (got partition " +
        s"columns ${partCols.mkString(", ")})")
    require(!schema.fields.exists(
        _.metadata.contains("delta.columnMapping.physicalName")),
      s"readChanges on a column-mapped table is not supported: $tablePath")
    def absolute(p: String): String = decodedAbsolute(tablePath, p)
    val out = StructType(schema.fields ++ Seq(
      StructField("_change_type", org.apache.spark.sql.types.StringType),
      StructField("_commit_version", org.apache.spark.sql.types.LongType)))
    val parts = versions.filter(v => v >= fromVersion && v <= hi).flatMap { v =>
      val nodes = jsonLines(fs, new Path(logDir, f"$v%020d.json")).map(mapper.readTree)
      val cdc = nodes.filter(_.has("cdc"))
        .map(n => absolute(n.get("cdc").get("path").asText))
      // a DV commit re-adds a file whose rows did NOT all change, so the
      // add/remove derivation below would over-report wildly — refuse
      // UNLESS the commit carries exact cdc files (which take precedence)
      if (cdc.isEmpty) nodes.foreach { n =>
        // BOTH directions matter: an add with a DV re-adds a file whose
        // rows did not all change, and a remove CARRYING a DV names a
        // file whose dead rows would be re-reported as deletes (RESTORE
        // across a DV boundary produces either shape)
        Seq("add", "remove").foreach { k =>
          if (n.has(k))
            require(!n.get(k).has("deletionVector") ||
              n.get(k).get("deletionVector").isNull,
              s"readChanges on a deletion-vector commit (version $v of " +
                s"$tablePath) without cdc files is not supported — enable " +
                "graft.delta.cdf so DV DML emits exact change rows")
        }
      }
      if (cdc.nonEmpty) {
        // cdc files carry _change_type themselves
        Seq(spark.read.schema(StructType(schema.fields :+
            StructField("_change_type", org.apache.spark.sql.types.StringType)))
          .parquet(cdc: _*)
          .withColumn("_commit_version", lit(v)))
      } else {
        val adds = nodes.filter(n => n.has("add") &&
            Option(n.get("add").get("dataChange")).forall(_.asBoolean))
          .map(n => absolute(n.get("add").get("path").asText))
        val removes = nodes.filter(n => n.has("remove") &&
            Option(n.get("remove").get("dataChange")).forall(_.asBoolean))
          .map(n => absolute(n.get("remove").get("path").asText))
        val a = if (adds.isEmpty) Nil else Seq(
          spark.read.schema(schema).parquet(adds: _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val r = if (removes.isEmpty) Nil else Seq(
          spark.read.schema(schema).parquet(removes: _*)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v)))
        a ++ r
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    else parts.reduce(_ unionByName _)
  }

  /** Append one hand-written JSON commit (fixture/spec helper; the action
    * lines must each be a complete JSON object per the Delta protocol). */
  private[graft] def writeCommit(spark: SparkSession, tablePath: String,
                                 version: Long, actions: Seq[String]): Unit = {
    val p = new Path(new Path(tablePath, "_delta_log"), f"$version%020d.json")
    // put-if-absent, per the Delta protocol's commit rule: two writers
    // racing to version N must not silently clobber each other (the
    // loser's transaction would vanish from the log and its data files
    // become vacuum-bait). The loser fails with a clear conflict.
    if (!StagedFiles.publishIfAbsent(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
        (actions.mkString("\n") + "\n").getBytes("UTF-8")))
      throw new java.util.ConcurrentModificationException(
        s"delta commit conflict: version $version of $tablePath was " +
          "committed concurrently — re-read the table state and retry")
  }

  /** metaData action JSON for a schema. `id`/`configuration` default to
    * the fixture values; COMMITS that re-emit metaData (RESTORE, ADD
    * COLUMNS, a schema-changing overwrite) must pass the table's CURRENT
    * identity and configuration ([[Snapshot]]'s `metaId` and
    * `configuration`) — re-emitting empty configuration silently erased
    * column-mapping mode / CDF enablement. */
  private[graft] def metaDataAction(schema: StructType,
                                    partCols: Seq[String],
                                    id: String = "graft-fixture",
                                    configuration: Map[String, String] = Map.empty): String = {
    val schemaStr = mapper.writeValueAsString(schema.json)
    val parts = partCols.map(c => s""""$c"""").mkString("[", ",", "]")
    val conf = configuration.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    s"""{"metaData":{"id":${mapper.writeValueAsString(id)},"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":$schemaStr,"partitionColumns":$parts,"configuration":$conf}}"""
  }

  /** Write `df` as ONE parquet file at tablePath/relName, replacing any
    * file there (fixture/spec helper and the checkpoint writer — Delta
    * add actions reference single files, Spark writes directories).
    * Returns its size. */
  private[graft] def writeDataFile(df: DataFrame, tablePath: String,
                                   relName: String): Long = {
    val dest = new Path(tablePath, relName)
    val fs = dest.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // cleared right before the move (a re-written checkpoint stays
    // readable while its replacement is staged)
    StagedFiles.stage(df.coalesce(1), tablePath) { (_, _) =>
      fs.delete(dest, false); Some(dest)
    }.head.size
  }
}
