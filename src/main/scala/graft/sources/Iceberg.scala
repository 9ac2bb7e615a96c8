package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Hand-rolled Apache Iceberg table reader + writer (format v1, and
  * format v2 merge-on-read with POSITION **and EQUALITY** deletes,
  * sequence-number scoped per the spec) — no iceberg jar, the same
  * posture as DeltaLogReader/DeltaLogWriter. An
  * Iceberg table is parquet data files plus a `metadata/` folder: a
  * current `v<N>.metadata.json` (named by `version-hint.text`) holding
  * the schema, partition spec and snapshot list; each snapshot names a
  * MANIFEST LIST (avro) whose rows name MANIFEST files (avro) whose
  * entries name the data files with their partition tuples and row
  * counts. Public spec: iceberg.apache.org/spec (v1 tables). Reference
  * surface: contrib/format-iceberg/.../IcebergGroupScan.java +
  * snapshot/Snapshot*.java (Drill reads the same layout through the
  * iceberg-core library; snapshotId / asOfTime / fromSnapshotId
  * selection mirrors snapshot/SnapshotFactory.java, and the `#metadata`
  * table suffix mirrors format/IcebergMetadataFileSelection.java).
  *
  * Scale posture: metadata parsing (JSON + avro manifests) is
  * driver-side and METADATA-scale — exactly what Iceberg's own planning
  * does — while data files are read with the ordinary distributed
  * parquet scan, so column pruning and predicate pushdown reach the
  * footers. Identity-partitioned source columns are stored IN the data
  * files (Iceberg spec, unlike Delta/Hive), so no literal-attachment
  * plan is needed; manifest partition tuples drive driver-side FILE
  * pruning before the scan is even built.
  */
object IcebergTable {

  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------- types

  /** Spark type → Iceberg schema-JSON type (string for primitives, node
    * for nested); assigns fresh field ids from `nextId` for nested. */
  private def toIcebergType(dt: DataType, nextId: () => Int): AnyRef = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case st: StructType =>
      val n = mapper.createObjectNode()
      n.put("type", "struct")
      val fields = n.putArray("fields")
      st.fields.foreach { f =>
        val id = nextId()
        val fn = fields.addObject()
        fn.put("id", id); fn.put("name", f.name); fn.put("required", !f.nullable)
        putType(fn, "type", toIcebergType(f.dataType, nextId))
      }
      n
    case at: ArrayType =>
      val n = mapper.createObjectNode()
      n.put("type", "list"); n.put("element-id", nextId())
      putType(n, "element", toIcebergType(at.elementType, nextId))
      n.put("element-required", !at.containsNull)
      n
    case mt: MapType =>
      val n = mapper.createObjectNode()
      n.put("type", "map"); n.put("key-id", nextId())
      putType(n, "key", toIcebergType(mt.keyType, nextId))
      n.put("value-id", nextId())
      putType(n, "value", toIcebergType(mt.valueType, nextId))
      n.put("value-required", !mt.valueContainsNull)
      n
    case other => throw new IllegalArgumentException(
      s"unsupported type for iceberg write: $other")
  }

  private def putType(n: ObjectNode, field: String, t: AnyRef): Unit = t match {
    case s: String => n.put(field, s)
    case node: JsonNode => n.set(field, node); ()
  }

  private val DecimalRe = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
  private val FixedRe = "fixed\\[(\\d+)\\]".r

  /** Iceberg schema-JSON type → Spark type. */
  private def fromIcebergType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" | "uuid" => StringType
      case "date" => DateType
      case "timestamp" | "timestamptz" => TimestampType
      case "binary" => BinaryType
      case "time" => LongType // microseconds-of-day; Spark has no TIME type
      case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
      case FixedRe(_) => BinaryType
      case other => throw new IllegalArgumentException(s"iceberg type: $other")
    } else t.get("type").asText match {
      case "struct" => StructType(t.get("fields").elements.asScala.toSeq.map { f =>
        StructField(f.get("name").asText, fromIcebergType(f.get("type")),
          nullable = !f.get("required").asBoolean)
      })
      case "list" => ArrayType(fromIcebergType(t.get("element")),
        containsNull = !t.get("element-required").asBoolean)
      case "map" => MapType(fromIcebergType(t.get("key")),
        fromIcebergType(t.get("value")),
        valueContainsNull = !t.get("value-required").asBoolean)
      case other => throw new IllegalArgumentException(s"iceberg type: $other")
    }

  // ------------------------------------------------------------- metadata

  case class SnapshotInfo(snapshotId: Long, timestampMs: Long,
                          operation: String, manifestList: String,
                          summary: Map[String, String] = Map.empty,
                          sequenceNumber: Long = 0L,
                          firstRowId: Option[Long] = None,
                          directManifests: Seq[String] = Nil)

  case class TableMeta(location: String, schema: StructType,
                       schemaNode: JsonNode, lastColumnId: Int,
                       partCols: Seq[String],
                       currentSnapshotId: Option[Long],
                       snapshots: Seq[SnapshotInfo],
                       metadataVersion: Int, tableUuid: String,
                       formatVersion: Int,
                       lastSequenceNumber: Long = 0L,
                       nonIdentityTransforms: Seq[String] = Nil,
                       nextRowId: Long = 0L,
                       // externally set metadata carried through commits
                       // verbatim (a rebuilt JSON must not wipe them):
                       // properties, sort-orders, default-sort-order-id
                       carried: Map[String, JsonNode] = Map.empty) {
    /** Manifest-list records by path, read once per loaded metadata (a
      * list file never changes once committed): a statement that plans
      * from the live entries and then commits reads the list once. */
    @transient private[IcebergTable] lazy val manifestLists =
      scala.collection.concurrent.TrieMap.empty[String, Seq[GenericRecord]]
  }

  private def metaDir(table: String) = new Path(table, "metadata")

  /** Replace version-hint.text by OVERWRITE-create. The hint is an
    * optional accelerator (spec: file-system catalogs may omit it) and
    * the reader treats ANY mid-replace artifact — absent file, partial
    * content, checksum-sidecar mismatch — as hint-absent and falls back
    * to the metadata listing, so the write needs no atomicity dance.
    * (A delete+rename scheme leaves a not-exists window; rename-over
    * trips Hadoop's local ChecksumFileSystem, whose stale .crc sidecar
    * then fails every subsequent read.) */
  private def writeVersionHint(fs: org.apache.hadoop.fs.FileSystem,
                               table: String, newVersion: Int): Unit = {
    val hintPath = new Path(metaDir(table), "version-hint.text")
    val os = fs.create(hintPath, true)
    try os.write(String.valueOf(newVersion).getBytes("UTF-8"))
    finally os.close()
  }

  /** Latest metadata version: `version-hint.text` if present, probed
    * forward while `v<N+1>.metadata.json` exists (a committer that died
    * between its metadata publish and its hint write leaves the hint
    * one behind — iceberg-core's HadoopTableOperations probes the same
    * way), else the max `v<N>.metadata.json` on disk (the hint is an
    * optional part of the spec's file-system catalog). */
  def currentMetadataVersion(spark: SparkSession, table: String): Int = {
    val dir = metaDir(table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      throw new IllegalArgumentException(s"not an Iceberg table (no metadata/): $table")
    val hint = new Path(dir, "version-hint.text")
    val hinted =
      try {
        if (fs.exists(hint)) {
          val in = fs.open(hint)
          // a concurrent committer may be mid-replace: an empty/garbled
          // hint, one deleted between exists() and open(), or a stale
          // checksum sidecar all fall through to the directory listing
          // instead of exploding (polling stream sources race table
          // writers on exactly this file)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toIntOption
          finally in.close()
        } else None
      } catch { case _: java.io.IOException => None }
    hinted.map { h =>
      var v = h
      while (fs.exists(new Path(dir, s"v${v + 1}.metadata.json"))) v += 1
      v
    }.getOrElse {
      val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .flatMap { n => "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(n).map(_.group(1).toInt) }
      if (vs.isEmpty) throw new IllegalArgumentException(
        s"no v*.metadata.json under $dir")
      vs.max
    }
  }

  def loadMeta(spark: SparkSession, table: String,
               version: Option[Int] = None): TableMeta = {
    val v = version.getOrElse(currentMetadataVersion(spark, table))
    val p = new Path(metaDir(table), s"v$v.metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val root = try mapper.readTree(in) finally in.close()
    val formatVersion = root.get("format-version").asInt
    require(formatVersion >= 1 && formatVersion <= 3,
      s"unsupported iceberg format-version $formatVersion in $p")
    // v1 has "schema"; v2 has "schemas" + "current-schema-id"
    val schemaNode =
      if (root.has("schema")) root.get("schema")
      else {
        val cur = root.get("current-schema-id").asInt
        root.get("schemas").elements.asScala
          .find(_.get("schema-id").asInt == cur)
          .getOrElse(throw new IllegalArgumentException(s"schema $cur missing in $p"))
      }
    val schema = fromIcebergType(schemaNode).asInstanceOf[StructType]
    // partition spec: v1 "partition-spec" flat list; both have "partition-specs"
    val specFields: Seq[JsonNode] =
      if (root.has("partition-spec")) root.get("partition-spec").elements.asScala.toSeq
      else if (root.has("partition-specs")) {
        val defId = if (root.has("default-spec-id")) root.get("default-spec-id").asInt else 0
        root.get("partition-specs").elements.asScala
          .find(_.get("spec-id").asInt == defId).toSeq
          .flatMap(_.get("fields").elements.asScala)
      } else Nil
    // Non-identity transforms (day/bucket/truncate/…) don't block READS:
    // iceberg stores the SOURCE column values in the data files (unlike
    // Delta/Hive), so the scan is complete without decoding the
    // transform — only driver-side partition pruning skips those fields
    // (their manifest tuples hold transformed values, still exposed to
    // partitionFilter under the spec-field name). WRITES to such tables
    // refuse: this writer can only re-emit identity specs.
    val (identityFields, transformedFields) =
      specFields.partition(_.get("transform").asText == "identity")
    val partCols = identityFields.map(_.get("name").asText)
    val nonIdentity = transformedFields
      .map(f => s"${f.get("name").asText}=${f.get("transform").asText}")
    val snaps = Option(root.get("snapshots")).toSeq
      .flatMap(_.elements.asScala).map { s =>
        val summary = Option(s.get("summary")).map { x =>
          x.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        }.getOrElse(Map.empty[String, String])
        SnapshotInfo(
          s.get("snapshot-id").asLong,
          s.get("timestamp-ms").asLong,
          summary.getOrElse("operation", "append"),
          // v1 spec allows the deprecated direct "manifests" array in
          // place of manifest-list — reading .asText on the missing
          // field NPE'd on exactly those old-writer tables
          Option(s.get("manifest-list")).filterNot(_.isNull)
            .map(_.asText).getOrElse(""),
          summary - "operation",
          Option(s.get("sequence-number")).map(_.asLong).getOrElse(0L),
          Option(s.get("first-row-id")).map(_.asLong),
          Option(s.get("manifests")).filterNot(_.isNull).map { arr =>
            (0 until arr.size()).map(arr.get(_).asText())
          }.getOrElse(Nil))
      }
    // filterNot(isNull): an explicit JSON null parsed as asLong == 0 and
    // survived the != -1 filter, pointing "current" at a phantom snapshot
    val current = Option(root.get("current-snapshot-id"))
      .filterNot(_.isNull).map(_.asLong).filter(_ != -1L)
    // `schemas` rides along so commits preserve the append-only schema
    // history (evolution mints a FRESH schema-id; see commitMetadata)
    val carried = Seq("properties", "sort-orders", "default-sort-order-id",
        "schemas")
      .flatMap(k => Option(root.get(k)).filterNot(_.isNull).map(k -> _)).toMap
    TableMeta(table, schema, schemaNode, root.get("last-column-id").asInt,
      partCols, current, snaps, v, root.get("table-uuid").asText, formatVersion,
      Option(root.get("last-sequence-number")).map(_.asLong).getOrElse(0L),
      nonIdentity,
      Option(root.get("next-row-id")).map(_.asLong).getOrElse(0L),
      carried)
  }

  private def requireIdentitySpec(meta: TableMeta, what: String): Unit =
    require(meta.nonIdentityTransforms.isEmpty,
      s"$what on a table with non-identity partition transforms " +
        s"(${meta.nonIdentityTransforms.mkString(", ")}) is not supported — " +
        "this writer re-emits identity specs only; reads work fine")

  // -------------------------------------------------------- avro helpers

  private def readAvroRecords(spark: SparkSession, path: String): Seq[GenericRecord] =
    readAvroRecordsAndSchema(spark, path)._1 // one read loop, not two copies

  private def writeAvro(spark: SparkSession, path: Path, schema: Schema,
                        rows: Seq[GenericRecord],
                        fileMeta: Map[String, String]): Long = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    fileMeta.foreach { case (k, v) => writer.setMeta(k, v) }
    val os = fs.create(path, true)
    try {
      writer.create(schema, os)
      rows.foreach(writer.append)
    } finally writer.close() // closes os
    fs.getFileStatus(path).getLen
  }

  private def str(v: AnyRef): String = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case s => s.toString
  }

  /** Field value if the record's schema HAS the field (avro's get(name)
    * throws on absent fields — manifests from other writers may omit
    * optional columns). */
  private def opt(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(f => Option(r.get(f.pos())))

  // ------------------------------------------------------------- reading

  /** One live/added file in a snapshot. `partition` values are the
    * avro-decoded identity tuple (string/int/long/boolean/double; date as
    * epoch-day int). `content` is the spec's data_file content id:
    * 0 = DATA, 1 = POSITION_DELETES, 2 = EQUALITY_DELETES (format v2). */
  case class DataFileInfo(path: String, partition: Map[String, Any],
                          recordCount: Long, fileSizeBytes: Long,
                          status: Int, snapshotId: Long, content: Int = 0,
                          seq: Long = 0L, equalityIds: Seq[Int] = Nil,
                          fileFormat: String = "PARQUET",
                          referencedDataFile: Option[String] = None,
                          contentOffset: Option[Long] = None,
                          contentSize: Option[Long] = None,
                          entryFirstRowId: Option[Long] = None) {
    /** Format-v3 deletion vector (content=1 entry whose bitmap lives in
      * a Puffin blob instead of position-delete parquet). */
    def isDv: Boolean =
      // v3 deletion vectors are PUFFIN files (spec); referenced_data_file
      // ALONE is not the discriminator — v2 parquet position-delete
      // entries may set it as a file-scoping hint and must stay on the
      // parquet-delete path
      content == 1 && (fileFormat.equalsIgnoreCase("PUFFIN") ||
        contentOffset.isDefined)
  }

  private def absolute(table: String, p: String): String =
    // iceberg-core's Path.toString spells local URIs with a SINGLE
    // slash ("file:/a/b") — contains("://") alone treated those as
    // relative and prepended the table path
    if (p.startsWith("/") ||
        p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) p
    else s"$table/$p"

  /** Manifest-list rows for a snapshot: (manifestPath, content, seq).
    * content 0 = data manifest, 1 = delete manifest (format v2 row-level
    * deletes — position/equality delete files); seq = the manifest's
    * data sequence number (0 for v1 lists — the spec's v1→v2 upgrade
    * rule), inherited by ADDED entries that don't carry their own. */
  private def manifestsOf(spark: SparkSession, table: String,
                          snap: SnapshotInfo,
                          memo: Option[TableMeta]): Seq[(String, Int, Long)] = {
    // the v1 deprecated form: manifests listed directly on the snapshot
    // (all data manifests, sequence number 0 — v1 has no sequencing)
    if (snap.manifestList.isEmpty)
      return snap.directManifests.map(m => (absolute(table, m), 0, 0L))
    listRecords(spark, table, snap, memo).map { r =>
      val content = opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0)
      val seq = opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L)
      (absolute(table, str(r.get("manifest_path"))), content, seq)
    }
  }

  /** A snapshot's manifest-list records, through `memo`'s cache when
    * given. */
  private def listRecords(spark: SparkSession, table: String,
                          snap: SnapshotInfo,
                          memo: Option[TableMeta]): Seq[GenericRecord] = {
    def read = readAvroRecords(spark, absolute(table, snap.manifestList))
    memo.fold(read)(_.manifestLists.getOrElseUpdate(snap.manifestList, read))
  }

  /** All manifest entries of a snapshot (status 0=EXISTING 1=ADDED
    * 2=DELETED; DELETED entries are filtered by [[liveFiles]]).
    * Delete-manifest entries come back with their data_file `content`
    * (1 = position deletes, 2 = equality deletes). */
  private def entriesOf(spark: SparkSession, table: String,
                        snap: SnapshotInfo,
                        memo: Option[TableMeta] = None): Seq[DataFileInfo] =
    manifestsOf(spark, table, snap, memo).flatMap { case (mf, _, mfSeq) =>
      readAvroRecords(spark, mf).map { e =>
        val status = e.get("status").asInstanceOf[Int]
        val snapId = opt(e, "snapshot_id").map(_.asInstanceOf[Long])
          .getOrElse(snap.snapshotId)
        // spec inheritance: a null sequence_number on an entry means the
        // manifest's own data sequence number (writers leave it null for
        // ADDED entries; carried manifests keep their original list seq)
        val seq = opt(e, "sequence_number").map(_.asInstanceOf[Long])
          .getOrElse(mfSeq)
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val content = opt(df, "content").map(_.asInstanceOf[Int]).getOrElse(0)
        val eqIds = opt(df, "equality_ids").map {
          case l: java.util.List[_] => l.asScala.toSeq.map(_.toString.toInt)
          case other => throw new IllegalArgumentException(
            s"equality_ids: expected a list, got ${other.getClass}")
        }.getOrElse(Nil)
        val part = opt(df, "partition").map(_.asInstanceOf[GenericRecord])
          .map { pr =>
            pr.getSchema.getFields.asScala.map { f =>
              val v = pr.get(f.pos()) match {
                case u: org.apache.avro.util.Utf8 => u.toString
                case x => x
              }
              f.name() -> v
            }.toMap[String, Any]
          }.getOrElse(Map.empty[String, Any])
        DataFileInfo(absolute(table, str(df.get("file_path"))), part,
          df.get("record_count").asInstanceOf[Long],
          opt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L),
          status, snapId, content, seq, eqIds,
          opt(df, "file_format").map(str).getOrElse("PARQUET"),
          opt(df, "referenced_data_file").map(v => absolute(table, str(v))),
          opt(df, "content_offset").map(_.asInstanceOf[Long]),
          opt(df, "content_size_in_bytes").map(_.asInstanceOf[Long]),
          // v3 row lineage: an EXPLICIT first_row_id (written by e.g.
          // rewrite_manifests) overrides inheritance-order assignment —
          // recomputing from encounter order swapped ids after a
          // manifest rewrite reordered entries
          opt(df, "first_row_id").map(_.asInstanceOf[Long]))
      }
    }

  private def selectSnapshot(meta: TableMeta, snapshotId: Option[Long],
                             asOfTimestampMs: Option[Long]): Option[SnapshotInfo] = {
    require(snapshotId.isEmpty || asOfTimestampMs.isEmpty,
      "pass snapshotId OR asOfTimestampMs, not both")
    snapshotId match {
      case Some(id) => Some(meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not in table ${meta.location} " +
            s"(has: ${meta.snapshots.map(_.snapshotId).mkString(", ")})")))
      case None => asOfTimestampMs match {
        case Some(ts) =>
          val eligible = meta.snapshots.filter(_.timestampMs <= ts)
          if (eligible.isEmpty) throw new IllegalArgumentException(
            s"no snapshot at or before $ts in ${meta.location}")
          Some(eligible.maxBy(_.timestampMs))
        case None => meta.currentSnapshotId.map(id =>
          meta.snapshots.find(_.snapshotId == id).getOrElse(
            throw new IllegalArgumentException(
              s"current-snapshot-id $id of ${meta.location} names no " +
                s"snapshot (has: ${meta.snapshots.map(_.snapshotId).mkString(", ")})")))
      }
    }
  }

  /** Live files of a snapshot, ALL contents (DELETED entries dropped):
    * data files plus any position/equality delete files (format v2). */
  def liveEntries(spark: SparkSession, table: String,
                  snapshotId: Option[Long] = None,
                  asOfTimestampMs: Option[Long] = None): Seq[DataFileInfo] =
    liveEntries(spark, loadMeta(spark, table), snapshotId, asOfTimestampMs)

  /** [[liveEntries]] from metadata the caller already loaded. */
  private[sources] def liveEntries(spark: SparkSession, meta: TableMeta,
                                   snapshotId: Option[Long],
                                   asOfTimestampMs: Option[Long]): Seq[DataFileInfo] =
    selectSnapshot(meta, snapshotId, asOfTimestampMs).toSeq.flatMap(snap =>
      entriesOf(spark, meta.location, snap, Some(meta)).filter(_.status != 2))

  /** Live DATA files of a snapshot (delete files excluded). */
  def liveFiles(spark: SparkSession, table: String,
                snapshotId: Option[Long] = None,
                asOfTimestampMs: Option[Long] = None): Seq[DataFileInfo] =
    liveEntries(spark, table, snapshotId, asOfTimestampMs)
      .filter(_.content == 0)

  /** Read an Iceberg table. `table` may carry a Drill-style `#<kind>`
    * metadata suffix (snapshots/history/manifests/files/partitions —
    * ref format/IcebergMetadataFileSelection.java). Time travel via
    * `snapshotId` or `asOfTimestampMs` (ref snapshot/SnapshotById.java,
    * SnapshotByTime.java). `partitionFilter` prunes FILES driver-side on
    * the manifest partition tuples before the scan is planned — the
    * identity-partition analog of Iceberg's filter pushdown; the filter
    * itself still reaches parquet footers through the ordinary scan. */
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None,
           partitionFilter: Map[String, Any] => Boolean = null): DataFrame = {
    val hash = table.indexOf('#')
    if (hash >= 0)
      return metadataTable(spark, table.substring(0, hash), table.substring(hash + 1))
    read(spark, loadMeta(spark, table), snapshotId, asOfTimestampMs,
      Option(partitionFilter))
  }

  /** [[read]] from metadata the caller already loaded. */
  private[sources] def read(spark: SparkSession, meta: TableMeta,
                            snapshotId: Option[Long],
                            asOfTimestampMs: Option[Long],
                            partitionFilter: Option[Map[String, Any] => Boolean]): DataFrame = {
    val entries = liveEntries(spark, meta, snapshotId, asOfTimestampMs)
    val files = entries.filter(f => f.content == 0 &&
      partitionFilter.forall(_(f.partition)))
    buildRead(spark, meta, files, entries.filter(_.content == 1),
      entries.filter(_.content == 2))
  }

  /** [[read]] plus the format-v3 ROW LINEAGE virtual columns (spec
    * §Row Lineage): `_row_id` — a stable per-row identifier assigned by
    * inheritance (the committing snapshot's `first-row-id` + the file's
    * running record-count offset within that snapshot's added data
    * files + the row's ordinal in its file) — and
    * `_last_updated_sequence_number` (the file's data sequence number;
    * for files this reader sees, rows were last written when their file
    * was). Files committed before the table's v3 upgrade have no id
    * range → NULL lineage, exactly the spec's upgrade posture.
    *
    * Bound: ids are unique and stable across appends and deletes; a
    * `replace` compaction re-adds files under the replace snapshot, so
    * ids stay UNIQUE but are re-minted (per-entry `first_row_id`
    * carry-over on rewrite is not implemented — full-fidelity lineage
    * through compaction would need it).
    *
    * Shape: the per-file (base, seq) table is manifest metadata —
    * broadcast joined on the normalized file path, ids materialize as
    * base + `_metadata.row_index` on executors. Nothing row-scale
    * touches the driver. */
  def readWithLineage(spark: SparkSession, table: String,
                      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val meta = loadMeta(spark, table)
    require(meta.formatVersion >= 3,
      s"row lineage requires a format-v3 table: $table is v${meta.formatVersion}")
    val entries = liveEntries(spark, meta, snapshotId, None)
    val files = entries.filter(_.content == 0)
    val firstRowIdOf: Map[Long, Long] = meta.snapshots
      .flatMap(s => s.firstRowId.map(s.snapshotId -> _)).toMap
    // running offset per (snapshot, file) over the snapshot's ADDED data
    // files in manifest order — the spec's inheritance assignment
    val bases: Seq[(String, java.lang.Long, Long)] = files
      .groupBy(_.snapshotId).toSeq.flatMap { case (snapId, fs) =>
        val start = firstRowIdOf.get(snapId)
        fs.scanLeft(0L)((off, f) => off + f.recordCount).zip(fs).map {
          case (off, f) =>
            // explicit per-entry first_row_id wins over the inherited
            // running assignment (spec: inheritance applies only when
            // the field is null)
            val b = f.entryFirstRowId.orElse(start.map(_ + off))
            (DeletedRows.key(f.path),
              b.map(java.lang.Long.valueOf).orNull, f.seq)
        }
      }
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(meta.schema.fields :+
          StructField("_row_id", LongType) :+
          StructField("_last_updated_sequence_number", LongType)))
    val base = buildRead(spark, meta, files, entries.filter(_.content == 1),
      entries.filter(_.content == 2), withLineageCols = true)
    import spark.implicits._
    val lookup = broadcast(bases.toDF("__g_lineage_fp", "__g_base", "__g_lseq"))
    base
      .join(lookup, Seq("__g_lineage_fp"), "left")
      .withColumn("_row_id", col("__g_base") + col("__g_lineage_pos"))
      .withColumn("_last_updated_sequence_number", col("__g_lseq"))
      .drop("__g_lineage_fp", "__g_lineage_pos", "__g_base", "__g_lseq")
  }

  /** The scan+merge core of [[read]] over an EXPLICIT entry set — also
    * the unit the changelog diff restricts to changed files. */
  private def buildRead(spark: SparkSession, meta: TableMeta,
                        files: Seq[DataFileInfo],
                        posDeletes: Seq[DataFileInfo],
                        eqDeletes: Seq[DataFileInfo],
                        withLineageCols: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    // honest bound: the hand-rolled reader decodes parquet (and puffin
    // DVs) — a spec-valid table with AVRO/ORC data or delete files must
    // refuse at PLAN time with a clear message, not fail mid-task
    (files ++ posDeletes.filterNot(_.isDv) ++ eqDeletes)
      .find(f => !f.fileFormat.equalsIgnoreCase("PARQUET"))
      .foreach(f => throw new IllegalArgumentException(
        s"iceberg: file format ${f.fileFormat} is not supported " +
          s"(parquet data/delete files and puffin DVs only): ${f.path}"))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], meta.schema)
    else {
      // merge-on-read: position deletes (v2 parquet, v3 DVs) drop rows
      // inside the scan's task. Matching by explicit (path, pos) makes
      // sequence-number checks unnecessary: file paths are unique within
      // a table's lifetime, so a delete can only name rows of its target.
      var data = DeletedRows.iceberg(spark, files, posDeletes)
        .drop(spark.read.schema(meta.schema).parquet(files.map(_.path): _*))
      // lineage helpers come off `_metadata` BEFORE any join — metadata
      // columns don't re-resolve through join projections
      if (withLineageCols) data = data
        .withColumn("__g_lineage_fp", DeletedRows.keyCol(col("_metadata.file_path")))
        .withColumn("__g_lineage_pos", col("_metadata.row_index"))
      if (eqDeletes.nonEmpty) {
        // EQUALITY deletes (spec §Scan Planning): a delete row removes
        // every data row whose values match on the delete file's
        // `equality_ids` columns (null matches null) AND whose data
        // sequence number is STRICTLY LESS than the delete file's.
        // Rows appended after the delete survive — that scoping is what
        // the fixture's re-append gate proves. Shape: each data row
        // learns its file's seq via a broadcast of the (path, seq)
        // manifest listing (metadata-scale), then one LEFT ANTI join
        // per distinct equality-column set; the equality columns are
        // equi-join keys (null-safe), the seq comparison rides along as
        // a join residual — delete files are small, Catalyst broadcasts
        // them, and nothing ever collects.
        import org.apache.spark.sql.functions.broadcast
        val idToName: Map[Int, String] = meta.schemaNode.get("fields")
          .elements.asScala
          .map(f => f.get("id").asInt -> f.get("name").asText).toMap
        def seqLookup(fs: Seq[DataFileInfo], fpCol: String, seqCol: String) =
          broadcast(spark.createDataFrame(
            fs.map(f => Row(DeletedRows.key(f.path), f.seq)).asJava,
            StructType(Seq(StructField(fpCol, StringType, nullable = false),
              StructField(seqCol, LongType, nullable = false)))))
        data = data
          .withColumn("__g_fp", DeletedRows.keyCol(col("_metadata.file_path")))
          .join(seqLookup(files, "__g_fp", "__g_seq"), Seq("__g_fp"), "left")
        eqDeletes.groupBy(_.equalityIds.sorted).foreach { case (ids, dels) =>
          require(ids.nonEmpty,
            s"equality-delete file without equality_ids: ${dels.head.path}")
          val cols = ids.map(id => idToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"equality_ids field $id not in table schema " +
                s"(top-level fields: ${idToName.values.mkString(", ")})")))
          // per-file seq attaches the same way as on the data side.
          // readParquet memoizes the group's inferred schema by
          // (paths, mtimes): a changelog call re-reads the same delete
          // files once per pair side, and each bare read.parquet was a
          // full footer schema-inference job (~100 ms of the
          // q_iceberg_changelog wall per call — OPTIMIZATION_r17.md)
          val delRows = graft.GraftSession.readParquet(spark,
              dels.head.path, dels.tail.map(_.path): _*)
            .withColumn("__g_dfp", DeletedRows.keyCol(col("_metadata.file_path")))
            .join(seqLookup(dels, "__g_dfp", "__g_dseq"), Seq("__g_dfp"))
            .select((cols.map(c => col(c).as(s"__g_eq_$c")) :+
              col("__g_dseq")): _*)
          val cond = cols.map(c => data(c) <=> delRows(s"__g_eq_$c"))
            .reduce(_ && _) && delRows("__g_dseq") > data("__g_seq")
          data = data.join(delRows, cond, "left_anti")
        }
        data = data.drop("__g_fp", "__g_seq")
      }
      data
    }
  }

  /** CDC CHANGELOG: every row-level change in snapshots
    * (fromSnapshotId, toSnapshotId], tagged `_change_type`
    * (insert|delete; an update is its delete+insert pair, like Spark's
    * iceberg changelog scan) and `_snapshot_id` — the Iceberg leg of
    * the incremental-consumption triad (Delta readChanges, Paimon
    * readChangelog).
    *
    * Semantics: per consecutive snapshot pair, the change set IS the
    * merge-on-read row diff — inserts = rows@cur ∖ rows@prev, deletes =
    * rows@prev ∖ rows@cur (multiset difference, so duplicate rows
    * count) — which is correct for ANY commit kind (append, position
    * or equality delete, overwrite) because it is defined on the
    * read-visible state, not on the commit's file choreography.
    *
    * Scale: the diff restricts BOTH sides to files that can differ —
    * the symmetric difference of the live data-file sets plus files
    * targeted by the pair's new position-delete files (their
    * `file_path` column is metadata-scale) — so an append diffs only
    * its new files and a position delete only its targets. Unchanged
    * files cancel identically and never scan. New EQUALITY deletes can
    * reach any older row, so those pairs widen to files with a smaller
    * data sequence number (what their scoping admits); exceptAll is a
    * hash aggregation, not a join explosion. */
  def readChangesBetween(spark: SparkSession, table: String,
                         fromSnapshotId: Long,
                         toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val meta = loadMeta(spark, table)
    require(meta.snapshots.exists(_.snapshotId == fromSnapshotId),
      s"fromSnapshotId $fromSnapshotId not in table $table")
    // COMMIT order, not timestamp order: v2 sequence numbers are the
    // spec's monotonic commit ordering — clock skew or a foreign
    // writer's regressed timestamp-ms would reorder the diff pairs and
    // emit phantom delete/insert pairs tagged with the wrong snapshot.
    // The sort is stable, so v1 metadata (every sequence number 0)
    // keeps its list order, which IS commit order for appended lists.
    val ordered = meta.snapshots.sortBy(_.sequenceNumber)
    val fromIdx = ordered.indexWhere(_.snapshotId == fromSnapshotId)
    val hiIdx = toSnapshotId.map { id =>
      val i = ordered.indexWhere(_.snapshotId == id)
      require(i >= 0, s"toSnapshotId $id not in table $table")
      i
    }.getOrElse(ordered.size - 1)
    val outSchema = StructType(
      StructField("_change_type", StringType, nullable = false) +:
      StructField("_snapshot_id", LongType, nullable = false) +:
      meta.schema.fields)
    val parts = (fromIdx until hiIdx).flatMap { i =>
      val prev = ordered(i)
      val cur = ordered(i + 1)
      // `replace` snapshots (compaction / rewrite_data_files) change
      // files, never rows — iceberg's changelog scan skips them, and so
      // does this one (no point diffing an identical row multiset)
      if (cur.operation == "replace") None else Some((prev, cur))
    }
    // consecutive pairs share a snapshot (pair i's cur is pair i+1's
    // prev) — memoize the manifest decode so each snapshot's entries are
    // read once per changelog call, not once per adjacent pair
    val entriesMemo =
      scala.collection.mutable.Map.empty[Long, Seq[DataFileInfo]]
    def entriesLive(s: SnapshotInfo): Seq[DataFileInfo] =
      entriesMemo.getOrElseUpdate(s.snapshotId,
        entriesOf(spark, table, s).filter(_.status != 2))
    val diffed = parts.map { case (prev, cur) =>
      val prevE = entriesLive(prev)
      val curE = entriesLive(cur)
      def byPath(es: Seq[DataFileInfo]) =
        es.filter(_.content == 0).map(e => e.path -> e).toMap
      val prevData = byPath(prevE)
      val curData = byPath(curE)
      val newDels = {
        val prevDelPaths = prevE.filter(_.content != 0).map(_.path).toSet
        curE.filter(e => e.content != 0 && !prevDelPaths.contains(e.path))
      }
      // changed-file set: live-set symmetric difference + new position
      // deletes' targets (+ the eq-delete-reachable tail when present)
      var changed = (prevData.keySet diff curData.keySet) ++
        (curData.keySet diff prevData.keySet)
      val newPos = newDels.filter(_.content == 1)
      // DV entries name their target in the MANIFEST (referenced_data_file)
      // — no file read at all; parquet position deletes list targets in
      // their metadata-scale file_path column
      val (newDvs, newPosPq) = newPos.partition(_.isDv)
      changed = changed ++ newDvs.map(f => DeletedRows.key(f.referencedDataFile.get)) ++
        DeletedRows.namedFiles(spark, newPosPq.map(_.path))
      val newEq = newDels.filter(_.content == 2)
      if (newEq.nonEmpty) {
        val maxSeq = newEq.map(_.seq).max
        changed = changed ++ curData.values
          .filter(_.seq < maxSeq).map(_.path) ++
          prevData.values.filter(_.seq < maxSeq).map(_.path)
      }
      def hit(p: String) =
        changed.contains(p) || changed.contains(DeletedRows.key(p))
      val left = buildRead(spark, meta,
        prevData.values.filter(f => hit(f.path)).toSeq,
        prevE.filter(_.content == 1), prevE.filter(_.content == 2))
      val right = buildRead(spark, meta,
        curData.values.filter(f => hit(f.path)).toSeq,
        curE.filter(_.content == 1), curE.filter(_.content == 2))
      // exceptAll rejects MapType columns outright — diff with maps
      // serialized to canonical JSON, then re-parse the originals back
      // (keys sort inside to_json? no — but the SAME row serializes the
      // same way on both sides, which is all a multiset diff needs)
      val mapCols = meta.schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      def mapsAsJson(df: DataFrame): DataFrame =
        mapCols.foldLeft(df)((d, f) =>
          d.withColumn(f.name, org.apache.spark.sql.functions.to_json(col(f.name))))
      def mapsBack(df: DataFrame): DataFrame =
        mapCols.foldLeft(df)((d, f) =>
          d.withColumn(f.name,
            org.apache.spark.sql.functions.from_json(col(f.name), f.dataType)))
      val ins = mapsBack(mapsAsJson(right).exceptAll(mapsAsJson(left)))
        .select(lit("insert").as("_change_type") +:
          lit(cur.snapshotId).as("_snapshot_id") +:
          meta.schema.fieldNames.map(col).toSeq: _*)
      val del = mapsBack(mapsAsJson(left).exceptAll(mapsAsJson(right)))
        .select(lit("delete").as("_change_type") +:
          lit(cur.snapshotId).as("_snapshot_id") +:
          meta.schema.fieldNames.map(col).toSeq: _*)
      ins.unionByName(del)
    }
    if (diffed.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    else diffed.reduce(_ unionByName _)
  }

  /** Incremental read: rows ADDED by snapshots in (fromSnapshotId,
    * toSnapshotId] — ref snapshot/SnapshotAfter.java +
    * SnapshotsBetween.java (Drill's fromSnapshotId / toSnapshotId
    * table-function options). */
  def readAppendedBetween(spark: SparkSession, table: String,
                          fromSnapshotId: Long,
                          toSnapshotId: Option[Long] = None): DataFrame = {
    val meta = loadMeta(spark, table)
    // scope by LIST INDEX, not timestamps: the snapshots array is
    // append-ordered (commitMetadata), so index order is commit order
    // even when two fast commits share a millisecond — a timestamp
    // range silently drops a same-ms successor of `from` and pulls in
    // a same-ms successor of `to` (the trap the history metadata table
    // documents; readChangesBetween already scopes by index)
    val fromIdx = meta.snapshots.indexWhere(_.snapshotId == fromSnapshotId)
    require(fromIdx >= 0, s"fromSnapshotId $fromSnapshotId not in table $table")
    val toIdx = toSnapshotId.map { id =>
      val i = meta.snapshots.indexWhere(_.snapshotId == id)
      require(i >= 0, s"toSnapshotId $id not in table $table")
      i
    }
    val range = meta.snapshots.zipWithIndex
      .filter { case (_, i) => i > fromIdx && toIdx.forall(i <= _) }
      .map(_._1)
      // compaction rewrites files, never rows: a `replace` snapshot's
      // re-added entries are NOT appends (the Paimon twin filters its
      // COMPACT kind the same way)
      .filter(_.operation != "replace")
    val ids = range.map(_.snapshotId).toSet
    val added = range.flatMap(snap => entriesOf(spark, table, snap)
      .filter(e => e.status == 1 && e.content == 0 && ids.contains(e.snapshotId)))
      .map(_.path).distinct
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], meta.schema)
    else spark.read.schema(meta.schema).parquet(added: _*)
  }

  /** Data files a single snapshot ADDED (status=1 content=0 entries it
    * owns) — the per-snapshot unit the streaming source emits. */
  private[sources] def appendedFilesOf(spark: SparkSession, table: String,
                                       snap: SnapshotInfo): Seq[String] =
    entriesOf(spark, table, snap)
      .filter(e => e.status == 1 && e.content == 0 &&
        e.snapshotId == snap.snapshotId)
      .map(_.path).distinct

  /** Drill's `table#metadata` family as DataFrames (metadata-scale). */
  def metadataTable(spark: SparkSession, table: String, kind: String): DataFrame = {
    val meta = loadMeta(spark, table)
    import spark.implicits._
    kind match {
      case "snapshots" =>
        // v1 deprecated direct-manifests snapshots have NO manifest
        // list: null, not absolute(table, "") — which rendered the
        // table root with a trailing slash as if it were a list file
        meta.snapshots.map(s => (new java.sql.Timestamp(s.timestampMs),
            s.snapshotId, s.operation,
            if (s.manifestList.isEmpty) null
            else absolute(table, s.manifestList)))
          .toDF("committed_at", "snapshot_id", "operation", "manifest_list")
      case "history" =>
        // is_current_ancestor = reachable from current, not equal to it:
        // graft's linear history (no branches) makes every snapshot AT
        // OR BEFORE the current one an ancestor; snapshots abandoned by
        // a rollback sit after it and are not (Iceberg's own history
        // table semantics)
        // ordering by LIST INDEX, not raw timestamps: the snapshots
        // array is append-ordered (commitMetadata), so index order is
        // commit order even when two fast commits share a millisecond —
        // a rollback-abandoned snapshot in the same ms as current would
        // otherwise be misflagged as an ancestor
        val curIdx = meta.currentSnapshotId
          .map(id => meta.snapshots.indexWhere(_.snapshotId == id))
          .filter(_ >= 0)
        meta.snapshots.zipWithIndex.map { case (s, i) =>
            (new java.sql.Timestamp(s.timestampMs),
              s.snapshotId, curIdx.exists(i <= _)) }
          .toDF("made_current_at", "snapshot_id", "is_current_ancestor")
      case "manifests" =>
        val cur = selectSnapshot(meta, None, None).toSeq
        cur.flatMap { snap =>
          // the v1 deprecated direct-manifests form has no manifest
          // LIST file to read — surface the direct entries instead of
          // opening absolute(table, "") (= the table directory) as avro
          if (snap.manifestList.isEmpty)
            snap.directManifests.map(m => (absolute(table, m), 0L, 0, snap.snapshotId))
          else readAvroRecords(spark, absolute(table, snap.manifestList)).map { r =>
            (str(r.get("manifest_path")),
              opt(r, "manifest_length").map(_.asInstanceOf[Long]).getOrElse(0L),
              opt(r, "partition_spec_id").map(_.asInstanceOf[Int]).getOrElse(0),
              opt(r, "added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(-1L))
          }
        }.toDF("path", "length", "partition_spec_id", "added_snapshot_id")
      case "files" =>
        liveFiles(spark, table).map(f => (f.path, f.fileFormat, f.recordCount,
            f.fileSizeBytes, mapper.writeValueAsString(
              f.partition.map { case (k, v) => k -> String.valueOf(v) }.asJava)))
          .toDF("file_path", "file_format", "record_count",
            "file_size_in_bytes", "partition")
      case "delete_files" =>
        // spec metadata table: live POSITION (content 1) and EQUALITY
        // (content 2) delete files with their scoping sequence numbers
        liveEntries(spark, table).filter(_.content != 0)
          .map(f => (f.path, if (f.content == 1) "POSITION_DELETES"
              else "EQUALITY_DELETES",
            f.recordCount, f.fileSizeBytes, f.seq,
            f.equalityIds.mkString(",")))
          .toDF("file_path", "content", "record_count",
            "file_size_in_bytes", "sequence_number", "equality_ids")
      case "partitions" =>
        liveFiles(spark, table).groupBy(_.partition).toSeq
          .map { case (p, fs) =>
            (mapper.writeValueAsString(
              p.map { case (k, v) => k -> String.valueOf(v) }.asJava),
              fs.map(_.recordCount).sum, fs.size.toLong)
          }
          .sortBy(_._1)
          .toDF("partition", "record_count", "file_count")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' " +
          "(snapshots|history|manifests|files|delete_files|partitions)")
    }
  }

  // ------------------------------------------------------------- writing

  private def avroPrimFor(dt: DataType): String = dt match {
    case StringType => "\"string\""
    case ByteType | ShortType | IntegerType => "\"int\""
    case LongType => "\"long\""
    case BooleanType => "\"boolean\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case DateType => "\"int\"" // epoch days
    case other => throw new IllegalArgumentException(
      s"unsupported partition column type: $other")
  }

  private def partitionRecordSchema(partFields: Seq[StructField]): String = {
    val fs = partFields.zipWithIndex.map { case (f, i) =>
      s"""{"name":"${f.name}","type":["null",${avroPrimFor(f.dataType)}],""" +
        s""""default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    s"""{"type":"record","name":"r102","fields":[$fs]}"""
  }

  /** Manifest entry avro schema. Format v2 entries carry the data_file
    * `content` id (0 data / 1 position deletes / 2 equality deletes,
    * spec field-id 134); v1 entries omit it. */
  private def manifestEntrySchema(partFields: Seq[StructField],
                                  withContent: Boolean = false): Schema = {
    val contentField =
      if (withContent) """{"name":"content","type":"int","field-id":134},"""
      else ""
    // equality_ids (spec field-id 135) rides only on v2 entries; null for
    // data and position-delete files, the column-id list for content=2.
    // The three v3 deletion-vector fields (spec ids 143-145) ride along
    // optionally: null on every non-DV entry, set when a content=1 entry
    // points into a Puffin blob instead of position-delete parquet.
    val eqIdsField =
      if (withContent)
        """,{"name":"equality_ids","type":["null",{"type":"array",
          |"items":"int","element-id":136}],"default":null,"field-id":135},
          |{"name":"referenced_data_file","type":["null","string"],
          |"default":null,"field-id":143},
          |{"name":"content_offset","type":["null","long"],
          |"default":null,"field-id":144},
          |{"name":"content_size_in_bytes","type":["null","long"],
          |"default":null,"field-id":145}"""
          .stripMargin.replace("\n", "")
      else ""
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |  $contentField
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","type":${partitionRecordSchema(partFields)},"field-id":102},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"block_size_in_bytes","type":"long","field-id":105}
         |  $eqIdsField
         |]},"field-id":2}]}""".stripMargin)
  }

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
      |{"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
      |{"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
      |{"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506},
      |{"name":"added_rows_count","type":["null","long"],"default":null,"field-id":512}
      |]}""".stripMargin)

  /** v2 manifest-list schema: spec-required `content` (0 data / 1
    * deletes) + sequence-number fields, and the v2 field renames
    * (added_files_count etc.). */
  private val manifestFileSchemaV2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def typedPartitionValue(raw: String, dt: DataType): Any =
    if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType => raw
      case ByteType | ShortType | IntegerType => raw.toInt
      case LongType => raw.toLong
      case BooleanType => raw.toBoolean
      case DoubleType => raw.toDouble
      case FloatType => raw.toFloat
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type: $other")
    }

  /** Stage `df` as `data/<prefix>-<unique>.parquet` files of `table`,
    * with footer row counts; `nonEmpty` drops row-less parts (Spark
    * writes one for an empty frame; a delete file without rows deletes
    * nothing). */
  private def stageData(df: DataFrame, table: String, prefix: String,
                        partitionBy: Seq[String] = Nil,
                        nonEmpty: Boolean = false): Seq[StagedFiles.StagedFile] =
    StagedFiles.stage(df, table, partitionBy, countRows = true)((f, u) =>
      Option.when(!nonEmpty || f.rows > 0)(
        new Path(new Path(table, "data"), s"$prefix-$u.parquet")))

  /** A new manifest or manifest-list file of snapshot `snapshotId`; the
    * UUID keeps a writer that loses the commit race for that snapshot
    * id from overwriting the winner's files. */
  private def metaFile(table: String, snapshotId: Long, kind: String): Path =
    new Path(metaDir(table),
      s"snap-$snapshotId-${java.util.UUID.randomUUID()}-$kind.avro")

  /** Write `df` as a new Iceberg v1 snapshot at `table`. Append creates
    * the table when absent; Overwrite replaces the current snapshot
    * (its manifest list references only the new manifest — prior files
    * simply leave the snapshot, the Iceberg notion of a full replace).
    * `partitionBy` columns use identity transforms and KEEP their data
    * in the files (spec behavior): the distributed write stages through
    * duplicated `__p_<col>` hive dirs purely to get one file per
    * partition tuple, then files move flat into `data/` with their
    * tuple recorded in the manifest. Returns the new snapshot id
    * (sequential — ids only need uniqueness within the table). */
  /** Highest streaming batch id committed to `table` under `appId`
    * (recorded in snapshot summaries by [[write]]'s `summaryProps` — the
    * Iceberg analog of Delta's txn action; Iceberg writers use snapshot
    * summary properties for exactly this kind of writer bookkeeping). */
  def lastStreamBatch(spark: SparkSession, table: String,
                      appId: String): Option[Long] = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir(table))) return None
    loadMeta(spark, table).snapshots
      .filter(_.summary.get("graft.app-id").contains(appId))
      .flatMap(_.summary.get("graft.batch-id").map(_.toLong))
      .maxOption
  }

  def write(df: DataFrame, table: String,
            mode: SaveMode = SaveMode.Append,
            partitionBy: Seq[String] = Nil,
            summaryProps: Map[String, String] = Map.empty,
            operation: Option[String] = None): Long = {
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"iceberg write supports Append/Overwrite, got $mode")
    val spark = df.sparkSession
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(metaDir(table), "version-hint.text")) ||
      (fs.exists(metaDir(table)) && fs.listStatus(metaDir(table))
        .exists(_.getPath.getName.matches("v\\d+\\.metadata\\.json")))
    val prior = if (exists) Some(loadMeta(spark, table)) else None
    prior.foreach { m =>
      requireIdentitySpec(m, "write")
      require(m.schema.map(f => (f.name, f.dataType)) ==
          df.schema.map(f => (f.name, f.dataType)),
        s"schema mismatch appending to $table:\n table: ${m.schema.simpleString}\n" +
          s" data:  ${df.schema.simpleString}")
      require(m.partCols == partitionBy,
        s"partition spec mismatch: table has ${m.partCols}, write got $partitionBy")
    }
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c not in ${df.columns.mkString(", ")}"))
    // validate partition TYPES before any distributed work: failing in
    // typedPartitionValue after the staging write left orphaned moved
    // files in data/ that no manifest references
    partitionBy.foreach { c =>
      df.schema(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             BooleanType | DoubleType | FloatType | DateType => ()
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type: $other (column $c)")
      }
    }
    val partFields = partitionBy.map(c => df.schema(c))
    val snapshotId = prior.map(_.snapshots.map(_.snapshotId).maxOption.getOrElse(0L))
      .getOrElse(0L) + 1L
    val nowMs = System.currentTimeMillis()

    // ---- stage the data files (distributed write), move flat into data/
    val moved = stageData(
      partitionBy.foldLeft(df)((d, c) => d.withColumn(s"__p_$c", d(c))),
      table, "part", partitionBy.map(c => s"__p_$c"))
    // ---- manifest (avro) for the added files; v2 tables record content
    val fv = prior.map(_.formatVersion).getOrElse(1)
    val newSeq = if (fv >= 2) prior.map(_.lastSequenceNumber).getOrElse(0L) + 1 else 0L
    val entrySchema = manifestEntrySchema(partFields, withContent = fv >= 2)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val entries = moved.map { f =>
      // partition tuple from the __p_<c>=<v> staging components
      val pr = new GenericData.Record(partSchema)
      partFields.foreach { p =>
        pr.put(p.name, typedPartitionValue(f.partition.getOrElse(s"__p_${p.name}",
          throw new IllegalStateException(s"no __p_${p.name}= component for ${f.path}")),
          p.dataType))
      }
      val d = new GenericData.Record(dfSchema)
      if (fv >= 2) d.put("content", 0) // DATA
      d.put("file_path", f.path.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", pr)
      d.put("record_count", f.rows)
      d.put("file_size_in_bytes", f.size)
      d.put("block_size_in_bytes", 67108864L)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("data_file", d)
      e
    }
    val manifestPath = metaFile(table, snapshotId, "m0")
    val manifestLen = writeAvro(spark, manifestPath, entrySchema, entries, Map(
      "format-version" -> fv.toString,
      "partition-spec-id" -> "0") ++
      (if (fv >= 2) Map("content" -> "data") else Map.empty))

    // ---- manifest list: new manifest + (append) the prior snapshot's
    val addedRows = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum
    val listSchema = if (fv >= 2) manifestFileSchemaV2 else manifestFileSchema
    val carried: Seq[GenericRecord] =
      if (mode == SaveMode.Overwrite) Nil
      else carriedManifests(spark, table, prior, listSchema)
    val listPath = metaFile(table, snapshotId, "manifest-list")
    writeAvro(spark, listPath, listSchema,
      mfRow(listSchema, manifestPath.toString, manifestLen, snapshotId,
        entries.size, addedRows, content = 0, seq = newSeq, minSeq = newSeq)
        +: carried,
      Map("format-version" -> fv.toString))

    commitMetadata(spark, table, prior, df.schema, partitionBy,
      SnapshotInfo(snapshotId, nowMs,
        operation.getOrElse(
          if (mode == SaveMode.Overwrite && exists) "overwrite" else "append"),
        listPath.toString, summaryProps, newSeq),
      fv, addedRows = addedRows)
    snapshotId
  }

  /** Data-file compaction — iceberg's `rewrite_data_files` maintenance
    * action (iceberg.apache.org/docs maintenance; spec: a `replace`
    * snapshot changes files, never rows). The full live file set is read
    * back distributed and rewritten as ~`targetFileBytes` bins in one
    * Overwrite commit whose operation is `replace`, so incremental
    * consumers ([[readChangesBetween]]) skip it — compaction is a
    * logical no-op. Time travel to pre-compaction snapshots still
    * resolves the original files ([[expireSnapshots]] reclaims them).
    *
    * Tables carrying row-level deletes (position/equality files, v3
    * DVs) compact fine: the rewrite reads the VISIBLE merge-on-read
    * state, so the deletes are APPLIED by the compaction and the
    * replace commit drops the delete files entirely — the standard
    * maintenance recipe for bounding merge-on-read read amplification.
    * Visible rows are unchanged, so incremental consumers still skip
    * the replace snapshot. Refuses non-identity partition transforms
    * (the write path's own bound). Returns the replace snapshot id, or
    * the current one unchanged when there is nothing to compact. */
  def rewriteDataFiles(spark: SparkSession, table: String,
                       targetFileBytes: Long = 128L << 20,
                       zorderBy: Seq[String] = Nil): Long = {
    val meta = loadMeta(spark, table)
    requireIdentitySpec(meta, "rewriteDataFiles")
    val entries = liveEntries(spark, meta, None, None)
    val dataFiles = entries.filter(_.content == 0)
    val current = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot in $table"))
    val hasDeletes = entries.exists(_.content != 0)
    if (dataFiles.isEmpty ||
        (zorderBy.isEmpty && dataFiles.size < 2 && !hasDeletes)) return current
    zorderBy.foreach(c => require(meta.schema.fieldNames.contains(c),
      s"zorder column '$c' not in table schema " +
        s"[${meta.schema.fieldNames.mkString(", ")}]"))
    val bins = math.max(1L,
      (dataFiles.map(_.fileSizeBytes).sum + targetFileBytes - 1) / targetFileBytes).toInt
    // zorder strategy (Spark-Iceberg's rewrite_data_files
    // strategy => 'sort', sort_order => 'zorder(...)'): the compaction
    // rewrite doubles as the clustering pass — same replace snapshot,
    // rows just land along the Morton curve so footer min/max prune
    // later scans on any zorder column
    val compacted =
      if (zorderBy.nonEmpty)
        graft.operators.ZOrder.layout(read(spark, table), zorderBy, bins)
      else read(spark, table).repartition(bins)
    write(compacted, table, SaveMode.Overwrite, meta.partCols,
      operation = Some("replace"))
  }

  /** Snapshot expiration — iceberg's `expire_snapshots` maintenance
    * action: drop all but the newest `keepLast` snapshots from the
    * metadata (the current snapshot always survives) and physically
    * delete every manifest list, manifest, and data/delete file
    * reachable ONLY from expired snapshots. This is what actually
    * reclaims space after overwrites/compactions at 100 TB — without it
    * every superseded file lives forever. Reachability is computed from
    * the kept snapshots' manifests (shared files survive); the metadata
    * rewrite is a filtered copy of the current JSON, so schema history
    * and properties pass through untouched. Time travel to an expired id
    * then fails with the reader's clear snapshot-not-found error.
    * Returns the expired snapshot ids. */
  def expireSnapshots(spark: SparkSession, table: String,
                      keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(spark, table)
    val ordered = meta.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))
    if (ordered.size <= keepLast) return Nil
    val kept = ordered.takeRight(keepLast)
    require(meta.currentSnapshotId.forall(id => kept.exists(_.snapshotId == id)),
      s"expireSnapshots would drop the current snapshot of $table")
    val expired = ordered.dropRight(keepLast)

    def filesOf(snaps: Seq[SnapshotInfo]): Set[String] = snaps.flatMap { s =>
      val mfs = manifestsOf(spark, table, s, Some(meta))
      val listed = mfs.map(_._1) ++
        mfs.flatMap { case (mf, _, _) =>
          readAvroRecords(spark, mf).map(e =>
            absolute(table, str(e.get("data_file")
              .asInstanceOf[GenericRecord].get("file_path"))))
        }
      // a v1 deprecated direct-manifests snapshot has NO manifest-list
      // file — absolute(table, "") is the table ROOT, and putting it in
      // a file set ends with fs.delete(tableRoot) mid-cleanup
      val listFile = if (s.manifestList.isEmpty) Nil
                     else Seq(absolute(table, s.manifestList))
      listFile ++ listed
    }.toSet

    // filtered copy of the loaded metadata JSON (snapshots +
    // snapshot-log), committed as the next metadata version BEFORE any
    // file goes: a commit that loses the race deletes nothing
    val in = fs.open(new Path(metaDir(table), s"v${meta.metadataVersion}.metadata.json"))
    val root = try mapper.readTree(in).asInstanceOf[ObjectNode] finally in.close()
    val keptIds = kept.map(_.snapshotId).toSet
    def filterArr(field: String, idField: String): Unit = {
      val arr = root.putArray(s"__$field")
      Option(root.get(field)).foreach(_.elements.asScala.foreach { n =>
        if (keptIds.contains(n.get(idField).asLong)) arr.add(n)
      })
      root.set[JsonNode](field, arr)
      root.remove(s"__$field")
    }
    filterArr("snapshots", "snapshot-id")
    filterArr("snapshot-log", "snapshot-id")
    publishMetadata(fs, table, meta.metadataVersion + 1, root)

    val keepSet = filesOf(kept)
    val dropSet = filesOf(expired) -- keepSet
    dropSet.toSeq.sorted.foreach(p => fs.delete(new Path(p), false))
    expired.map(_.snapshotId)
  }

  /** Manifest-list row in either schema version — v2-only fields (and
    * the v1/v2 count-field spellings) are set only when present. */
  private def mfRow(schema: Schema, path: String, len: Long, snapId: Long,
                    added: Int, rows: Long, content: Int,
                    seq: Long, minSeq: Long, specId: Int = 0): GenericRecord = {
    val r = new GenericData.Record(schema)
    def putIf(name: String, v: AnyRef): Unit =
      if (schema.getField(name) != null) r.put(name, v)
    r.put("manifest_path", path)
    r.put("manifest_length", len)
    r.put("partition_spec_id", specId)
    r.put("added_snapshot_id", snapId)
    putIf("content", Int.box(content))
    putIf("sequence_number", Long.box(seq))
    putIf("min_sequence_number", Long.box(minSeq))
    putIf("added_data_files_count", Int.box(added))
    putIf("added_files_count", Int.box(added))
    putIf("existing_data_files_count", Int.box(0))
    putIf("existing_files_count", Int.box(0))
    putIf("deleted_data_files_count", Int.box(0))
    putIf("deleted_files_count", Int.box(0))
    putIf("added_rows_count", Long.box(rows))
    putIf("existing_rows_count", Long.box(0L))
    putIf("deleted_rows_count", Long.box(0L))
    r
  }

  /** Re-emit the prior current snapshot's manifest-list rows in
    * `schema`, preserving content + sequence numbers (absent in v1
    * lists → 0 — the spec's rule for v1→v2 upgrades: pre-upgrade data
    * is sequence number 0). */
  private def carriedManifests(spark: SparkSession, table: String,
                               prior: Option[TableMeta],
                               schema: Schema): Seq[GenericRecord] =
    prior.flatMap(m => selectSnapshot(m, None, None)).toSeq.flatMap { snap =>
      if (snap.manifestList.isEmpty) {
        // v1 deprecated DIRECT `manifests` form (no manifest-list file):
        // the read paths (manifestsOf line ~352, changelog, expire) all
        // guard on it — the WRITE path must too, or an append into a
        // legacy table opens the table directory as an avro file AFTER
        // the staged data files already moved. Lengths come from a stat
        // (metadata-scale); counts/seqs default like the list form's
        // absent optionals.
        val fs = new Path(table)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        snap.directManifests.map { m =>
          val abs = absolute(table, m)
          val len = scala.util.Try(
            fs.getFileStatus(new Path(abs)).getLen).getOrElse(0L)
          mfRow(schema, abs, len, snap.snapshotId, 0, 0L, 0, 0L, 0L)
        }
      } else
      listRecords(spark, table, snap, prior).map { r =>
        mfRow(schema, str(r.get("manifest_path")),
          opt(r, "manifest_length").map(_.asInstanceOf[Long]).getOrElse(0L),
          opt(r, "added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(-1L),
          opt(r, "added_data_files_count").orElse(opt(r, "added_files_count"))
            .map(_.asInstanceOf[Int]).getOrElse(0),
          opt(r, "added_rows_count").map(_.asInstanceOf[Long]).getOrElse(0L),
          opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
          opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
          opt(r, "min_sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L))
      }
    }

  /** Commit v<N+1>.metadata.json ([[publishMetadata]]). Emits BOTH
    * the v1 (`schema`, `partition-spec`) and v2 (`schemas` +
    * `current-schema-id`) spellings — readers of either version ignore
    * the other's fields; `formatVersion` decides the declared
    * format-version and whether sequence numbers are recorded. */
  private def commitMetadata(spark: SparkSession, table: String,
                             prior: Option[TableMeta],
                             dataSchema: StructType,
                             partitionBy: Seq[String],
                             snapshot: SnapshotInfo,
                             formatVersion: Int,
                             addedRows: Long = 0L): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newVersion = prior.map(_.metadataVersion + 1).getOrElse(1)
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    root.put("table-uuid",
      prior.map(_.tableUuid).getOrElse(java.util.UUID.randomUUID().toString))
    root.put("location", table)
    root.put("last-updated-ms", snapshot.timestampMs)
    if (formatVersion >= 2)
      // monotonic per spec: a rollback re-points current-snapshot-id at
      // an OLDER snapshot whose sequence number is below abandoned ones
      // still listed — last-sequence-number must never regress below
      // any listed snapshot or iceberg-core rejects the metadata (and
      // our own next write would mint a colliding sequence)
      root.put("last-sequence-number",
        (prior.map(_.snapshots).getOrElse(Nil) :+ snapshot)
          .map(_.sequenceNumber).max)
    // v3 ROW LINEAGE (spec: required for v3 tables): next-row-id advances
    // by the rows this commit adds; the committing snapshot records the
    // range start as first-row-id. Per-entry first_row_id stays null in
    // manifests — the spec's inheritance assigns ids at read time.
    val priorNextRowId = prior.map(_.nextRowId).getOrElse(0L)
    if (formatVersion >= 3)
      root.put("next-row-id", priorNextRowId + addedRows)
    val schemaNode: JsonNode = prior.map(_.schemaNode).getOrElse {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      toIcebergType(dataSchema, () => counter.incrementAndGet())
        .asInstanceOf[ObjectNode]
    }
    root.put("last-column-id", prior.map(_.lastColumnId).getOrElse {
      def maxId(n: JsonNode): Int = {
        val own = Seq("id", "element-id", "key-id", "value-id")
          .flatMap(k => Option(n.get(k)).map(_.asInt))
        val nested = n.elements.asScala.map(maxId).toSeq
        (own ++ nested ++ Seq(0)).max
      }
      maxId(schemaNode)
    })
    root.set[JsonNode]("schema", schemaNode)
    // append-only schemas history (spec: schema evolution mints a fresh
    // schema-id; redefining id 0 would silently rewrite history for any
    // reader correlating schemas by id across metadata versions)
    def stripId(n: JsonNode): ObjectNode = {
      val c = n.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
      c.remove("schema-id"); c
    }
    val priorSchemas: Seq[ObjectNode] =
      prior.flatMap(_.carried.get("schemas")).toSeq
        .flatMap(_.elements.asScala)
        .map(_.deepCopy[JsonNode]().asInstanceOf[ObjectNode])
    val curStripped = stripId(schemaNode)
    val (allSchemas, curSchemaId) =
      priorSchemas.find(ps => stripId(ps) == curStripped) match {
        case Some(m) => (priorSchemas, m.get("schema-id").asInt)
        case None =>
          val nid = (priorSchemas.map(_.get("schema-id").asInt) :+ -1).max + 1
          val withId = curStripped.deepCopy[ObjectNode]()
          withId.put("schema-id", nid)
          (priorSchemas :+ withId, nid)
      }
    val schemas = root.putArray("schemas")
    allSchemas.foreach(schemas.add)
    root.put("current-schema-id", curSchemaId)
    val specArr = root.putArray("partition-spec")
    val schemaFieldIds = schemaNode.get("fields").elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    partitionBy.zipWithIndex.foreach { case (c, i) =>
      val f = specArr.addObject()
      f.put("name", c); f.put("transform", "identity")
      f.put("source-id", schemaFieldIds(c)); f.put("field-id", 1000 + i)
    }
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.set[ArrayNode]("fields", specArr.deepCopy())
    // partitioned tables also carry an UNPARTITIONED spec (id 1): the
    // row-level delete writers emit GLOBAL delete files whose manifest
    // partition struct is empty — stamping them spec-id 0 would
    // contradict spec 0's identity fields and break iceberg-core's
    // partition-type projection on the manifest (spec-valid global
    // deletes reference an empty spec instead)
    if (partitionBy.nonEmpty) {
      val spec1 = specs.addObject()
      spec1.put("spec-id", 1)
      spec1.putArray("fields")
    }
    root.put("default-spec-id", 0)
    // spec v2 REQUIRED field iceberg-core enforces at parse time: the
    // highest assigned partition field id (999 = PARTITION_DATA_ID_START
    // - 1 when no partition field exists — iceberg-core's own spelling)
    root.put("last-partition-id",
      if (partitionBy.isEmpty) 999 else 1000 + partitionBy.size - 1)
    // carry externally set table configuration through the rebuild —
    // wiping properties/sort-orders would destroy another engine's
    // settings and emit v2 metadata iceberg-core rejects
    root.set[JsonNode]("properties",
      prior.flatMap(_.carried.get("properties"))
        .getOrElse(mapper.createObjectNode()))
    prior.foreach(_.carried.get("sort-orders").foreach(n =>
      root.set[JsonNode]("sort-orders", n)))
    prior.foreach(_.carried.get("default-sort-order-id").foreach(n =>
      root.set[JsonNode]("default-sort-order-id", n)))
    // v2 REQUIRES the sort-order pair — graft-born tables (nothing
    // carried) emit the canonical unsorted order or iceberg-core
    // rejects the very metadata these comments promise it accepts
    if (!root.has("sort-orders")) {
      val so = root.putArray("sort-orders")
      val unsorted = so.addObject()
      unsorted.put("order-id", 0)
      unsorted.putArray("fields")
    }
    if (!root.has("default-sort-order-id"))
      root.put("default-sort-order-id", 0)
    root.put("current-snapshot-id", snapshot.snapshotId)
    val snapsArr = root.putArray("snapshots")
    // distinctBy keeps the list intact when `snapshot` is an EXISTING
    // entry being re-set as current (rollbackTo) — only genuinely new
    // snapshots append
    val allSnaps = (prior.map(_.snapshots).getOrElse(Nil) :+ snapshot)
      .distinctBy(_.snapshotId)
    // first-row-id is minted only for a genuinely NEW snapshot: stamping
    // it onto a re-committed EXISTING one (rollbackTo on a v2-upgraded
    // v3 table) fabricated lineage AND let the next append re-mint the
    // same ids (next-row-id hadn't advanced)
    val snapshotIsNew =
      !prior.exists(_.snapshots.exists(_.snapshotId == snapshot.snapshotId))
    allSnaps.foreach { s =>
      val n = snapsArr.addObject()
      n.put("snapshot-id", s.snapshotId); n.put("timestamp-ms", s.timestampMs)
      if (formatVersion >= 2) n.put("sequence-number", s.sequenceNumber)
      s.firstRowId
        .orElse(if (formatVersion >= 3 && snapshotIsNew &&
            s.snapshotId == snapshot.snapshotId)
          Some(priorNextRowId) else None)
        .foreach(v => n.put("first-row-id", v))
      val sum = n.putObject("summary"); sum.put("operation", s.operation)
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sum.put(k, v) }
      if (s.manifestList.nonEmpty)
        n.put("manifest-list", absolute(table, s.manifestList))
      else { // v1 deprecated direct-manifests form carried through
        val ms = n.putArray("manifests")
        s.directManifests.foreach(m => ms.add(absolute(table, m)))
      }
    }
    val logArr = root.putArray("snapshot-log")
    allSnaps.foreach { s =>
      val n = logArr.addObject()
      n.put("timestamp-ms", s.timestampMs); n.put("snapshot-id", s.snapshotId)
    }
    if (!snapshotIsNew) {
      // rollback re-points current at an EXISTING snapshot: the log is
      // the history of current-pointer changes and iceberg-core rejects
      // metadata whose LAST log entry is not the current snapshot — so
      // the re-point appends its own entry (timestamped at the log
      // maximum: monotonic, deterministic)
      val n = logArr.addObject()
      n.put("timestamp-ms", allSnaps.map(_.timestampMs).max)
      n.put("snapshot-id", snapshot.snapshotId)
    }
    publishMetadata(fs, table, newVersion, root)
  }

  /** Publish `root` as `v<version>.metadata.json` only if no concurrent
    * committer got there first ([[StagedFiles.publishIfAbsent]]), then
    * point the version hint at it. A commit from stale metadata fails,
    * worded like the Delta conflict, and leaves the winner's file
    * alone. */
  private def publishMetadata(fs: org.apache.hadoop.fs.FileSystem, table: String,
                              version: Int, root: JsonNode): Unit = {
    if (!StagedFiles.publishIfAbsent(fs,
        new Path(metaDir(table), s"v$version.metadata.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)))
      throw new java.util.ConcurrentModificationException(
        s"iceberg commit conflict: version $version of $table was " +
          "committed concurrently — re-read the table state and retry")
    writeVersionHint(fs, table, version)
  }

  /** Roll the table back so `snapshotId` (an EXISTING snapshot) is
    * current again — Iceberg's `rollback_to_snapshot` procedure: a new
    * metadata version whose current-snapshot-id points at the target;
    * the snapshot list is untouched, so the abandoned snapshots stay
    * time-travelable until [[expireSnapshots]] reclaims them. Returns
    * the new metadata version. */
  def rollbackTo(spark: SparkSession, table: String,
                 snapshotId: Long): Int = {
    val meta = loadMeta(spark, table)
    val target = meta.snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"rollback: snapshot $snapshotId not in $table " +
          s"(have ${meta.snapshots.map(_.snapshotId).mkString(", ")})"))
    commitMetadata(spark, table, Some(meta), meta.schema, meta.partCols,
      target, meta.formatVersion)
    meta.metadataVersion + 1
  }

  /** ALTER TABLE ... ADD COLUMNS — Iceberg schema evolution: a new
    * metadata version whose schema appends `cols` with FRESH field ids
    * past last-column-id (spec rule — ids are never reused, which is
    * what makes evolution safe against old data files); fields are
    * optional (`required: false`), existing files null-fill at read.
    * Snapshots are untouched. Returns the new metadata version. */
  def addColumns(spark: SparkSession, table: String,
                 cols: StructType): Int = {
    val meta = loadMeta(spark, table)
    val current = meta.snapshots
      .find(s => meta.currentSnapshotId.contains(s.snapshotId))
      .getOrElse(throw new IllegalArgumentException(
        s"ADD COLUMNS needs a committed snapshot in $table"))
    val existing = meta.schema.fieldNames.map(_.toLowerCase).toSet
    cols.fieldNames.foreach(c => require(!existing.contains(c.toLowerCase),
      s"ADD COLUMNS: column '$c' already exists in $table"))
    val counter = new java.util.concurrent.atomic.AtomicInteger(meta.lastColumnId)
    val node = meta.schemaNode.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val fieldsArr = node.get("fields").asInstanceOf[ArrayNode]
    cols.fields.foreach { f =>
      val fn = fieldsArr.addObject()
      fn.put("id", counter.incrementAndGet())
      fn.put("name", f.name)
      fn.put("required", false)
      putType(fn, "type", toIcebergType(f.dataType, () => counter.incrementAndGet()))
    }
    val newSchema = StructType(
      meta.schema.fields ++ cols.fields.map(_.copy(nullable = true)))
    val updated = meta.copy(schema = newSchema, schemaNode = node,
      lastColumnId = counter.get())
    commitMetadata(spark, table, Some(updated), newSchema, meta.partCols,
      current, meta.formatVersion)
    meta.metadataVersion + 1
  }

  // ------------------------------------------------- row-level deletes

  /** Row-level DELETE: write position-delete files for every current
    * row matching `condition` and commit a merge-on-read snapshot; the
    * table upgrades to format-version 2 (the spec makes row-level
    * deletes a v2 feature). Matching rows are located DISTRIBUTED: the
    * parquet scan attaches `_metadata.file_path`/`row_index`, the
    * predicate runs on executors, and the (file_path, pos) pairs write
    * straight back out as parquet delete files sorted by
    * (file_path, pos) exactly as the spec requires — the driver never
    * materializes a matched row. A broadcast lookup maps the runtime
    * file URI to the manifest's exact file_path spelling (the spec
    * requires an exact match). Returns the new snapshot id, or the
    * current one unchanged when nothing matches. */
  def deleteFrom(spark: SparkSession, table: String,
                 condition: org.apache.spark.sql.Column): Long =
    deleteFrom(spark, table, loadMeta(spark, table), condition)

  /** [[deleteFrom]] from metadata the caller already loaded. */
  private[sources] def deleteFrom(spark: SparkSession, table: String,
                                  meta: TableMeta,
                                  condition: org.apache.spark.sql.Column): Long = {
    requireIdentitySpec(meta, "deleteFrom")
    val dataFiles = liveEntries(spark, meta, None, None).filter(_.content == 0)
    if (dataFiles.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    commitPositionDeletes(spark, table, meta,
      matchedPositions(spark, meta, dataFiles, condition))
  }

  /** `(file_path, pos)` of the rows of `dataFiles` that `condition`
    * matches, found on executors over `_metadata`. The raw files are
    * scanned: a row that an earlier delete (position or equality)
    * already killed may match again, which is harmless (the row is
    * invisible either way), and rows appended after an equality delete
    * match on their real content. A broadcast lookup maps each scanned
    * file's key to the manifest's exact `file_path` spelling, which the
    * spec requires delete rows to repeat. */
  private def matchedPositions(spark: SparkSession, meta: TableMeta,
                               dataFiles: Seq[DataFileInfo],
                               condition: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val lookup = dataFiles.map(f => (f.path, DeletedRows.key(f.path)))
      .toDF("file_path", "__g_fp")
    spark.read.schema(meta.schema)
      .parquet(dataFiles.map(_.path): _*)
      .filter(condition)
      .select(DeletedRows.keyCol(col("_metadata.file_path")).as("__g_fp"),
        col("_metadata.row_index").as("pos"))
      .join(broadcast(lookup), "__g_fp")
      .select(col("file_path"), col("pos"))
  }

  /** Commit a `(file_path, pos)` DataFrame as a position-delete snapshot
    * (the write-side half of [[deleteFrom]], also the delete engine for
    * MERGE where the matched rows come from a JOIN rather than a
    * predicate). No matches is a snapshot no-op. */
  private[graft] def commitPositionDeletes(spark: SparkSession, table: String,
                                           meta: TableMeta,
                                           matches: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    // spec rule: a v3 table's NEW position deletes must be deletion
    // vectors — route every position-delete producer (DELETE, UPDATE,
    // MERGE) through the DV commit once the table has upgraded
    if (meta.formatVersion >= 3)
      return commitDvDeletes(spark, table, meta, matches,
        liveEntries(spark, meta, None, None))
    val snapshotId = meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    val moved = stageData(matches.repartition(col("file_path"))
      .sortWithinPartitions("file_path", "pos"), table, "delete", nonEmpty = true)
    if (moved.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    commitDeleteFiles(spark, table, meta, moved, content = 1,
      snapshotId = snapshotId)
  }

  /** Row-level DELETE by key: write EQUALITY-delete files (spec content
    * id 2) naming the key tuples in `keys` — every current-or-future-
    * until-now row matching a key tuple on `keys.columns` (null-safe)
    * is deleted; rows appended by LATER snapshots keep living, because
    * equality deletes only reach data files with a strictly smaller
    * data sequence number. This is the delete shape CDC writers (e.g.
    * Flink upsert sinks) produce, where the deleted rows' positions are
    * unknown at delete time. `keys` stays distributed end-to-end: it is
    * written straight out as the delete parquet (distinct, one file per
    * partition), never collected. The table upgrades to format v2.
    * Returns the new snapshot id. */
  def deleteEquality(spark: SparkSession, table: String,
                     keys: DataFrame): Long = {
    val meta = loadMeta(spark, table)
    requireIdentitySpec(meta, "deleteEquality")
    val idOf: Map[String, Int] = meta.schemaNode.get("fields")
      .elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    val eqIds = keys.columns.toSeq.map(c => idOf.getOrElse(c,
      throw new IllegalArgumentException(
        s"equality column '$c' not in table schema of $table " +
          s"(has: ${idOf.keys.mkString(", ")})")))
    val snapshotId = meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    val moved = stageData(keys.distinct(), table, "eqdelete", nonEmpty = true)
    if (moved.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    commitDeleteFiles(spark, table, meta, moved, content = 2,
      snapshotId = snapshotId, equalityIds = eqIds)
  }

  /** UPSERT as ONE snapshot — the Flink-Iceberg rowDelta shape: the
    * batch's equality-delete files AND its data files commit together
    * under one sequence number, so no reader (current-snapshot query,
    * time travel, changelog) can ever observe the intermediate
    * "keys deleted, new versions not yet appended" state that a
    * deleteEquality-then-write pair publishes between its two commits.
    * Spec semantics make the single commit sound: an equality delete
    * applies only to rows with sequence number STRICTLY LESS than its
    * own, so the same-commit data files survive their own batch's
    * delete. Unpartitioned tables (the streaming-sink contract; the
    * table must exist — create with [[write]]). Returns the snapshot. */
  def upsertEquality(spark: SparkSession, table: String, df: DataFrame,
                     keyCols: Seq[String],
                     summaryProps: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "upsertEquality needs key columns")
    val meta = loadMeta(spark, table)
    requireIdentitySpec(meta, "upsertEquality")
    require(meta.partCols.isEmpty,
      s"upsertEquality supports unpartitioned tables: $table has " +
        s"partition columns ${meta.partCols.mkString(", ")}")
    require(meta.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"schema mismatch upserting to $table:\n table: " +
        s"${meta.schema.simpleString}\n data:  ${df.schema.simpleString}")
    val idOf: Map[String, Int] = meta.schemaNode.get("fields")
      .elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
    val eqIds = keyCols.map(c => idOf.getOrElse(c,
      throw new IllegalArgumentException(
        s"equality column '$c' not in table schema of $table")))
    val snapshotId = meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    val newSeq = meta.lastSequenceNumber + 1
    val nowMs = System.currentTimeMillis()
    val dataFiles = stageData(df, table, "part", nonEmpty = true)
    // the distinct delete keys come from the STAGED files, not from
    // `df` again: re-running the source plan doubled every upsert
    // batch's cost, and a nondeterministic source could stage keys
    // that disagree with the data just written
    val delFiles =
      if (dataFiles.isEmpty) Nil
      else stageData(
        spark.read.parquet(dataFiles.map(_.path.toString): _*)
          .select(keyCols.map(c =>
            org.apache.spark.sql.functions.col(c)): _*).distinct(),
        table, "eqdelete", nonEmpty = true)

    def fileEntries(files: Seq[StagedFiles.StagedFile], content: Int,
                    schema: Schema): Seq[GenericRecord] = {
      val dfSchema = schema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      files.map { f =>
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", f.path.toString)
        d.put("file_format", "PARQUET")
        d.put("partition", new GenericData.Record(partSchema))
        d.put("record_count", f.rows)
        d.put("file_size_in_bytes", f.size)
        d.put("block_size_in_bytes", 67108864L)
        if (content == 2) d.put("equality_ids", eqIds.map(Int.box).asJava)
        val e = new GenericData.Record(schema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapshotId)
        e.put("data_file", d)
        e
      }
    }
    val entrySchema = manifestEntrySchema(Nil, withContent = true)
    val mfRows = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    var addedRows = 0L
    if (dataFiles.nonEmpty) {
      val dEntries = fileEntries(dataFiles, 0, entrySchema)
      val mPath = metaFile(table, snapshotId, "m0")
      val mLen = writeAvro(spark, mPath, entrySchema, dEntries, Map(
        "format-version" -> "2", "partition-spec-id" -> "0",
        "content" -> "data"))
      addedRows = dEntries.map(_.get("data_file")
        .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum
      mfRows += mfRow(manifestFileSchemaV2, mPath.toString, mLen, snapshotId,
        dEntries.size, addedRows, content = 0, seq = newSeq, minSeq = newSeq)
    }
    if (delFiles.nonEmpty) {
      val dEntries = fileEntries(delFiles, 2, entrySchema)
      val mPath = metaFile(table, snapshotId, "d0")
      val mLen = writeAvro(spark, mPath, entrySchema, dEntries, Map(
        "format-version" -> "2", "partition-spec-id" -> "0",
        "content" -> "deletes"))
      mfRows += mfRow(manifestFileSchemaV2, mPath.toString, mLen, snapshotId,
        dEntries.size, dEntries.map(_.get("data_file")
          .asInstanceOf[GenericRecord].get("record_count")
          .asInstanceOf[Long]).sum,
        content = 1, seq = newSeq, minSeq = newSeq)
    }
    if (mfRows.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    val carried = carriedManifests(spark, table, Some(meta), manifestFileSchemaV2)
    val listPath = metaFile(table, snapshotId, "manifest-list")
    writeAvro(spark, listPath, manifestFileSchemaV2,
      mfRows.toSeq ++ carried, Map("format-version" -> "2"))
    commitMetadata(spark, table, Some(meta), meta.schema, Nil,
      SnapshotInfo(snapshotId, nowMs, "overwrite", listPath.toString,
        summaryProps, newSeq),
      formatVersion = math.max(2, meta.formatVersion), addedRows = addedRows)
    snapshotId
  }

  /** Register already-written delete files (parquet with `file_path` +
    * `pos` columns for content=1 position deletes; the equality columns
    * themselves for content=2 equality deletes, with `equalityIds`
    * naming their schema field ids) as a new v2 snapshot. */
  private[graft] def commitDeleteFiles(spark: SparkSession, table: String,
                                         meta: TableMeta,
                                         files: Seq[StagedFiles.StagedFile],
                                         content: Int,
                                         snapshotId: Long,
                                         equalityIds: Seq[Int] = Nil): Long = {
    val newSeq = meta.lastSequenceNumber + 1
    val nowMs = System.currentTimeMillis()
    val entrySchema = manifestEntrySchema(Nil, withContent = true)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val entries = files.map { f =>
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", f.path.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", new GenericData.Record(partSchema))
      d.put("record_count", f.rows)
      d.put("file_size_in_bytes", f.size)
      d.put("block_size_in_bytes", 67108864L)
      if (equalityIds.nonEmpty)
        d.put("equality_ids", equalityIds.map(Int.box).asJava)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("data_file", d)
      e
    }
    val manifestPath = metaFile(table, snapshotId, "d0")
    // global delete files carry an EMPTY partition struct — on a
    // partitioned table they reference the UNPARTITIONED spec (id 1,
    // written by commitMetadata), never spec 0's identity fields
    val delSpecId = if (meta.partCols.nonEmpty) 1 else 0
    val manifestLen = writeAvro(spark, manifestPath, entrySchema, entries, Map(
      "format-version" -> "2",
      "partition-spec-id" -> delSpecId.toString,
      "content" -> "deletes"))
    val deletedRows = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum
    val carried = carriedManifests(spark, table, Some(meta), manifestFileSchemaV2)
    val listPath = metaFile(table, snapshotId, "manifest-list")
    writeAvro(spark, listPath, manifestFileSchemaV2,
      mfRow(manifestFileSchemaV2, manifestPath.toString, manifestLen,
        snapshotId, entries.size, deletedRows, content = 1,
        seq = newSeq, minSeq = newSeq, specId = delSpecId) +: carried,
      Map("format-version" -> "2"))
    commitMetadata(spark, table, Some(meta), meta.schema, meta.partCols,
      SnapshotInfo(snapshotId, nowMs, "delete", listPath.toString,
        Map.empty, newSeq),
      // row-level deletes are a v2 feature; a v3 table must not downgrade
      formatVersion = math.max(2, meta.formatVersion))
    snapshotId
  }

  // --------------------------------------- format-v3 deletion vectors

  /** Row-level DELETE writing format-v3 DELETION VECTORS — one
    * Puffin-framed roaring bitmap per affected data file — instead of
    * v2 position-delete parquet. The spec's write rules are honored
    * distributed end-to-end:
    *
    *  - matched rows are located like [[deleteFrom]] (predicate on
    *    executors over `_metadata.file_path`/`row_index`, no row-scale
    *    driver state);
    *  - the new DV for a file MERGES every prior position delete of
    *    that file (older DVs and v2 position-delete parquet rows), so
    *    one DV per data file is the whole deletion story and the scan
    *    rule "a DV replaces older position deletes" loses nothing;
    *  - superseded DV entries are dropped from the carried delete
    *    manifests (filtered rewrite, metadata-scale);
    *  - Puffin files are written from EXECUTORS (one per shuffle
    *    partition of the affected files); the driver collects only
    *    blob descriptors (path, offset, size, cardinality) for the
    *    manifest commit;
    *  - the table upgrades to format-version 3, with the spec's row
    *    lineage fields (next-row-id / first-row-id) maintained.
    *
    * Returns the new snapshot id, or the current one unchanged when
    * nothing matches. Ref contrib/format-iceberg/.../IcebergGroupScan
    * .java — Drill plans through iceberg-core, which applies DVs
    * transparently; graft re-expresses the same read+write from the
    * public table-spec + puffin-spec. */
  def deleteFromDv(spark: SparkSession, table: String,
                   condition: org.apache.spark.sql.Column): Long = {
    val meta = loadMeta(spark, table)
    requireIdentitySpec(meta, "deleteFromDv")
    val entries = liveEntries(spark, meta, None, None)
    val dataFiles = entries.filter(_.content == 0)
    if (dataFiles.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    commitDvDeletes(spark, table, meta,
      matchedPositions(spark, meta, dataFiles, condition), entries)
  }

  /** Commit a `(file_path, pos)` DataFrame as a deletion-vector
    * snapshot (the DV twin of [[commitPositionDeletes]]; `live` is the
    * caller's already-loaded live entry set). */
  private[graft] def commitDvDeletes(spark: SparkSession, table: String,
                                     meta: TableMeta, matches: DataFrame,
                                     live: Seq[DataFileInfo]): Long = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // affected data files: metadata-scale (distinct file paths) — drives
    // the supersede bookkeeping and the manifest entries
    val affected = matches.select("file_path").distinct()
      .as[String].collect().toSeq.sorted
    if (affected.isEmpty) return meta.currentSnapshotId.getOrElse(0L)
    val affectedKeys = affected.map(DeletedRows.key).toSet
    val snapshotId = meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    val newSeq = meta.lastSequenceNumber + 1
    val nowMs = System.currentTimeMillis()
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    // a file's new DV carries its new matches and every position already
    // deleted (its older DV, else its v2 position deletes), merged in the
    // task that writes the Puffin file
    val old = DeletedRows.iceberg(spark, live.filter(_.content == 0),
      live.filter(_.content == 1))

    // ---- write the Puffin files from EXECUTORS: one file per shuffle
    // partition of the affected files (task-attempt-unique names; only
    // the winning attempt's rows reach the driver, orphans vanish with
    // the staging dir)
    val staging = new Path(table, s"_staging_${java.util.UUID.randomUUID()}")
    fs.mkdirs(staging)
    val stagingStr = staging.toString
    val blobRows: Seq[(String, String, Long, Long, Long)] =
      matches.select(col("file_path"), col("pos").cast("long").as("pos")).distinct()
        .repartition(col("file_path")).sortWithinPartitions("file_path", "pos")
        .as[(String, Long)]
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val groups = scala.collection.mutable.LinkedHashMap
              .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
            it.foreach { case (fp, pos) =>
              groups.getOrElseUpdate(fp,
                scala.collection.mutable.ArrayBuffer[Long]()) += pos
            }
            val name = s"dv-$snapshotId-" +
              java.util.UUID.randomUUID().toString + ".puffin"
            val blobs = Puffin.writeDvFile(confBc.value.value,
              new Path(stagingStr, name),
              groups.toSeq.map { case (fp, ps) =>
                (fp, (ps ++ old.positions(DeletedRows.key(fp))).toSeq) },
              snapshotId, newSeq)
            blobs.iterator.map(b =>
              (name, b.referencedDataFile, b.offset, b.length, b.cardinality))
          }
        }.collect().toSeq // metadata-scale: one row per affected data file

    // ---- move the winning Puffin files flat into data/
    val dataDir = new Path(table, "data")
    fs.mkdirs(dataDir)
    val finalPath: Map[String, Path] = blobRows.map(_._1).distinct.sorted
      .map { name =>
        val dest = new Path(dataDir, name)
        StagedFiles.move(fs, new Path(staging, name), dest)
        name -> dest
      }.toMap
    fs.delete(staging, true)

    // ---- delete manifest: one DV entry per affected data file
    val entrySchema = manifestEntrySchema(Nil, withContent = true)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val puffinLen: Map[String, Long] = finalPath.map { case (n, p) =>
      n -> fs.getFileStatus(p).getLen }
    val entries = blobRows.sortBy(_._2).map { case (name, ref, off, len, card) =>
      val d = new GenericData.Record(dfSchema)
      d.put("content", 1)
      d.put("file_path", finalPath(name).toString)
      d.put("file_format", "PUFFIN")
      d.put("partition", new GenericData.Record(partSchema))
      d.put("record_count", card)
      d.put("file_size_in_bytes", puffinLen(name))
      d.put("block_size_in_bytes", 67108864L)
      d.put("referenced_data_file", ref)
      d.put("content_offset", off)
      d.put("content_size_in_bytes", len)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("data_file", d)
      e
    }
    val manifestPath = metaFile(table, snapshotId, "dv0")
    // DV entries carry an empty partition struct — on a partitioned
    // table they reference the UNPARTITIONED spec (id 1); see
    // commitDeleteFiles
    val dvSpecId = if (meta.partCols.nonEmpty) 1 else 0
    val manifestLen = writeAvro(spark, manifestPath, entrySchema, entries, Map(
      "format-version" -> "3",
      "partition-spec-id" -> dvSpecId.toString,
      "content" -> "deletes"))
    val totalCard = blobRows.map(_._5).sum

    // ---- carried manifests, with SUPERSEDE: prior delete manifests
    // lose their DV entries for the affected files (the new DVs carry
    // those positions); manifests left empty drop from the list
    val carried = carriedManifests(spark, table, Some(meta), manifestFileSchemaV2)
      .zipWithIndex.flatMap { case (r, i) =>
        val content = r.get("content").asInstanceOf[Int]
        if (content != 1) Some(r)
        else {
          val mfPath = str(r.get("manifest_path"))
          val (recs, mfSchema) = readAvroRecordsAndSchema(spark, mfPath)
          val (dropped, kept) = recs.partition { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            opt(df, "referenced_data_file").map(str).exists(ref =>
              affectedKeys(DeletedRows.key(absolute(table, ref))))
          }
          if (dropped.isEmpty) Some(r)
          else if (kept.isEmpty) None
          else {
            val rw = metaFile(table, snapshotId, s"rw$i")
            // the rewrite preserves the source manifest's spec id
            val rwSpec = r.get("partition_spec_id").asInstanceOf[Int]
            val rwLen = writeAvro(spark, rw, mfSchema, kept, Map(
              "format-version" -> "3",
              "partition-spec-id" -> rwSpec.toString,
              "content" -> "deletes"))
            val rows = kept.map(_.get("data_file").asInstanceOf[GenericRecord]
              .get("record_count").asInstanceOf[Long]).sum
            Some(mfRow(manifestFileSchemaV2, rw.toString, rwLen,
              r.get("added_snapshot_id").asInstanceOf[Long], kept.size, rows,
              content = 1,
              seq = r.get("sequence_number").asInstanceOf[Long],
              minSeq = r.get("min_sequence_number").asInstanceOf[Long],
              specId = rwSpec))
          }
        }
      }
    val listPath = metaFile(table, snapshotId, "manifest-list")
    writeAvro(spark, listPath, manifestFileSchemaV2,
      mfRow(manifestFileSchemaV2, manifestPath.toString, manifestLen,
        snapshotId, entries.size, totalCard, content = 1,
        seq = newSeq, minSeq = newSeq, specId = dvSpecId) +: carried,
      Map("format-version" -> "3"))
    // v2→v3 upgrade initializes row lineage: next-row-id starts at the
    // live record count so future appends assign fresh, non-overlapping
    // row ids (pre-upgrade rows inherit ids below the base)
    val upgradeRows =
      if (meta.formatVersion < 3)
        live.filter(e => e.status != 2 && e.content == 0).map(_.recordCount).sum
      else 0L
    commitMetadata(spark, table, Some(meta), meta.schema, meta.partCols,
      SnapshotInfo(snapshotId, nowMs, "delete", listPath.toString,
        Map("added-dvs" -> entries.size.toString,
          "added-position-deletes" -> totalCard.toString), newSeq),
      formatVersion = 3, addedRows = upgradeRows)
    snapshotId
  }

  /** [[readAvroRecords]] plus the container's writer schema (needed to
    * re-emit a filtered copy of a manifest byte-compatibly). */
  private def readAvroRecordsAndSchema(spark: SparkSession,
                                       path: String): (Seq[GenericRecord], Schema) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new Path(path), conf), new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer[GenericRecord]()
      while (reader.hasNext) buf += reader.next()
      (buf.toSeq, reader.getSchema)
    } finally reader.close()
  }
}
