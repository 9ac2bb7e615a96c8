package graft.sources

import java.util.UUID

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Hand-rolled Apache Paimon table reader + writer for APPEND-ONLY,
  * unpartitioned tables — no paimon jar, the same posture as
  * IcebergTable / DeltaLogReader. A Paimon table directory is:
  *
  *   schema/schema-<id>              table schema (JSON)
  *   snapshot/LATEST, EARLIEST       hint files (snapshot id as text)
  *   snapshot/snapshot-<id>          snapshot (JSON): schemaId, base +
  *                                   delta manifest lists, commitKind
  *   manifest/manifest-list-*        avro: rows naming MANIFEST files
  *   manifest/manifest-*             avro: ADD/DELETE entries naming
  *                                   data files with row counts
  *   bucket-0/data-*.parquet         the data
  *
  * Public spec: paimon.apache.org/docs/master/concepts/spec (table
  * layout, snapshot and schema JSON, manifest field names). Reference
  * surface: contrib/format-paimon/.../PaimonGroupScan.java +
  * format/PaimonMetadataType.java (Drill plans the same layout through
  * the paimon library; `#snapshots|schemas|files|manifests` metadata
  * suffixes mirror PaimonMetadataType, snapshotId / snapshotAsOfTime
  * mirror PaimonTableUtils).
  *
  * Supported: append-only tables AND primary-key tables (LSM
  * merge-on-read: per-key latest-sequence-number merge over the spec's
  * `_KEY_<col>` / `_SEQUENCE_NUMBER` / `_VALUE_KIND` system columns,
  * RowKind retractions dropped — the spec's default `deduplicate`
  * merge engine), parquet data format, both unpartitioned and
  * PARTITIONED (fixed buckets; PK must cover the partition fields).
  *
  * BinaryRow posture (the manifest `_PARTITION` tuple and _MIN_KEY/
  * _MAX_KEY stats are Flink-BinaryRow-encoded — an implementation
  * detail documented only in Flink/Paimon source, not the published
  * spec): graft SHIPS a hand-rolled codec (sources/BinaryRow.scala,
  * golden-byte + round-trip spec'd) and uses it on the WRITE path, so
  * graft-written tables carry real partition tuples and stats a native
  * paimon reader can decode. On READS of foreign tables the codec is
  * deliberately NOT trusted for manifest-stat partition pruning: live
  * files resolve by NAME (ADD minus DELETE), full paths from a
  * partition-directory walk, partition VALUES from the data columns or
  * hive-style dir names — a silent mis-decode of a foreign writer's
  * tuple would prune wrong files, so pruning stays off and only
  * query-time filtering applies. DYNAMIC-bucket PK tables (explicit
  * -1 OR absent — current paimon's PK default) READ: the `index/` HASH
  * files are write-side key ROUTING the read never consults; the LSM
  * merge runs PER (partition, bucket) directory group (each data
  * file's parent dir is its group identity), because sequence numbers
  * are per-bucket-writer counters NOT comparable across partitions —
  * a cross-partition upsert's old-partition retract may carry a
  * higher counter than the new partition's insert, so a global merge
  * would resurrect or drop the wrong row (see the groupBy keying in
  * read()). WRITES to dynamic-bucket tables refuse — key
  * routing genuinely needs the index, whose update protocol is
  * unpublished. Non-`deduplicate` merge engines refuse (partial-update
  * / aggregation / first-row).
  *
  * Scale posture: metadata parsing (JSON + avro manifests) is
  * driver-side and metadata-scale — what Paimon's own planning does —
  * while data files read through the ordinary distributed parquet scan,
  * so column pruning and predicate pushdown reach the footers.
  */
object PaimonTable {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  // ---------------------------------------------------------------- types

  /** Spark type → Paimon SQL-style type string (spec: DataType#toString,
    * nullability as a NOT NULL suffix). */
  private def toPaimonType(dt: DataType, nullable: Boolean): String = {
    val base = dt match {
      case BooleanType => "BOOLEAN"
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INT"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case StringType => "STRING"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP(6)"
      case BinaryType => "BYTES"
      case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"unsupported type for paimon write: $other")
    }
    if (nullable) base else s"$base NOT NULL"
  }

  private val DecimalRe = "DECIMAL\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r

  /** Paimon type string → Spark type (+ nullability). */
  private def fromPaimonType(t: String): (DataType, Boolean) = {
    val nullable = !t.toUpperCase.endsWith("NOT NULL")
    val base = t.replaceAll("(?i)\\s*NOT NULL\\s*$", "").trim.toUpperCase
    val dt = base match {
      case "BOOLEAN" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" => IntegerType
      case "BIGINT" => LongType
      case "FLOAT" => FloatType
      case "DOUBLE" => DoubleType
      case "STRING" | "VARCHAR(2147483647)" => StringType
      case "DATE" => DateType
      // cross-engine note: Paimon TIMESTAMP(n) is wall-clock (NTZ) and
      // WITH LOCAL TIME ZONE is an instant; both land on TimestampType
      // here because graft's own writer emits TIMESTAMP(6) for Spark
      // instants (self-consistent round-trip, UTC session pinned) — a
      // non-UTC session reading a Flink-written wall-clock column sees
      // the session-offset shift
      case s if s.startsWith("TIMESTAMP") => TimestampType
      case "BYTES" | "VARBINARY(2147483647)" => BinaryType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => throw new IllegalArgumentException(s"paimon type: $other")
    }
    (dt, nullable)
  }

  // ------------------------------------------------------------- metadata

  case class PaimonSchema(id: Long, schema: StructType,
                          partitionKeys: Seq[String], primaryKeys: Seq[String],
                          options: Map[String, String])

  case class SnapshotInfo(id: Long, schemaId: Long, baseManifestList: String,
                          deltaManifestList: String, commitKind: String,
                          commitUser: String, timeMillis: Long,
                          totalRecordCount: Long, deltaRecordCount: Long,
                          commitIdentifier: Long = 0L)

  private def schemaDir(table: String) = new Path(table, "schema")
  private def snapshotDir(table: String) = new Path(table, "snapshot")
  private def manifestDir(table: String) = new Path(table, "manifest")

  private def fsOf(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(spark: SparkSession, p: Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** JSON string literal WITH quotes — raw interpolation of a column
    * name or commitUser containing a quote/backslash wrote corrupt JSON
    * that bricked the table on the next metadata parse. */
  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def writeText(spark: SparkSession, p: Path, s: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(s.getBytes("UTF-8")) finally os.close()
  }

  /** Parse schema/schema-<id> (highest id, or the one a snapshot pins). */
  def loadSchema(spark: SparkSession, table: String,
                 schemaId: Option[Long] = None): PaimonSchema = {
    val fs = fsOf(spark, table)
    val dir = schemaDir(table)
    require(fs.exists(dir), s"not a paimon table (no schema/): $table")
    val id = schemaId.getOrElse(
      fs.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("schema-") => n.drop(7).toLong }
        .max)
    val node = mapper.readTree(readText(spark, new Path(dir, s"schema-$id")))
    val fields = node.get("fields").elements.asScala.toSeq.map { f =>
      val (dt, nullable) = fromPaimonType(f.get("type").asText)
      StructField(f.get("name").asText, dt, nullable)
    }
    def strs(n: JsonNode): Seq[String] =
      if (n == null || n.isNull) Nil else n.elements.asScala.map(_.asText).toSeq
    val opts = Option(node.get("options")).filterNot(_.isNull)
      .map(_.fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty)
    PaimonSchema(id, StructType(fields), strs(node.get("partitionKeys")),
      strs(node.get("primaryKeys")), opts)
  }

  private def parseSnapshot(spark: SparkSession, p: Path): SnapshotInfo = {
    val n = mapper.readTree(readText(spark, p))
    SnapshotInfo(
      id = n.get("id").asLong,
      schemaId = n.get("schemaId").asLong,
      baseManifestList = n.get("baseManifestList").asText,
      deltaManifestList = n.get("deltaManifestList").asText,
      commitKind = n.get("commitKind").asText,
      commitUser = Option(n.get("commitUser")).map(_.asText).getOrElse(""),
      timeMillis = n.get("timeMillis").asLong,
      totalRecordCount = Option(n.get("totalRecordCount")).filterNot(_.isNull)
        .map(_.asLong).getOrElse(-1L),
      deltaRecordCount = Option(n.get("deltaRecordCount")).filterNot(_.isNull)
        .map(_.asLong).getOrElse(-1L),
      commitIdentifier = Option(n.get("commitIdentifier")).filterNot(_.isNull)
        .map(_.asLong).getOrElse(0L))
  }

  /** Highest commitIdentifier this `commitUser` has committed — paimon's
    * OWN exactly-once contract (Flink sinks dedupe restarts by
    * (commitUser, commitIdentifier); graft's streaming sink reuses it
    * with appId as the user and batchId as the identifier). */
  def lastStreamBatch(spark: SparkSession, table: String,
                      commitUser: String): Option[Long] = {
    if (!fsOf(spark, table).exists(snapshotDir(table))) return None
    snapshots(spark, table)
      .filter(_.commitUser == commitUser)
      .map(_.commitIdentifier).maxOption
  }

  def snapshots(spark: SparkSession, table: String): Seq[SnapshotInfo] = {
    val fs = fsOf(spark, table)
    val dir = snapshotDir(table)
    // a SCHEMA-ONLY table (Flink CREATE TABLE before the first commit)
    // has schema/ but no snapshot/ yet: zero snapshots, not an error —
    // the old hard require crashed the very FIRST write into such a
    // table (and no-op DML on it)
    if (!fs.exists(dir) && fs.exists(schemaDir(table))) return Nil
    require(fs.exists(dir), s"not a paimon table (no snapshot/): $table")
    fs.listStatus(dir).map(_.getPath).toSeq
      .filter(_.getName.startsWith("snapshot-"))
      .map(parseSnapshot(spark, _)).sortBy(_.id)
  }

  private def selectSnapshot(all: Seq[SnapshotInfo], snapshotId: Option[Long],
                             asOfTimeMs: Option[Long]): SnapshotInfo = {
    require(snapshotId.isEmpty || asOfTimeMs.isEmpty,
      "pass snapshotId OR asOfTimeMs, not both")
    snapshotId match {
      case Some(id) => all.find(_.id == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not found (have ${all.map(_.id).mkString(",")})"))
      case None => asOfTimeMs match {
        case Some(t) =>
          val at = all.filter(_.timeMillis <= t)
          require(at.nonEmpty, s"no snapshot at or before $t")
          at.maxBy(_.timeMillis)
        case None => all.last
      }
    }
  }

  // -------------------------------------------------------- avro schemas

  // Spec field names (manifest file meta / manifest entry / data file
  // meta / simple stats); optional trailing fields other writers add are
  // tolerated on read via [[opt]].
  private val statsSchemaJson =
    """{"type":"record","name":"SimpleStats","fields":[
      |{"name":"_MIN_VALUES","type":"bytes"},
      |{"name":"_MAX_VALUES","type":"bytes"},
      |{"name":"_NULL_COUNTS","type":["null",{"type":"array","items":"long"}],"default":null}
      |]}""".stripMargin

  private val manifestListSchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"ManifestFileMeta","fields":[
       |{"name":"_VERSION","type":"int"},
       |{"name":"_FILE_NAME","type":"string"},
       |{"name":"_FILE_SIZE","type":"long"},
       |{"name":"_NUM_ADDED_FILES","type":"long"},
       |{"name":"_NUM_DELETED_FILES","type":"long"},
       |{"name":"_PARTITION_STATS","type":["null",$statsSchemaJson],"default":null},
       |{"name":"_SCHEMA_ID","type":"long"}
       |]}""".stripMargin)

  // _KEY_STATS defines the named SimpleStats record (first textual use);
  // _VALUE_STATS references it by name — avro resolves forward only
  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"ManifestEntry","fields":[
       |{"name":"_VERSION","type":"int"},
       |{"name":"_KIND","type":"int"},
       |{"name":"_PARTITION","type":"bytes"},
       |{"name":"_BUCKET","type":"int"},
       |{"name":"_TOTAL_BUCKETS","type":"int"},
       |{"name":"_FILE","type":{"type":"record","name":"DataFileMeta","fields":[
       |  {"name":"_FILE_NAME","type":"string"},
       |  {"name":"_FILE_SIZE","type":"long"},
       |  {"name":"_ROW_COUNT","type":"long"},
       |  {"name":"_MIN_KEY","type":"bytes"},
       |  {"name":"_MAX_KEY","type":"bytes"},
       |  {"name":"_KEY_STATS","type":["null",$statsSchemaJson],"default":null},
       |  {"name":"_VALUE_STATS","type":["null","SimpleStats"],"default":null},
       |  {"name":"_MIN_SEQUENCE_NUMBER","type":"long"},
       |  {"name":"_MAX_SEQUENCE_NUMBER","type":"long"},
       |  {"name":"_SCHEMA_ID","type":"long"},
       |  {"name":"_LEVEL","type":"int"},
       |  {"name":"_EXTRA_FILES","type":{"type":"array","items":"string"}},
       |  {"name":"_CREATION_TIME","type":["null","long"],"default":null}
       |]}}
       |]}""".stripMargin)

  private def readAvroRecords(spark: SparkSession, path: Path): Seq[GenericRecord] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = new DataFileReader[GenericRecord](
      new FsInput(path, conf), new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer[GenericRecord]()
      while (reader.hasNext) buf += reader.next()
      buf.toSeq
    } finally reader.close()
  }

  private def writeAvro(spark: SparkSession, path: Path, schema: Schema,
                        rows: Seq[GenericRecord]): Long = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    val os = fs.create(path, true)
    try {
      writer.create(schema, os)
      rows.foreach(writer.append)
    } finally writer.close()
    fs.getFileStatus(path).getLen
  }

  private def str(v: AnyRef): String = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case s => s.toString
  }

  private def opt(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(f => Option(r.get(f.pos())))

  // ------------------------------------------------------------- reading

  case class PaimonFile(fileName: String, fileSize: Long, rowCount: Long,
                        bucket: Int, level: Int, kind: Int,
                        partition: Array[Byte] = Array.empty)

  private def bb2bytes(v: AnyRef): Array[Byte] = v match {
    case null => Array.empty
    case b: java.nio.ByteBuffer =>
      val d = b.duplicate() // never consume the record's buffer position
      val out = new Array[Byte](d.remaining()); d.get(out); out
    case a: Array[Byte] => a
  }

  private def entriesOf(spark: SparkSession, table: String,
                        manifestList: String): Seq[PaimonFile] = {
    val mdir = manifestDir(table)
    readAvroRecords(spark, new Path(mdir, manifestList)).flatMap { m =>
      readAvroRecords(spark, new Path(mdir, str(m.get("_FILE_NAME")))).map { e =>
        val f = e.get("_FILE").asInstanceOf[GenericRecord]
        PaimonFile(str(f.get("_FILE_NAME")),
          f.get("_FILE_SIZE").asInstanceOf[Long],
          f.get("_ROW_COUNT").asInstanceOf[Long],
          e.get("_BUCKET").asInstanceOf[Int],
          opt(f, "_LEVEL").map(_.asInstanceOf[Int]).getOrElse(0),
          e.get("_KIND").asInstanceOf[Int],
          bb2bytes(e.get("_PARTITION")))
      }
    }
  }

  /** Live data files of a snapshot: base + delta manifests merged, ADD
    * entries minus DELETE entries (compaction writes DELETEs). */
  def liveFiles(spark: SparkSession, table: String,
                snapshotId: Option[Long] = None,
                asOfTimeMs: Option[Long] = None): Seq[PaimonFile] =
    liveFilesOf(spark, table,
      selectSnapshot(snapshots(spark, table), snapshotId, asOfTimeMs))

  /** [[liveFiles]] for an ALREADY-resolved snapshot — callers that have
    * parsed the snapshot list once (read(), expiration) pass it through
    * instead of re-listing and re-parsing `snapshot/` a second time. */
  private def liveFilesOf(spark: SparkSession, table: String,
                          snap: SnapshotInfo): Seq[PaimonFile] = {
    val entries = entriesOf(spark, table, snap.baseManifestList) ++
      entriesOf(spark, table, snap.deltaManifestList)
    val deleted = entries.filter(_.kind == 1).map(_.fileName).toSet
    entries.filter(e => e.kind == 0 && !deleted.contains(e.fileName))
      .distinctBy(_.fileName)
  }

  /** name → full path of every data file under the table's partition
    * directories (skips the metadata dirs). Driver-side FS metadata walk,
    * the same scale class as manifest parsing. */
  private def locateDataFiles(spark: SparkSession, table: String): Map[String, String] = {
    val fs = fsOf(spark, table)
    val meta = Set("schema", "snapshot", "manifest", "index", "changelog")
    val out = scala.collection.mutable.Map[String, String]()
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) { if (!meta.contains(n)) walk(st.getPath) }
        else if (!n.startsWith(".") && !n.startsWith("_"))
          out(n) = st.getPath.toString
      }
    walk(new Path(table))
    out.toMap
  }

  /** Read an unpartitioned Paimon table (optionally time traveled).
    * Append-only tables scan directly; PRIMARY-KEY tables apply LSM
    * merge-on-read: one hash shuffle on the key columns (none when a
    * small `dfs` read runs as one task, [[graft.OneTaskScans]]), per-key
    * `max_by` over (sequence number, value kind) — a partial-aggregating
    * plan, no window — then RowKind retractions (-U/-D) drop the key.
    * Partitioned tables and non-deduplicate merge engines refuse. */
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None,
           asOfTimeMs: Option[Long] = None): DataFrame = {
    // schema-only table (created, never committed — e.g. Flink CREATE
    // TABLE before the first INSERT): a valid empty table, not an error
    val fs = fsOf(spark, table)
    if (fs.exists(schemaDir(table)) && !fs.exists(snapshotDir(table)) &&
        snapshotId.isEmpty && asOfTimeMs.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        loadSchema(spark, table).schema)
    val snap = selectSnapshot(snapshots(spark, table), snapshotId, asOfTimeMs)
    // a CURRENT read uses the table's LATEST schema (paimon evolution:
    // files written under older schemas null-fill the added columns);
    // time travel binds to the snapshot's own schema id
    val sch = loadSchema(spark, table,
      if (snapshotId.isEmpty && asOfTimeMs.isEmpty) None
      else Some(snap.schemaId))
    // PARTITIONED tables: bounded support. Manifest _PARTITION tuples are
    // BinaryRow-encoded (Flink implementation detail, not published spec
    // — a hand-rolled codec would only validate against itself), but the
    // LIVE-file set is computable WITHOUT them: ADD-minus-DELETE by file
    // name (names are UUIDs, partition-independent), and each live file's
    // full path is recovered by walking the table's partition directory
    // tree. Partition VALUES come from the data files themselves when
    // present, else from hive-style `key=value` directory names (Spark
    // partition discovery over basePath). Driver-side partition pruning
    // from manifest stats is DISABLED on this path (that is what
    // BinaryRow would buy); query-time partition pruning on the
    // discovered columns still applies.
    //
    // PARTITIONED PRIMARY-KEY reads compose the same file location with
    // the LSM merge: with FIXED buckets paimon requires the primary key
    // to contain every partition field, so all versions of a key live in
    // one (partition, bucket) directory; DYNAMIC buckets (bucket = -1)
    // lift that invariant, which is exactly why the merge below keys by
    // the (partition, bucket) directory group instead of globally —
    // bucket ROUTING (the BinaryRow hash / `index/` files) stays a
    // WRITE-side concern the read never needs.
    if (sch.partitionKeys.nonEmpty && sch.primaryKeys.nonEmpty) {
      // FIXED buckets: paimon's own invariant requires PK ⊇ partition
      // fields — a fixed-bucket table violating it is malformed.
      // DYNAMIC buckets (explicit -1 OR absent — current paimon's PK
      // default) READ fine without the bucket index: the index
      // (`index/` HASH files) is a WRITE-side routing structure; this
      // reader's per-key global max_by merge never consults bucket
      // numbers, and cross-partition upserts are self-describing in the
      // data — real paimon writes the old partition's -D retract with a
      // lower per-record sequence number than the new partition's
      // insert, so the global merge keeps exactly the moved row.
      // (WRITES to dynamic-bucket tables still refuse in writePk: key
      // ROUTING genuinely needs the index.)
      val fixedBuckets = sch.options.get("bucket").exists(b =>
        scala.util.Try(b.trim.toInt).toOption.exists(_ >= 1))
      if (fixedBuckets)
        require(sch.partitionKeys.forall(sch.primaryKeys.contains),
          s"paimon FIXED-bucket PARTITIONED PRIMARY-KEY table whose key " +
            s"(${sch.primaryKeys.mkString(",")}) does not contain the " +
            s"partition fields (${sch.partitionKeys.mkString(",")}) is " +
            "malformed — paimon itself requires PK ⊇ partition fields " +
            "for fixed buckets")
    }
    val merge = sch.options.getOrElse("merge-engine", "deduplicate")
    require(sch.primaryKeys.isEmpty || merge == "deduplicate",
      s"paimon merge-engine '$merge' is not supported — deduplicate only")
    // snapshot already resolved above — liveFilesOf skips the second
    // snapshot-list parse a liveFiles(snapshotId) call would redo
    val files = pathsOf(spark, table, sch.partitionKeys.nonEmpty,
      liveFilesOf(spark, table, snap))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch.schema)
    else if (sch.primaryKeys.isEmpty)
      readAppendFiles(spark, table, sch, files)
    else {
      import org.apache.spark.sql.functions.{col, max_by, regexp_replace, struct}
      // PK data files carry the spec's KeyValue layout: trimmed key
      // columns as _KEY_<name>, then _SEQUENCE_NUMBER (BIGINT) +
      // _VALUE_KIND (TINYINT RowKind: 0 +I, 1 -U, 2 +U, 3 -D), then the
      // full value row. Merge = deduplicate: the row with the highest
      // sequence number wins its key; kind breaks exact ties (later
      // retract outranks its paired insert), and the winner survives
      // only when it is additive (+I/+U).
      // The data files must actually CARRY the KeyValue layout — a
      // foreign table whose schema declares primary keys over plain
      // rows (no _KEY_*/_SEQUENCE_NUMBER columns) would null-fill the
      // merge keys and silently mis-merge; probe and refuse instead.
      val probe = graft.GraftSession.readParquet(spark, files.head).schema.fieldNames.toSet
      require(probe.contains("_SEQUENCE_NUMBER") &&
          probe.contains("_VALUE_KIND") &&
          sch.primaryKeys.forall(k => probe.contains(s"_KEY_$k")),
        s"paimon PK read: data files of $table lack the KeyValue system " +
          s"columns (_KEY_*/_SEQUENCE_NUMBER/_VALUE_KIND) — cannot apply " +
          "the merge-on-read; the table layout is not a PK table's")
      // PARTITIONED PK tables: the KeyValue layout's value row is the
      // FULL row (paimon never trims partition columns from the value),
      // so partition values ride in the data; a foreign layout that does
      // trim them would silently null-fill — probe and refuse instead
      if (sch.partitionKeys.nonEmpty) {
        require(sch.partitionKeys.forall(probe.contains),
          s"paimon partitioned PK read: value rows of $table do not carry " +
            s"the partition columns (${sch.partitionKeys.mkString(",")}) — " +
            "directory-name recovery is not supported on the merge path")
      }
      val keyFields = sch.primaryKeys.map(k =>
        sch.schema(k).copy(name = s"_KEY_$k"))
      val pkSchema = StructType(keyFields.toArray ++
        Array(StructField("_SEQUENCE_NUMBER", LongType, nullable = false),
          StructField("_VALUE_KIND", ByteType, nullable = false)) ++
        sch.schema.fields)
      // Merge PER (partition, bucket) group — native paimon merges each
      // bucket independently, and sequence numbers are per-bucket-writer
      // counters NOT comparable across partitions (a moved key's
      // old-partition retract can carry a HIGHER counter than the new
      // partition's insert; a global max_by would resurrect or drop the
      // wrong row). The parent directory of each data file IS the
      // (partition, bucket) identity, attached at scan time from the
      // deterministic `_metadata.file_path`, so filters still push through.
      // Each primary-key column comes out of the grouping key: a filter on
      // a key column then pushes below the merge into the scan, which is
      // exact because every version of a key carries that key.
      val raw = spark.read.schema(pkSchema).parquet(files: _*)
        .withColumn("__grp", regexp_replace(col("_metadata.file_path"), "/[^/]*$", ""))
      val valueCols = sch.schema.fields.map(f => col(f.name)).toSeq
      raw.groupBy(col("__grp") +: sch.primaryKeys.map(k => col(s"_KEY_$k")): _*)
        .agg(max_by(struct(col("_VALUE_KIND") +: valueCols: _*),
          struct(col("_SEQUENCE_NUMBER"), col("_VALUE_KIND"))).as("__g_top"))
        .filter(col("__g_top._VALUE_KIND") === 0 ||
          col("__g_top._VALUE_KIND") === 2)
        .select(sch.schema.fieldNames.map(f =>
          if (sch.primaryKeys.contains(f)) col(s"_KEY_$f").as(f)
          else col(s"__g_top.$f")).toSeq: _*)
    }
  }

  /** Incremental read: rows ADDED by snapshots in (fromSnapshotId,
    * toSnapshotId] — each snapshot's DELTA manifest list names exactly
    * its appended files, so the incremental scan is a union of delta
    * file sets (Paimon's own incremental-between semantics; Drill reads
    * the same via paimon's IncrementalStartingScanner). */
  def readAppendedBetween(spark: SparkSession, table: String,
                          fromSnapshotId: Long,
                          toSnapshotId: Option[Long] = None): DataFrame = {
    val all = snapshots(spark, table)
    require(all.exists(_.id == fromSnapshotId),
      s"snapshot $fromSnapshotId not found (have ${all.map(_.id).mkString(",")})")
    val sch = loadSchema(spark, table)
    require(sch.primaryKeys.isEmpty && sch.partitionKeys.isEmpty,
      "incremental read supports unpartitioned append-only tables only")
    val hi = toSnapshotId.getOrElse(all.map(_.id).max)
    // an OVERWRITE in the range implicitly DROPS prior rows with no
    // delete entries — replaying its delta as plain appends on top of
    // rows the overwrite removed diverges from table state; refuse
    all.filter(s => s.id > fromSnapshotId && s.id <= hi).foreach(s =>
      require(s.commitKind != "OVERWRITE",
        s"snapshot ${s.id} of $table is an OVERWRITE commit — its delta " +
          "is not an append stream (prior rows were implicitly dropped); " +
          "re-read the table instead"))
    // COMPACT commits change files, never rows — paimon's incremental
    // scans skip them, or every compaction would replay as fresh appends
    val files = all.filter(s => s.id > fromSnapshotId && s.id <= hi &&
        s.commitKind != "COMPACT")
      .flatMap(s => entriesOf(spark, table, s.deltaManifestList))
      .filter(_.kind == 0).distinctBy(_.fileName)
      .map(f => s"$table/bucket-${f.bucket}/${f.fileName}")
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch.schema)
    else spark.read.schema(sch.schema).parquet(files: _*)
  }

  /** Full paths of manifest entries: unpartitioned tables live under
    * `<table>/bucket-<b>/`; PARTITIONED tables under
    * `<k>=<v>/.../bucket-<b>/`, recovered by the same directory walk
    * [[read]] uses (manifest `_PARTITION` tuples stay untrusted for
    * foreign tables — see the BinaryRow posture note). Building the
    * unpartitioned shape for a partitioned table made every changelog /
    * streaming batch fail with path-not-found — or, worse, silently
    * EMPTY under spark.sql.files.ignoreMissingFiles=true. */
  private def pathsOf(spark: SparkSession, table: String,
                      partitioned: Boolean,
                      files: Seq[PaimonFile]): Seq[String] =
    if (!partitioned) files.map(f => s"$table/bucket-${f.bucket}/${f.fileName}")
    else {
      val byName = locateDataFiles(spark, table)
      files.map(f => byName.getOrElse(f.fileName,
        throw new IllegalStateException(
          s"paimon partitioned read: file ${f.fileName} not found under " +
            s"$table — layout not directory-recoverable")))
    }

  /** Read append-table data FILES with the declared schema. Partitioned
    * layouts: paimon's default append writers keep the FULL row, but
    * some layouts trim the partition columns from the data files — those
    * recover from the key=value directory names (basePath discovery,
    * paimon's `__DEFAULT_PARTITION__` null sentinel mapped explicitly —
    * it is NOT Spark's `__HIVE_DEFAULT_PARTITION__`). Shared by the
    * batch read() AND the streaming source: reading an explicit file
    * list with the declared schema alone would silently NULL-fill
    * trimmed partition columns. */
  private[graft] def readAppendFiles(spark: SparkSession, table: String,
                                       sch: PaimonSchema,
                                       files: Seq[String]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        sch.schema)
    if (sch.partitionKeys.isEmpty)
      return spark.read.schema(sch.schema).parquet(files: _*)
    // does the data itself carry the partition columns?
    val probe = graft.GraftSession.readParquet(spark, files.head).schema.fieldNames.toSet
    if (sch.partitionKeys.forall(probe.contains))
      spark.read.schema(sch.schema).parquet(files: _*)
    else {
      // recover values from key=value directory names; refuse if the
      // layout yields nothing (non-hive partition path style). basePath
      // must share the qualified scheme of the located file paths.
      val df = spark.read.option("basePath",
          fsOf(spark, table).makeQualified(new Path(table)).toString)
        .parquet(files: _*)
      val got = df.schema.fieldNames.toSet
      require(sch.partitionKeys.forall(got.contains),
        s"paimon partitioned read: partition values are in neither the " +
          s"data files nor key=value directory names under $table")
      // discovered partition columns come back in Spark's inferred type
      // — bind them (and the order) to the declared schema
      import org.apache.spark.sql.functions.{col => c, lit, when}
      df.select(sch.schema.fields.map { f =>
        val base =
          if (sch.partitionKeys.contains(f.name))
            when(c(f.name).cast(StringType) === "__DEFAULT_PARTITION__",
              lit(null)).otherwise(c(f.name))
          else c(f.name)
        base.cast(f.dataType).as(f.name)
      }.toSeq: _*)
    }
  }

  /** Data files ONE snapshot's delta manifests added (kind=0) — the
    * per-snapshot unit the streaming source emits. */
  private[graft] def appendedFilesOf(spark: SparkSession, table: String,
                                       snap: SnapshotInfo): Seq[String] =
    pathsOf(spark, table,
      loadSchema(spark, table).partitionKeys.nonEmpty,
      entriesOf(spark, table, snap.deltaManifestList).filter(_.kind == 0))

  private[sources] def rowSchemaOf(spark: SparkSession, table: String) =
    loadSchema(spark, table).schema

  /** CDC changelog of ONE snapshot of a primary-key table: the rows the
    * snapshot's delta manifests added, with their RowKind exposed as
    * `row_kind` (+I/-U/+U/-D) ahead of the value columns — what a
    * downstream incremental consumer applies in order (paimon's
    * changelog-producer=input semantics: for PK tables the delta files
    * ARE the change stream, each row tagged by the writer). Ordinary
    * distributed parquet scan; kind decode is one codegen'd CASE. */
  def readChangelog(spark: SparkSession, table: String,
                    snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, lit, map}
    val snap = selectSnapshot(snapshots(spark, table), Some(snapshotId), None)
    // COMPACT rewrites merged files without changing rows — replaying
    // its delta as CDC would re-emit every merged row as a fake change
    // (readAppendedBetween excludes these for the same reason; the
    // streaming source guards its own call site, the public API must too)
    require(snap.commitKind != "COMPACT",
      s"snapshot $snapshotId of $table is a COMPACT commit — it changes " +
        "no rows and has no changelog")
    // an OVERWRITE implicitly retracts every prior row WITHOUT -D
    // entries in its delta — emitting just its +I rows as CDC would
    // leave downstream consumers holding the dropped keys forever
    require(snap.commitKind != "OVERWRITE",
      s"snapshot $snapshotId of $table is an OVERWRITE commit — its " +
        "implicit retractions are not representable as a changelog; " +
        "re-read the table instead")
    val sch = loadSchema(spark, table, Some(snap.schemaId))
    require(sch.primaryKeys.nonEmpty,
      s"changelog read needs a PRIMARY-KEY table (append-only deltas are " +
        s"plain appends — use readAppendedBetween): $table")
    val files = pathsOf(spark, table, sch.partitionKeys.nonEmpty,
      entriesOf(spark, table, snap.deltaManifestList).filter(_.kind == 0))
    val keyFields = sch.primaryKeys.map(k =>
      sch.schema(k).copy(name = s"_KEY_$k"))
    val pkSchema = StructType(keyFields.toArray ++
      Array(StructField("_SEQUENCE_NUMBER", LongType, nullable = false),
        StructField("_VALUE_KIND", ByteType, nullable = false)) ++
      sch.schema.fields)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(StructField("row_kind", StringType, nullable = false) +:
          sch.schema.fields))
    // same KeyValue-layout probe as read(): a foreign table whose schema
    // declares primary keys over PLAIN-row files would null-fill
    // _VALUE_KIND and emit every change row with row_kind = null —
    // silent garbage where the batch path refuses loudly
    val probe = graft.GraftSession.readParquet(spark, files.head).schema.fieldNames.toSet
    require(probe.contains("_SEQUENCE_NUMBER") &&
        probe.contains("_VALUE_KIND") &&
        sch.primaryKeys.forall(k => probe.contains(s"_KEY_$k")),
      s"paimon changelog read: data files of $table lack the KeyValue " +
        "system columns (_KEY_*/_SEQUENCE_NUMBER/_VALUE_KIND) — the " +
        "table layout is not a PK table's")
    val kindName = map(
      lit(0.toByte), lit("+I"), lit(1.toByte), lit("-U"),
      lit(2.toByte), lit("+U"), lit(3.toByte), lit("-D"))
    spark.read.schema(pkSchema).parquet(files: _*)
      .select(element_at(kindName, col("_VALUE_KIND")).as("row_kind") +:
        sch.schema.fields.map(f => col(f.name)).toSeq: _*)
  }

  /** Drill's `table#<kind>` metadata tables (PaimonMetadataType:
    * snapshots | schemas | files | manifests) as DataFrames. */
  def metadataTable(spark: SparkSession, table: String, kind: String): DataFrame = {
    import spark.implicits._
    kind match {
      case "snapshots" =>
        snapshots(spark, table).map(s => (s.id, s.schemaId, s.commitUser,
            s.commitKind, new java.sql.Timestamp(s.timeMillis),
            s.totalRecordCount, s.deltaRecordCount))
          .toDF("snapshot_id", "schema_id", "commit_user", "commit_kind",
            "commit_time", "total_record_count", "delta_record_count")
      case "schemas" =>
        val fs = fsOf(spark, table)
        fs.listStatus(schemaDir(table)).map(_.getPath.getName).toSeq
          .collect { case n if n.startsWith("schema-") => n.drop(7).toLong }
          .sorted
          .map { id =>
            val s = loadSchema(spark, table, Some(id))
            (id, s.schema.map(_.name).mkString(","),
              s.partitionKeys.mkString(","), s.primaryKeys.mkString(","))
          }
          .toDF("schema_id", "fields", "partition_keys", "primary_keys")
      case "files" =>
        // schema-only tables (no snapshot yet) have no files — an empty
        // frame, not selectSnapshot's "last of empty list" crash
        val snaps0 = snapshots(spark, table)
        (if (snaps0.isEmpty) Seq.empty
         else liveFilesOf(spark, table, snaps0.last).map(f =>
            (f.fileName, f.fileSize, f.rowCount, f.bucket, f.level)))
          .toDF("file_name", "file_size_in_bytes", "record_count",
            "bucket", "level")
      case "manifests" =>
        val snaps1 = snapshots(spark, table)
        (if (snaps1.isEmpty) Seq.empty else {
        val snap = snaps1.last
        Seq(snap.baseManifestList, snap.deltaManifestList).flatMap { ml =>
          readAvroRecords(spark, new Path(manifestDir(table), ml)).map { m =>
            (str(m.get("_FILE_NAME")), m.get("_FILE_SIZE").asInstanceOf[Long],
              m.get("_NUM_ADDED_FILES").asInstanceOf[Long],
              m.get("_NUM_DELETED_FILES").asInstanceOf[Long],
              m.get("_SCHEMA_ID").asInstanceOf[Long])
          }
        }}).toDF("file_name", "file_size", "num_added_files",
          "num_deleted_files", "schema_id")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (snapshots|schemas|files|manifests)")
    }
  }

  // ------------------------------------------------------------- writing

  /** Empty BinaryRow bytes (arity 0 = one 8-byte null-bits word) — the
    * partition tuple of an unpartitioned table. Fresh buffer per call:
    * the avro encoder reads buffers positionally. */
  private def emptyRowBytes = java.nio.ByteBuffer.wrap(new Array[Byte](8))

  private def newStats(): GenericRecord = {
    val s = new GenericData.Record(
      manifestListSchema.getField("_PARTITION_STATS").schema.getTypes.get(1))
    s.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(new Array[Byte](8)))
    s.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(new Array[Byte](8)))
    s.put("_NULL_COUNTS", null)
    s
  }

  /** Partition column types this writer can both path-render and
    * BinaryRow-encode deterministically. Floats/doubles/timestamps
    * refuse (their path rendering is engine-ambiguous); so do
    * decimals (paimon path rendering keeps scale — add when needed). */
  private def requirePartitionable(parts: Seq[StructField]): Unit =
    parts.foreach(f => f.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType => ()
      case other => throw new IllegalArgumentException(
        s"paimon partition column '${f.name}' has unsupported type $other " +
          "(string/integral/boolean/date only)")
    })

  /** Write `df` as a new snapshot of an append-only Paimon table at
    * `table`, optionally PARTITIONED by `partitionBy` (hive-style
    * `k=v` directories, BinaryRow `_PARTITION` manifest tuples, full
    * rows in the data files — paimon's append-table default). Append
    * creates the table; Overwrite starts the new snapshot from an empty
    * base (commitKind OVERWRITE). Returns the snapshot id. */
  def write(df: DataFrame, table: String,
            mode: SaveMode = SaveMode.Append,
            commitUser: String = "graft",
            commitIdentifier: Long = -1L,
            partitionBy: Seq[String] = Nil): Long = {
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"paimon write supports Append/Overwrite, got $mode")
    val spark = df.sparkSession
    val fs = fsOf(spark, table)
    val exists = fs.exists(schemaDir(table))
    partitionBy.foreach(k => require(df.columns.contains(k),
      s"partition column '$k' not in ${df.columns.mkString(",")}"))
    val partCols =
      if (exists) {
        val prior = loadSchema(spark, table)
        // appending plain rows to a PK table would commit files WITHOUT
        // the _KEY_*/_SEQUENCE_NUMBER/_VALUE_KIND system columns — the
        // LSM read's value-kind filter then silently drops every one of
        // them; route PK tables through writePk
        require(prior.primaryKeys.isEmpty,
          s"$table is a primary-key paimon table — use writePk (plain " +
            "append would write rows without the KeyValue system columns, " +
            "which the merge-on-read silently discards)")
        require(partitionBy.isEmpty || partitionBy == prior.partitionKeys,
          s"partitionBy (${partitionBy.mkString(",")}) differs from the " +
            s"table's partition keys (${prior.partitionKeys.mkString(",")})")
        require(prior.schema.map(f => (f.name, f.dataType)) ==
            df.schema.map(f => (f.name, f.dataType)),
          s"schema mismatch appending to $table:\n table: ${prior.schema.simpleString}\n" +
            s" data:  ${df.schema.simpleString}")
        val pc = prior.partitionKeys.map(k => prior.schema(k))
        requirePartitionable(pc)
        pc
      } else {
        val pc = partitionBy.map(k => df.schema(k))
        requirePartitionable(pc)
        val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
          s"""{"id":$i,"name":${jstr(f.name)},"type":"${toPaimonType(f.dataType, f.nullable)}"}"""
        }.mkString(",")
        val pkeys = partitionBy.map(jstr).mkString(",")
        writeText(spark, new Path(schemaDir(table), "schema-0"),
          s"""{"version":3,"id":0,"fields":[$fields],
             |"highestFieldId":${df.schema.size - 1},
             |"partitionKeys":[$pkeys],"primaryKeys":[],
             |"options":{"bucket":"-1","file.format":"parquet"},
             |"timeMillis":${System.currentTimeMillis()}}""".stripMargin)
        pc
      }
    val prevSnaps = if (exists) snapshots(spark, table) else Nil
    val snapId = prevSnaps.map(_.id).maxOption.getOrElse(0L) + 1L

    // ---- data files: distributed write to staging, move into
    // [<k>=<v>/]bucket-0/. Partition values stage as DUPLICATED
    // `__p_<k>` columns so the data files keep the FULL row (paimon's
    // append-table layout; Spark's partitionBy drops its partition
    // columns from the files, which is why the originals can't stage
    // directly).
    val moved = stageFiles(partCols.foldLeft(df)((d, f) =>
      d.withColumn(s"__p_${f.name}", org.apache.spark.sql.functions.col(f.name))),
      table, partCols)
    commitSnapshot(spark, table, moved, mode, snapId, prevSnaps,
      totalBuckets = 1, commitUser, commitIdentifier, partCols = partCols)
  }

  /** Full compaction of an append-only table — paimon's
    * `compaction.full` maintenance (the small-file problem every
    * frequently-committed table has at 100 TB): the live file set is
    * read back distributed and rewritten as ~`targetFileBytes` bins; ONE
    * `COMPACT` snapshot retires the inputs (DELETE entries) and adds the
    * bins in the same delta manifest, so the commit is atomic and
    * incremental consumers ([[readAppendedBetween]]) skip it. Time
    * travel to pre-compaction snapshots still resolves the old files
    * ([[expireSnapshots]] reclaims them).
    *
    * Primary-key tables refuse: their LSM levels carry per-key sequence
    * history that a flat rewrite would collapse (paimon compacts those
    * level-by-level with the merge function applied — out of scope, as
    * with the PK write path's non-deduplicate merge engines). Returns
    * the COMPACT snapshot id, or the current one when fewer than two
    * live files exist. */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L << 20): Long = {
    val sch = loadSchema(spark, table)
    require(sch.primaryKeys.isEmpty && sch.partitionKeys.isEmpty,
      s"full compaction supports unpartitioned append-only tables only: " +
        s"$table (a flat rewrite would collapse PK sequence history)")
    val prevSnaps = snapshots(spark, table)
    // schema-only table (Flink CREATE TABLE, or a write that failed
    // after schema-0): refuse with the reason, not selectSnapshot's
    // "last of empty list"
    require(prevSnaps.nonEmpty,
      s"$table has a schema but no snapshot — nothing to compact")
    val files = liveFilesOf(spark, table, prevSnaps.last)
    if (files.size < 2) return prevSnaps.map(_.id).max
    val snapId = prevSnaps.map(_.id).max + 1L
    val bins = math.max(1L,
      (files.map(_.fileSize).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.schema(sch.schema)
      .parquet(files.map(f => s"$table/bucket-${f.bucket}/${f.fileName}"): _*)
      .repartition(bins)
    val moved = stageFiles(df, table)
    commitSnapshot(spark, table, moved, SaveMode.Append, snapId, prevSnaps,
      totalBuckets = 1, deletes = files, kindOverride = Some("COMPACT"))
  }

  /** Snapshot expiration — paimon's `snapshot.num-retained` maintenance:
    * drop all but the newest `keepLast` snapshots and physically delete
    * every manifest list, manifest, and data file reachable ONLY from
    * the expired ones (shared files survive — an append-only chain
    * shares its base manifests across snapshots). The `EARLIEST` hint
    * moves up; time travel to an expired id then fails with the clear
    * snapshot-not-found error. Returns the expired ids. */
  /** ALTER TABLE ... ADD COLUMNS — paimon schema evolution: a new
    * `schema-<id+1>` file whose fields append `cols` with FRESH field
    * ids past `highestFieldId` (ids never reuse); keys/options carry
    * over. Current reads pick the latest schema (old files null-fill);
    * time travel keeps each snapshot's schema. Returns the new schema
    * id. */
  def addColumns(spark: SparkSession, table: String,
                 cols: StructType): Long = {
    val fs = fsOf(spark, table)
    val prior = loadSchema(spark, table)
    val existing = prior.schema.fieldNames.map(_.toLowerCase).toSet
    cols.fieldNames.foreach(c => require(!existing.contains(c.toLowerCase),
      s"ADD COLUMNS: column '$c' already exists in $table"))
    val node = mapper.readTree(readText(spark,
      new Path(schemaDir(table), s"schema-${prior.id}")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val highest = Option(node.get("highestFieldId")).map(_.asInt)
      .getOrElse(prior.schema.size - 1)
    val fieldsArr = node.get("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    cols.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fieldsArr.addObject()
      fn.put("id", highest + 1 + i)
      fn.put("name", f.name)
      fn.put("type", toPaimonType(f.dataType, nullable = true))
    }
    val newId = prior.id + 1
    node.put("id", newId)
    node.put("highestFieldId", highest + cols.size)
    node.put("timeMillis", System.currentTimeMillis())
    writeText(spark, new Path(schemaDir(table), s"schema-$newId"),
      mapper.writeValueAsString(node))
    newId
  }

  /** Roll the table back to `snapshotId` — paimon's
    * `rollback_to_snapshot`: snapshot files AFTER the target are
    * deleted and `LATEST` re-points, so the target is current again.
    * Files only the removed snapshots referenced become unreachable
    * (their additions were in later delta manifests) and are simply
    * orphaned on disk, exactly paimon's behavior — a later full
    * [[compact]]+[[expireSnapshots]] cycle reclaims space. */
  def rollbackTo(spark: SparkSession, table: String,
                 snapshotId: Long): Long = {
    val fs = fsOf(spark, table)
    val all = snapshots(spark, table)
    require(all.exists(_.id == snapshotId),
      s"rollback: snapshot $snapshotId not in $table " +
        s"(have ${all.map(_.id).mkString(", ")})")
    all.filter(_.id > snapshotId).foreach { s =>
      fs.delete(new Path(snapshotDir(table), s"snapshot-${s.id}"), false)
    }
    writeText(spark, new Path(snapshotDir(table), "LATEST"),
      snapshotId.toString)
    snapshotId
  }

  def expireSnapshots(spark: SparkSession, table: String,
                      keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = fsOf(spark, table)
    // partitioned layouts: reclaim paths are partition-relative and not
    // reconstructable without BinaryRow — refuse rather than silently
    // deleting nothing (or the wrong thing)
    require(loadSchema(spark, table).partitionKeys.isEmpty,
      s"expire_snapshots on PARTITIONED paimon table $table is not " +
        "supported (file paths are partition-relative)")
    val all = snapshots(spark, table)
    if (all.size <= keepLast) return Nil
    val kept = all.takeRight(keepLast)
    val expired = all.dropRight(keepLast)

    def manifestFilesOf(snaps: Seq[SnapshotInfo]): Set[String] = snaps.flatMap { s =>
      Seq(s.baseManifestList, s.deltaManifestList).flatMap { ml =>
        val manifests = readAvroRecords(spark, new Path(manifestDir(table), ml))
          .map(m => str(m.get("_FILE_NAME")))
        (ml +: manifests).map(n => s"manifest/$n")
      }
    }.toSet
    def dataRefsOf(snaps: Seq[SnapshotInfo]): Set[String] = snaps.flatMap { s =>
      Seq(s.baseManifestList, s.deltaManifestList).flatMap(ml =>
        entriesOf(spark, table, ml).map(f => s"bucket-${f.bucket}/${f.fileName}"))
    }.toSet

    // needed = the kept snapshots' manifest structure + their LIVE data
    // files. A retained COMPACT snapshot still REFERENCES its retired
    // inputs (base-manifest ADDs cancelled by delta DELETEs) — those are
    // exactly the files expiration exists to reclaim, so reachability is
    // live-set-based, not reference-based (paimon's SnapshotDeletion
    // does the same: delete what the earliest retained snapshot no
    // longer uses).
    val needed = manifestFilesOf(kept) ++
      kept.flatMap(s => liveFilesOf(spark, table, s)
        .map(f => s"bucket-${f.bucket}/${f.fileName}"))
    val dropSet = (manifestFilesOf(expired) ++ dataRefsOf(all)) -- needed
    // snapshot JSONs go FIRST: a crash mid-reclamation then leaves only
    // orphan files (harmless, re-reclaimable) — the old order (files
    // first) left EXPIRED snapshots whose manifests were already gone,
    // permanently wedging every later expire/snapshots() walk
    expired.foreach(s =>
      fs.delete(new Path(snapshotDir(table), s"snapshot-${s.id}"), false))
    writeText(spark, new Path(snapshotDir(table), "EARLIEST"),
      kept.head.id.toString)
    dropSet.toSeq.sorted.foreach(rel => fs.delete(new Path(table, rel), false))
    expired.map(_.id)
  }

  /** A data file after its move from staging into the table layout,
    * with the typed partition values (empty for unpartitioned). */
  private case class MovedFile(bucket: Int, name: String, size: Long,
                               rows: Long, partValues: Seq[Any])

  /** Typed partition values of a staged file, from its `__p_<name>`
    * staging components (nulls stage as __HIVE_DEFAULT_PARTITION__). */
  private def stagedPartitionValues(f: StagedFiles.StagedFile,
                                    parts: Seq[StructField]): Seq[Any] =
    parts.map { p =>
      val un = f.partition.getOrElse(s"__p_${p.name}", throw new IllegalStateException(
        s"no __p_${p.name}= component in staged path ${f.path}"))
      if (un == "__HIVE_DEFAULT_PARTITION__") null
      else p.dataType match {
        case StringType => un
        case IntegerType => java.lang.Integer.valueOf(un)
        case LongType => java.lang.Long.valueOf(un)
        case ShortType => java.lang.Short.valueOf(un)
        case ByteType => java.lang.Byte.valueOf(un)
        case BooleanType => java.lang.Boolean.valueOf(un)
        case DateType => java.time.LocalDate.parse(un)
        case other => throw new IllegalArgumentException(
          s"unsupported paimon partition column type $other for ${p.name}")
      }
    }

  /** Stage `df` into its `[<k>=<v>/]bucket-<b>/` dirs: `partCols` stage
    * as `__p_<k>` columns, and a `bucketed` frame's `__bucket` column
    * names the bucket (0 otherwise). */
  private def stageFiles(df: DataFrame, table: String,
                         partCols: Seq[StructField] = Nil,
                         bucketed: Boolean = false): Seq[MovedFile] = {
    def bucketOf(f: StagedFiles.StagedFile) =
      f.partition.get("__bucket").fold(0)(_.toInt)
    StagedFiles.stage(df, table,
        partCols.map(f => s"__p_${f.name}") ++ Option.when(bucketed)("__bucket"),
        countRows = true) { (f, u) =>
      val bucketDir = s"bucket-${bucketOf(f)}"
      Some(new Path(
        if (partCols.isEmpty) new Path(table, bucketDir)
        else new Path(new Path(table, BinaryRow.partitionPath(partCols.map(_.name),
          stagedPartitionValues(f, partCols))), bucketDir),
        s"data-$u.parquet"))
    }.map(f => MovedFile(bucketOf(f), f.path.getName, f.size, f.rows,
      stagedPartitionValues(f, partCols)))
  }

  /** Unsigned-byte comparison of two UTF-8 encodings — paimon orders
    * BinaryString stats by bytes, not UTF-16 code units. */
  private def cmpUtf8(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def cmpVal(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType => cmpUtf8(a.toString, b.toString)
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case ByteType | ShortType | IntegerType | LongType =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue,
        b.asInstanceOf[Number].longValue)
    case DateType =>
      java.lang.Long.compare(a.asInstanceOf[java.time.LocalDate].toEpochDay,
        b.asInstanceOf[java.time.LocalDate].toEpochDay)
    case other => throw new IllegalArgumentException(
      s"no stats ordering for partition type $other")
  }

  /** SimpleStats record over the delta manifest's partition tuples:
    * per-field min/max as BinaryRows (null bit set for all-null fields)
    * + null counts — what paimon's manifest-level partition pruning
    * reads. Unpartitioned tables emit the arity-0 empty rows. */
  private def partitionStats(tuples: Seq[Seq[Any]],
                             types: Seq[DataType]): GenericRecord = {
    val s = new GenericData.Record(
      manifestListSchema.getField("_PARTITION_STATS").schema.getTypes.get(1))
    if (types.isEmpty || tuples.isEmpty) {
      s.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(new Array[Byte](8)))
      s.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(new Array[Byte](8)))
      s.put("_NULL_COUNTS", null)
      return s
    }
    val mins = new Array[Any](types.length)
    val maxs = new Array[Any](types.length)
    val nulls = new Array[Long](types.length)
    tuples.foreach { t =>
      types.indices.foreach { i =>
        val v = t(i)
        if (v == null) nulls(i) += 1
        else {
          if (mins(i) == null || cmpVal(types(i), v, mins(i)) < 0) mins(i) = v
          if (maxs(i) == null || cmpVal(types(i), v, maxs(i)) > 0) maxs(i) = v
        }
      }
    }
    s.put("_MIN_VALUES",
      java.nio.ByteBuffer.wrap(BinaryRow.encode(mins.toSeq, types)))
    s.put("_MAX_VALUES",
      java.nio.ByteBuffer.wrap(BinaryRow.encode(maxs.toSeq, types)))
    s.put("_NULL_COUNTS", java.util.Arrays.asList(
      nulls.map(java.lang.Long.valueOf): _*))
    s
  }

  /** Shared commit tail: delta manifest + manifest lists + snapshot JSON
    * + hints for a set of moved data files. `partCols` are the table's
    * partition fields — their per-file values ride `moved`/`deletes` and
    * encode as BinaryRow `_PARTITION` tuples. */
  private def commitSnapshot(spark: SparkSession, table: String,
                             moved: Seq[MovedFile],
                             mode: SaveMode, snapId: Long,
                             prevSnaps: Seq[SnapshotInfo],
                             totalBuckets: Int,
                             commitUser: String = "graft",
                             commitIdentifier: Long = -1L,
                             deletes: Seq[PaimonFile] = Nil,
                             kindOverride: Option[String] = None,
                             partCols: Seq[StructField] = Nil): Long = {
    val fs = fsOf(spark, table)
    // the CURRENT schema id — pinning 0 would bind post-evolution
    // snapshots to the pre-evolution schema on time travel / changelog
    val curSchemaId = loadSchema(spark, table).id

    // ---- delta manifest (ADD entry per file) + manifest lists
    val mdir = manifestDir(table)
    fs.mkdirs(mdir)
    val uuid = UUID.randomUUID().toString
    // one manifest-entry constructor for ADD and DELETE — two diverging
    // copies of this 20-line record build is how a future field (e.g.
    // real _VALUE_STATS) ends up populated on one path only
    val partTypes = partCols.map(_.dataType)
    def entryRecord(kind: Int, bucket: Int, name: String, size: Long,
                    rows: Long, level: Int,
                    partition: Array[Byte]): GenericData.Record = {
      val fm = new GenericData.Record(
        manifestEntrySchema.getField("_FILE").schema)
      fm.put("_FILE_NAME", name)
      fm.put("_FILE_SIZE", size)
      fm.put("_ROW_COUNT", rows)
      fm.put("_MIN_KEY", emptyRowBytes.duplicate())
      fm.put("_MAX_KEY", emptyRowBytes.duplicate())
      fm.put("_KEY_STATS", null)
      fm.put("_VALUE_STATS", null)
      fm.put("_MIN_SEQUENCE_NUMBER", snapId)
      fm.put("_MAX_SEQUENCE_NUMBER", snapId)
      fm.put("_SCHEMA_ID", curSchemaId)
      fm.put("_LEVEL", level)
      fm.put("_EXTRA_FILES", java.util.Collections.emptyList[String]())
      fm.put("_CREATION_TIME", System.currentTimeMillis())
      val e = new GenericData.Record(manifestEntrySchema)
      e.put("_VERSION", 2)
      e.put("_KIND", kind)
      e.put("_PARTITION",
        if (partition.isEmpty) emptyRowBytes.duplicate()
        else java.nio.ByteBuffer.wrap(partition))
      e.put("_BUCKET", bucket)
      e.put("_TOTAL_BUCKETS", totalBuckets)
      e.put("_FILE", fm)
      e
    }
    val entries = moved.map { m =>
      val pb = if (partCols.isEmpty) Array.empty[Byte]
               else BinaryRow.encode(m.partValues, partTypes)
      entryRecord(kind = 0, m.bucket, m.name, m.size, m.rows, level = 0, pb) // ADD
    }
    // DELETE entries (compaction retires its inputs in the same commit;
    // the reader's live-set merge drops names deleted in any manifest) —
    // each carries the partition tuple its ADD entry recorded
    val deleteEntries = deletes.map(f =>
      entryRecord(kind = 1, f.bucket, f.fileName, f.fileSize, f.rowCount,
        f.level, f.partition))
    val deltaManifest = s"manifest-$uuid-0"
    val deltaLen = writeAvro(spark, new Path(mdir, deltaManifest),
      manifestEntrySchema, deleteEntries ++ entries)

    def listRecord(name: String, len: Long, added: Long,
                   deleted: Long = 0L,
                   stats: GenericRecord = null): GenericRecord = {
      val r = new GenericData.Record(manifestListSchema)
      r.put("_VERSION", 2)
      r.put("_FILE_NAME", name)
      r.put("_FILE_SIZE", len)
      r.put("_NUM_ADDED_FILES", added)
      r.put("_NUM_DELETED_FILES", deleted)
      r.put("_PARTITION_STATS", if (stats != null) stats else newStats())
      r.put("_SCHEMA_ID", curSchemaId)
      r
    }
    // base list = every manifest live in the prior snapshot (unless
    // Overwrite, which starts empty); delta list = the new manifest.
    // Prior manifests CARRY their recorded partition stats — synthesizing
    // empty arity-0 rows for a partitioned table would hand a pruning
    // reader undersized BinaryRows.
    val priorManifests: Seq[(String, Long, Long, AnyRef)] =
      if (mode == SaveMode.Overwrite) Nil
      else prevSnaps.lastOption.toSeq.flatMap { prev =>
        Seq(prev.baseManifestList, prev.deltaManifestList).flatMap { ml =>
          readAvroRecords(spark, new Path(mdir, ml)).map { m =>
            (str(m.get("_FILE_NAME")), m.get("_FILE_SIZE").asInstanceOf[Long],
              m.get("_NUM_ADDED_FILES").asInstanceOf[Long],
              opt(m, "_PARTITION_STATS").orNull)
          }
        }
      }
    val baseList = s"manifest-list-$uuid-0"
    val deltaList = s"manifest-list-$uuid-1"
    writeAvro(spark, new Path(mdir, baseList), manifestListSchema,
      priorManifests.map { case (n, l, a, st) =>
        listRecord(n, l, a, stats = st.asInstanceOf[GenericRecord]) })
    writeAvro(spark, new Path(mdir, deltaList), manifestListSchema,
      Seq(listRecord(deltaManifest, deltaLen, moved.size.toLong,
        deletes.size.toLong,
        stats = partitionStats(
          moved.map(_.partValues) ++ deletes.map(f =>
            if (partTypes.isEmpty) Nil
            else BinaryRow.decode(f.partition, partTypes)),
          partTypes))))

    // ---- snapshot JSON + hints
    val newRows = moved.map(_.rows).sum - deletes.map(_.rowCount).sum
    val total =
      if (mode == SaveMode.Overwrite) newRows
      else prevSnaps.lastOption.map(_.totalRecordCount).filter(_ >= 0)
        .getOrElse(0L) + newRows
    val kind = kindOverride.getOrElse(
      if (mode == SaveMode.Overwrite) "OVERWRITE" else "APPEND")
    val cid = if (commitIdentifier >= 0) commitIdentifier else snapId
    // put-if-absent: two concurrent writers both computing snapshot
    // id N+1 must not both "succeed" — the loser's manifests and moved
    // data files would be silently unreachable. The loser fails LOUDLY
    // (its staged UUID-named files are invisible orphans, safe to
    // ignore); callers retry the whole write against the new state.
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":$curSchemaId,
         |"baseManifestList":"$baseList",
         |"deltaManifestList":"$deltaList",
         |"changelogManifestList":null,
         |"commitUser":${jstr(commitUser)},"commitIdentifier":$cid,
         |"commitKind":"$kind","timeMillis":${System.currentTimeMillis()},
         |"logOffsets":{},
         |"totalRecordCount":$total,"deltaRecordCount":$newRows,
         |"changelogRecordCount":0}""".stripMargin
    if (!StagedFiles.publishIfAbsent(fs,
        new Path(snapshotDir(table), s"snapshot-$snapId"), snapJson.getBytes("UTF-8")))
      throw new java.util.ConcurrentModificationException(
        s"paimon commit conflict on $table: snapshot-$snapId was committed " +
          "by a concurrent writer — this write did NOT land; retry it " +
          "(staged files are unreachable orphans)")
    writeText(spark, new Path(snapshotDir(table), "LATEST"), snapId.toString)
    if (prevSnaps.isEmpty)
      writeText(spark, new Path(snapshotDir(table), "EARLIEST"), "1")
    snapId
  }

  /** RowKind name → the spec's TINYINT code. */
  private val RowKinds = Map("+I" -> 0, "-U" -> 1, "+U" -> 2, "-D" -> 3)

  /** Write `df` as a new snapshot of a PRIMARY-KEY Paimon table
    * (creating it with `numBuckets` fixed buckets when absent). Rows
    * carry `kind` — `"+I"`/`"+U"` upsert their key, `"-D"` retracts it
    * (for deletes `df` may carry just the key columns; missing value
    * columns write as null). The per-commit sequence number is the
    * snapshot id, so later commits win their keys under the deduplicate
    * merge [[read]] applies; rows are hash-bucketed on the key columns
    * (Spark murmur3 — engine-local, like any single writer's bucketing;
    * full scans read every bucket so placement never affects results)
    * and each bucket's files move under its `bucket-<b>/` dir. The
    * write is distributed end-to-end: one directory-partitioned staging
    * write, driver touches only file metadata. Returns the snapshot id.
    * Within one commit rows share the sequence number, so upserting the
    * same key twice in a single `df` is unspecified (dedupe first). */
  def writePk(df: DataFrame, table: String, primaryKeys: Seq[String],
              kind: String = "+I", numBuckets: Int = 2,
              mode: SaveMode = SaveMode.Append,
              commitUser: String = "graft",
              commitIdentifier: Long = -1L,
              partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(primaryKeys.nonEmpty, "writePk needs at least one primary key")
    // FIXED buckets require the primary key to contain every partition
    // field (paimon's own constraint — read() documents why); graft
    // only writes that mode, so the per-key merge stays partition-local
    partitionBy.foreach(k => require(primaryKeys.contains(k),
      s"partition column '$k' must be part of the primary key " +
        s"(${primaryKeys.mkString(",")}) — fixed-bucket paimon PK tables " +
        "require it (cross-partition upsert is dynamic-bucket mode)"))
    val kindCode = RowKinds.getOrElse(kind,
      throw new IllegalArgumentException(
        s"rowkind '$kind' (one of ${RowKinds.keys.mkString(", ")})"))
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"paimon write supports Append/Overwrite, got $mode")
    val spark = df.sparkSession
    val fs = fsOf(spark, table)
    val exists = fs.exists(schemaDir(table))
    val (tblSchema, buckets, partCols) = if (exists) {
      val prior = loadSchema(spark, table)
      require(prior.primaryKeys == primaryKeys,
        s"primary keys mismatch: table has ${prior.primaryKeys.mkString(",")}")
      require(partitionBy.isEmpty || partitionBy == prior.partitionKeys,
        s"partitionBy (${partitionBy.mkString(",")}) differs from the " +
          s"table's partition keys (${prior.partitionKeys.mkString(",")})")
      prior.partitionKeys.foreach(k => require(prior.primaryKeys.contains(k),
        s"$table is a PARTITIONED PK paimon table whose key does not " +
          "cover the partition fields — cross-partition upsert mode is " +
          "unsupported (see read())"))
      // the incoming frame must MATCH the declared schema — write()
      // requires this, and an unchecked writePk staged parquet whose
      // types disagreed with pkSchema, making every later read fail.
      // The ONE sanctioned narrow shape: KEY-ONLY -D retraction frames
      // (value columns null-fill) — their key types still must match.
      val keyOnlyRetract = kindCode == 3 &&
        df.columns.toSet == primaryKeys.toSet
      if (keyOnlyRetract)
        primaryKeys.foreach(k => require(
          df.schema(k).dataType == prior.schema(k).dataType,
          s"key type mismatch retracting from $table: $k is " +
            s"${df.schema(k).dataType}, table has ${prior.schema(k).dataType}"))
      else
        require(prior.schema.map(f => (f.name, f.dataType)) ==
            df.schema.map(f => (f.name, f.dataType)),
          s"schema mismatch upserting to $table:\n table: " +
            s"${prior.schema.simpleString}\n data:  ${df.schema.simpleString}")
      // dynamic bucket mode routes keys via Paimon's bucket INDEX —
      // coercing -1 to 1 put upserts in bucket-0 while old versions of
      // the same key sit elsewhere, and a native per-bucket merge reader
      // then emits stale duplicates. Current paimon DEFAULTS PK tables
      // to dynamic bucket when the option is absent, so absent refuses
      // too (graft-created tables always pin it).
      val declaredBucket = prior.options.get("bucket")
        .flatMap(b => scala.util.Try(b.trim.toInt).toOption)
      require(declaredBucket.exists(_ >= 1),
        s"$table uses dynamic bucket mode (bucket=" +
          s"${prior.options.getOrElse("bucket", "<absent>")}) — graft " +
          "cannot route keys through Paimon's dynamic bucket index")
      // FOREIGN fixed-bucket tables refuse appends: graft routes keys by
      // Spark murmur3, a native writer by paimon's BinaryRow hash. Mixing
      // routers puts a key's new version in a DIFFERENT bucket than its
      // old versions, and every per-bucket merge reader (graft's read()
      // AND native paimon) then emits stale duplicates. Tables graft
      // created carry the routing marker in their schema options;
      // reading foreign tables is unaffected. MIGRATION: tables graft
      // created before the marker existed carry no schema option but
      // every snapshot of theirs was committed by graft's commitUser
      // ("graft…"; native writers stamp a UUID) — ALL snapshots must
      // agree, because even one foreign commit means foreign-routed
      // buckets may already exist.
      val graftRouted = prior.options.get("graft.bucket-routing")
        .contains("spark-murmur3") ||
        { val snaps = snapshots(spark, table)
          snaps.nonEmpty && snaps.forall(_.commitUser.startsWith("graft")) }
      require(graftRouted,
        s"$table is a fixed-bucket PK table graft did not create " +
          "(no graft.bucket-routing schema option and at least one " +
          "non-graft commitUser in the snapshot log) — appending would " +
          "route keys by a different hash than the existing buckets and " +
          "produce stale duplicates under any per-bucket merge reader")
      val pc = prior.partitionKeys.map(k => prior.schema(k))
      requirePartitionable(pc)
      (prior.schema, declaredBucket.get, pc)
    } else {
      require(kindCode == 0, s"cannot create a table from $kind rows")
      primaryKeys.foreach(k => require(df.columns.contains(k),
        s"primary key '$k' not in ${df.columns.mkString(",")}"))
      val pc = partitionBy.map(k => df.schema(k))
      requirePartitionable(pc)
      val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
        val nullable = f.nullable && !primaryKeys.contains(f.name)
        s"""{"id":$i,"name":${jstr(f.name)},"type":"${toPaimonType(f.dataType, nullable)}"}"""
      }.mkString(",")
      writeText(spark, new Path(schemaDir(table), "schema-0"),
        s"""{"version":3,"id":0,"fields":[$fields],
           |"highestFieldId":${df.schema.size - 1},
           |"partitionKeys":[${partitionBy.map(jstr).mkString(",")}],
           |"primaryKeys":[${primaryKeys.map(jstr).mkString(",")}],
           |"options":{"bucket":"$numBuckets","file.format":"parquet",
           |"merge-engine":"deduplicate",
           |"graft.bucket-routing":"spark-murmur3"},
           |"timeMillis":${System.currentTimeMillis()}}""".stripMargin)
      (df.schema, numBuckets, pc)
    }
    val prevSnaps = if (exists) snapshots(spark, table) else Nil
    val snapId = prevSnaps.map(_.id).maxOption.getOrElse(0L) + 1L

    // KeyValue row layout: _KEY_* + _SEQUENCE_NUMBER + _VALUE_KIND +
    // full value row (missing value columns → typed nulls for -D rows)
    val have = df.columns.toSet
    val valueCols = tblSchema.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).as(f.name)
      else {
        require(kindCode == 3,
          s"column '${f.name}' missing from upsert data for $table")
        lit(null).cast(f.dataType).as(f.name)
      }
    }
    // Partition staging values derive from the _KEY_* columns (PK ⊇
    // partition fields, checked above) — ALWAYS populated, including on
    // key-only -D retraction frames whose value columns null-fill.
    val keyed = df.select(
      primaryKeys.map(k => col(k).as(s"_KEY_$k")) ++
        Seq(lit(snapId).as("_SEQUENCE_NUMBER"),
          lit(kindCode).cast("tinyint").as("_VALUE_KIND")) ++
        valueCols: _*)
      .withColumn("__bucket",
        pmod(hash(primaryKeys.map(k => col(s"_KEY_$k")): _*), lit(buckets)))
    val staged = partCols.foldLeft(keyed)((d, f) =>
      d.withColumn(s"__p_${f.name}", col(s"_KEY_${f.name}")))
    val moved = stageFiles(staged, table, partCols, bucketed = true)
    commitSnapshot(spark, table, moved, mode, snapId, prevSnaps,
      totalBuckets = buckets, commitUser, commitIdentifier,
      partCols = partCols)
  }
}
