package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Drill-identity `dfs` SQL namespace: query a file PATH directly from SQL,
  * format inferred from the extension —
  *
  * {{{
  *   SELECT * FROM dfs.`/data/part.parquet`
  *   SELECT * FROM dfs.tmp.`export/run1.jsonl`
  *   SELECT * FROM dfs.lake.`events`          -- conf-registered workspace
  * }}}
  *
  * Reference: Drill's dfs storage plugin — a workspace maps a name to a
  * filesystem location and format plugins claim files by extension
  * (exec/java-exec/.../store/dfs/FileSystemPlugin.java,
  * WorkspaceSchemaFactory.java, FormatPluginOptionExtractor.java). The
  * Spark-native packaging is NOT a string rewrite: Spark itself resolves
  * `parquet.`/path`` through an analyzer rule (ResolveSQLOnFile), and
  * [[graft.GraftExtensions]] injects [[DfsResolveRule]] into the same
  * resolution batch to do the identical thing for the whole graft format
  * registry — so `dfs` paths compose with joins, views, CTEs and the
  * optimizer exactly like any other relation, and the underlying scans
  * keep their pushdown/pruning (the rule substitutes the reader's
  * ANALYZED plan, not collected rows).
  *
  * Workspaces (Drill's `dfs.tmp`, `dfs.root`):
  *   - `root` → `/` (absolute paths; same as the 1-part form)
  *   - `tmp`  → java.io.tmpdir
  *   - any other name resolves through the session conf
  *     `graft.dfs.workspace.<name>` → base directory (the
  *     bootstrap-storage-plugins.json analog).
  *
  * Directories resolve like Drill tables: a dir with `_delta_log` is a
  * Delta table, a dir with `metadata/` + `data/` is an Iceberg table, a
  * dir with `snapshot/` + `schema/` is a Paimon table,
  * otherwise the format comes from the first data file's extension and
  * the whole directory is handed to that reader (the multi-file readers
  * already parallelize one task per file via [[FileList]]).
  */
object DfsSql {

  /** Formats whose reader accepts a file-or-directory path. Extensions
    * mirror Drill's bootstrap format matcher list (bootstrap-storage-
    * plugins.json: psv/csv/tsv/parquet/json/avro + contrib formats). */
  def read(spark: SparkSession, path: String): DataFrame = {
    if (path.exists("*?[{".contains(_))) { // glob pattern, not a literal path
      // only formats whose readers accept hadoop glob patterns (the
      // rest decode file-granularly and need a literal directory); the
      // DISPATCH is readByExt's — one format table, no drift
      val ext = extOf(path.substring(path.lastIndexOf('/') + 1))
      val globbable = Set("parquet", "csv", "tsv", "psv", "tbl", "json",
        "jsonl", "ndjson", "orc", "log", "txt", "text", "ltsv")
      if (!globbable(ext)) throw new IllegalArgumentException(
        s"dfs: glob reads support parquet/csv/tsv/psv/tbl/json/orc/" +
          s"text/ltsv, not '$ext' ($path) — point file-granular " +
          "formats at a directory")
      return readByExt(spark, path, ext)
    }
    // Hadoop FileSystem throughout — the SAME resolution the DML paths
    // use, so dfs works on any configured fs scheme, not just local nio
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasSub(n: String) = fs.exists(new org.apache.hadoop.fs.Path(hp, n))
    // ONE metadata RPC for existence + kind (exists + getFileStatus +
    // exists again was three round trips per resolution on object stores)
    val status =
      try Some(fs.getFileStatus(hp))
      catch { case _: java.io.FileNotFoundException => None }
    if (status.exists(_.isDirectory)) {
      if (hasSub("_delta_log"))
        return DeltaLogReader.read(spark, path)
      // no data/ requirement: an Iceberg table whose first snapshot
      // hasn't landed yet (or whose files live elsewhere) is readable —
      // requiring data/ made a DML-writable table unreadable by SELECT
      if (DmlSql.isIcebergDir(fs, hp))
        return IcebergTable.read(spark, path)
      if (hasSub("snapshot") && hasSub("schema"))
        return PaimonTable.read(spark, path)
      // hive-partitioned layout (CTAS PARTITION BY): data files sit under
      // key=value subdirs — format sniffs from the first leaf, Spark's
      // reader handles partition discovery from the base path
      val first = dataFiles(fs, hp).headOption
        .orElse(firstPartitionedFile(fs, hp))
        .getOrElse(
          throw new IllegalArgumentException(s"dfs: empty directory $path"))
      readByExt(spark, path, extOf(first.getName))
    } else if (status.isDefined) {
      readByExt(spark, path, extOf(hp.getName))
    } else {
      // a PERSISTED VIEW resolves by its view name: CREATE VIEW
      // dfs.ws.v writes ws/v.view.json, and the schema-qualified name
      // the DDL just accepted must read back (Drill resolves views in
      // the workspace the same way)
      val viewFile = new org.apache.hadoop.fs.Path(path + ".view.json")
      if (fs.exists(viewFile)) {
        val in = fs.open(viewFile)
        val node = try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(in) finally in.close()
        // a corrupt/hand-edited view file must raise a DIAGNOSABLE error
        // naming the file, not a bare NPE from node.get("sql")
        val sqlNode = Option(node).flatMap(n => Option(n.get("sql")))
          .filterNot(_.isNull).getOrElse(throw new IllegalArgumentException(
            s"malformed view file (no \"sql\" field): $viewFile"))
        return spark.sql(sqlNode.asText())
      }
      throw new IllegalArgumentException(s"dfs: no such file or directory: $path")
    }
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)

  private def firstPartitionedFile(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    val subs = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath).sortBy(_.getName)
    subs.iterator
      .flatMap(d => dataFiles(fs, d).headOption.orElse(firstPartitionedFile(fs, d)))
      .nextOption()
  }

  private def extOf(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i < 0) "" else name.substring(i + 1).toLowerCase
  }

  private def readByExt(spark: SparkSession, path: String, ext: String): DataFrame =
    ext match {
      case "parquet"                   => graft.GraftSession.readParquet(spark, path)
      case "csv"                       => SchemaOnRead.csv(spark, path)
      case "tsv"                       => SchemaOnRead.csv(spark, path, "\t")
      // headerless columns[] per Drill's psv/tbl defaults (see glob note)
      case "psv" | "tbl"               => SchemaOnRead.csvColumns(spark, path, "|")
      case "json" | "jsonl" | "ndjson" => SchemaOnRead.json(spark, path)
      case "orc"                       => spark.read.orc(path)
      case "avro"                      => AvroReader.read(spark, path)
      case "xlsx"                      => XlsxReader.read(spark, path)
      case "ltsv"                      => SchemaOnRead.ltsv(spark, path)
      case "pcap"                      => PcapReader.read(spark, path)
      case "pcapng"                    => PcapngReader.read(spark, path)
      case "pdf"                       => PdfReader.read(spark, path)
      case "geojson"                   => SchemaOnRead.geojson(spark, path)
      case "shp"                       => ShapefileReader.read(spark, path)
      case "sas7bdat"                  => SasReader.read(spark, path)
      case "sav"                       => SpssReader.read(spark, path)
      case "h5" | "hdf5"               => Hdf5Reader.read(spark, path)
      case "mdb" | "accdb"             => AccessReader.read(spark, path)
      case "seq"                       => SequenceFileReader.read(spark, path)
      case "bson"                      => BsonReader.read(spark, path)
      // kafka data dirs end in .log, which the text reader owns — the
      // segment reader is reachable by TYPE NAME through dfs_read
      case "kafka" | "kafka_segments"  => KafkaSegmentReader.readJson(spark, path)
      // HBase store files carry no extension — reachable by TYPE NAME
      case "hfile" | "hbase"           => HBaseHFileReader.read(spark, path)
      // cassandra dirs hold multi-component *-big-*.db files — TYPE NAME
      case "sstable" | "cassandra"     => CassandraSSTableReader.read(spark, path)
      case "png" | "jpg" | "jpeg" | "gif" | "bmp" => ImageMetaReader.read(spark, path)
      case "log" | "txt" | "text"      => spark.read.text(path)
      case other => throw new IllegalArgumentException(
        s"dfs: no format reader for extension '$other' ($path). " +
          "Known: parquet csv tsv psv json jsonl orc avro xlsx ltsv pcap " +
          "pcapng pdf geojson shp sas7bdat sav h5 mdb/accdb seq bson " +
          "kafka hfile/hbase sstable/cassandra (type names) " +
          "png/jpg/gif/bmp log/txt; " +
          "directories: delta (_delta_log), iceberg (metadata/+data/), " +
          "paimon (snapshot/+schema/)")
    }

  /** Resolve `dfs[.<workspace>].`path`` identifier parts to a filesystem
    * path. One part = absolute path; two parts = workspace-relative. */
  def resolvePath(spark: SparkSession, parts: Seq[String]): String = parts match {
    case Seq(p) => p
    case Seq(ws, p) =>
      if (p.startsWith("/")) p // dfs.root.`/abs` style: workspace is vacuous
      else {
        // front-door principals must clear the workspace allow-list
        // (graft.auth.workspace.<ws>) before the path even resolves
        AccessControl.checkWorkspace(spark, ws)
        val base = workspaceDir(spark, ws).getOrElse(throw new IllegalArgumentException(
          s"dfs: unknown workspace '$ws' — set graft.dfs.workspace.$ws"))
        s"${base.stripSuffix("/")}/$p"
      }
    case other => throw new IllegalArgumentException(
      s"dfs: expected dfs.`path` or dfs.workspace.`path`, got ${other.mkString(".")}")
  }

  def workspaceDir(spark: SparkSession, ws: String): Option[String] =
    ws.toLowerCase match {
      case "root" => Some("/")
      case "tmp"  => Some(System.getProperty("java.io.tmpdir", "/tmp"))
      // raw spelling first: a conf-registered Mixed-Case workspace must
      // resolve exactly as SHOW SCHEMAS advertises it (the lowercased
      // lookup alone made such workspaces list but never resolve)
      case lower  => spark.conf.getOption(s"graft.dfs.workspace.$ws")
        .orElse(spark.conf.getOption(s"graft.dfs.workspace.$lower"))
    }

  /** The ONE canonical workspace registry — builtin root + tmp, then the
    * conf-registered names. A conf entry spelled root/tmp is dropped:
    * [[workspaceDir]] gives the builtins precedence at resolution, so a
    * listing that showed it would advertise a workspace that never
    * resolves. /storage.json, INFORMATION_SCHEMA.FILES and SHOW SCHEMAS
    * consume this instead of re-scanning the conf divergently. */
  def workspaces(spark: SparkSession): Seq[(String, String)] =
    Seq("root" -> "/",
      "tmp" -> System.getProperty("java.io.tmpdir", "/tmp")) ++
      spark.conf.getAll.toSeq
        .filter(_._1.startsWith("graft.dfs.workspace."))
        .map { case (k, v) => k.stripPrefix("graft.dfs.workspace.") -> v }
        .filterNot(kv => kv._1.equalsIgnoreCase("root") ||
          kv._1.equalsIgnoreCase("tmp"))
        .sortBy(_._1)

  def load(spark: SparkSession, parts: Seq[String]): DataFrame =
    read(spark, resolvePath(spark, parts))

  /** The analyzed plan a SQL statement's `dfs` name substitutes
    * ([[DfsResolveRule]], [[DfsParser]], `dfs_read`), its file relations
    * marked as front-door reads for [[graft.OneTaskScans]]. */
  def resolved(df: DataFrame): LogicalPlan =
    graft.OneTaskScans.markDfs(df.queryExecution.analyzed)

  /** Explicit-format read — the table-function form with the extension
    * registry OVERRIDDEN (Drill: `table(dfs.`x`(type => 'text',
    * fieldDelimiter => '|'))`, ref exec/.../store/dfs/
    * FormatPluginOptionExtractor.java). `text` is Drill's delimited-text
    * type name; anything else resolves through the same per-extension
    * registry, by name instead of by filename. */
  def readAs(spark: SparkSession, path: String, format: String,
             delimiter: String = ","): DataFrame =
    format.toLowerCase match {
      case "text" => SchemaOnRead.csv(spark, path, delimiter)
      // the OTHER delimited type names honor an explicit delimiter too —
      // routing them through the extension registry dropped it silently
      // (dfs_read('f.csv','csv','|') parsed as one mangled comma-column).
      // The "," default doubles as the not-passed sentinel, so asking a
      // tsv/psv for a literal comma goes through type 'text' instead.
      case "csv" | "tsv" if delimiter != "," =>
        SchemaOnRead.csv(spark, path, delimiter)
      // psv/tbl are HEADERLESS (the columns[] contract) with or without
      // an explicit delimiter — csv's header=true ate the first data
      // row and changed the schema shape on the delimiter-passed path
      case "psv" | "tbl" if delimiter != "," =>
        SchemaOnRead.csvColumns(spark, path, delimiter)
      // the third argument carries the sub-selector the reference passes
      // through its table-function options (defaultPath / tableName)
      case "hdf5" | "h5" if delimiter != "," =>
        Hdf5Reader.readDataset(spark, path, delimiter)
      case "msaccess" | "mdb" | "accdb" if delimiter != "," =>
        AccessReader.readTable(spark, path, delimiter)
      case "daffodil" | "dfdl" if delimiter != "," =>
        DfdlReader.read(spark, path, delimiter)
      // third arg = the tsdb-uid table directory
      case "opentsdb" | "tsdb" if delimiter != "," =>
        OpenTsdbReader.read(spark, path, delimiter)
      // third arg = the Confluent writer schema JSON (the registry is a
      // live service — the schema travels as an argument, see readAvro)
      case "kafka-avro" | "kafka_avro" if delimiter != "," =>
        KafkaSegmentReader.readAvro(spark, path, delimiter)
      case other  => readByExt(spark, path, other)
    }

  /** Drill's `SHOW FILES IN dfs.<ws>` (ref exec/.../sql/handlers/
    * ShowFilesHandler.java): list a workspace/directory as a relation. */
  def showFiles(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // Hadoop FileSystem, not java.nio: a workspace on s3a/hdfs lists the
    // same way SELECT reads it (nio Paths.get broke every non-local fs)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hp), s"dfs: no such path: $path")
    val entries =
      if (fs.getFileStatus(hp).isDirectory) fs.listStatus(hp).toSeq
      else Seq(fs.getFileStatus(hp))
    entries.map { st =>
      (st.getPath.getName, st.isDirectory, st.isFile,
        if (st.isFile) st.getLen else 0L, st.getModificationTime)
    }.sortBy(_._1)
      .toDF("name", "is_directory", "is_file", "length", "modification_time")
  }
}
