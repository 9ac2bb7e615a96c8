package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-on-read entry points — Drill's core value proposition
  * ("query the file as it lies") re-expressed over Spark readers.
  *
  * Reference: exec/java-exec/.../store/easy/{json,text}, and the
  * format plugins under contrib/format-{log,ltsv,httpd,syslog}.
  * Each reader returns a DataFrame whose schema was discovered from the
  * data (or declared inline), plus Drill-style implicit file columns.
  */
object SchemaOnRead {

  /** JSON-lines with schema inference (Drill's json reader infers per
    * batch; Spark samples then reads once — same user contract). The
    * inferred schema is memoized until the file changes
    * ([[graft.GraftSession.readInferred]]), like the CSV one below.
    *
    * Honors Drill's `store.json.all_text_mode` session option (ref
    * exec/.../store/json/JsonRecordReader + drill-module.conf): when
    * set true — `ALTER SESSION SET store.json.all_text_mode = true` —
    * every scalar reads as a string, the escape hatch for documents
    * whose field types flip between rows (the schema-change errors
    * Drill's option exists to suppress). */
  def json(spark: SparkSession, path: String): DataFrame = {
    val allText = spark.conf.getOption("store.json.all_text_mode")
      .exists(_.trim.equalsIgnoreCase("true"))
    graft.GraftSession.readInferred(spark, "json", Map("multiLine" -> "false",
      "primitivesAsString" -> allText.toString), Seq(path))
  }

  /** CSV with header + type inference (Drill: text reader + extractHeader). */
  def csv(spark: SparkSession, path: String, delimiter: String = ","): DataFrame =
    graft.GraftSession.readInferred(spark, "csv", Map("header" -> "true",
      "inferSchema" -> "true", "delimiter" -> delimiter), Seq(path))

  /** Drill's headerless-text mode: every line becomes a `columns` string
    * array (`SELECT columns[0] FROM ...` — the default way Drill reads
    * CSV without extractHeader; ref exec/.../store/easy/text/compliant/
    * RepeatedVarCharOutput.java). */
  def csvColumns(spark: SparkSession, path: String,
                 delimiter: String = ","): DataFrame = {
    // delimiters inside double-quoted fields do NOT split (Drill's
    // compliant text reader honors quoting in columns[] mode): split on
    // the delimiter only when followed by an EVEN number of quotes —
    // then strip surrounding quotes and collapse "" escapes
    val d = java.util.regex.Pattern.quote(delimiter)
    val quoteAware = d + "(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)"
    val parts = split(col("value"), quoteAware)
    val unquoted = transform(parts, f =>
      when(f.rlike("^\".*\"$") && length(f) >= 2,
        regexp_replace(f.substr(lit(2), length(f) - 2), "\"\"", "\""))
        .otherwise(f))
    spark.read.text(path).select(unquoted.as("columns"))
  }

  /** Drill contrib/format-log: a regex with capture groups = columns. */
  def regexLog(spark: SparkSession, path: String, pattern: String,
               fields: Seq[String]): DataFrame =
    // one projection, not N stacked withColumns (the httpdColumns shape)
    spark.read.text(path).select(fields.zipWithIndex.map { case (f, i) =>
      regexp_extract(col("value"), pattern, i + 1).as(f)
    }: _*)

  /** Parse an LTSV line column (Drill contrib/format-ltsv): tab-separated
    * `key:value` pairs → map<string,string>. Empty segments (doubled /
    * trailing tabs) drop, and a REPEATED key keeps its last value —
    * map_from_entries under Spark's default mapKeyDedupPolicy=EXCEPTION
    * otherwise failed the whole query on one dirty log line. */
  def ltsvToMap(line: Column): Column = {
    // a colon-less segment is not a field: substring_index would invent
    // a {garbage -> garbage} entry for it where the reference's reader
    // rejects the field — drop it with the empty segments
    val segs = filter(split(line, "\t"),
      s => length(s) > 0 && s.contains(":"))
    val entries = transform(segs, kv =>
      struct(substring_index(kv, ":", 1).as("key"),
        regexp_replace(kv, "^[^:]*:", "").as("value")))
    val lastWins = filter(entries, (e, i) =>
      !exists(slice(entries, i + 2, size(entries)),
        e2 => e2.getField("key") === e.getField("key")))
    map_from_entries(lastWins)
  }

  def ltsv(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(ltsvToMap(col("value")).as("fields"))

  /** Apache httpd common/combined log parser (contrib/format-httpd). */
  val HttpdCombinedRegex: String =
    """^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" (\d{3}) (\S+)(?: "([^"]*)" "([^"]*)")?.*$"""
  val HttpdFields: Seq[String] = Seq("client_ip", "ident", "auth_user",
    "ts_raw", "method", "request_uri", "protocol", "status", "bytes",
    "referer", "user_agent")

  def httpdColumns(line: Column): Seq[Column] =
    HttpdFields.zipWithIndex.map { case (f, i) =>
      regexp_extract(line, HttpdCombinedRegex, i + 1).as(f)
    }

  def httpdLog(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(httpdColumns(col("value")): _*)
      .withColumn("status", col("status").cast("int"))
      .withColumn("bytes", when(col("bytes") === "-", null)
        .otherwise(col("bytes")).cast("long"))

  /** RFC3164-ish syslog parser (contrib/format-syslog). */
  val SyslogRegex: String =
    """^<(\d+)>([A-Z][a-z]{2}\s+\d+\s[\d:]+)\s(\S+)\s([^:\[]+)(?:\[(\d+)\])?:\s*(.*)$"""

  def syslog(spark: SparkSession, path: String): DataFrame = {
    val fields = Seq("pri_raw", "ts_raw", "host", "app", "pid", "message")
    val parsed = spark.read.text(path).select(
      fields.zipWithIndex.map { case (f, i) =>
        regexp_extract(col("value"), SyslogRegex, i + 1).as(f)
      }: _*)
    parsed
      .withColumn("facility", (col("pri_raw").cast("int") / 8).cast("int"))
      .withColumn("severity", pmod(col("pri_raw").cast("int"), lit(8)))
      .drop("pri_raw")
  }

  /** Fixed-width reader (contrib/format-spss spirit): (name, start, len). */
  def fixedWidth(spark: SparkSession, path: String,
                 fields: Seq[(String, Int, Int)]): DataFrame =
    spark.read.text(path).select(fields.map { case (f, start, len) =>
      trim(substring(col("value"), start, len)).as(f)
    }: _*)

  /** GeoJSON FeatureCollection reader (Drill contrib/format-esri's
    * shapefile territory, on the open interchange format instead): one
    * row per feature with typed Point coordinates (lon/lat) and string
    * properties. Non-point geometries keep their type with null lon/lat
    * — extend the declared schema for typed polygon work; the GIS
    * functions (GisFunctions) consume the lon/lat directly. */
  def geojson(spark: SparkSession, path: String): DataFrame = {
    // geometry held as a raw JSON string at the feature level (coordinate
    // nesting varies by geometry type), then point-parsed per feature —
    // a non-point geometry keeps its type and yields null lon/lat
    val featSchema = "features ARRAY<STRUCT<type: STRING, geometry: STRING, " +
      "properties: MAP<STRING, STRING>>>"
    val pointSchema = "type STRING, coordinates ARRAY<DOUBLE>"
    spark.read.option("wholetext", "true").text(path)
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType
        .fromDDL(featSchema)).as("fc"))
      .select(posexplode(col("fc.features")).as(Seq("feature_idx", "f")))
      .select(col("feature_idx"),
        get_json_object(col("f.geometry"), "$.type").as("geom_type"),
        expr(s"from_json(f.geometry, '$pointSchema')").getField("coordinates")
          .as("coords"),
        col("f.properties").as("properties"))
      .select(col("feature_idx"), col("geom_type"),
        // try_element_at: one malformed Point with a short coordinates
        // array must yield null lon/lat (the documented posture), not
        // an ANSI INVALID_ARRAY_INDEX that kills the whole read
        when(col("geom_type") === "Point",
          try_element_at(col("coords"), lit(1))).as("lon"),
        when(col("geom_type") === "Point",
          try_element_at(col("coords"), lit(2))).as("lat"),
        col("properties"))
  }

  /** Drill implicit columns: filename / fqn / filepath / suffix. */
  def withImplicitColumns(df: DataFrame): DataFrame =
    df.withColumn("fqn", input_file_name())
      .withColumn("filename", element_at(split(input_file_name(), "/"), -1))
      .withColumn("filepath",
        regexp_replace(input_file_name(), "/[^/]+$", ""))
      // suffix from the FILENAME, not the full path: a dotted directory
      // ("/data/v1.2/events") yielded "2/events", and a dotless file
      // must give Drill's empty suffix, not the whole URI
      .withColumn("suffix",
        when(col("filename").contains("."),
          element_at(split(col("filename"), "\\."), -1))
          .otherwise(lit("")))

  /** Drill-style schema-on-read for an embedded JSON string column: infer
    * the schema from a BOUNDED sample (Drill discovers per batch; a
    * limit-sampled inference is the Spark-native equivalent — an unbounded
    * spark.read.json over the column would be a second full scan of the
    * table at 100 TB), then parse the full column with the discovered
    * schema. Adds `<col>_parsed` struct column. Fields that first appear
    * beyond the sample are absent from the schema — the same contract as
    * Spark's own samplingRatio-based JSON inference. */
  def inferJsonColumn(df: DataFrame, colName: String,
                      sampleRows: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = spark.read.json(df.select(col(colName)).na.drop()
      .limit(sampleRows).as[String]).schema
    df.withColumn(s"${colName}_parsed", from_json(col(colName), schema))
  }

  /** Schema introspection (Drill metadata/ + typeof()): one row per field. */
  def describeSchema(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("column_name", "data_type", "nullable")
  }
}
