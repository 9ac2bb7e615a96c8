package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** Provided schema for schemaless text — Drill's CREATE [OR REPLACE]
  * SCHEMA: a user-declared schema (names, types, nullability, per-column
  * defaults) persisted next to nothing-but-text data and APPLIED at read
  * time, instead of inference. Reference:
  * exec/.../record/metadata/schema/SchemaProvider.java and
  * PathSchemaProvider.java (Drill stores `.drill.schema` JSON in the
  * table root; graft stores `.graft.schema` at a caller-chosen store
  * path, which may be the data dir itself).
  *
  * Application semantics (matching Drill's schema-provisioning rules):
  *  - headerless CSV: columns bind POSITIONALLY to the declared fields;
  *    rows narrower than the schema yield nulls for the missing tail
  *  - JSON lines: fields bind BY NAME; absent keys yield null
  *  - type coercion is schema-on-read lenient: a cell that won't parse
  *    as the declared type degrades to null, it never fails the task
  *  - a declared `default` back-fills null AFTER coercion (Drill's
  *    `default` column property)
  * Everything lands on Spark's codegen'd cast/coalesce path — the
  * declared schema shapes the plan, it adds no per-row interpretation.
  */
object SchemaProvider {

  private val FileName = ".graft.schema"
  private val mapper = new ObjectMapper()

  case class Declared(schema: StructType, defaults: Map[String, String])

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** CREATE [OR REPLACE] SCHEMA: persist `ddl` (Spark DDL string, e.g.
    * "id BIGINT, name STRING NOT NULL") + defaults at `storePath`. */
  def create(spark: SparkSession, storePath: String, ddl: String,
             defaults: Map[String, String] = Map.empty,
             replace: Boolean = false): Unit = {
    val schema = StructType.fromDDL(ddl) // validate NOW: a bad DDL is not stored
    val bad = defaults.keySet.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty, s"defaults for undeclared columns: ${bad.mkString(", ")}")
    val f = fs(spark, storePath)
    val target = new Path(storePath, FileName)
    if (!replace) require(!f.exists(target), s"schema already declared at $storePath")
    f.mkdirs(new Path(storePath))
    val node = mapper.createObjectNode()
    node.put("schemaJson", schema.json)
    val d = node.putObject("defaults")
    defaults.foreach { case (k, v) => d.put(k, v) }
    StagedFiles.replace(f, target, mapper.writeValueAsBytes(node))
  }

  /** DROP SCHEMA; returns whether one was declared. */
  def drop(spark: SparkSession, storePath: String): Boolean =
    fs(spark, storePath).delete(new Path(storePath, FileName), false)

  /** The declared schema at `storePath`, if any. */
  def load(spark: SparkSession, storePath: String): Option[Declared] = {
    val f = fs(spark, storePath)
    val p = new Path(storePath, FileName)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val node = try mapper.readTree(in) finally in.close()
      val schema = DataType.fromJson(node.get("schemaJson").asText).asInstanceOf[StructType]
      val defaults = Option(node.get("defaults"))
        .map(_.fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty[String, String])
      Some(Declared(schema, defaults))
    }
  }

  private def coerced(src: Column, f: org.apache.spark.sql.types.StructField,
                      defaults: Map[String, String]): Column = {
    // try_cast, not cast: ANSI-proof null-on-dirty-cell; then the declared
    // default back-fills nulls (missing cells and failed parses alike)
    val cast = if (f.dataType == StringType) src else src.try_cast(f.dataType)
    defaults.get(f.name) match {
      // try_cast for the DEFAULT too: a declared default that doesn't
      // parse as the column type crashed every query under ANSI,
      // violating the degrade-to-null contract the data path keeps
      case Some(d) => coalesce(cast, lit(d).try_cast(f.dataType)).as(f.name)
      case None => cast.as(f.name)
    }
  }

  /** Read headerless CSV applying the schema declared at `storePath`
    * (positional binding). */
  def readCsv(spark: SparkSession, dataPath: String,
              storePath: String = null, delimiter: String = ","): DataFrame = {
    val store = Option(storePath).getOrElse(dataPath)
    val Declared(schema, defaults) = load(spark, store).getOrElse(
      throw new IllegalArgumentException(s"no declared schema at $store"))
    // an EXPLICIT all-string schema of the declared width: a schemaless
    // read fixes the column count from the FIRST row, silently nulling
    // declared columns for every row whenever row 1 happened to be short
    val wide = org.apache.spark.sql.types.StructType(
      schema.fields.indices.map(i =>
        org.apache.spark.sql.types.StructField(s"_c$i", StringType, true)))
    val raw = spark.read
      .option("header", "false").option("delimiter", delimiter)
      .schema(wide)
      .csv(dataPath)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val src = if (i < raw.columns.length) col(raw.columns(i))
                else lit(null).cast(StringType)
      coerced(src, f, defaults)
    }
    raw.select(cols.toSeq: _*)
  }

  /** Read JSON lines applying the declared schema (by-name binding):
    * every field is first read as permissive string, then coerced +
    * default-filled by the same rules as CSV. */
  def readJson(spark: SparkSession, dataPath: String,
               storePath: String = null): DataFrame = {
    val store = Option(storePath).getOrElse(dataPath)
    val Declared(schema, defaults) = load(spark, store).getOrElse(
      throw new IllegalArgumentException(s"no declared schema at $store"))
    val asStrings = StructType(schema.fields.map(_.copy(dataType = StringType)))
    val raw = spark.read.schema(asStrings).json(dataPath)
    raw.select(schema.fields.map(f => coerced(col(f.name), f, defaults)).toSeq: _*)
  }
}
