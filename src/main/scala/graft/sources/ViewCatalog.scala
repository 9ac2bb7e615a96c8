package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent views: CREATE VIEW / DROP VIEW durably stored as one small
  * JSON file per view on the filesystem — Drill's `.view.drill` files
  * (reference exec/.../planner/sql/handlers/ViewHandler.java and
  * dotdrill/View.java), which make views plain catalog objects any new
  * session can list and expand. Spark's temp views are session-scoped;
  * this adds the durable layer: `load()` re-registers every stored view
  * into a fresh session (resolving view-on-view dependencies in any
  * definition order), and INFORMATION_SCHEMA.VIEWS reads straight from
  * storage. A single view file is written atomically (temp + rename);
  * CREATE OR REPLACE of an EXISTING view has a small delete-then-rename
  * window on filesystems without overwriting rename — a concurrent
  * reader can transiently miss the view (never read a torn definition).
  */
object ViewCatalog {

  case class ViewDef(name: String, sql: String)

  private val Suffix = ".view.json"
  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def viewPath(base: String, name: String) = new Path(base, name + Suffix)

  /** CREATE [OR REPLACE] VIEW name AS sql — persisted, and registered in
    * the current session. The SQL is validated by planning it first (same
    * contract as Drill's ViewHandler: a view that doesn't parse is not
    * stored). */
  def create(spark: SparkSession, base: String, name: String, sql: String,
             replace: Boolean = false): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid view name '$name'")
    // a view definition must be a QUERY: a command here would EXECUTE —
    // at create, and again on every later load()/session reload.
    // Graft-claimed commands run inside the parser itself, so they are
    // refused by regex BEFORE any parse; Spark-native commands parse
    // lazily and are rejected by plan type.
    require(!SqlCommands.isGraftCommand(sql),
      s"view '$name': definition is a command, not a query")
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    // Command catches most DDL, but INSERT parses to InsertIntoStatement
    // (a ParsedStatement, NOT a Command) — without the second check a
    // DML "view" EXECUTED at create and re-executed in every later
    // session when load() registered stored views
    require(!parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] &&
        !parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement],
      s"view '$name': definition is a command, not a query")
    val df = spark.sql(sql) // analyze now: reject broken definitions
    val f = fs(spark, base)
    val target = viewPath(base, name)
    if (!replace) require(!f.exists(target), s"view '$name' already exists")
    f.mkdirs(new Path(base))
    val node = mapper.createObjectNode()
    node.put("name", name)
    node.put("sql", sql)
    StagedFiles.replace(f, target, mapper.writeValueAsBytes(node))
    df.createOrReplaceTempView(name)
  }

  /** DROP VIEW name; returns whether it existed. */
  def drop(spark: SparkSession, base: String, name: String): Boolean = {
    spark.catalog.dropTempView(name)
    fs(spark, base).delete(viewPath(base, name), false)
  }

  /** All stored view definitions. */
  def list(spark: SparkSession, base: String): Seq[ViewDef] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(Suffix))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        // per-file tolerance (the StatsCatalog.load posture): a racing
        // CREATE OR REPLACE deletes the target between listStatus and
        // open — one concurrent replace must not crash another
        // session's whole view load
        try {
          val in = f.open(s.getPath)
          val node = try mapper.readTree(in) finally in.close()
          Some(ViewDef(node.get("name").asText(), node.get("sql").asText()))
        } catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** Register every stored view into `spark` (a new session picks up all
    * durable views — the part Spark temp views alone cannot do). Views
    * may reference each other: registration retries until a pass makes no
    * progress (dependency order without a dependency graph), and only
    * then reports what stayed unresolvable. */
  def load(spark: SparkSession, base: String): Unit = {
    var pending = list(spark, base)
    var progressing = true
    while (pending.nonEmpty && progressing) {
      val failed = pending.filter { v =>
        try { spark.sql(v.sql).createOrReplaceTempView(v.name); false }
        catch { case scala.util.control.NonFatal(_) => true }
      }
      progressing = failed.size < pending.size
      pending = failed
    }
    if (pending.nonEmpty) throw new IllegalStateException(
      s"unresolvable stored views (missing base tables?): ${pending.map(_.name).mkString(", ")}")
  }

  /** INFORMATION_SCHEMA.VIEWS over the stored catalog (Drill ischema
    * VIEWS: table_name, view_definition). */
  def views(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    list(spark, base).map(v => (v.name, v.sql)).toDF("table_name", "view_definition")
  }
}
