package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Parser wrapper backing the 3-part `dfs.<workspace>.`path`` form.
  *
  * [[DfsResolveRule]] covers `dfs.`/abs/path`` (2 parts stay unresolved
  * until the extended resolution rules run), but Spark resolves 3-part
  * identifiers eagerly against the session catalog — it throws
  * REQUIRES_SINGLE_PART_NAMESPACE before any injected rule can claim the
  * relation. So workspace addressing is claimed one stage earlier: the
  * delegating parser rewrites `dfs`-headed UnresolvedRelations right
  * after parse, substituting the reader's analyzed plan (same mechanism,
  * different hook — Drill resolves workspaces in its schema tree at plan
  * time too, ref exec/.../store/dfs/WorkspaceSchemaFactory.java).
  * Everything else delegates verbatim.
  */
class DfsParser(delegate: ParserInterface) extends ParserInterface {

  // Drill's dynamic UDF DDL (ref exec/.../planner/sql/handlers/
  // CreateFunctionHandler.java, DropFunctionHandler.java): not Spark
  // grammar, so the wrapper claims it before delegation. Results come
  // back as a relation of (name, status) rows, like Drill's ok message.
  private val CreateFnJar =
    """(?is)\s*CREATE\s+FUNCTION\s+USING\s+JAR\s+'([^']+)'\s*;?\s*""".r
  private val DropFnJar =
    """(?is)\s*DROP\s+FUNCTION\s+USING\s+JAR\s+'([^']+)'\s*;?\s*""".r

  private def fnJarResult(names: Seq[String], status: String): LogicalPlan = {
    val spark = SparkSession.active
    import spark.implicits._
    names.map(n => (n, status)).toDF("name", "status").queryExecution.analyzed
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = {
    // CTE names shadow aliases (they resolve before catalog lookup in
    // Spark's analyzer; rewriting them here would break the With chain)
    val cteNames = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    plan.transformUp {
      // `FROM dfs.ws.`t` VERSION|TIMESTAMP AS OF x` — Spark parses the
      // suffix into RelationTimeTravel; claim it for dfs lakehouse
      // tables before the analyzer refuses the unresolved catalog
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        tt.relation match {
          case u: UnresolvedRelation
              if u.multipartIdentifier.length >= 2 &&
                u.multipartIdentifier.head.equalsIgnoreCase("dfs") &&
                !SparkSession.active.catalog.databaseExists("dfs") =>
            resolveTimeTravel(u.multipartIdentifier, tt.timestamp, tt.version)
          case _ => tt
        }
      case u: UnresolvedRelation
          if !(u.multipartIdentifier.length == 1 &&
            cteNames.contains(u.multipartIdentifier.head.toLowerCase)) =>
        resolveRelation(u).getOrElse(u)
    }
  }

  /** Time-travel read of a dfs-addressed lakehouse table: `VERSION AS
    * OF` = the format's own version/snapshot id, `TIMESTAMP AS OF` = the
    * newest state at or before that instant (Delta: commit times;
    * Iceberg/Paimon: snapshot times). */
  private def resolveTimeTravel(
      parts: Seq[String],
      timestamp: Option[Expression],
      version: Option[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = DfsSql.resolvePath(spark, parts.tail)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(path, sub))
    val asOfMs: Option[Long] = timestamp.map { e =>
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      // a non-literal (now(), current_date() - interval ...) arrives
      // UNRESOLVED here — eval would throw Spark's internal
      // UnresolvedException; reject with the actual contract instead
      val micros =
        try org.apache.spark.sql.catalyst.expressions
          .Cast(e, org.apache.spark.sql.types.TimestampType, Some(tz))
          .eval(null)
        catch { case scala.util.control.NonFatal(_) =>
          throw new IllegalArgumentException(
            s"TIMESTAMP AS OF must be a timestamp/date/string LITERAL, got: ${e.sql}")
        }
      require(micros != null, s"TIMESTAMP AS OF: cannot evaluate ${e.sql}")
      micros.asInstanceOf[Long] / 1000L
    }
    val ver: Option[Long] = version.map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"VERSION AS OF expects a numeric version, got '$v'")
      }
    }
    val df =
      if (has("_delta_log")) ver match {
        case Some(v) => DeltaLogReader.read(spark, path, Some(v))
        case None =>
          val tsMs = asOfMs.get
          val logDir = new org.apache.hadoop.fs.Path(path, "_delta_log")
          val atOrBefore = fs.listStatus(logDir).toSeq
            .filter(_.getPath.getName.matches("\\d{20}\\.json"))
            .filter(_.getModificationTime <= tsMs)
            .map(_.getPath.getName.stripSuffix(".json").toLong)
          require(atOrBefore.nonEmpty,
            s"TIMESTAMP AS OF: no commit of $path at or before $tsMs")
          DeltaLogReader.read(spark, path, Some(atOrBefore.max))
      }
      // the STRICT iceberg discriminator (metadata/vN.metadata.json),
      // not a bare metadata/ subdir check — a plain directory with an
      // unrelated metadata/ folder must get the clear refusal below,
      // not an Iceberg internal error
      else if (DmlSql.isIcebergDir(fs, new org.apache.hadoop.fs.Path(path)))
        IcebergTable.read(spark, path, snapshotId = ver,
          asOfTimestampMs = asOfMs)
      else if (has("snapshot") && has("schema"))
        PaimonTable.read(spark, path, snapshotId = ver, asOfTimeMs = asOfMs)
      else throw new IllegalArgumentException(
        s"time travel needs a versioned table (Delta/Iceberg/Paimon); " +
          s"[$path] is a plain path")
    df.queryExecution.analyzed
  }

  /** dfs paths and registry aliases, resolved in one pass; catalog-owned
    * names always win (the namespace/alias is only claimed when nothing
    * real owns the name — dfs is reserved in Drill, aliases shadow in
    * its DynamicRootSchema; here both degrade gracefully instead). */
  private def resolveRelation(u: UnresolvedRelation): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val parts = u.multipartIdentifier
    if (parts.length >= 2 && parts.head.equalsIgnoreCase("dfs") &&
        !spark.catalog.databaseExists("dfs"))
      Some(DfsSql.resolved(DfsSql.load(spark, parts.tail)))
    // `hive.db.tbl` / `hive.tbl` — metastore federation. Claimed at
    // PARSE time of necessity: "hive" is a registered datasource
    // provider name, so Spark's ResolveSQLOnFile would claim the head
    // first in analysis and fail with UNSUPPORTED_DATASOURCE_FOR_
    // DIRECT_QUERY before any injected resolution rule ran.
    else if ((parts.length == 2 || parts.length == 3) &&
        parts.head.equalsIgnoreCase("hive") &&
        spark.conf.getOption(HiveMetastore.ConfKey).isDefined &&
        !spark.catalog.databaseExists("hive") &&
        // anything else that OWNS the name wins: a user storage alias
        // `hive` or a registered v2 catalog must not be shadowed by a
        // session conf flipping the meaning of their existing queries
        AliasRegistry.storageAlias(spark, "hive").isEmpty &&
        spark.conf.getOption("spark.sql.catalog.hive").isEmpty) {
      val root = spark.conf.get(HiveMetastore.ConfKey)
      val (db, tbl) =
        if (parts.length == 2) ("default", parts(1)) else (parts(1), parts(2))
      Some(HiveMetastore.read(spark, root, db, tbl).queryExecution.analyzed)
    }
    else if (parts.length == 1 && !spark.catalog.tableExists(parts.head))
      // TABLE alias: the stored target is an identifier string —
      // re-enter resolution so aliases can point at dfs paths too
      AliasRegistry.tableAlias(spark, parts.head).map { target =>
        val tparts = delegate.parseMultipartIdentifier(target)
        if (tparts.length >= 2 && tparts.head.equalsIgnoreCase("dfs"))
          DfsSql.resolved(DfsSql.load(spark, tparts.tail))
        else spark.table(target).queryExecution.analyzed
      }.orElse {
        // after `USE dfs.ws`, a bare name resolves in that workspace
        // (Drill's session schema, ref planner/sql/handlers/
        // UseSchemaHandler.java) — claimed only when the path exists,
        // so unknown names keep Spark's normal error
        spark.conf.getOption("graft.dfs.defaultWorkspace").flatMap { ws =>
          // existence check and read are SEPARATE: a blanket Try around
          // both converted real reader errors (corrupt file, unknown
          // extension) into a misleading "table or view not found"
          val existing = scala.util.Try {
            val path = DfsSql.resolvePath(spark, Seq(ws, parts.head))
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            // a PERSISTED VIEW also claims its bare name: SHOW TABLES
            // lists `v` for ws/v.view.json, so `SELECT * FROM v` must
            // resolve it too (DfsSql.read handles the fallback)
            if (fs.exists(p) ||
                fs.exists(new org.apache.hadoop.fs.Path(path + ".view.json")))
              Some(path)
            else None
          }.toOption.flatten
          existing.map(path =>
            DfsSql.resolved(DfsSql.read(spark, path)))
        }
      }
    else if (parts.length >= 2 && !spark.catalog.databaseExists(parts.head))
      // STORAGE alias on the schema head
      AliasRegistry.storageAlias(spark, parts.head).map { real =>
        if (real.equalsIgnoreCase("dfs"))
          DfsSql.resolved(DfsSql.load(spark, parts.tail))
        else spark.table((real +: parts.tail).mkString("."))
          .queryExecution.analyzed
      }
    else None
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateFnJar(path) =>
      fnJarResult(graft.functions.DynamicUdfs.registerJar(SparkSession.active, path), "registered")
    case DropFnJar(path) =>
      fnJarResult(graft.functions.DynamicUdfs.dropJar(SparkSession.active, path), "dropped")
    case _ =>
      // session/maintenance commands (ALTER SESSION, ANALYZE TABLE,
      // REFRESH TABLE METADATA) — see SqlCommands
      SqlCommands.claim(sqlText, delegate.parseMultipartIdentifier)
        // DML over dfs transactional tables (DELETE/UPDATE/MERGE) — DmlSql
        .orElse(DmlSql.claim(sqlText, delegate.parseMultipartIdentifier))
        .getOrElse(rewrite(delegate.parsePlan(sqlText)))
  }
  override def parseQuery(sqlText: String): LogicalPlan =
    rewrite(delegate.parseQuery(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
