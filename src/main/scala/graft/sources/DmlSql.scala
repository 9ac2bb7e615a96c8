package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, expr}

/** SQL DML over dfs-pathed transactional tables, claimed by
  * [[DfsParser]] alongside [[SqlCommands]]:
  *
  *  - `DELETE FROM dfs.ws.t WHERE cond`
  *  - `UPDATE dfs.ws.t SET c = e, ... [WHERE cond]`
  *  - `MERGE INTO dfs.ws.t [AS] t USING src|(query) [AS] s ON cond
  *     [WHEN MATCHED [AND c] THEN UPDATE SET c=e,...|SET *]
  *     [WHEN MATCHED [AND c] THEN DELETE]
  *     [WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (es)|INSERT *]`
  *
  * Each verb routes to the target's native mutation shape: Delta
  * rewrites copy-on-write ([[DeltaDml]]), Iceberg writes position
  * deletes + appends merge-on-read ([[IcebergDml]],
  * [[IcebergTable.deleteFrom]]), Paimon PK tables write `-D`/`+U`
  * row-kind frames the LSM merge applies at read time ([[PaimonDml]]).
  *
  * Drill itself has no DML (it is read-mostly; ref
  * exec/.../planner/sql/DrillSqlWorker.java rejects these verbs) — this
  * is the lakehouse-era surface a Drill user moving to open table
  * formats expects, expressed over the same dfs namespace. Only
  * dfs-headed targets are claimed, so Spark's native grammar keeps
  * catalog tables. Clause text between keywords is passed to Spark's
  * own `expr` parser — the scanner below only finds TOP-LEVEL keyword
  * boundaries (quote/backtick/paren-aware), it never parses
  * expressions itself.
  */
object DmlSql {

  private val DeleteSql =
    """(?is)\s*DELETE\s+FROM\s+(dfs\b.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val TruncateSql =
    """(?is)\s*TRUNCATE\s+TABLE\s+(dfs\b.+?)\s*;?\s*""".r
  private val UpdateSql =
    """(?is)\s*UPDATE\s+(dfs\b.+?)\s+SET\s+(.+?)\s*;?\s*""".r
  private val MergeSql =
    """(?is)\s*MERGE\s+INTO\s+(dfs\b.+?)\s+USING\s+(.+?)\s*;?\s*""".r
  private val InsertSql =
    """(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+(dfs\b.+?)\s*;?\s*""".r
  private val VacuumSql =
    """(?is)\s*VACUUM\s+(dfs\b.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val RestoreSql =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?(dfs\b.+?)\s+TO\s+VERSION\s+""" +
      """AS\s+OF\s+(\d+)\s*;?\s*""").r
  private val OptimizeSql =
    """(?is)\s*OPTIMIZE\s+(dfs\b.+?)(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*""".r
  private val AddColumnsSql =
    ("""(?is)\s*ALTER\s+TABLE\s+(dfs\b.+?)\s+ADD\s+COLUMNS?\s*""" +
      """\(\s*(.+?)\s*\)\s*;?\s*""").r
  private val HistorySql =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+(dfs\b.+?)\s*;?\s*""".r

  /** True if [[claim]] would intercept `sqlText` — a side-effect-free
    * check (claim executes the command; EXPLAIN needs to know without
    * running anything). MUST mirror claim's guards exactly, INCLUDING
    * dfsClaimable: with a real catalog database named `dfs`, claim
    * delegates to Spark, and EXPLAIN must too. */
  def wouldClaim(sqlText: String): Boolean = dfsClaimable && (sqlText match {
    case DeleteSql(_, _) | TruncateSql(_) | UpdateSql(_, _) |
         MergeSql(_, _) | InsertSql(_, _) | VacuumSql(_, _) |
         RestoreSql(_, _) | OptimizeSql(_, _) | AddColumnsSql(_, _) |
         HistorySql(_) => true
    case _ => false
  })

  def claim(sqlText: String,
            parseIdent: String => Seq[String]): Option[LogicalPlan] =
    sqlText match {
      case DeleteSql(target, cond) if dfsClaimable =>
        Some(delete(target.trim,
          Option(cond).map(_.trim).getOrElse("true"), parseIdent))
      case TruncateSql(target) if dfsClaimable =>
        Some(delete(target.trim, "true", parseIdent))
      case UpdateSql(target, rest) if dfsClaimable =>
        Some(update(target.trim, rest.trim, parseIdent))
      case MergeSql(target, rest) if dfsClaimable =>
        Some(merge(target.trim, rest.trim, parseIdent))
      case InsertSql(verb, rest) if dfsClaimable =>
        Some(insert(rest.trim, parseIdent,
          overwrite = verb.equalsIgnoreCase("OVERWRITE")))
      case VacuumSql(target, hours) if dfsClaimable =>
        Some(vacuum(target.trim, Option(hours).map(_.toLong), parseIdent))
      case RestoreSql(target, ver) if dfsClaimable =>
        Some(restore(target.trim, ver.toLong, parseIdent))
      case OptimizeSql(target, zorderCols) if dfsClaimable =>
        Some(optimize(target.trim, parseIdent,
          Option(zorderCols).map(_.split(',').toSeq
            .map(_.trim.stripPrefix("`").stripSuffix("`"))).getOrElse(Nil)))
      case AddColumnsSql(target, colDefs) if dfsClaimable =>
        Some(addColumns(target.trim, colDefs.trim, parseIdent))
      case HistorySql(target) if dfsClaimable =>
        Some(history(target.trim, parseIdent))
      case _ => None
    }

  private def dfsClaimable: Boolean =
    !SparkSession.active.catalog.databaseExists("dfs")

  // ---- table-format routing -------------------------------------------

  private def tablePathOf(spark: SparkSession, target: String,
                          parseIdent: String => Seq[String]): String = {
    // every claim regex anchors the target on `dfs` — a quoted path
    // literal can never reach here (a dead branch for it implied
    // support the surface does not have)
    val parts = parseIdent(target.trim)
    require(parts.head.equalsIgnoreCase("dfs"), s"not a dfs target: $target")
    DfsSql.resolvePath(spark, parts.tail)
  }

  private sealed trait Format
  private case object DeltaT extends Format
  private case object IcebergT extends Format
  private case object PaimonT extends Format

  /** A `metadata/` subdirectory alone is not Iceberg — a plain parquet
    * layout may carry one; the discriminator is an actual
    * `v<N>.metadata.json` inside it (matches DfsSql.read's routing, so
    * SELECT and DML agree on what a directory is). */
  private[sources] def isIcebergDir(fs: org.apache.hadoop.fs.FileSystem,
                                    p: org.apache.hadoop.fs.Path): Boolean = {
    val md = new org.apache.hadoop.fs.Path(p, "metadata")
    fs.exists(md) && fs.listStatus(md).exists(
      _.getPath.getName.matches("v\\d+\\.metadata\\.json"))
  }

  private def formatOf(spark: SparkSession, path: String): Format = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(path, sub))
    if (has("_delta_log")) DeltaT
    else if (isIcebergDir(fs, p)) IcebergT
    else if (has("snapshot") && has("schema")) PaimonT
    else throw new IllegalArgumentException(
      s"DML requires a transactional table (Delta, Iceberg or Paimon), " +
        s"but [$path] is none of them — plain files are immutable; CTAS " +
        s"a lakehouse table first")
  }

  /** delta-spark posture: once a table carries deletion vectors (or the
    * session opts in via graft.delta.dv), DELETE and UPDATE write DVs —
    * O(touched positions) instead of a file rewrite; the copy-on-write
    * path refuses DV-bearing tables outright. `snap` is the snapshot the
    * statement then runs against, so the log is read once. */
  private def deltaUsesDv(spark: SparkSession,
                          snap: DeltaLogReader.Snapshot): Boolean =
    spark.conf.getOption("graft.delta.dv").exists(_.equalsIgnoreCase("true")) ||
      snap.files.exists(_.dv.nonEmpty)

  // ---- commands -------------------------------------------------------

  private def delete(target: String, cond: String,
                     parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    formatOf(spark, path) match {
      case DeltaT =>
        val snap = DeltaLogReader.snapshot(spark, path)
        if (deltaUsesDv(spark, snap)) {
          val (v, n) = DeltaDml.dvDml(spark, path, snap, expr(cond), None)
          result(s"$n rows deleted from $path (delta v$v, deletion vectors)")
        } else {
          val (v, n) = DeltaDml.delete(spark, path, snap, expr(cond))
          result(s"$n rows deleted from $path (delta v$v, copy-on-write)")
        }
      case IcebergT =>
        val snap = IcebergTable.deleteFrom(spark, path, expr(cond))
        result(s"position deletes committed to $path " +
          s"(iceberg snapshot $snap, merge-on-read)")
      case PaimonT =>
        val (snap, n) = PaimonDml.delete(spark, path, expr(cond))
        result(s"$n rows retracted from $path " +
          s"(paimon snapshot $snap, -D frames)")
    }
  }

  private def update(target: String, rest: String,
                     parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    // split "a = e1, b = e2 [WHERE cond]" at the top-level WHERE
    val whereAt = topLevelKeyword(rest, "WHERE")
    val (setPart, cond) = whereAt match {
      case Some(i) => (rest.substring(0, i).trim,
        rest.substring(i + 5).trim)
      case None => (rest.trim, "true")
    }
    val set = splitTopLevel(setPart, ',').map(parseAssignment).toMap
      .map { case (k, e) => k -> expr(e) }
    formatOf(spark, path) match {
      case DeltaT =>
        val snap = DeltaLogReader.snapshot(spark, path)
        if (deltaUsesDv(spark, snap)) {
          val (v, n) = DeltaDml.dvDml(spark, path, snap, expr(cond), Some(set))
          result(s"$n rows updated in $path (delta v$v, deletion vectors)")
        } else {
          val (v, n) = DeltaDml.update(spark, path, snap, expr(cond), set)
          result(s"$n rows updated in $path (delta v$v, copy-on-write)")
        }
      case IcebergT =>
        val (snap, n) = IcebergDml.update(spark, path, expr(cond), set)
        result(s"$n rows updated in $path " +
          s"(iceberg snapshot $snap, merge-on-read delete+append)")
      case PaimonT =>
        val (snap, n) = PaimonDml.update(spark, path, expr(cond), set)
        result(s"$n rows updated in $path (paimon snapshot $snap, +U frames)")
    }
  }

  private def merge(target: String, rest: String,
                    parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    // target chunk may carry an alias: `dfs.tmp.`/x`` [AS] t
    val (targetIdent, tAlias) = splitAlias(target)
    val path = tablePathOf(spark, targetIdent, parseIdent)
    val fmt = formatOf(spark, path)

    // source: (subquery) [AS] s   |   ident [AS] s   — then ON <cond>
    val (srcChunk, afterSrc) =
      if (rest.startsWith("(")) {
        val close = matchingParen(rest, 0)
        (rest.substring(0, close + 1), rest.substring(close + 1))
      } else {
        val onAt = topLevelKeyword(rest, "ON").getOrElse(
          throw new IllegalArgumentException("MERGE: missing ON"))
        (rest.substring(0, onAt).trim, rest.substring(onAt))
      }
    val onAt = topLevelKeyword(afterSrc, "ON").getOrElse(
      throw new IllegalArgumentException("MERGE: missing ON"))
    val aliasChunk = afterSrc.substring(0, onAt).trim
    val afterOn = afterSrc.substring(onAt + 2)
    val sAlias = {
      val a = aliasChunk.replaceAll("(?i)^AS\\s+", "").trim
      if (a.isEmpty) {
        if (srcChunk.startsWith("(")) throw new IllegalArgumentException(
          "MERGE: a subquery source needs an alias")
        // un-aliased named source: SQL scopes its columns under the
        // table's own name (`USING src ON src.id = ...`), so that name —
        // not a synthetic "s" — must become the DataFrame alias
        parseIdent(splitAlias(srcChunk)._1).last
      } else a
    }
    val source: DataFrame =
      if (srcChunk.startsWith("("))
        spark.sql(srcChunk.substring(1, srcChunk.length - 1))
      else {
        val parts = parseIdent(splitAlias(srcChunk) match {
          case (ident, al) =>
            // an inline alias on an ident source overrides the AS chunk
            ident
        })
        if (parts.head.equalsIgnoreCase("dfs") && dfsClaimable)
          DfsSql.load(spark, parts.tail)
        else spark.table(parts.mkString("."))
      }
    val srcAlias2 = if (!srcChunk.startsWith("(")) {
      val (_, al) = splitAlias(srcChunk)
      al.getOrElse(sAlias)
    } else sAlias

    // nextClauseWhen, NOT topLevelKeyword: an ON condition ending in a
    // top-level CASE WHEN expression must not be truncated at the
    // CASE's WHEN
    val whenAt = nextClauseWhen(afterOn).getOrElse(
      throw new IllegalArgumentException("MERGE: no WHEN clauses"))
    val onCond = afterOn.substring(0, whenAt).trim
    val clauses = splitClauses(afterOn.substring(whenAt))

    val MatchedUpd =
      """(?is)\s*MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*""".r
    val MatchedDel =
      """(?is)\s*MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*""".r
    val NotMatchedIns =
      ("""(?is)\s*NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?(?:AND\s+(.+?)\s+)?THEN\s+INSERT\s*""" +
        """(?:\*|\(\s*([^)]+?)\s*\)\s*VALUES\s*\((.+)\))\s*""").r
    val BySourceDel =
      """(?is)\s*NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*""".r
    val BySourceUpd =
      """(?is)\s*NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*""".r

    // the one Delta log read the statement makes: SET * / INSERT * take
    // the schema from it and the merge runs against it (a snapshot, not
    // read(): the schema needs no scan-plan construction, and read()
    // carries the fieldId session-conf side effect for id-mode tables)
    lazy val deltaSnap = DeltaLogReader.snapshot(spark, path)
    lazy val targetSchema = fmt match {
      case DeltaT   => deltaSnap.schema
      case IcebergT => IcebergTable.loadMeta(spark, path).schema
      case PaimonT  => PaimonTable.loadSchema(spark, path).schema
    }
    lazy val targetPrimaryKeys: Set[String] = fmt match {
      case PaimonT => PaimonTable.loadSchema(spark, path).primaryKeys.toSet
      case _ => Set.empty
    }
    def matchedCols(excludeKeys: Boolean): Map[String, String] = {
      // match source to target columns under the session's resolution
      // rules — exact-case matching silently drops columns when
      // spark.sql.caseSensitive is false (the default)
      val cs = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
      targetSchema.fieldNames.flatMap { c =>
        if (excludeKeys && targetPrimaryKeys.exists(k =>
            if (cs) k == c else k.equalsIgnoreCase(c))) None
        else {
          val m = if (cs) source.columns.find(_ == c)
                  else source.columns.find(_.equalsIgnoreCase(c))
          m.map(s => c -> s"$srcAlias2.`$s`")
        }
      }.toMap
    }
    // UPDATE SET * excludes the target's PRIMARY KEYS: a matched row's
    // key is unchanged by definition of the ON equality, and paimon's
    // merge refuses key assignments — without the exclusion the standard
    // upsert-by-star MERGE was unusable on every paimon PK table
    def updateAll: Map[String, String] = matchedCols(excludeKeys = true)
    def insertAll: Map[String, String] = matchedCols(excludeKeys = false)

    def condOf(c: String): Option[String] = Option(c).map(_.trim)
    val mc = clauses.foldLeft(MergeClauses()) {
      case (mc, BySourceDel(cond)) =>
        require(mc.bySourceDelete.isEmpty,
          "MERGE: duplicate NOT MATCHED BY SOURCE DELETE clause")
        mc.copy(bySourceDelete = condOf(cond).orElse(Some("true")))
      case (mc, BySourceUpd(cond, sets)) =>
        require(mc.bySourceUpdate.isEmpty,
          "MERGE: duplicate NOT MATCHED BY SOURCE UPDATE clause")
        mc.copy(bySourceUpdateCond = condOf(cond), bySourceUpdate = Some(
          splitTopLevel(sets, ',').map(parseAssignment).toMap))
      case (mc, MatchedDel(cond)) =>
        require(mc.matchedDelete.isEmpty, "MERGE: duplicate DELETE clause")
        mc.copy(matchedDelete = condOf(cond).orElse(Some("true")))
      case (mc, MatchedUpd(cond, sets)) =>
        require(mc.matchedUpdate.isEmpty, "MERGE: duplicate UPDATE clause")
        mc.copy(matchedUpdateCond = condOf(cond), matchedUpdate = Some(
          if (sets.trim == "*") updateAll
          else splitTopLevel(sets, ',').map(parseAssignment).toMap))
      case (mc, NotMatchedIns(cond, cols, vals)) =>
        require(mc.notMatchedInsert.isEmpty, "MERGE: duplicate INSERT clause")
        mc.copy(notMatchedInsertCond = condOf(cond), notMatchedInsert = Some(
          if (cols == null) insertAll
          else {
            val cs = splitTopLevel(cols, ',').map(
              _.trim.stripPrefix("`").stripSuffix("`"))
            val vs = splitTopLevel(vals, ',').map(_.trim)
            require(cs.length == vs.length,
              s"MERGE INSERT: ${cs.length} columns but ${vs.length} values")
            cs.zip(vs).toMap
          }))
      case (_, other) => throw new IllegalArgumentException(
        s"MERGE: unsupported clause: WHEN $other")
    }

    val t = tAlias.getOrElse("t")
    val stats = fmt match {
      case DeltaT   =>
        DeltaDml.merge(spark, path, deltaSnap, source, onCond, mc, t, srcAlias2)
      case IcebergT => IcebergDml.merge(spark, path, source, onCond, mc, t, srcAlias2)
      case PaimonT  => PaimonDml.merge(spark, path, source, onCond, mc, t, srcAlias2)
    }
    val fmtName = fmt match {
      case DeltaT => "delta v"; case IcebergT => "iceberg snapshot "
      case PaimonT => "paimon snapshot "
    }
    result(s"merge into $path: ${stats.updated} updated, " +
      s"${stats.deleted} deleted, ${stats.inserted} inserted " +
      s"($fmtName${stats.version})")
  }

  /** `INSERT INTO dfs[.ws].`t` [(c1, ...)] SELECT ...|VALUES ...` —
    * appends through the target's native commit: a Delta/Iceberg/Paimon
    * table gets a new snapshot (a Paimon PK table upserts `+I` frames);
    * a plain CTAS directory (parquet/orc/json/csv) gets new data files.
    * Query output maps POSITIONALLY onto the column list (default: the
    * full target schema in order); unlisted columns insert NULL; values
    * cast implicitly to the target types. */
  private def insert(rest: String,
                     parseIdent: String => Seq[String],
                     overwrite: Boolean = false): LogicalPlan = {
    val spark = SparkSession.active
    // split "<target> [(cols)] <query>" at the first top-level query head
    val qAt = Seq("SELECT", "VALUES", "WITH", "TABLE", "FROM")
      .flatMap(kw => topLevelKeyword(rest, kw)).minOption.getOrElse(
        throw new IllegalArgumentException(
          "INSERT INTO: missing SELECT/VALUES query"))
    val before = rest.substring(0, qAt).trim
    val query = rest.substring(qAt).trim
    val (target, colList) =
      if (before.endsWith(")")) {
        val open = before.indexOf('(')
        require(open > 0, s"INSERT INTO: bad column list in '$before'")
        (before.substring(0, open).trim,
          Some(splitTopLevel(before.substring(open + 1, before.length - 1), ',')
            .map(_.trim.stripPrefix("`").stripSuffix("`"))))
      } else (before, None)

    val path = tablePathOf(spark, target, parseIdent)
    val df = spark.sql(query)

    // target schema + the format's append, resolved by directory layout;
    // plain directories sniff the data-file extension like DfsSql.read
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"INSERT INTO: no such table [$path] — CREATE TABLE first")
    def has(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(path, sub))
    val mode =
      if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
      else org.apache.spark.sql.SaveMode.Append
    val (schema, append): (org.apache.spark.sql.types.StructType,
        DataFrame => String) =
      if (has("_delta_log")) {
        // one log read: the schema and the commit come from one snapshot
        val snap = DeltaLogReader.snapshot(spark, path)
        (snap.schema, d => {
          val v = DeltaLogWriter.write(d, path, mode, None, Some(snap))
          s"delta v$v"
        })
      }
      else if (isIcebergDir(fs, p)) {
        val meta = IcebergTable.loadMeta(spark, path)
        (meta.schema, d => {
          // the table's OWN partition spec: write() requires the spec to
          // match, so an insert into any partitioned iceberg table
          // failed outright without it
          val snap = IcebergTable.write(d, path, mode,
            partitionBy = meta.partCols)
          s"iceberg snapshot $snap"
        })
      }
      else if (has("snapshot") && has("schema")) {
        val sch = PaimonTable.loadSchema(spark, path)
        (sch.schema, d => {
          val snap =
            if (sch.primaryKeys.nonEmpty) {
              require(!overwrite, "INSERT OVERWRITE a paimon PK table " +
                s"is not supported ($path) — upserts replace by key; " +
                "DELETE then INSERT for a full replace")
              PaimonTable.writePk(d, path, sch.primaryKeys)
            } else PaimonTable.write(d, path, mode)
          s"paimon snapshot $snap"
        })
      } else {
        val existing = DfsSql.read(spark, path)
        // hive-partitioned CTAS output: a chain of key=value directory
        // levels — the append must re-partition by those columns, or the
        // new part files land flat at the base and brick the layout
        def hivePartCols(d: org.apache.hadoop.fs.Path): Seq[String] = {
          val subs = fs.listStatus(d).filter(_.isDirectory)
            .map(_.getPath).filter(_.getName.contains("="))
          subs.headOption.map(sub =>
            sub.getName.split("=", 2)(0) +: hivePartCols(sub)).getOrElse(Nil)
        }
        val partitionCols = hivePartCols(p)
        val fmt = {
          // sniff the data-file extension at the LEAF level (a
          // partitioned dir holds only key=value subdirs at the top)
          def firstExt(d: org.apache.hadoop.fs.Path, depth: Int): Option[String] = {
            val entries = fs.listStatus(d).toSeq
              .filter(s => !s.getPath.getName.startsWith("_") &&
                           !s.getPath.getName.startsWith("."))
            entries.filter(_.isFile).flatMap { s =>
              val n = s.getPath.getName
              n.lastIndexOf('.') match {
                case -1 => None
                case i  => Some(n.substring(i + 1).toLowerCase)
              }
            }.headOption.orElse {
              if (depth == 0) None
              else entries.filter(_.isDirectory).view
                .flatMap(s => firstExt(s.getPath, depth - 1)).headOption
            }
          }
          firstExt(p, depth = 8).getOrElse("parquet") match {
            case e @ ("parquet" | "orc" | "json" | "csv") => e
            case other => throw new IllegalArgumentException(
              s"INSERT INTO a plain '$other' directory is not supported " +
                s"($path) — parquet/orc/json/csv, or a lakehouse table")
          }
        }
        (existing.schema, d => {
          def writer(dd: org.apache.spark.sql.DataFrame, mode: String) = {
            val w0 = dd.write.format(fmt).mode(mode)
            val w1 = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*)
                     else w0
            if (fmt == "csv") w1.option("header", "true") else w1
          }
          if (overwrite) {
            // stage-and-swap, never write-in-place: Spark's overwrite
            // deletes the target BEFORE writing, so INSERT OVERWRITE d
            // SELECT ... FROM d recomputing a lost cached block mid-write
            // would read already-deleted files (table destroyed). The
            // source files stay live until the staging write completes;
            // the delete+rename window is metadata-scale.
            val tmp = new org.apache.hadoop.fs.Path(
              p.getParent, p.getName + ".__overwrite_tmp")
            fs.delete(tmp, true)
            writer(d, "overwrite").save(tmp.toString)
            fs.delete(p, true)
            require(fs.rename(tmp, p),
              s"INSERT OVERWRITE: staging swap failed ($tmp -> $p); the " +
                s"new data is intact at $tmp")
          } else writer(d, "append").save(path)
          val layout = if (partitionCols.nonEmpty)
            s" (partitioned by ${partitionCols.mkString(", ")})" else ""
          if (overwrite) s"$fmt directory overwritten$layout"
          else s"$fmt files appended$layout"
        })
      }

    // column-list resolution is CASE-INSENSITIVE like Spark's default
    // (and like merge's updateAll) — exact-case matching rejected valid
    // statements such as INSERT INTO t (ID, Name) against (id, name)
    val byLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val cols = colList.getOrElse(schema.fieldNames.toSeq)
    require(cols.map(_.toLowerCase).distinct.length == cols.length,
      s"INSERT INTO: duplicate column in (${cols.mkString(", ")})")
    val bad = cols.filterNot(c => byLower.contains(c.toLowerCase))
    require(bad.isEmpty,
      s"INSERT INTO: unknown column(s) ${bad.mkString(", ")}")
    require(df.columns.length == cols.length,
      s"INSERT INTO: ${cols.length} columns but query returns " +
        s"${df.columns.length}")
    // positional mapping through UNIQUE temp names: a query returning
    // duplicate column names (SELECT id, id ...) is valid positional
    // SQL, but name-based col(src) threw AMBIGUOUS_REFERENCE
    val tmpNames = df.columns.indices.map(i => s"__ins_src_$i")
    val dfT = df.toDF(tmpNames: _*)
    val srcByTarget = cols.map(c => byLower(c.toLowerCase)).zip(tmpNames.map(col)).toMap
    val aligned = dfT.select(DmlClauses.assign(schema, Seq(None -> srcByTarget),
      f => org.apache.spark.sql.functions.lit(null).cast(f.dataType)): _*)
    // persist: count + write are two jobs over the same (possibly
    // non-deterministic) query — without it the reported count could
    // differ from the rows actually written
    val cached = aligned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      val where = append(cached)
      result(s"$n rows inserted into $path ($where)")
    } finally cached.unpersist() // a failing append must not leak the cache
  }

  /** `VACUUM dfs.ws.`t` [RETAIN n HOURS]` — Delta physical cleanup
    * ([[DeltaDml.vacuum]]); Iceberg/Paimon point at their own
    * expiration procedures instead (different reclamation model:
    * snapshot reachability, not version-set membership). */
  private def vacuum(target: String, retainHours: Option[Long],
                     parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    formatOf(spark, path) match {
      case DeltaT =>
        val retainMs = retainHours.map(_ * 3600 * 1000L)
          .getOrElse(7L * 24 * 3600 * 1000)
        val n = DeltaDml.vacuum(spark, path, retainMs)
        result(s"$n files deleted from $path")
      case IcebergT => throw new IllegalArgumentException(
        s"VACUUM targets Delta tables; for Iceberg use expire_snapshots " +
          s"([$path])")
      case PaimonT => throw new IllegalArgumentException(
        s"VACUUM targets Delta tables; for Paimon use snapshot " +
          s"expiration ([$path])")
    }
  }

  /** `RESTORE [TABLE] dfs.ws.`t` TO VERSION AS OF n` — each format's
    * own un-do: Delta commits a file-set flip-back ([[DeltaDml
    * .restore]], history stays travelable), Iceberg re-points
    * current-snapshot-id ([[IcebergTable.rollbackTo]], abandoned
    * snapshots stay travelable until expiration), Paimon drops the
    * later snapshots ([[PaimonTable.rollbackTo]], its procedure's
    * semantics). */
  private def restore(target: String, toVersion: Long,
                      parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    formatOf(spark, path) match {
      case DeltaT =>
        val (v, added, removed) = DeltaDml.restore(spark, path, toVersion)
        result(s"restored $path to version $toVersion as v$v " +
          s"($added files added back, $removed removed)")
      case IcebergT =>
        val mv = IcebergTable.rollbackTo(spark, path, toVersion)
        result(s"restored $path: snapshot $toVersion is current again " +
          s"(iceberg metadata v$mv, rollback_to_snapshot)")
      case PaimonT =>
        val snap = PaimonTable.rollbackTo(spark, path, toVersion)
        result(s"restored $path to snapshot $snap " +
          s"(paimon rollback, later snapshots dropped)")
    }
  }

  /** `OPTIMIZE dfs.ws.`t` [ZORDER BY (cols)]` — one verb for the
    * maintenance triad: Delta bin-packing OPTIMIZE, Iceberg
    * rewrite_data_files, Paimon full compaction (each the format's own
    * compaction shape). The ZORDER clause (Delta targets) makes the
    * rewrite a clustering pass: all live files re-laid along the Morton
    * curve of the named columns, so later scans skip files from footer
    * min/max on ANY of them (graft.operators.ZOrder). */
  private def optimize(target: String,
                       parseIdent: String => Seq[String],
                       zorderBy: Seq[String] = Nil): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    val fmt = formatOf(spark, path)
    if (zorderBy.nonEmpty) require(fmt != PaimonT,
      s"ZORDER BY is supported on Delta and Iceberg targets only " +
        s"(paimon's LSM buckets own the layout): $path")
    fmt match {
      case DeltaT =>
        val (v, merged, produced) =
          DeltaLogWriter.optimize(spark, path, zorderBy = zorderBy)
        result(s"optimized $path: $merged files compacted into $produced " +
          (if (zorderBy.nonEmpty) s"z-ordered by (${zorderBy.mkString(", ")}) "
           else "") + s"(delta v$v)")
      case IcebergT =>
        val snap = IcebergTable.rewriteDataFiles(spark, path, zorderBy = zorderBy)
        result(s"optimized $path (iceberg rewrite_data_files" +
          (if (zorderBy.nonEmpty) s", z-ordered by (${zorderBy.mkString(", ")})"
           else "") + s", snapshot $snap)")
      case PaimonT =>
        val snap = PaimonTable.compact(spark, path)
        result(s"optimized $path (paimon full compaction, snapshot $snap)")
    }
  }

  /** `ALTER TABLE dfs.ws.`t` ADD COLUMNS (c1 TYPE, ...)` — metadata-only
    * schema evolution in each format's native shape; new columns are
    * nullable and null-fill over existing files. */
  private def addColumns(target: String, colDefs: String,
                         parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    val path = tablePathOf(spark, target, parseIdent)
    val cols = org.apache.spark.sql.types.StructType.fromDDL(colDefs)
    require(cols.nonEmpty, "ADD COLUMNS: empty column list")
    formatOf(spark, path) match {
      case DeltaT =>
        val v = DeltaDml.addColumns(spark, path, cols)
        result(s"${cols.size} columns added to $path (delta v$v)")
      case IcebergT =>
        val mv = IcebergTable.addColumns(spark, path, cols)
        result(s"${cols.size} columns added to $path (iceberg metadata v$mv)")
      case PaimonT =>
        val sid = PaimonTable.addColumns(spark, path, cols)
        result(s"${cols.size} columns added to $path (paimon schema-$sid)")
    }
  }

  /** `DESCRIBE HISTORY dfs.ws.`t`` — the commit log as a relation
    * (version, timestamp, operation), whatever the format calls its
    * versions: Delta commit versions, Iceberg snapshots (its #history
    * metadata-table content), Paimon snapshots. */
  private def history(target: String,
                      parseIdent: String => Seq[String]): LogicalPlan = {
    val spark = SparkSession.active
    import spark.implicits._
    val path = tablePathOf(spark, target, parseIdent)
    val df = formatOf(spark, path) match {
      case DeltaT =>
        val logDir = new org.apache.hadoop.fs.Path(path, "_delta_log")
        val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        fs.listStatus(logDir).toSeq
          .filter(_.getPath.getName.matches("\\d{20}\\.json"))
          .map { s =>
            // the commitInfo action names the operation (DML writes it;
            // plain writes predate it and read as "commit")
            val op = {
              val in = fs.open(s.getPath)
              val lines = try scala.io.Source
                .fromInputStream(in, "UTF-8").getLines().toList
              finally in.close()
              lines.filter(_.trim.nonEmpty).map(mapper.readTree)
                .find(_.has("commitInfo"))
                .flatMap(n => Option(n.get("commitInfo").get("operation"))
                  .map(_.asText))
                .getOrElse("commit")
            }
            (s.getPath.getName.stripSuffix(".json").toLong,
              new java.sql.Timestamp(s.getModificationTime), op)
          }
          .sortBy(_._1)
          .toDF("version", "timestamp", "operation")
      case IcebergT =>
        IcebergTable.metadataTable(spark, path, "history")
      case PaimonT =>
        PaimonTable.snapshots(spark, path)
          .map(s => (s.id, new java.sql.Timestamp(s.timeMillis),
            s.commitKind, s.commitUser))
          .toDF("version", "timestamp", "operation", "commit_user")
    }
    df.queryExecution.analyzed
  }

  // ---- scanner utilities ----------------------------------------------

  /** Index of top-level keyword `kw` (word-bounded, outside quotes /
    * backticks / parens), or None. */
  private[sources] def topLevelKeyword(s: String, kw: String): Option[Int] = {
    var depth = 0; var inQ = false; var inB = false; var inD = false
    var i = 0
    val n = s.length
    val k = kw.length
    while (i < n) {
      val c = s.charAt(i)
      // backslash escapes inside string literals (Spark default:
      // escapedStringLiterals=false, so \' and \" are escapes): skip
      // the escaped char or the literal's end desynchronizes the scan
      if (inQ) { if (c == '\\') i += 1 else if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else if (inD) { if (c == '\\') i += 1 else if (c == '"') inD = false }
      else c match {
        case '\'' => inQ = true
        case '`' => inB = true
        case '"' => inD = true // double-quoted string literal (default parser)
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && i + k <= n &&
              s.regionMatches(true, i, kw, 0, k) &&
              (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
              (i + k == n || !Character.isLetterOrDigit(s.charAt(i + k)))
              && s.charAt(math.max(i - 1, 0)) != '_' &&
              (i + k == n || s.charAt(i + k) != '_'))
            return Some(i)
      }
      i += 1
    }
    None
  }

  /** Split on top-level `sep` (outside quotes/backticks/parens). */
  private[sources] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var inQ = false; var inB = false; var inD = false
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash escapes inside string literals (Spark default:
      // escapedStringLiterals=false, so \' and \" are escapes): skip
      // the escaped char or the literal's end desynchronizes the scan
      if (inQ) { if (c == '\\') i += 1 else if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else if (inD) { if (c == '\\') i += 1 else if (c == '"') inD = false }
      else c match {
        case '\'' => inQ = true
        case '`' => inB = true
        case '"' => inD = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == sep && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the next top-level clause WHEN — like
    * [[topLevelKeyword]]("WHEN") but ALSO excludes WHENs inside a
    * CASE ... END expression (SET x = CASE WHEN ... END is common in
    * MERGE clauses and must not start a new clause). */
  private def nextClauseWhen(s: String): Option[Int] = {
    var depth = 0; var caseDepth = 0
    var inQ = false; var inB = false; var inD = false
    var i = 0
    val n = s.length
    def isWord(at: Int, w: String): Boolean =
      at + w.length <= n && s.regionMatches(true, at, w, 0, w.length) &&
        (at == 0 || (!Character.isLetterOrDigit(s.charAt(at - 1)) &&
          s.charAt(at - 1) != '_')) &&
        (at + w.length == n ||
          (!Character.isLetterOrDigit(s.charAt(at + w.length)) &&
            s.charAt(at + w.length) != '_'))
    while (i < n) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '\\') i += 2 else { if (c == '\'') inQ = false; i += 1 }
      }
      else if (inB) { if (c == '`') inB = false; i += 1 }
      else if (inD) {
        if (c == '\\') i += 2 else { if (c == '"') inD = false; i += 1 }
      }
      else c match {
        case '\'' => inQ = true; i += 1
        case '`' => inB = true; i += 1
        case '"' => inD = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && isWord(i, "CASE")) { caseDepth += 1; i += 4 }
          else if (depth == 0 && caseDepth > 0 && isWord(i, "END")) {
            caseDepth -= 1; i += 3
          }
          else if (depth == 0 && caseDepth == 0 && isWord(i, "WHEN"))
            return Some(i)
          else i += 1
      }
    }
    None
  }

  /** Split "WHEN a WHEN b ..." into clause bodies (the text after each
    * top-level WHEN). */
  private def splitClauses(s: String): Seq[String] = {
    var rest = s
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (rest.nonEmpty) {
      val t = rest.replaceAll("(?is)^\\s*WHEN\\b", "")
      nextClauseWhen(t) match {
        case Some(i) => out += t.substring(0, i); rest = t.substring(i)
        case None => out += t; rest = ""
      }
    }
    out.toSeq
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var inQ = false; var inB = false; var inD = false
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash escapes inside string literals (Spark default:
      // escapedStringLiterals=false, so \' and \" are escapes): skip
      // the escaped char or the literal's end desynchronizes the scan
      if (inQ) { if (c == '\\') i += 1 else if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else if (inD) { if (c == '\\') i += 1 else if (c == '"') inD = false } // "..." literal, like the
      else c match {                              // sibling scanners
        case '\'' => inQ = true
        case '`' => inB = true
        case '"' => inD = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException("MERGE: unbalanced parentheses")
  }

  /** "ident [AS] alias" -> (ident, Some(alias)); a trailing bare word is
    * an alias only when separated by whitespace from a complete
    * identifier (never splits `dfs.ws.name`). */
  private def splitAlias(chunk: String): (String, Option[String]) = {
    val t = chunk.trim
    val m = """(?is)^(.*?)\s+(?:AS\s+)?([A-Za-z_]\w*)$""".r
    t match {
      case m(base, alias)
        if !base.trim.endsWith(".") && base.trim.nonEmpty &&
           !alias.equalsIgnoreCase("AS") => (base.trim, Some(alias))
      case _ => (t, None)
    }
  }

  private def parseAssignment(a: String): (String, String) = {
    val eq = a.indexOf('=')
    require(eq > 0, s"bad assignment: $a")
    val raw = a.substring(0, eq).trim
    // a backtick-quoted segment is ONE identifier (it may contain dots:
    // `a.b` is a column literally named a.b) — only an UNQUOTED
    // qualifier `t.c = e` strips to the column c
    val bare =
      if (raw.endsWith("`")) {
        val open = raw.lastIndexOf('`', raw.length - 2)
        require(open >= 0, s"bad assignment: $a")
        raw.substring(open + 1, raw.length - 1)
      } else raw.substring(raw.lastIndexOf('.') + 1)
    (bare, a.substring(eq + 1).trim)
  }

  private def result(summary: String): LogicalPlan = {
    val spark = SparkSession.active
    import spark.implicits._
    Seq((true, summary)).toDF("ok", "summary").queryExecution.analyzed
  }
}
