package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.DeltaLogReader.Snapshot
import graft.sources.DmlClauses.{assign, nullIsFalse, validateSet}

/** Batch DML on a Delta table — DELETE / UPDATE / MERGE as COPY-ON-WRITE
  * commits, the delta-spark semantics re-expressed Spark-first (reference
  * surface: Drill reads Delta, contrib/format-deltalake; the DML contract
  * itself is delta PROTOCOL.md commit semantics — data files are
  * immutable, a change is remove(old)+add(rewritten) in one atomic
  * commit).
  *
  * The 100 TB shape: every pass is FILE-PRUNED. A first distributed scan
  * finds only the files that contain at least one affected row (for
  * MERGE, a join against the source on the ON condition); only those
  * files are re-read and rewritten — a DELETE touching 3 files of 30 000
  * scans the table once for the match (with the predicate pushed down)
  * and rewrites 3 files. Untouched files carry over by reference in the
  * log. The driver handles file LISTS (KB-scale metadata); rows never
  * leave executors.
  *
  * Refusals match [[DeltaLogWriter.optimize]]: partitioned tables
  * (partition values live only in the log; a naive rewrite drops them),
  * deletion vectors (a rewrite must materialize them first), column
  * mapping (rewritten files would need physical-name headers).
  */
object DeltaDml {

  private val PhysKey = "delta.columnMapping.physicalName"

  // add.path is percent-ENCODED in the log (PROTOCOL.md): decode before
  // touching the filesystem; log actions keep the encoded rel path
  private def absolute(tablePath: String, p: String): String =
    DeltaLogReader.decodedAbsolute(tablePath, p)

  /** The copy-on-write DML refusals applied to `snap`; returns its live
    * files as relPath -> absolute path. */
  private def dmlFiles(tablePath: String, snap: Snapshot,
                       removesRows: Boolean = true): Seq[(String, String)] = {
    require(snap.partCols.isEmpty,
      s"DML on partitioned Delta table not supported: $tablePath " +
        "(partition values live only in the log; a rewrite would drop them)")
    require(snap.files.forall(_.dv.isEmpty),
      s"DML over deletion vectors not supported: $tablePath " +
        "(the rewrite would need to materialize the DVs first)")
    require(snap.schema.fields.forall(f => !f.metadata.contains(PhysKey)),
      s"DML on column-mapped Delta table not supported: $tablePath")
    writerGate(tablePath, snap, removesRows)
    snap.files.map(f => f.path -> absolute(tablePath, f.path))
  }

  /** Distinct live files holding at least one row of `hits` — the
    * pruning scan. `hits` must carry a `__g_file` column (normalized
    * absolute path, from [[fileCol]] on the TARGET scan — `_metadata.
    * file_path` binds to its own relation, so plans that also join a
    * second file source stay unambiguous, unlike `input_file_name()`).
    * Returns relative log paths. */
  private def affectedOf(hits: DataFrame,
                         files: Seq[(String, String)]): Seq[String] = {
    val byKey = files.map { case (rel, abs) => DeletedRows.key(abs) -> rel }.toMap
    hits.select(col("__g_file"))
      .distinct().collect().map(r => byKey(r.getString(0))).toSeq
  }

  private def fileCol: Column = DeletedRows.keyCol(col("_metadata.file_path"))

  /** Stage `df` as parquet parts and move them into the table root as
    * add actions (UUID-unique names, delta-spark's convention — shared
    * by [[DeltaLogWriter]] and every COW rewrite). */
  private[sources] def stageAdds(df: DataFrame, tablePath: String,
                                 dataChange: Boolean): Seq[String] =
    StagedFiles.stage(df, tablePath)((_, u) =>
      Some(new Path(tablePath, s"part-$u.parquet"))).map(f =>
      s"""{"add":{"path":"${f.path.getName}","partitionValues":{},"size":${f.size},"modificationTime":0,"dataChange":$dataChange}}""")

  /** PROTOCOL.md writer-version rules — the write-side twin of the
    * reader's checkProtocol: a writer MUST refuse tables whose protocol
    * or metadata demand capabilities it does not honor, instead of
    * committing changes that violate the table's declared contract
    * (delta-spark refuses the same way). `removesRows` = false for pure
    * appends and dataChange=false maintenance, which append-only tables
    * accept. */
  private[sources] def writerGate(tablePath: String, snap: Snapshot,
                                  removesRows: Boolean): Unit = {
    val (pw, conf) = (snap.minWriter, snap.configuration)
    require(pw <= 7,
      s"Delta table $tablePath requires minWriterVersion $pw; this " +
        "writer implements protocol versions 1-7")
    // features we honor (appendOnly/invariants/checkConstraints/
    // generatedColumns/identityColumns via the metadata checks below,
    // changeDataFeed via cdc emission, deletionVectors/columnMapping/
    // timestampNtz/v2Checkpoint/vacuumProtocolCheck structurally);
    // anything else (rowTracking, domainMetadata, icebergCompat*, ...)
    // obliges writers to maintain state this code does not
    val supported = Set("appendOnly", "invariants", "checkConstraints",
      "changeDataFeed", "generatedColumns", "columnMapping",
      "identityColumns", "deletionVectors", "timestampNtz",
      "v2Checkpoint", "vacuumProtocolCheck")
    val unsupported = snap.writerFeatures -- supported
    require(unsupported.isEmpty,
      s"Delta table $tablePath requires writer features " +
        s"${unsupported.toSeq.sorted.mkString("[", ", ", "]")} this " +
        "writer does not implement — committing anyway could violate " +
        "the table's contract")
    if (removesRows)
      require(!conf.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")),
        s"Delta table $tablePath is append-only (delta.appendOnly=true): " +
          "a commit that removes or rewrites rows would violate it")
    val constraints = conf.keys.filter(_.startsWith("delta.constraints."))
    require(constraints.isEmpty,
      s"Delta table $tablePath declares CHECK constraints " +
        s"${constraints.toSeq.sorted.mkString(", ")} this writer does " +
        "not evaluate — an invalid row would commit unchecked")
    snap.schema.fields.foreach { f =>
      require(!f.metadata.contains("delta.invariants"),
        s"Delta table $tablePath: column '${f.name}' declares an " +
          "invariant this writer does not evaluate")
      require(!f.metadata.contains("delta.generationExpression"),
        s"Delta table $tablePath: column '${f.name}' is a generated " +
          "column this writer does not compute")
      require(!f.metadata.contains("delta.identity.start"),
        s"Delta table $tablePath: column '${f.name}' is an identity " +
          "column this writer does not assign")
    }
  }

  /** The add action's deletionVector descriptor fragment ("" for none). */
  private[sources] def dvJson(dv: Option[DeletionVectors.DvDescriptor]): String =
    dv.map(d =>
      s""","deletionVector":{"storageType":"${d.storageType}",""" +
        s""""pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")

  /** remove actions carry the removed file's CURRENT deletionVector
    * descriptor: PROTOCOL.md keys logical-file identity on
    * (path, dvUniqueId), so a remove without the DV would leave the old
    * (path, dv) pair alive in a spec-keyed replay. */
  private[sources] def removeActions(rels: Seq[String],
      dvOf: String => Option[DeletionVectors.DvDescriptor] = _ => None,
      dataChange: Boolean = true): Seq[String] =
    rels.map(p =>
      s"""{"remove":{"path":"$p","deletionTimestamp":0,"dataChange":$dataChange${dvJson(dvOf(p))}}}""")

  /** commitInfo action (PROTOCOL.md: informational, replay ignores it)
    * — what DESCRIBE HISTORY surfaces as the operation name. */
  private def ci(op: String): String =
    s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"operation":"$op","engineInfo":"graft"}}"""

  /** Change Data Feed emission from DML, on when the session sets
    * `graft.delta.cdf = true` (delta-spark's
    * `delta.enableChangeDataFeed` posture — off by default because the
    * cdc write costs storage). Without cdc files a COW commit's CDF
    * DERIVES from add/remove and over-reports: every row of a rewritten
    * file shows as delete+insert. With them, [[DeltaLogReader
    * .readChanges]] serves the exact row-level changes. */
  private def cdfEnabled(spark: SparkSession,
                         tableConf: Map[String, String]): Boolean =
    spark.conf.getOption("graft.delta.cdf").exists(_.equalsIgnoreCase("true")) ||
      // the TABLE-level flag (delta.enableChangeDataFeed=true) obliges
      // every writer to emit cdc files — delta-spark readers of such a
      // table assume exact row-level changes, so honoring only the
      // session flag would silently degrade their CDF to derived form
      tableConf.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))

  /** Stage `df` (schema + `_change_type`) as cdc parquet under
    * `_change_data/` and return the cdc actions (dataChange=false —
    * cdc files never join the live data set). */
  private def stageCdc(df: DataFrame, tablePath: String): Seq[String] =
    StagedFiles.stage(df, tablePath)((_, u) =>
      Some(new Path(tablePath, s"_change_data/cdc-$u.parquet"))).map(f =>
      s"""{"cdc":{"path":"_change_data/${f.path.getName}","partitionValues":{},"size":${f.size},"dataChange":false}}""")

  private def typed(df: DataFrame, kind: String): DataFrame =
    df.withColumn("_change_type", lit(kind))

  /** DELETE FROM: drop rows where `condition` is TRUE (null/false rows
    * stay — the SQL three-valued contract). Only files containing a
    * match are rewritten; no match is a metadata no-op. Returns
    * (committed version, rows deleted). */
  def delete(spark: SparkSession, tablePath: String,
             condition: Column): (Long, Long) =
    delete(spark, tablePath, DeltaLogReader.snapshot(spark, tablePath), condition)

  /** [[delete]] against the snapshot the caller already read. */
  private[sources] def delete(spark: SparkSession, tablePath: String,
                              snap: Snapshot, condition: Column): (Long, Long) = {
    val files = dmlFiles(tablePath, snap)
    val (schema, current) = (snap.schema, snap.version)
    if (files.isEmpty) return (current, 0L)
    val scan = spark.read.schema(schema).parquet(files.map(_._2): _*)
    val affected = affectedOf(
      scan.filter(condition).select(fileCol.as("__g_file")), files)
    if (affected.isEmpty) return (current, 0L)

    // persisted like update()/dvDml: the affected-file scan feeds the
    // count, the keeper rewrite, and (with CDF) the delete images —
    // up to three rescans (and three condition evaluations) otherwise
    val aff = spark.read.schema(schema)
      .parquet(affected.map(absolute(tablePath, _)): _*).persist()
    try { // finally-unpersist: a stage/commit failure must not leak the cache
      val hit = nullIsFalse(condition)
      val deleted = aff.filter(hit).count()
      val version = current + 1
      val adds = stageAdds(aff.filter(!hit), tablePath,
        dataChange = true)
      val cdc =
        if (cdfEnabled(spark, snap.configuration))
          stageCdc(typed(aff.filter(hit), "delete"), tablePath)
        else Nil
      DeltaLogReader.writeCommit(spark, tablePath, version,
        ci("DELETE") +: (removeActions(affected) ++ adds ++ cdc))
      (version, deleted)
    } finally aff.unpersist()
  }

  /** DELETE FROM writing DELETION VECTORS instead of rewriting files —
    * delta-spark's default delete shape once the table enables the
    * feature: each affected file is re-added UNCHANGED with a
    * `deletionVector` descriptor naming its dead positions, so write
    * cost is O(deleted positions), not O(affected file bytes) — on a
    * wide file with three matching rows, COW rewrites the file, this
    * writes ~a dozen bitmap bytes.
    *
    * Spec shape (PROTOCOL.md §Deletion Vectors + §Writer Requirements):
    *  - the new DV for a file MERGES the file's existing DV (replacement
    *    vectors must carry all previously deleted positions);
    *  - rows already dead under an existing DV neither re-count nor
    *    re-emit CDF;
    *  - the commit re-adds the data file with the new descriptor and
    *    removes the old add, under a protocol action declaring
    *    readerVersion 3 / writerVersion 7 with the deletionVectors
    *    feature.
    *
    * Distribution: matching runs on executors over `_metadata`
    * row indexes; existing bitmaps expand on executors; DV FILES are
    * written from executors (one per shuffle partition, UUID-named so
    * direct writes are collision-free); the driver handles only file
    * lists and blob descriptors. Returns (version, rows deleted). */
  def deleteDv(spark: SparkSession, tablePath: String,
               condition: Column): (Long, Long) =
    dvDml(spark, tablePath, DeltaLogReader.snapshot(spark, tablePath), condition, None)

  /** UPDATE ... SET via deletion vectors — delta-spark's merge-on-read
    * update: the matched rows' OLD versions die under a merged
    * replacement DV (their files re-added unchanged), the NEW versions
    * append as ordinary data files. Write cost is O(matched rows), not
    * O(affected file bytes) — [[update]]'s COW rewrite cost. Returns
    * (version, rows updated). */
  def updateDv(spark: SparkSession, tablePath: String, condition: Column,
               set: Map[String, Column]): (Long, Long) =
    dvDml(spark, tablePath, DeltaLogReader.snapshot(spark, tablePath), condition, Some(set))

  /** The shared DV DML engine, against the snapshot the caller already
    * read: kill the visible matched rows under merged replacement DVs;
    * with `set`, also append the rewritten versions (UPDATE), else it is
    * a DELETE. */
  private[sources] def dvDml(spark: SparkSession, tablePath: String,
                             snap: Snapshot, condition: Column,
                             set: Option[Map[String, Column]]): (Long, Long) = {
    import spark.implicits._
    val (schema, files, current) = (snap.schema, snap.files, snap.version)
    set.foreach(validateSet(schema, _))
    require(snap.partCols.isEmpty,
      s"DML on partitioned Delta table not supported: $tablePath")
    require(schema.fields.forall(f => !f.metadata.contains(PhysKey)),
      s"DML on column-mapped Delta table not supported: $tablePath")
    writerGate(tablePath, snap, removesRows = true)
    if (files.isEmpty) return (current, 0L)
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val relOf: Map[String, String] = files.map(f =>
      DeletedRows.key(absolute(tablePath, f.path)) -> f.path).toMap
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val dead = DeletedRows.delta(spark, tablePath, files)

    // visible matched rows: condition TRUE, not already dead under a DV
    val hit = nullIsFalse(condition)
    var matched = dead.drop(spark.read.schema(schema)
        .parquet(files.map(f => absolute(tablePath, f.path)): _*))
      .filter(hit)
      .withColumn("__g_file", fileCol)
      .withColumn("__g_pos", col("_metadata.row_index"))
    // up to five downstream jobs consume `matched` (count, affected set,
    // DV write, UPDATE re-adds, CDC) — persist so the data-file scan runs
    // once, not per job
    matched = matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try { // finally-unpersist: a failure mid-commit must not leak the cache
      val deleted = matched.count()
      if (deleted == 0) return (current, 0L) // finally unpersists
      val affected = matched.select("__g_file").distinct()
        .as[String].collect().toSeq.map(relOf).sorted
      val version = current + 1

      // new DV per affected file = visible matches ∪ its existing DV,
      // merged in the task that writes the DV file
      val tp = tablePath
      val dvDescs: Map[String, DeletionVectors.DvDescriptor] =
        matched.select(col("__g_file"), col("__g_pos"))
          .repartition(col("__g_file"))
          .sortWithinPartitions("__g_file", "__g_pos")
          .as[(String, Long)]
          .mapPartitions { it =>
            if (!it.hasNext) Iterator.empty
            else {
              val groups = scala.collection.mutable.LinkedHashMap
                .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
              it.foreach { case (file, pos) =>
                groups.getOrElseUpdate(file,
                  scala.collection.mutable.ArrayBuffer[Long]()) += pos
              }
              DeletionVectors.writeDvFileConf(confBc.value.value, tp,
                groups.toSeq.map { case (file, ps) =>
                  (file, (ps ++ dead.positions(file)).toSeq) }).iterator
            }
          }.collect().map { case (file, d) => relOf(file) -> d }
          .toMap // metadata-scale: one descriptor per file

      // commit: protocol w/ the DV feature, remove+re-add per affected file
      val readds = affected.map { rel =>
        val size = fs.getFileStatus(new Path(absolute(tablePath, rel))).getLen
        s"""{"add":{"path":"$rel","partitionValues":{},"size":$size,""" +
          s""""modificationTime":0,"dataChange":true${dvJson(Some(dvDescs(rel)))}}}"""
      }
      // UPDATE: the rewritten row versions append as new data files
      def rewritten(s: Map[String, Column]): DataFrame =
        matched.select(assign(schema, Seq(None -> s)): _*)
      val updAdds = set match {
        case Some(s) => stageAdds(rewritten(s), tablePath, dataChange = true)
        case None    => Nil
      }
      val cdc =
        if (cdfEnabled(spark, snap.configuration)) set match {
          case None => stageCdc(
            typed(matched.select(schema.fieldNames.map(col).toSeq: _*),
              "delete"), tablePath)
          case Some(s) => stageCdc(
            typed(matched.select(schema.fieldNames.map(col).toSeq: _*),
                "update_preimage")
              .unionByName(typed(rewritten(s), "update_postimage")),
            tablePath)
        }
        else Nil
      // MERGE the DV feature into the protocol of the snapshot this
      // commit builds on — replacing it wholesale would drop features
      // other writers declared (features are never removed, versions
      // never lowered)
      val (pr, pw, rf, wf) = (snap.minReader, snap.minWriter,
        snap.readerFeatures, snap.writerFeatures)
      // PROTOCOL.md: upgrading a LEGACY protocol to table features must
      // ENUMERATE every feature the old versions implied — dropping them
      // made delta-spark stop enforcing invariants and stop emitting CDF
      val impliedWriter: Set[String] =
        (if (pw >= 2) Set("appendOnly", "invariants") else Set.empty[String]) ++
          (if (pw >= 3) Set("checkConstraints") else Set.empty) ++
          (if (pw >= 4) Set("changeDataFeed", "generatedColumns") else Set.empty) ++
          (if (pw >= 5) Set("columnMapping") else Set.empty) ++
          (if (pw >= 6) Set("identityColumns") else Set.empty)
      val impliedReader: Set[String] =
        if (pr >= 2) Set("columnMapping") else Set.empty
      // only legacy (pre-table-features) protocols imply anything; a v7
      // table already lists its features explicitly in wf/rf
      val wfAll = wf ++ (if (pw < 7) impliedWriter else Set.empty)
      val rfAll = rf ++ (if (pr < 3) impliedReader else Set.empty)
      def fj(s: Set[String]) = (s + "deletionVectors").toSeq.sorted
        .map(f => s""""$f"""").mkString("[", ",", "]")
      val protocol =
        s"""{"protocol":{"minReaderVersion":${math.max(pr, 3)},""" +
          s""""minWriterVersion":${math.max(pw, 7)},""" +
          s""""readerFeatures":${fj(rfAll)},"writerFeatures":${fj(wfAll)}}}"""
      val dvByRel = files.map(f => f.path -> f.dv).toMap
      DeltaLogReader.writeCommit(spark, tablePath, version,
        Seq(ci(if (set.isDefined) "UPDATE" else "DELETE"), protocol) ++
          removeActions(affected, dvByRel.getOrElse(_, None)) ++
          readds ++ updAdds ++ cdc)
      (version, deleted)
    } finally matched.unpersist()
  }

  /** UPDATE ... SET: rewrite rows where `condition` is TRUE with the
    * `set` expressions (target-column -> new value, cast to the
    * column's type); other rows in affected files carry through
    * unchanged. Returns (committed version, rows updated). */
  def update(spark: SparkSession, tablePath: String, condition: Column,
             set: Map[String, Column]): (Long, Long) =
    update(spark, tablePath, DeltaLogReader.snapshot(spark, tablePath), condition, set)

  /** [[update]] against the snapshot the caller already read. */
  private[sources] def update(spark: SparkSession, tablePath: String,
                              snap: Snapshot, condition: Column,
                              set: Map[String, Column]): (Long, Long) = {
    val files = dmlFiles(tablePath, snap)
    val (schema, current) = (snap.schema, snap.version)
    validateSet(schema, set)
    if (files.isEmpty) return (current, 0L)
    val scan = spark.read.schema(schema).parquet(files.map(_._2): _*)
    val affected = affectedOf(
      scan.filter(condition).select(fileCol.as("__g_file")), files)
    if (affected.isEmpty) return (current, 0L)

    // persisted: the affected-file scan feeds the count, the rewrite,
    // and (with CDF) the pre+post images — up to four rescans otherwise
    val aff = spark.read.schema(schema)
      .parquet(affected.map(absolute(tablePath, _)): _*).persist()
    try { // finally-unpersist: a stage/commit failure must not leak the cache
      val hit = nullIsFalse(condition)
      val updated = aff.filter(hit).count()
      val rewritten = aff.select(assign(schema, Seq(Some(hit) -> set)): _*)
      val version = current + 1
      val adds = stageAdds(rewritten, tablePath, dataChange = true)
      val cdc =
        if (cdfEnabled(spark, snap.configuration)) {
          val pre = typed(aff.filter(hit), "update_preimage")
          val post = typed(aff.filter(hit).select(assign(schema, Seq(None -> set)): _*),
            "update_postimage")
          stageCdc(pre.unionByName(post), tablePath)
        } else Nil
      DeltaLogReader.writeCommit(spark, tablePath, version,
        ci("UPDATE") +: (removeActions(affected) ++ adds ++ cdc))
      (version, updated)
    } finally aff.unpersist()
  }

  /** ALTER TABLE ... ADD COLUMNS: commit a new metaData action whose
    * schema appends `cols` (forced nullable — existing files have no
    * values for them, so reads null-fill, the Delta evolution
    * contract). Metadata-only: no file is touched. Returns the new
    * version. */
  def addColumns(spark: SparkSession, tablePath: String,
                 cols: StructType): Long = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val schema = snap.schema
    require(schema.fields.forall(f => !f.metadata.contains(PhysKey)),
      s"ADD COLUMNS on column-mapped Delta table not supported: $tablePath")
    writerGate(tablePath, snap, removesRows = false)
    val existing = schema.fieldNames.map(_.toLowerCase).toSet
    cols.fieldNames.foreach(c => require(!existing.contains(c.toLowerCase),
      s"ADD COLUMNS: column '$c' already exists in $tablePath"))
    val newSchema = StructType(
      schema.fields ++ cols.fields.map(_.copy(nullable = true)))
    val version = snap.version + 1
    DeltaLogReader.writeCommit(spark, tablePath, version, Seq(ci("ADD COLUMNS"),
      DeltaLogReader.metaDataAction(newSchema, snap.partCols, snap.metaId,
        snap.configuration)))
    version
  }

  /** VACUUM: physically delete data files no longer referenced by the
    * CURRENT version and last-touched before `now - retainMs` — the
    * delta-spark maintenance command that actually reclaims space after
    * DELETE/UPDATE/OPTIMIZE rewrites (their removes are logical until
    * vacuumed). Time travel to versions whose files are reclaimed stops
    * working, exactly as in delta-spark. Only `*.parquet` outside
    * `_delta_log` is candidate — the log itself (json, checkpoints,
    * sidecars) is never touched. Returns the number of files deleted. */
  def vacuum(spark: SparkSession, tablePath: String,
             retainMs: Long = 7L * 24 * 3600 * 1000): Long = {
    val files = DeltaLogReader.snapshot(spark, tablePath).files
    // live set = active data files + the DV .bin files their descriptors
    // reference (a DV-heavy table sheds a superseded vector per commit —
    // they reclaim here like data files do)
    // one key for both sides: the log path decodes to the on-disk name,
    // and the listed FileStatus paths re-encode the same way — a live
    // file whose name percent-encodes must never look dead to vacuum
    val live = files.flatMap { f =>
      DeletedRows.key(absolute(tablePath, f.path)) +:
        f.dv.filter(_.storageType != "i").map(d =>
          DeletedRows.key(d.filePath(tablePath))).toSeq
    }.toSet
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - retainMs
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory) {
          if (n == "_delta_log" || n.startsWith("_staging") || n.startsWith("."))
            Nil
          else walk(s.getPath)
        } else if ((n.endsWith(".parquet") ||
            (n.startsWith("deletion_vector_") && n.endsWith(".bin"))) &&
            !n.startsWith("_") && !n.startsWith(".")) Seq(s)
        else Nil
      }
    val dead = walk(root).filter { s =>
      !live.contains(DeletedRows.key(s.getPath.toString)) &&
        s.getModificationTime <= cutoff
    }
    // a big vacuum (a compacted 100 TB table sheds millions of files)
    // deletes from EXECUTORS — per-file RPCs parallelize; the driver
    // only ships the path list
    if (dead.size > 256) {
      val c = spark.sparkContext.hadoopConfiguration
      val fsProps: Seq[(String, String)] =
        c.iterator().asScala.map(e => e.getKey -> e.getValue)
          .filter(_._1.startsWith("fs.")).toSeq
      spark.sparkContext
        .parallelize(dead.map(_.getPath.toString),
          math.min(64, 1 + dead.size / 256))
        .foreach { s =>
          val conf = new org.apache.hadoop.conf.Configuration()
          fsProps.foreach { case (k, v) => conf.set(k, v) }
          val p = new Path(s)
          p.getFileSystem(conf).delete(p, false)
        }
    } else dead.foreach(s => fs.delete(s.getPath, false))
    dead.size.toLong
  }

  /** RESTORE TABLE ... TO VERSION AS OF `toVersion`: one commit whose
    * adds/removes flip the current file set back to the target
    * version's (files present in both carry untouched); the target
    * version's schema is re-emitted so later reads see it. History is
    * preserved — the restore is itself a new version, and the versions
    * in between remain time-travelable (delta-spark RESTORE semantics).
    * Returns (new version, files added back, files removed). */
  def restore(spark: SparkSession, tablePath: String,
              toVersion: Long): (Long, Long, Long) = {
    val target = DeltaLogReader.snapshot(spark, tablePath, Some(toVersion))
    val cur = DeltaLogReader.snapshot(spark, tablePath)
    writerGate(tablePath, cur, removesRows = true)
    val current = cur.version
    require(toVersion <= current,
      s"RESTORE: version $toVersion is beyond current $current")
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a path whose DV differs between current and target must RE-ADD
    // with the target's descriptor (replay: last add per path wins)
    val curState = cur.files.map(f => f.path -> f.dv).toMap
    val tgt = target.files.map(_.path).toSet
    // full JSON string escaping (backslashes, control chars — the
    // quote-only escape could write an UNPARSEABLE commit and brick the
    // log after a successful RESTORE); null partition values stay null
    def pvJson(pv: Map[String, String]): String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = m.createObjectNode()
      pv.foreach { case (k, v) =>
        if (v == null) n.putNull(k) else n.put(k, v) }
      m.writeValueAsString(n)
    }
    val adds = target.files.filterNot(f => curState.get(f.path).contains(f.dv))
      .map { case DeltaLogReader.AddFile(p, pv, dv, logSize, _) =>
        val abs = new Path(absolute(tablePath, p))
        require(fs.exists(abs),
          s"RESTORE: file $p of version $toVersion was vacuumed — " +
            "cannot restore past a vacuum boundary")
        // the target version's DELETION VECTORS must exist too: a
        // superseded DV's bin is vacuum-bait, and re-adding its
        // descriptor committed a table whose every read then crashed
        dv.filter(_.storageType != "i").foreach { d =>
          require(fs.exists(new Path(d.filePath(tablePath))),
            s"RESTORE: deletion vector of $p (version $toVersion) was " +
              "vacuumed — cannot restore past a vacuum boundary")
        }
        // size from the LOG (maintenance passes need not stat 100k
        // files); -1 = legacy action without a recorded size, stat that
        // file only
        val size = if (logSize >= 0) logSize else fs.getFileStatus(abs).getLen
        s"""{"add":{"path":"$p","partitionValues":${pvJson(pv)},"size":$size,"modificationTime":0,"dataChange":true${dvJson(dv)}}}"""
      }
    // a path live in BOTH versions with a DIFFERENT DV re-adds with the
    // target's descriptor below; under the spec's (path, dvUniqueId)
    // identity the old pair must ALSO be removed or it stays live for a
    // spec-keyed replay (our own path-keyed replay applies the commit's
    // lines in order, so remove-then-re-add lands on the add)
    val dvChanged = target.files
      .filter(f => curState.get(f.path).exists(_ != f.dv)).map(_.path)
    val removes = removeActions(
      cur.files.map(_.path).filterNot(tgt.contains) ++ dvChanged,
      curState.getOrElse(_, None))
    val version = current + 1
    DeltaLogReader.writeCommit(spark, tablePath, version,
      ci("RESTORE") +: DeltaLogReader.metaDataAction(target.schema,
        target.partCols, cur.metaId, cur.configuration) +: (removes ++ adds))
    (version, adds.size.toLong, removes.size.toLong)
  }

  /** MERGE INTO target USING source ON `on` with [[MergeClauses]],
    * executed copy-on-write: matched and by-source clauses rewrite the
    * files that hold their rows, NOT MATCHED inserts append.
    *
    * Matching rows can only live in files the ON-join touches, so only
    * those files are rewritten, and the NOT MATCHED anti-join runs
    * against their rows, not the whole table — at 100 TB the source
    * joins against the slice it can match, never the full scan twice.
    * An insert-only merge (no matched clause) rewrites nothing: it
    * appends the anti-joined source rows as a plain add-only commit.
    * A by-source clause inherently touches EVERY file — any file can
    * hold a row with no source match — so the pruning scan is skipped
    * and the whole table rewrites, which is what delta-spark does too. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
            on: String, clauses: MergeClauses,
            tAlias: String = "t", sAlias: String = "s"): DmlStats =
    merge(spark, tablePath, DeltaLogReader.snapshot(spark, tablePath), source,
      on, clauses, tAlias, sAlias)

  /** [[merge]] against the snapshot the caller already read. */
  private[sources] def merge(spark: SparkSession, tablePath: String,
      snap: Snapshot, source: DataFrame, on: String, clauses: MergeClauses,
      tAlias: String, sAlias: String): DmlStats = {
    // an INSERT-ONLY merge commits no removes — delta-spark permits it
    // on delta.appendOnly=true tables, and removesRows=true refused it
    val files = dmlFiles(tablePath, snap, removesRows = clauses.rewrites)
    val (schema, current) = (snap.schema, snap.version)
    val m = MergePlan(clauses, schema, source, on, tAlias, sAlias)
    try {
      def empty: DataFrame = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val tgtAll =
        if (files.isEmpty) empty
        else spark.read.schema(schema).parquet(files.map(_._2): _*)

      // pruning join: which live files hold a matched row (a by-source
      // clause reaches every file; an insert-only merge rewrites none)
      val affected =
        if (files.isEmpty || !clauses.rewrites) Seq.empty[String]
        else if (clauses.anyBySource) files.map(_._1)
        else affectedOf(tgtAll.withColumn("__g_file", fileCol).as(tAlias)
          .join(m.src.as(sAlias), m.on, "inner").select(col("__g_file")), files)
      def affScan: DataFrame =
        if (affected.isEmpty) empty
        else spark.read.schema(schema).parquet(affected.map(absolute(tablePath, _)): _*)

      // the affected rows joined to the source, (file, row_index) as the
      // row identity; it feeds the ambiguity check, the counts, the
      // rewrite and the cdc write, so it is persisted
      val joined = Option.when(affected.nonEmpty) {
        val j = m.joined(affScan
          .withColumn("__g_fp", col("_metadata.file_path"))
          .withColumn("__g_pos", col("_metadata.row_index")))
        // with only BY SOURCE clauses the join exists solely to flag
        // matched target rows — a multi-match fan-out is legal there but
        // must collapse back to one copy per target row, else the rewrite
        // duplicates rows; with a matched clause the ambiguity check
        // rejects multi-matches instead
        m.cache(if (clauses.anyMatched) j else j.dropDuplicates("__g_fp", "__g_pos"))
      }
      joined.foreach(m.requireSingleMatch(_, Seq(col("__g_fp"), col("__g_pos"))))
      val (updated, deleted) = joined.map(m.counts).getOrElse((0L, 0L))
      // persisted: the anti-join feeds the count, the staged write and
      // the cdc union
      val inserts = m.inserts(if (clauses.anyMatched) affScan else tgtAll).map(m.cache)
      val inserted = inserts.map(_.count()).getOrElse(0L)
      if (updated == 0L && deleted == 0L && inserted == 0L)
        return DmlStats(current, 0L, 0L, 0L) // pure no-op: nothing to commit
      val version = current + 1
      val rewritten = joined.map(_.filter(!m.deleted).select(m.newVersion: _*))
      val adds = stageAdds((rewritten ++ inserts).reduce(_ unionByName _),
        tablePath, dataChange = true)
      val cdc =
        if (cdfEnabled(spark, snap.configuration)) {
          val changes = joined.toSeq.flatMap { j =>
            val upd = j.filter(m.updated)
            Seq(typed(j.filter(m.deleted).select(m.targetRow: _*), "delete"),
              typed(upd.select(m.targetRow: _*), "update_preimage"),
              typed(upd.select(m.newVersion: _*), "update_postimage"))
          } ++ inserts.map(typed(_, "insert"))
          stageCdc(changes.reduce(_ unionByName _), tablePath)
        } else Nil
      DeltaLogReader.writeCommit(spark, tablePath, version,
        ci("MERGE") +: (removeActions(affected) ++ adds ++ cdc))
      DmlStats(version, updated, deleted, inserted)
    } finally m.release()
  }
}
