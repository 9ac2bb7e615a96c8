package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DmlClauses.{assign, nullIsFalse, validateSet}

/** Row-level DML for the OTHER two lakehouse formats, each in its own
  * native mutation shape (reference surface: Drill only reads these
  * formats — contrib/format-iceberg, contrib/format-deltalake; the DML
  * contracts are the public Iceberg spec and Paimon spec):
  *
  *  - [[IcebergDml]]: MERGE-ON-READ. UPDATE/MERGE position-delete the
  *    matched rows (content=1 files naming (file_path, pos)) and append
  *    the new row versions — unmatched rows in touched files are NEVER
  *    rewritten, which is the point of merge-on-read at 100 TB: the
  *    write cost scales with the matched rows, not with the files they
  *    live in. Copy-on-write Delta ([[DeltaDml]]) is the contrast case.
  *  - [[PaimonDml]]: LSM upsert frames on PRIMARY-KEY tables. DELETE
  *    writes key-only `-D` retractions, UPDATE/MERGE write `+U` rows;
  *    the deduplicate merge at read time applies them — nothing old is
  *    touched at all. Append-only (non-PK) tables refuse: without a key
  *    there is no retraction identity.
  *
  * Both compute the NEW row versions from the table's VISIBLE rows
  * (through the format's own merge-on-read `read`), so rows already
  * masked by earlier deletes can never be resurrected; Iceberg's
  * position-delete matching scans raw data files, where over-deleting an
  * already-masked row is harmless (invisible either way — the same
  * argument as [[IcebergTable.deleteFrom]]).
  */
object IcebergDml {

  /** UPDATE ... SET on an Iceberg table: position-delete matched rows,
    * append their updated versions (two snapshots: delete + append;
    * readers between the two see the delete only — the final state is
    * what the gate checks, and single-writer commits make the pair
    * effectively one logical mutation). Returns (snapshot, rowsUpdated). */
  def update(spark: SparkSession, table: String, condition: Column,
             set: Map[String, Column]): (Long, Long) = {
    val meta = IcebergTable.loadMeta(spark, table)
    val schema = meta.schema
    validateSet(schema, set)
    // visible rows (existing position/equality deletes applied) — the
    // plan captures the CURRENT file list, so the append below still
    // reads pre-delete state even after the delete snapshot commits
    val visible = IcebergTable.read(spark, meta, None, None, None)
    val hit = nullIsFalse(condition)
    // persisted: the count and the append must see the SAME row set —
    // re-executing the filter for each would let a nondeterministic
    // condition count one set and append another. (deleteFrom still
    // evaluates the condition once more over the raw files; like
    // delta-spark, UPDATE requires a deterministic condition.)
    val touched = visible.filter(hit).persist()
    try {
      val updatedRows = touched.select(assign(schema, Seq(None -> set)): _*)
      val n = touched.count()
      if (n == 0) return (meta.currentSnapshotId.getOrElse(0L), 0L)
      IcebergTable.deleteFrom(spark, table, meta, condition)
      // the table's own partition spec rides along: write() REQUIRES the
      // declared columns, and this append runs AFTER the delete snapshot
      // committed — a partitionBy mismatch here would strand the table
      // with its matched rows deleted and no updated versions
      val snap = IcebergTable.write(updatedRows, table,
        partitionBy = meta.partCols)
      (snap, n)
    } finally touched.unpersist()
  }

  /** MERGE INTO an Iceberg table ([[MergeClauses]]), merge-on-read:
    * rows a delete or update clause selects are position-deleted via a
    * join of the raw data files against the source; updated versions and
    * NOT MATCHED inserts append as one snapshot. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            on: String, clauses: MergeClauses,
            tAlias: String = "t", sAlias: String = "s"): DmlStats = {
    val meta = IcebergTable.loadMeta(spark, table)
    val m = MergePlan(clauses, meta.schema, source, on, tAlias, sAlias)
    try {
      // persisted: the visible rows feed the counts, the insert anti-join
      // and the updated versions appended after the delete commit
      val visible = m.cache(IcebergTable.read(spark, meta, None, None, None))
      val current = meta.currentSnapshotId.getOrElse(0L)
      // raw data-file scan with (file, pos) row identity — the _metadata
      // columns are pinned to THIS scan before any join, so a file-backed
      // source never makes them ambiguous
      import spark.implicits._
      lazy val dataFiles = IcebergTable.liveEntries(spark, meta, None, None)
        .filter(_.content == 0)
      lazy val rawIdent = spark.read.schema(meta.schema)
        .parquet(dataFiles.map(_.path): _*)
        .withColumn("__g_fpn", DeletedRows.keyCol(col("_metadata.file_path")))
        .withColumn("__g_pos", col("_metadata.row_index"))
      // checked on the raw scan — a row an earlier delete masked can
      // refuse conservatively
      if (clauses.anyMatched && dataFiles.nonEmpty)
        m.requireSingleMatch(m.joined(rawIdent), Seq(col("__g_fpn"), col("__g_pos")))

      val joined = m.joined(visible)
      val (updated, deleted) = m.counts(joined)
      val inserts = m.inserts(visible)
      val inserted = inserts.map(_.count()).getOrElse(0L)
      if (updated == 0 && deleted == 0 && inserted == 0)
        return DmlStats(current, 0L, 0L, 0L)

      // position-delete every clause-selected row: raw data-file scan
      // (with its (file, pos) identity) joined against the source — rows
      // an earlier delete already masked may over-delete, harmlessly
      val deleteSnap = Option.when((updated > 0 || deleted > 0) && dataFiles.nonEmpty) {
        // __g_fp precomputed DRIVER-side with the URI-encoding identity
        // (manifest strings; _metadata.file_path is URI-encoded)
        val lookup = broadcast(dataFiles
          .map(f => (f.path, DeletedRows.key(f.path)))
          .toDF("file_path", "__g_fp"))
        val matches = m.joined(rawIdent).filter(m.deleted || m.updated)
          .select(col("__g_fpn").as("__g_fp"), col("__g_pos").as("pos"))
          .join(lookup, "__g_fp").select(col("file_path"), col("pos"))
        IcebergTable.commitPositionDeletes(spark, table, meta, matches)
      }
      val appends = Option.when(updated > 0)(
        joined.filter(m.updated).select(m.newVersion: _*)) ++ inserts
      val version =
        if (updated > 0 || inserted > 0)
          // partition spec rides along (see update(): the position-delete
          // snapshot is already durable when this append runs)
          IcebergTable.write(appends.reduce(_ unionByName _), table,
            partitionBy = meta.partCols)
        else deleteSnap.getOrElse(current)
      DmlStats(version, updated, deleted, inserted)
    } finally m.release()
  }
}

object PaimonDml {

  /** Returns the WHOLE schema (callers need it anyway — returning only
    * the keys made update/merge re-read and re-parse the schema file
    * immediately after). */
  private def pkState(spark: SparkSession, table: String, verb: String)
      : graft.sources.PaimonTable.PaimonSchema = {
    val sch = PaimonTable.loadSchema(spark, table)
    require(sch.primaryKeys.nonEmpty,
      s"$verb on an append-only paimon table is not supported: $table " +
        "(no primary key = no retraction identity; PK tables only)")
    sch
  }

  /** Latest snapshot id; 0 on a schema-committed table with no snapshot
    * yet (another engine may create the table before its first write). */
  private def currentSnapshot(spark: SparkSession, table: String): Long = {
    val ids = PaimonTable.snapshots(spark, table).map(_.id)
    if (ids.isEmpty) 0L else ids.max
  }

  /** DELETE FROM a Paimon PK table: write key-only `-D` retraction
    * frames for the visible rows matching `condition` — nothing is
    * rewritten; the LSM merge drops the keys at read time. Returns
    * (snapshot, rowsDeleted). */
  def delete(spark: SparkSession, table: String,
             condition: Column): (Long, Long) = {
    val pks = pkState(spark, table, "DELETE").primaryKeys
    val hit = nullIsFalse(condition)
    val keys = PaimonTable.read(spark, table).filter(hit)
      .select(pks.map(col): _*)
    val n = keys.count()
    if (n == 0) return (currentSnapshot(spark, table), 0L)
    (PaimonTable.writePk(keys, table, pks, kind = "-D"), n)
  }

  /** UPDATE a Paimon PK table: `+U` upsert frames carrying the updated
    * row versions (primary-key columns may not be SET — changing a key
    * is an insert of a new key, not an update). Returns
    * (snapshot, rowsUpdated). */
  def update(spark: SparkSession, table: String, condition: Column,
             set: Map[String, Column]): (Long, Long) = {
    val sch = pkState(spark, table, "UPDATE")
    val pks = sch.primaryKeys
    validateSet(sch.schema, set)
    val onPk = set.keySet.intersect(pks.toSet)
    require(onPk.isEmpty,
      s"UPDATE may not SET primary-key column(s) ${onPk.mkString(", ")}")
    val updatedRows = PaimonTable.read(spark, table)
      .filter(nullIsFalse(condition))
      .select(assign(sch.schema, Seq(None -> set)): _*)
    val n = updatedRows.count()
    if (n == 0) return (currentSnapshot(spark, table), 0L)
    (PaimonTable.writePk(updatedRows, table, pks, kind = "+U"), n)
  }

  /** MERGE INTO a Paimon PK table ([[MergeClauses]]): updated versions
    * + NOT MATCHED inserts upsert as one `+U` commit; delete clauses
    * retract as a `-D` commit sequenced BEFORE it (see below). The
    * primary key is the row identity. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            on: String, clauses: MergeClauses,
            tAlias: String = "t", sAlias: String = "s"): DmlStats = {
    val sch = pkState(spark, table, "MERGE")
    val pks = sch.primaryKeys
    val m = MergePlan(clauses, sch.schema, source, on, tAlias, sAlias)
    try {
      (clauses.matchedUpdate ++ clauses.bySourceUpdate).foreach { set =>
        val onPk = set.keySet.intersect(pks.toSet)
        require(onPk.isEmpty,
          s"MERGE UPDATE may not SET primary-key column(s) ${onPk.mkString(", ")}")
      }
      clauses.notMatchedInsert.foreach { set =>
        // an unassigned column null-fills — acceptable for values, table
        // corruption for keys: a NULL-keyed +U row lands in a table whose
        // schema declares the key, and no later merge or retraction can
        // ever address it
        val noKey = pks.filterNot(set.contains)
        require(noKey.isEmpty,
          s"MERGE INSERT must assign every primary-key column — missing: " +
            noKey.mkString(", "))
      }
      // persisted: the LSM merge-on-read shuffles the whole table, and
      // its rows feed the ambiguity check, the counts, the -D keys, the
      // +U rows, the key-clash probe and the insert anti-join
      val visible = m.cache(PaimonTable.read(spark, table))
      val current = currentSnapshot(spark, table)
      val joined = m.joined(visible)
      m.requireSingleMatch(joined, pks.map(k => col(s"$tAlias.$k")))
      val (updated, deleted) = m.counts(joined)
      val updatedRows = Option.when(updated > 0)(
        joined.filter(m.updated).select(m.newVersion: _*))
      val inserts = m.inserts(visible)
      val inserted = inserts.map(_.count()).getOrElse(0L)
      // an updated row and an inserted row sharing a primary key would
      // land in ONE +U commit with ONE sequence number — the read-side
      // max_by tie is nondeterministic, so one of the two rows survives
      // arbitrarily. SQL MERGE has no defined winner either (a real PK
      // table raises a duplicate-key violation); refuse loudly.
      for (u <- updatedRows; i <- inserts if inserted > 0) {
        val clash = i.select(pks.map(col): _*)
          .join(u.select(pks.map(col): _*), pks, "left_semi").limit(1).count()
        require(clash == 0L,
          "MERGE: a NOT MATCHED insert and an update produce the same " +
            s"primary key (${pks.mkString(", ")}) in one commit — the " +
            "surviving row would be arbitrary; de-duplicate the source")
      }
      if (updated == 0 && deleted == 0 && inserted == 0)
        return DmlStats(current, 0L, 0L, 0L)
      var version = current
      // -D commits FIRST: the deduplicate merge resolves by sequence
      // number, so a NOT MATCHED insert that shares a primary key with a
      // deleted row must land in the LATER (+U) commit or the retraction
      // wins and the fresh row vanishes (SQL MERGE semantics: delete the
      // old row, keep the new one)
      if (deleted > 0)
        version = PaimonTable.writePk(joined.filter(m.deleted)
          .select(pks.map(k => col(s"$tAlias.$k").as(k)): _*), table, pks, kind = "-D")
      if (updated > 0 || inserted > 0)
        version = PaimonTable.writePk((updatedRows ++ inserts).reduce(_ unionByName _),
          table, pks, kind = "+U")
      DmlStats(version, updated, deleted, inserted)
    } finally m.release()
  }
}
