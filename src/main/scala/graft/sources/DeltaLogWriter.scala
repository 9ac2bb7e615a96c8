package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

// checkpoint action rows (top-level so the encoder derivation is
// Janino-safe — see the streaming-state precedent)
case class CpProtocol(minReaderVersion: Int, minWriterVersion: Int,
                      readerFeatures: Option[Seq[String]] = None,
                      writerFeatures: Option[Seq[String]] = None)
case class CpFormat(provider: String = "parquet",
                    options: Map[String, String] = Map.empty)
case class CpMeta(id: String, schemaString: String,
                  partitionColumns: Seq[String],
                  configuration: Map[String, String] = Map.empty,
                  format: CpFormat = CpFormat())
// field names match the protocol's deletionVector descriptor so the
// checkpoint parquet columns read back by name
case class CpDv(storageType: String, pathOrInlineDv: String, offset: Int,
                sizeInBytes: Int, cardinality: Long)
case class CpAdd(path: String, partitionValues: Map[String, String],
                 size: Long, modificationTime: Long, dataChange: Boolean,
                 deletionVector: Option[CpDv] = None)
case class CpTxn(appId: String, version: Long)
case class CpRow(protocol: Option[CpProtocol], metaData: Option[CpMeta],
                 add: Option[CpAdd], txn: Option[CpTxn])

/** Delta Lake WRITE path (CTAS / INSERT / overwrite), hand-rolled like
  * the reader: data lands as ordinary parquet part files, then one JSON
  * commit in `_delta_log/` publishes them atomically (add actions; an
  * overwrite also emits remove actions for the previous snapshot). The
  * commit file IS the transaction: readers replaying the log never see
  * a half-written version because the commit is published whole, and
  * only if absent, as the last step ([[StagedFiles.publishIfAbsent]]).
  * Reference surface: Drill writes Delta via the same log-append
  * protocol (contrib/format-deltalake); protocol per
  * github.com/delta-io/delta PROTOCOL.md.
  *
  * The parquet write itself is the normal distributed writer (any
  * parallelism); only the KB-scale log append is driver-side —
  * identical posture to every Delta implementation.
  */
object DeltaLogWriter {

  /** Write `df` to `tablePath` as a new Delta commit. Append creates the
    * table when absent; Overwrite replaces the current snapshot. Returns
    * the committed version. `txn` (appId, version) adds a transaction
    * action to the commit — the Delta protocol's idempotence mechanism:
    * a writer replaying work (e.g. a restarted streaming batch) checks
    * [[lastTxnVersion]] before re-committing. */
  def write(df: DataFrame, tablePath: String,
            mode: SaveMode = SaveMode.Append,
            txn: Option[(String, Long)] = None): Long =
    write(df, tablePath, mode, txn,
      DeltaLogReader.snapshotIfExists(df.sparkSession, tablePath))

  /** [[write]] on top of the snapshot the caller already read (None: the
    * table does not exist yet). */
  private[graft] def write(df: DataFrame, tablePath: String, mode: SaveMode,
      txn: Option[(String, Long)],
      current: Option[DeltaLogReader.Snapshot]): Long = {
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"delta write supports Append/Overwrite, got $mode")
    val spark = df.sparkSession
    val (version, removeActions, dfOut, newMeta) = current match {
      case None => (0L, Seq.empty[String], df, None)
      case Some(snap) =>
        // appends must speak the existing table's dialect: partition
        // values live ONLY in the log (an add with empty partitionValues
        // reads back as null partition columns), and a column-mapped
        // table stores PHYSICAL names in its parquet (a logically-named
        // write reads back all-NULL) — refuse both, like optimize/DML
        val schema0 = snap.schema
        require(snap.partCols.isEmpty,
          s"delta write to PARTITIONED table not supported: $tablePath " +
            "(partition values live only in the log; this writer would " +
            "null them)")
        require(schema0.fields.forall(f =>
            !f.metadata.contains("delta.columnMapping.physicalName")),
          s"delta write to column-mapped table not supported: $tablePath " +
            "(parquet stores physical names; a logically-named write " +
            "would read back null)")
        DeltaDml.writerGate(tablePath, snap,
          removesRows = mode == SaveMode.Overwrite)
        val sameSchema =
          df.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq ==
            schema0.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
        val (out, meta) =
          if (mode == SaveMode.Overwrite)
            // an overwrite MAY change the schema (delta-spark's
            // overwriteSchema) — but then the commit must re-emit
            // metaData, or reads project the OLD schema over the new
            // parquet and renamed columns come back all-NULL
            (df, Option.when(!sameSchema)(DeltaLogReader.metaDataAction(
              df.schema, Nil, snap.metaId, snap.configuration)))
          else {
            // append: align by name (case-insensitive) and cast to the
            // table's types — a reordered or mistyped DataFrame used to
            // commit silently and read back nulls/crashes
            val byLower = df.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
            val missing = schema0.fieldNames
              .filterNot(n => byLower.contains(n.toLowerCase))
            val extra = df.schema.fieldNames
              .filterNot(n => schema0.fieldNames.exists(_.equalsIgnoreCase(n)))
            require(missing.isEmpty && extra.isEmpty,
              s"delta append to $tablePath: schema mismatch (missing: " +
                s"${missing.mkString(", ")}; extra: ${extra.mkString(", ")})")
            (df.select(schema0.fields.toSeq.map(f =>
              org.apache.spark.sql.functions.col(byLower(f.name.toLowerCase))
                .cast(f.dataType).as(f.name)): _*), None)
          }
        // Overwrite removes carry each file's DV descriptor — identity
        // in a spec-keyed replay is (path, dvUniqueId)
        val toRemove =
          if (mode == SaveMode.Overwrite)
            DeltaDml.removeActions(snap.files.map(_.path),
              snap.files.map(f => f.path -> f.dv).toMap.getOrElse(_, None))
          else Seq.empty
        (snap.version + 1, toRemove, out, meta)
      }

    val adds = DeltaDml.stageAdds(dfOut, tablePath, dataChange = true)
    val head =
      if (current.isEmpty) Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        DeltaLogReader.metaDataAction(df.schema, Nil))
      else newMeta.toSeq
    val txnActions = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":"$appId","version":$v}}"""
    }
    DeltaLogReader.writeCommit(spark, tablePath, version,
      head ++ txnActions ++ removeActions ++ adds)
    version
  }

  /** OPTIMIZE — bin-packing small-file compaction, the maintenance pass
    * every long-lived table needs at 100 TB (a streaming sink committing
    * every minute makes thousands of KB-scale files a day; scans pay per
    * file). Live files smaller than `smallFileBytes` are read back and
    * rewritten as ~`targetFileBytes` bins; ONE commit removes the inputs
    * and adds the bins, all actions `dataChange:false` — per PROTOCOL.md
    * that marks the commit a logical no-op, so CDF derivation and
    * readChanges skip it and concurrent readers see identical rows. Time
    * travel to pre-optimize versions still resolves the original files
    * (nothing is physically deleted; vacuum is separate).
    *
    * Refuses partitioned tables (partition values are metadata-only in
    * Delta data files — a naive rewrite would drop them). Files carrying
    * DELETION VECTORS are compaction candidates regardless of size: the
    * rewrite reads their VISIBLE rows (DV applied inside the scan,
    * [[DeletedRows]]) and the re-written bins carry no DV — OPTIMIZE doubles
    * as delta-spark's PURGE, bounding merge-on-read amplification. The
    * rewrite itself is a distributed read + write; only the KB-scale
    * commit append is driver-side.
    *
    * Returns (version, filesCompacted, binsWritten); a no-op (fewer than
    * two small files and no DVs) returns the current version with
    * (0, 0).
    *
    * `zorderBy` (delta-spark's `OPTIMIZE ... ZORDER BY`): the rewrite
    * becomes a clustering pass over ALL live files, laid out along the
    * Morton curve of the named columns ([[graft.operators.ZOrder]]) so
    * footer min/max ranges stay tight on each of them — multi-column
    * data skipping for later scans. */
  def optimize(spark: org.apache.spark.sql.SparkSession, tablePath: String,
               smallFileBytes: Long = 128L << 20,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil): (Long, Int, Int) = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val schema = snap.schema
    require(snap.partCols.isEmpty,
      s"OPTIMIZE on partitioned table not supported: $tablePath " +
        s"(partition values live only in the log; a rewrite would drop them)")
    require(schema.fields.forall(f =>
        !f.metadata.contains("delta.columnMapping.physicalName")),
      s"OPTIMIZE on column-mapped table not supported: $tablePath " +
        "(reading logical names from physically-named parquet would " +
        "rewrite the table as NULLs)")
    // a compaction only MOVES rows (dataChange=false), which append-only
    // tables accept — but the other writer obligations still gate
    DeltaDml.writerGate(tablePath, snap, removesRows = false)
    val currentVersion = snap.version

    // sizes from the log's add actions (stat only legacy actions)
    val sized = snap.files.map { f =>
      val abs = new Path(DeltaLogReader.decodedAbsolute(tablePath, f.path))
      (f.path, abs, if (f.size >= 0) f.size else fs.getFileStatus(abs).getLen, f.dv)
    }
    // ZORDER BY is a clustering rewrite: every live file participates
    // (a file's rows scatter across the whole curve), not just small
    // ones — matching delta-spark, where zorder ignores the size filter
    val small =
      if (zorderBy.nonEmpty) sized
      else sized.filter(f => f._3 < smallFileBytes || f._4.nonEmpty)
    if (small.isEmpty ||
        (zorderBy.isEmpty && small.size < 2 && small.forall(_._4.isEmpty)))
      return (currentVersion, 0, 0)
    zorderBy.foreach(c => require(schema.fieldNames.contains(c),
      s"ZORDER BY column '$c' not in table schema " +
        s"[${schema.fieldNames.mkString(", ")}]"))

    val version = currentVersion + 1
    val bins = math.max(1L,
      (small.map(_._3).sum + targetFileBytes - 1) / targetFileBytes).toInt
    // purge: the bins hold only each candidate's visible rows
    val scan = DeletedRows.delta(spark, tablePath, snap.files).drop(
      spark.read.schema(schema).parquet(small.map(_._2.toString): _*))
    val rewritten =
      if (zorderBy.nonEmpty) graft.operators.ZOrder.layout(scan, zorderBy, bins)
      else scan.repartition(bins)
    val adds = DeltaDml.stageAdds(rewritten, tablePath, dataChange = false)
    // removes carry each input's DV descriptor — without it a
    // spec-keyed replay keeps the old (path, dv) pair alive and reads
    // its visible rows TWICE (once more from the bins)
    val dvOf = small.map(f => f._1 -> f._4).toMap
    val removes = DeltaDml.removeActions(small.map(_._1),
      dvOf.getOrElse(_, None), dataChange = false)
    DeltaLogReader.writeCommit(spark, tablePath, version, removes ++ adds)
    (version, small.size, adds.size)
  }

  /** Highest committed txn version for `appId` (Delta `txn` actions,
    * checkpoints included), None when the table does not exist yet. */
  def lastTxnVersion(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, appId: String): Option[Long] =
    DeltaLogReader.snapshotIfExists(spark, tablePath).flatMap(_.txns.get(appId))

  /** Compact the log: write a `%020d.checkpoint.parquet` holding the
    * RESOLVED snapshot (protocol, metaData + one add row per live file +
    * the max txn row per appId), point `_last_checkpoint` at it, and
    * optionally vacuum the JSON commits it covers. Readers bootstrap
    * from the checkpoint and replay only newer commits — the mechanism
    * that keeps log replay O(live files), not O(history), at 100 TB. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                 vacuumJson: Boolean = false): Long = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val cv = snap.version
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // a DV-bearing snapshot checkpoints with the vectors carried in the
    // add rows; the checkpoint PRESERVES the table's declared protocol
    // (merging in the DV feature when vectors are present) rather than
    // synthesizing one — a replacement would drop features other writers
    // declared
    val hasDv = snap.files.exists(_.dv.nonEmpty)
    val (pr, pw, rf, wf) = (snap.minReader, snap.minWriter,
      snap.readerFeatures, snap.writerFeatures)
    val protocolRow =
      if (hasDv || rf.nonEmpty || wf.nonEmpty)
        CpProtocol(math.max(pr, if (hasDv) 3 else pr),
          math.max(pw, if (hasDv) 7 else pw),
          Some(((if (hasDv) rf + "deletionVectors" else rf)).toSeq.sorted),
          Some(((if (hasDv) wf + "deletionVectors" else wf)).toSeq.sorted))
      else CpProtocol(math.max(pr, 1), math.max(pw, 2))
    // the checkpoint's metaData must CARRY the table's identity and
    // configuration — synthesizing id="graft" with an empty configuration
    // silently destroyed delta.appendOnly / CDF / column-mapping settings
    // (and the table's unique id) once vacuumJson removed the JSON
    // commits that held the real metaData
    val rows =
      Seq(CpRow(Some(protocolRow), None, None, None),
        CpRow(None, Some(CpMeta(snap.metaId, snap.schema.json, snap.partCols,
          snap.configuration)), None, None)) ++
      snap.txns.toSeq.sortBy(_._1).map { case (a, v) =>
        CpRow(None, None, None, Some(CpTxn(a, v))) } ++
      snap.files.map { case DeltaLogReader.AddFile(p, pv, dv, sz, mt) =>
        // real size + mtime (PROTOCOL.md: add.size is the file's size;
        // external engines plan scans from it — zero read as an empty
        // table elsewhere once the checkpoint is the only metadata) and
        // dataChange=false (checkpoint rows are not new data). Sizes
        // come from the LOG's own add actions; a per-file getFileStatus
        // is the fallback for legacy actions only (100k stat RPCs
        // before a checkpoint is real driver latency at scale).
        val (len, mtime) =
          if (sz >= 0) (sz, mt)
          else {
            val st = fs.getFileStatus(
              new Path(DeltaLogReader.decodedAbsolute(tablePath, p)))
            (st.getLen, st.getModificationTime)
          }
        CpRow(None, None, Some(CpAdd(p, pv, len, mtime,
          dataChange = false,
          dv.map(d => CpDv(d.storageType, d.pathOrInlineDv, d.offset,
            d.sizeInBytes, d.cardinality)))), None) }
    DeltaLogReader.writeDataFile(rows.toDF(), s"$tablePath/_delta_log",
      f"$cv%020d.checkpoint.parquet")
    val lcp = new Path(new Path(tablePath, "_delta_log"), "_last_checkpoint")
    val os = fs.create(lcp, true)
    try os.write(s"""{"version":$cv,"size":${rows.size}}""".getBytes("UTF-8"))
    finally os.close()
    if (vacuumJson)
      DeltaLogReader.tableVersions(spark, tablePath).filter(_ <= cv).foreach { v =>
        fs.delete(new Path(new Path(tablePath, "_delta_log"), f"$v%020d.json"), false)
      }
    cv
  }
}
