package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user session accumulator for [[Events.sessionizeStream]]. Must be
  * top-level and public: the state encoder's generated code references it
  * by name, and a private nested case class fails Janino compilation. */
// total is QUANTIZED units (floor(v * 2^14) per event, summed as Long):
// long addition is order-independent, so stream totals reconcile
// bit-exactly with the batch twin's quantizedSum whatever the
// micro-batch/restart split. n == 0 marks the empty sentinel (a
// negative `start` sentinel misread any pre-1970 session as
// uninitialized and reset live state on every event).
case class SessState(start: Long, last: Long, n: Long, total: Long)
case class BandEntry(id: Long, ts: Long, th: Seq[Long])
case class BandDocs(entries: Seq[BandEntry])

/** Event-stream operators. Drill has no streaming story; this is the
  * Spark-native extension: the same tumbling/session semantics are
  * expressed once and run either as a batch DataFrame (verifiable against
  * a SQL oracle) or as a Structured Streaming query with watermarks.
  */
object Events {

  /** Epoch seconds for a `ts` column that is either a real timestamp or
    * BIGINT nanos (how ns-precision parquet surfaces in Spark via
    * spark.sql.legacy.parquet.nanosAsLong). FLOOR division — Spark's `div`
    * truncates toward zero, which disagrees with a SQL oracle's `//` for
    * pre-1970 timestamps; subtracting pmod first makes the quotient exact
    * and floor-consistent for any sign, with no double-precision detour. */
  def tsSeconds(events: DataFrame): Column =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("(ts - pmod(ts, 1000000000L)) div 1000000000L")
      case _ => unix_timestamp(col("ts")).cast("long")
    }

  /** `ts` as a TIMESTAMP column regardless of source shape: the
    * BIGINT-nanos form (spark.sql.legacy.parquet.nanosAsLong — the very
    * case [[tsSeconds]] exists for) converts via micros. The streaming
    * entry points apply this before withWatermark, which requires a
    * timestamp — without it every streaming twin of a working
    * BIGINT-nanos batch pipeline failed at analysis. */
  private def tsAsTimestamp(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integral floor division — Long/Long `/` on Columns detours
        // through Double (precision loss above 2^53, truncation toward
        // zero pre-1970), the exact defect class tsSeconds avoids.
        events.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      case _ => events
    }

  /** Engine-portable sum of a double measure: quantize each value with
    * floor(v * 2^14) (exact in binary floating point — scaling by a power
    * of two changes no mantissa bits), sum as BIGINT. Immune to summation
    * order AND to decimal-rounding half-case differences across engines. */
  def quantizedSum(c: Column): Column =
    sum(floor(c * lit(16384.0)).cast("long"))

  /** Tumbling-window aggregate, batch form. Window key = floor(epoch /
    * windowSec) as BIGINT — engine-portable (no timestamp precision
    * skew between parquet ns / Spark us). */
  def tumblingAgg(events: DataFrame, windowSec: Int): DataFrame = {
    val sec = tsSeconds(events)
    events.groupBy(
        floor(sec / windowSec).cast("long").as("window_id"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        quantizedSum(col("value")).as("sum_value_q"))
  }

  /** Gap-based sessionization, batch form: a new session starts when the
    * user is idle > gapSec; session_id = first event ts in the session.
    * One shuffle on user_id; window functions do the rest. */
  def sessionize(events: DataFrame, gapSec: Int): DataFrame = {
    // event_id tie-break: ts alone can collide within a user, and an
    // ambiguous lag() order makes the session assignment engine-dependent.
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sec = tsSeconds(events)
    val newSession = when(
      sec - lag(sec, 1).over(byUser) > gapSec || lag(sec, 1).over(byUser).isNull, 1)
      .otherwise(0)
    events
      .withColumn("sec", sec)
      .withColumn("sess_seq", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"),
        max(col("sec")).as("end_sec"),
        quantizedSum(col("value")).as("sum_value_q"))
  }

  /** Streaming exact dedup at ingest: drop rows whose normalized content
    * hash already appeared within the watermark horizon. State is bounded
    * by the watermark (dropDuplicatesWithinWatermark evicts expired keys);
    * a plain dropDuplicates would grow state forever on a continuous
    * 100 TB/day feed. The batch twin is Dedup.exact — same hash, same
    * normalize — so a backfill and the live stream agree. */
  def dedupStream(docs: DataFrame, textCol: String,
                  watermarkDelay: String = "10 minutes"): DataFrame = {
    // collision-safe internal name, dropped before return: Dedup.exact
    // was rewritten to keep the INPUT schema for exactly this reason —
    // "content_hash" leaked into every caller and silently clobbered a
    // real column of that name
    val h = "__g_content_hash"
    tsAsTimestamp(docs).withColumn(h,
        xxhash64(graft.pipeline.TextAnalysis.normalize(col(textCol))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(h)
      .drop(h)
  }

  /** Streaming decontamination: drop stream rows that near-duplicate a
    * STATIC reference corpus (eval/benchmark content) at ingest,
    * STATELESSLY — no watermark, no join state, so it runs at ingest rate
    * forever. One shape at every reference size: a broadcast stream-static
    * LEFT ANTI join. A row survives iff no reference doc shares an LSH
    * band with it and verifies at `threshold` exact hashed-token Jaccard
    * (the jaccard kernel runs only on band collisions). Token sets and
    * band keys are the batch family's own ([[graft.pipeline.Dedup]]'s
    * tokenSet and selectBandKeys), and blank/NULL reference docs drop out
    * the way Dedup.crossNearDups drops them, so the kept rows are the
    * corpus minus what Dedup.decontaminate drops, as long as no band
    * bucket outgrows that operator's maxBucket cap (spec-asserted). The
    * reference rides the broadcast channel, never the query plan;
    * Dedup.decontaminate (bipartite banded join) remains the batch twin
    * for big-vs-big corpora, where the reference itself needs to
    * shuffle. */
  def decontaminateStream(stream: DataFrame, reference: DataFrame,
                          textCol: String,
                          numHashes: Int = 128, bands: Int = 32,
                          threshold: Double = 0.8): DataFrame = {
    import graft.pipeline.Dedup
    val ref = Dedup.selectBandKeys(
        reference.select(Dedup.tokenSet(col(textCol)).as("ref_th"))
          .filter(size(col("ref_th")) > 0),
        col("ref_th"), numHashes, bands)(keys =>
      Seq(col("ref_th"), keys.as("ref_bands")))
    Dedup.selectBandKeys(stream.withColumn("__th", Dedup.tokenSet(col(textCol))),
        col("__th"), numHashes, bands)(keys => Seq(col("*"), keys.as("__bands")))
      .join(broadcast(ref),
        arrays_overlap(col("__bands"), col("ref_bands")) &&
          call_function("jaccard_sim", col("__th"), col("ref_th")) >= threshold,
        "left_anti")
      .drop("__th", "__bands")
  }

  /** Streaming ingest into a Delta table: each micro-batch commits
    * atomically to the transaction log via foreachBatch +
    * DeltaLogWriter, carrying a Delta `txn` action keyed by `appId` —
    * exactly-once ACROSS RESTARTS: a replayed batch whose id is at or
    * below the last committed txn version is skipped, which is precisely
    * the Delta protocol's idempotent-writer mechanism. Readers replaying
    * the log never see a partial batch (the commit-file rename is the
    * publish point). The lakehouse half of the streaming story: dedup/
    * decontaminate at ingest, then land exactly once in a table any
    * engine can read. */
  /** Exactly-once skip decision shared by the lakehouse sinks. A
    * restarted query only ever replays its LAST batch, so the table's
    * recorded batch id can legitimately equal — never exceed — the
    * incoming one. Recorded > incoming means a DIFFERENT query (fresh
    * checkpoint) is writing into the same table under the same appId:
    * silently "skipping" its batches as replays would discard all of
    * its early data, so refuse loudly instead. */
  private def shouldWrite(committed: Option[Long], batchId: Long,
                          tablePath: String, appId: String): Boolean =
    committed match {
      case Some(c) if c > batchId => throw new IllegalStateException(
        s"$tablePath has recorded batch $c for appId '$appId' but this " +
          s"query is at batch $batchId — a restart only replays the " +
          "last batch, so this is a different query (fresh checkpoint) " +
          "re-using the appId; its batches would be silently dropped " +
          "as replays. Pass a distinct appId or resume the original " +
          "checkpoint.")
      case Some(c) => c < batchId // == : durable replay, skip
      case None => true
    }

  def deltaSink(stream: DataFrame, tablePath: String, checkpoint: String,
                appId: String = "graft-stream"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // one log read per micro-batch: the txn guard and the commit
        // come from one snapshot
        val snap = graft.sources.DeltaLogReader
          .snapshotIfExists(batch.sparkSession, tablePath)
        if (shouldWrite(snap.flatMap(_.txns.get(appId)), batchId, tablePath, appId))
          graft.sources.DeltaLogWriter.write(batch.toDF(), tablePath,
            org.apache.spark.sql.SaveMode.Append, Some((appId, batchId)), snap)
        ()
      }
      .start()

  /** Streaming ingest into an ICEBERG v1 table — [[deltaSink]]'s twin on
    * the other open table format: each micro-batch lands as one snapshot
    * whose summary carries (appId, batchId); a restarted query replaying
    * a batch at or below [[graft.sources.IcebergTable.lastStreamBatch]]
    * skips the commit, so the table sees each batch exactly once.
    * (Snapshot summary properties are Iceberg's standard home for writer
    * bookkeeping; Delta uses txn actions for the same contract.) */
  def icebergSink(stream: DataFrame, tablePath: String, checkpoint: String,
                  appId: String = "graft-stream"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val committed = graft.sources.IcebergTable
          .lastStreamBatch(batch.sparkSession, tablePath, appId)
        if (shouldWrite(committed, batchId, tablePath, appId))
          graft.sources.IcebergTable.write(batch.toDF(), tablePath,
            summaryProps = Map(
              "graft.app-id" -> appId, "graft.batch-id" -> batchId.toString))
        ()
      }
      .start()

  /** Streaming UPSERT ingest into an ICEBERG v2 table — the equality-
    * delete-based CDC materialization Flink's Iceberg upsert sink
    * performs: each micro-batch first equality-DELETES its key tuples,
    * then appends its rows, so the latest version of every key wins at
    * read time via the sequence-scoped merge-on-read (the append's
    * sequence number exceeds the delete's).
    *
    * Exactly-once: only the APPEND carries (appId, batchId) bookkeeping.
    * A crash between the delete and the append replays the whole batch:
    * the second equality delete re-kills only rows older than itself
    * (the keys are already gone — a no-op on them), and the re-appended
    * rows out-sequence both deletes — so replay converges to exactly
    * the committed-once state. */
  /** One row per key within a micro-batch: the upsert sinks' commit
    * kills PRIOR-sequence rows only, so two same-key rows in one batch
    * would BOTH survive (duplicate keys on read) or tie-break
    * arbitrarily under paimon's same-sequence merge. With `orderCol`
    * the highest-ordered row wins (the CDC stream's own version/ts
    * column); without one the winner is an arbitrary-but-single row —
    * micro-batch rows carry no inherent order to preserve. */
  private def latestPerKey(df: DataFrame, keyCols: Seq[String],
                           orderCol: Option[String]): DataFrame =
    orderCol match {
      case Some(o) =>
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(o).desc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => df.dropDuplicates(keyCols)
    }

  def icebergUpsertSink(stream: DataFrame, tablePath: String,
                        checkpoint: String, keyCols: Seq[String],
                        appId: String = "graft-stream",
                        orderCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "icebergUpsertSink needs key columns")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.sources.IcebergTable
        val spark = batch.sparkSession
        val committed = IcebergTable.lastStreamBatch(spark, tablePath, appId)
        if (shouldWrite(committed, batchId, tablePath, appId)) {
          val df = latestPerKey(batch.toDF(), keyCols, orderCol)
          val exists = new org.apache.hadoop.fs.Path(tablePath, "metadata")
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(tablePath, "metadata"))
          val props = Map(
            "graft.app-id" -> appId, "graft.batch-id" -> batchId.toString)
          if (exists)
            // ONE rowDelta-style snapshot: the deleteEquality-then-write
            // pair published an intermediate snapshot in which the
            // batch's keys were deleted but not yet re-inserted — every
            // reader landing between the two commits saw missing keys
            IcebergTable.upsertEquality(spark, tablePath, df, keyCols,
              summaryProps = props)
          else
            IcebergTable.write(df, tablePath, summaryProps = props)
        }
        ()
      }
      .start()
  }

  /** Streaming UPSERT ingest into a Paimon table — the third lakehouse
    * sink, and the one with native upsert semantics: with `primaryKeys`
    * each micro-batch commits +U rows into a PRIMARY-KEY table (later
    * batches win their keys under the deduplicate merge — a CDC
    * materialization, not just an append log); without keys it appends.
    * Exactly-once rides paimon's OWN contract: every snapshot records
    * (commitUser, commitIdentifier) — Flink sinks dedupe restarts on
    * exactly that pair — so the sink writes (appId, batchId) there and
    * skips any replayed batch at or below
    * [[graft.sources.PaimonTable.lastStreamBatch]]. */
  def paimonSink(stream: DataFrame, tablePath: String, checkpoint: String,
                 primaryKeys: Seq[String] = Nil,
                 appId: String = "graft-stream",
                 orderCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.sources.PaimonTable
        val committed = PaimonTable.lastStreamBatch(
          batch.sparkSession, tablePath, appId)
        if (shouldWrite(committed, batchId, tablePath, appId)) {
          if (primaryKeys.isEmpty)
            PaimonTable.write(batch.toDF(), tablePath,
              commitUser = appId, commitIdentifier = batchId)
          else {
            // first batch creates the table (+I required); later ones
            // upsert. Same-key rows within one batch share writePk's
            // per-commit sequence number (an arbitrary merge winner) —
            // latestPerKey keeps exactly one
            val exists = new org.apache.hadoop.fs.Path(tablePath, "schema")
              .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
              .exists(new org.apache.hadoop.fs.Path(tablePath, "schema"))
            PaimonTable.writePk(
              latestPerKey(batch.toDF(), primaryKeys, orderCol),
              tablePath, primaryKeys,
              kind = if (exists) "+U" else "+I",
              commitUser = appId, commitIdentifier = batchId)
          }
        }
        ()
      }
      .start()

  /** Streaming NEAR-dup dedup at ingest (the watermarked-MinHash form of
    * [[dedupStream]], which only drops exact content-hash copies): a doc
    * is ADMITTED iff no doc seen within the watermark window verifies at
    * `threshold` exact hashed-token Jaccard against it. Two
    * watermark-coordinated stateful stages (a supported append-mode
    * chain):
    *  1. band-keyed flatMapGroupsWithState — state per LSH band holds the
    *    recent (id, ts, tokenHashes) entries, pruned by the watermark and
    *    expired by event-time timeout; each arrival emits one VOTE row
    *    (id, ts, dup?) after verifying against older in-state docs. Work
    *    per arrival is bucket-bounded exactly like the batch banding.
    *  2. windowed per-doc vote aggregation — a doc is admitted when its
    *    bands' votes close with no dup. Emission happens when the
    *    watermark passes the vote window (append semantics) — ingest
    *    dedup is a pipeline stage, so watermark-delayed admission is the
    *    contract, not a bug.
    * First-seen-wins, transitive (greedy clustering): a suppressed dup
    * still suppresses LATER copies of itself. Returns (doc_id, ts) of
    * admitted docs.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false`: Spark's STATIC checker rejects every FMGWS →
    * aggregation chain because FMGWS could emit rows below the
    * watermark; stage 1 here emits each vote with its INPUT row's event
    * time — which the upstream watermark already validated — so the
    * chain is watermark-sound. The require below turns the silent
    * analysis failure into an actionable error. */
  def nearDedupStream(spark: SparkSession, docs: DataFrame,
                      numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.8,
                      watermarkDelaySec: Int = 600,
                      voteWindowSec: Int = 30,
                      maxPerBand: Int = 4096): DataFrame = {
    import spark.implicits._
    import graft.pipeline.Dedup
    require(!spark.conf.get(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "true").toBoolean,
      "nearDedupStream chains flatMapGroupsWithState into a windowed " +
        "aggregation; its vote rows carry their input event time (never " +
        "below the watermark), which Spark's static checker cannot prove. " +
        "Set spark.sql.streaming.statefulOperator.checkCorrectness.enabled" +
        "=false for this session to run it.")
    val docSets = tsAsTimestamp(docs)
      .withWatermark("ts", s"$watermarkDelaySec seconds")
      .select(col("doc_id").cast("long"), col("ts"),
        // Dedup's token set; NULL text gets the blank doc's empty set, so
        // it still emits band rows and is ADMITTED (batch keeps it;
        // without this it produced zero votes and vanished from the output)
        coalesce(Dedup.tokenSet(col("text")), array().cast("array<bigint>")).as("th"))
    val withBands = Dedup.selectBandKeys(docSets, col("th"), numHashes, bands)(keys =>
        Seq(explode(keys).as("band"), col("doc_id"), col("ts"), col("th")))
      .as[(Long, Long, java.sql.Timestamp, Seq[Long])]
    val votes = withBands.groupByKey(_._1)
      .flatMapGroupsWithState[BandDocs, (Long, java.sql.Timestamp, Boolean)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[BandDocs]) =>
          val wm = state.getCurrentWatermarkMs()
          // ArrayBuffer: Seq :+ on the state's List was O(n) per arrival
          // — quadratic on a hot band's micro-batch
          val entries = scala.collection.mutable.ArrayBuffer[BandEntry]()
          state.getOption.map(_.entries).getOrElse(Seq.empty)
            .foreach(e => if (e.ts >= wm) entries += e) // watermark-pruned
          var out = List.empty[(Long, java.sql.Timestamp, Boolean)]
          rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach {
            case (_, id, t, th) =>
              val arr = th.toArray
              // e.id != id: an at-least-once source re-delivering a doc
              // must not let it vote ITSELF a duplicate — bool_or over
              // the copies' votes would then suppress every copy,
              // violating first-seen-wins.
              // EVENT-TIME ordering (e.ts < t, id tie-break): only docs
              // that are OLDER in event time vote — a late-arriving
              // EARLIER doc must not be suppressed by its own later
              // near-dup that happened to arrive first (the batch twin
              // keeps the earliest doc per cluster; the stream matches
              // that KEEP set, at the cost of having already emitted the
              // later copy — inherent at-least-once over-emission)
              // an empty token set (blank or NULL text) neither casts
              // nor receives a vote: the batch op never pairs it, and
              // jaccard([], []) = 0.0 would pass threshold 0.0
              val dup = arr.nonEmpty && entries.exists(e => e.id != id &&
                e.th.nonEmpty &&
                (e.ts < t.getTime || (e.ts == t.getTime && e.id < id)) &&
                graft.functions.JaccardKernel
                  .computeLongArrays(e.th.toArray, arr) >= threshold)
              out ::= ((id, t, dup))
              entries += BandEntry(id, t.getTime, th)
          }
          // skew guard, the streaming analog of the batch maxBucket cap
          // (Dedup banding): a template-dense band keeps only its newest
          // maxPerBand entries — bounded state, documented recall loss on
          // pathological bands only
          val kept =
            if (entries.length > maxPerBand) entries.takeRight(maxPerBand).toSeq
            else entries.toSeq
          if (kept.isEmpty) state.remove()
          else {
            state.update(BandDocs(kept))
            state.setTimeoutTimestamp(
              kept.map(_.ts).max + watermarkDelaySec * 1000L)
          }
          out.reverseIterator
      }.toDF("doc_id", "ts", "dup")
    votes.withWatermark("ts", s"$watermarkDelaySec seconds")
      .groupBy(window(col("ts"), s"$voteWindowSec seconds"), col("doc_id"))
      // min(ts) = the doc's ACTUAL event time — window.start truncated
      // it by up to the window width, breaking any downstream join back
      // to the event stream on (doc_id, ts)
      .agg(expr("bool_or(dup)").as("any_dup"), min(col("ts")).as("ts"))
      .filter(!col("any_dup"))
      .select(col("doc_id"), col("ts"))
  }

  /** Structured Streaming form of tumblingAgg: readStream on the same
    * schema -> watermark -> windowed agg. Caller supplies the streaming
    * source (e.g. a rate/file/kafka reader). */
  def tumblingAggStream(events: DataFrame, windowDur: String,
                        watermarkDelay: String = "10 minutes"): DataFrame =
    tsAsTimestamp(events).withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      // the QUANTIZED sum, like the batch twin: raw double summation is
      // partition-order-dependent, so stream and backfill totals could
      // never reconcile bit-exactly
      .agg(count(lit(1)).as("n_events"),
        quantizedSum(col("value")).as("sum_value_q"))


  /** Native session_window sessionization — the DECLARATIVE sibling of
    * [[sessionizeStream]]: Spark's built-in gap-based session aggregation
    * (watermark-bounded state, sessions merge as late rows arrive inside
    * the gap). Prefer this form when per-session output is an aggregate;
    * drop to flatMapGroupsWithState only for custom state machines —
    * exactly the (a)-over-(c) preference order the whole library follows.
    * Works identically over a batch frame (the spec asserts both paths
    * agree with [[sessionize]]'s window-scan formulation away from the
    * exact gap boundary). BOUNDARY SEMANTICS differ by construction:
    * Spark's session_window is half-open [t, t+gap) — an event landing
    * EXACTLY gap seconds after the previous one starts a NEW session —
    * while [[sessionize]] splits only when the gap is strictly
    * exceeded (merges at equality). Both are published conventions;
    * pick one operator per pipeline rather than mixing them on
    * boundary-heavy data. */
  def sessionWindowAgg(events: DataFrame, gapSec: Int,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    val ets = tsAsTimestamp(events)
    val src = if (ets.isStreaming) ets.withWatermark("ts", watermarkDelay)
              else ets
    src.groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSec seconds").as("sess"))
      .agg(count(lit(1)).as("n_events"), quantizedSum(col("value")).as("sum_value_q"))
      .select(col("user_id"), col("sess.start").as("sess_start"),
        col("n_events"), col("sum_value_q"))
  }

  /** Stream-stream interval join: attribute each click to the impression
    * it followed within `windowSec` (the canonical watermarked
    * stream-stream join). Both sides keep bounded state — rows are
    * dropped once the watermark passes their join window. Expects
    * impressions(imp_id, imp_ts, ...) and clicks(clk_imp_id, clk_ts,
    * ...) where `clk_imp_id` is the click's FOREIGN KEY to the
    * impression it came from — the join key a click carries, not the
    * click's own event id. */
  def clickAttribution(impressions: DataFrame, clicks: DataFrame,
                       windowSec: Int,
                       watermarkDelay: String = "30 seconds"): DataFrame = {
    val imp = impressions.withWatermark("imp_ts", watermarkDelay)
    val clk = clicks.withWatermark("clk_ts", watermarkDelay)
    imp.join(clk, expr(
      s"""imp_id = clk_imp_id AND
          clk_ts >= imp_ts AND
          clk_ts <= imp_ts + interval $windowSec seconds"""))
  }

  /** flatMapGroupsWithState sessionization — custom state per user with an
    * EVENT-TIME timeout: a session closes either when the same user shows
    * up past the gap, or when the watermark passes last+gap. Event-time
    * (not processing-time) timeouts keep the query deterministic and
    * replayable, and the query goes idle when no data arrives — a
    * processing-time timeout would re-trigger empty micro-batches forever
    * (which also makes processAllAvailable() block indefinitely). */
  def sessionizeStream(spark: SparkSession, events: DataFrame, gapSec: Int,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    // the watermarked `ts` attribute itself must flow into the grouped
    // Dataset (the analyzer checks for it); seconds derive in the lambda.
    val typed = tsAsTimestamp(events).withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessState, (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessState]) =>
          // per-event quantization = quantizedSum's element op; exact in
          // binary FP (power-of-two scale), Long sums order-independent
          def q(v: Double): Long = math.floor(v * 16384.0).toLong
          var out = List.empty[(Long, Long, Long, Long, Long)]
          var st = state.getOption.getOrElse(SessState(0, 0, 0, 0L))
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t, v) =>
            // floorDiv, not /: truncation-toward-zero disagreed with
            // the batch twin's floor semantics on pre-1970 timestamps
            val sec = Math.floorDiv(t.getTime, 1000L)
            if (st.n == 0) st = SessState(sec, sec, 1, q(v))
            else if (sec - st.last > gapSec) {
              out ::= (user, st.start, st.last, st.n, st.total)
              st = SessState(sec, sec, 1, q(v))
            } else if (st.start - sec > gapSec) {
              // a late in-watermark event MORE than a gap before the
              // current session start belongs to its own EARLIER
              // session (the batch twin sorts by ts and splits there) —
              // merging it stretched the session start arbitrarily far
              // back. Emitted immediately as a closed singleton; the
              // documented approximation: several such stragglers
              // arriving separately emit separately, where a batch
              // backfill may merge them with each other.
              out ::= (user, sec, sec, 1L, q(v))
            } else st = st.copy(
              // late in-watermark rows must not move the frontier
              // BACKWARD (last=sec once let a late row shrink `last`, so
              // the next on-time event spuriously split the session) nor
              // the start forward
              start = math.min(st.start, sec),
              last = math.max(st.last, sec),
              n = st.n + 1, total = st.total + q(v))
          }
          if (state.hasTimedOut) {
            if (st.n > 0) out ::= (user, st.start, st.last, st.n, st.total)
            state.remove()
          } else {
            state.update(st)
            state.setTimeoutTimestamp((st.last + gapSec) * 1000L)
          }
          out.reverseIterator
      }
      .toDF("user_id", "start_sec", "end_sec", "n_events", "sum_value_q")
  }
}
