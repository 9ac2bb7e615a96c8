package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup
import graft.streaming.Events

/** Structured Streaming paths (SURVEY rows 84/85) driven through
  * MemoryStream — the same operators the batch oracles cover, now
  * executed as incremental queries. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("tumblingAggStream: windowed agg over a stream matches batch totals") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Events.tumblingAggStream(
      input.toDF().toDF("ts", "event_type", "value"), "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      input.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0),
        (ts(400), "view", 5.0), (ts(700), "click", 0.5))
      q.processAllAvailable()
      // sums are the QUANTIZED bigints (floor(v * 2^14)) — the same
      // aggregate the batch twin uses, so backfill totals reconcile
      // bit-exactly instead of raw-double order-dependently
      val rows = spark.table("tumbling_out")
        .select(col("window.start").cast("long").as("w"), col("event_type"),
          col("n_events"), col("sum_value_q"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set(
        (0L, "click", 2L, 3L * 16384),    // window [0, 300)
        (300L, "view", 1L, 5L * 16384),   // window [300, 600)
        (600L, "click", 1L, 8192L)))      // window [600, 900): 0.5 * 2^14
    } finally q.stop()
  }

  test("sessionizeStream: flatMapGroupsWithState closes sessions on gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sess = Events.sessionizeStream(spark,
      input.toDF().toDF("user_id", "ts", "value"), gapSec = 1800)
    val q = sess.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    // NB: keep event times well past epoch 0 — the initial watermark is 0
    // and the stateful operator drops rows at or below the watermark.
    val b = 100000L
    try {
      input.addData((1L, ts(b), 1.0), (1L, ts(b + 600), 2.0), (2L, ts(b), 7.0))
      q.processAllAvailable()
      // sessions still open — nothing emitted yet
      assert(spark.table("sessions_out").count() == 0)
      // user 1 returns far beyond the gap: closes session 1 by gap logic;
      // the advanced watermark then times out user 2's idle session.
      input.addData((1L, ts(b + 10000), 4.0))
      q.processAllAvailable()
      // the event-time timeout for user 2 fires on the batch AFTER the
      // watermark advances — nudge with an empty-ish later batch.
      input.addData((3L, ts(b + 10001), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // sums are QUANTIZED units (floor(v * 2^14) per event), the batch
      // twin's quantizedSum contract — 3.0 -> 49152, 7.0 -> 114688
      assert(rows.contains((1L, b, b + 600L, 2L, 3L * 16384)), rows)
      assert(rows.contains((2L, b, b, 1L, 7L * 16384)), rows)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val b = 200000L
    val imps = MemoryStream[(Long, Timestamp)]
    val clks = MemoryStream[(Long, Timestamp)]
    val joined = Events.clickAttribution(
      imps.toDF().toDF("imp_id", "imp_ts"),
      clks.toDF().toDF("clk_imp_id", "clk_ts"), windowSec = 60)
    val q = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts(b)), (2L, ts(b)))
      clks.addData((1L, ts(b + 30)),  // inside the window -> joins
        (2L, ts(b + 120)))            // past the window -> dropped
      q.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select("imp_id", "clk_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L)).toSet
      assert(rows == Set((1L, b + 30)))
    } finally q.stop()
  }

  test("dedupStream drops in-watermark duplicate content, state stays bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = Events.dedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val b = 300000L
    try {
      input.addData(
        (1L, ts(b), "the quick brown fox"),
        (2L, ts(b + 1), "The  Quick   Brown Fox"), // same normalized content
        (3L, ts(b + 2), "something else entirely"))
      q.processAllAvailable()
      input.addData((4L, ts(b + 5), "the quick brown fox")) // still a dup
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
      // advance the watermark far past the duplicate's expiry (watermark
      // moves at batch END, so the expiry needs its own batch)...
      input.addData((9L, ts(b + 5000), "watermark pusher"))
      q.processAllAvailable()
      // ...then the same content re-admits: its dedup state was evicted
      input.addData((5L, ts(b + 5001), "the quick brown fox"))
      q.processAllAvailable()
      val ids2 = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids2 == Set(1L, 3L, 9L, 5L), s"got $ids2")
    } finally q.stop()
  }

  test("decontaminateStream drops eval near-dups at ingest, statelessly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val reference = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "benchmark question about spark engines and scaling"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val clean = Events.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), reference, "text",
      threshold = 0.7)
    val q = clean.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // == ref 1
        (11L, "an entirely original training document"),
        (12L, "benchmark question about spark engines and scale")) // ~ ref 2
      q.processAllAvailable()
      val ids = spark.table("decon_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(11L), s"got $ids")
      // stateless: no watermark or state operator in the plan
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
        "decontamination must not create streaming state")
    } finally q.stop()
  }

  test("decontaminateStream keeps exactly what Dedup.decontaminate keeps " +
      "(3 and 4,097 reference docs, blank and NULL docs, thresholds 0.8 and 0.0)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val blanks = Seq("", " \t  ", null)
    val corpus: Seq[(Long, String)] = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),     // == ref 1
      (11L, "an entirely original training document"),
      (12L, "benchmark question about spark engines and scale"), // ~ ref 2
      (13L, "the quick brown fox leaps over a sleepy dog today"), // partial
      (14L, "a third evaluation prompt about things")) ++         // ~ ref 3
      blanks.zipWithIndex.map { case (t, i) => (20L + i, t) }
    val small = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "benchmark question about spark engines and scaling"),
      (3L, "a third evaluation prompt about unrelated things"))
    // 3 and 4,097 content docs: a tiny reference and one past 4,096
    // rows — what is kept must not depend on the reference size
    val large = small ++ (4L to 4097L).map(i =>
      (i, (0 until 8).map(j => s"r${i}w$j").mkString(" ")))
    for (refDocs <- Seq(small, large); threshold <- Seq(0.8, 0.0)) {
      val reference = (refDocs ++ blanks.zipWithIndex.map { case (t, i) =>
          (90000L + i, t) }).toDF("doc_id", "text").repartition(2)
      val batchKept = Dedup.decontaminate(corpus.toDF("doc_id", "text"),
          reference, "doc_id", "text", threshold = threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val input = MemoryStream[(Long, String)]
      val name = s"decon_equiv_${refDocs.size}_${(threshold * 10).toInt}"
      val q = Events.decontaminateStream(input.toDF().toDF("doc_id", "text"),
          reference, "text", threshold = threshold)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val streamKept = try {
        input.addData(corpus: _*)
        q.processAllAvailable()
        spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
      } finally q.stop()
      val what = s"${refDocs.size} reference docs, threshold $threshold"
      assert(streamKept == batchKept, what)
      // blank and NULL docs carry no content: never contaminated, even at
      // threshold 0.0 against blank reference docs
      assert(Set(20L, 21L, 22L).subsetOf(streamKept), what)
      if (threshold == 0.8) assert(!streamKept(10L) && streamKept(11L), what)
    }
  }

  test("sessionizeStream: a straggler >gap before session start becomes its own session") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sess = Events.sessionizeStream(spark,
      input.toDF().toDF("user_id", "ts", "value"), gapSec = 10,
      watermarkDelay = "1 hour")
    val q = sess.writeStream.format("memory").queryName("sessions_straggle")
      .outputMode("append").start()
    val b = 100000L
    try {
      input.addData((1L, ts(b), 1.0))          // session opens at b
      q.processAllAvailable()
      input.addData((1L, ts(b - 150), 5.0))    // late, >gap BEFORE start
      q.processAllAvailable()
      val rows = spark.table("sessions_straggle").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // the straggler closes immediately as its own singleton session —
      // merging it would have stretched [b, b] back to [b-150, b]
      assert(rows.contains((1L, b - 150, b - 150, 1L)), rows)
    } finally q.stop()
  }

  test("nearDedupStream: a re-delivered doc must not vote itself a duplicate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val admitted = Events.nearDedupStream(spark,
      input.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.7, watermarkDelaySec = 10, voteWindowSec = 5)
    val q = admitted.writeStream.format("memory").queryName("neardedup_redeliver")
      .outputMode("append").start()
    try {
      // an at-least-once source re-delivers doc 1 in the same batch: the
      // second copy must not make the (window, doc_id) group vote itself
      // out — first-seen-wins means doc 1 IS admitted
      input.addData(
        (1L, t(100), "the quick brown fox jumps over the lazy dog"),
        (1L, t(100), "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      input.addData((9L, t(1000), "a watermark pushing row of unique text"))
      q.processAllAvailable()
      input.addData((10L, t(1100), "another watermark push unique row here"))
      q.processAllAvailable()
      val ids = spark.table("neardedup_redeliver").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L), s"re-delivered doc suppressed itself: $ids")
    } finally {
      q.stop()
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("nearDedupStream: a late-arriving EARLIER doc is not suppressed " +
      "by its event-time-later near-dup that arrived first") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val admitted = Events.nearDedupStream(spark,
      input.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.7, watermarkDelaySec = 600, voteWindowSec = 5)
    val q = admitted.writeStream.format("memory")
      .queryName("neardedup_late").outputMode("append").start()
    try {
      // B (ts=200) arrives first; its EARLIER near-dup A (ts=100) lands
      // in the next micro-batch, still inside the watermark. The batch
      // twin keeps the EARLIEST doc per cluster — A must be admitted,
      // not voted out by B (only event-time-OLDER docs vote)
      input.addData((2L, t(200), "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      input.addData((1L, t(100), "the quick brown fox jumps over the lazy cat"))
      q.processAllAvailable()
      // a genuinely LATER near-dup is still suppressed
      input.addData((3L, t(300), "the quick brown fox jumps over a lazy dog"))
      q.processAllAvailable()
      input.addData((9L, t(2000), "a watermark pushing row of unique text")) // flush
      q.processAllAvailable()
      input.addData((10L, t(2100), "another watermark push unique row here"))
      q.processAllAvailable()
      val ids = spark.table("neardedup_late").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L), s"late earlier doc suppressed: $ids")
      assert(!ids.contains(3L), s"later near-dup must stay dropped: $ids")
      assert(ids.contains(2L))
    } finally {
      q.stop()
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("nearDedupStream keeps what keepCanonical(minhashNearDups) keeps: " +
      "blank, whitespace-only and NULL docs at thresholds 0.8 and 0.0") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val corpus: Seq[(Long, java.sql.Timestamp, String)] = Seq(
      (1L, t(100), "the quick brown fox jumps over the lazy dog"),
      (2L, t(101), "the quick brown fox jumps over the lazy cat"), // 7/9 of 1
      (3L, t(102), "the quick brown fox jumps over the lazy dog"), // copy of 1
      (4L, t(103), "entirely different content about spark engines"),
      (5L, t(104), ""), (6L, t(105), "  \t "), (7L, t(106), null),
      (8L, t(107), ""), (9L, t(108), null))
    val docs = corpus.map { case (id, _, text) => (id, text) }.toDF("doc_id", "text")
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    try for (threshold <- Seq(0.8, 0.0)) {
      val batchKept = Dedup.keepCanonical(docs,
          Dedup.minhashNearDups(docs, "doc_id", "text", threshold = threshold),
          "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val name = s"neardedup_blank_${(threshold * 10).toInt}"
      val q = Events.nearDedupStream(spark,
          input.toDF().toDF("doc_id", "ts", "text"),
          threshold = threshold, watermarkDelaySec = 10, voteWindowSec = 5)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val streamKept = try {
        input.addData(corpus: _*)
        q.processAllAvailable()
        // push the watermark past the corpus' vote windows
        input.addData((100L, t(1000), "a watermark pushing row of unique text"))
        q.processAllAvailable()
        input.addData((101L, t(1100), "another watermark push unique row here"))
        q.processAllAvailable()
        spark.table(name).select("doc_id").collect().map(_.getLong(0))
          .toSet.filter(_ < 100L)
      } finally q.stop()
      assert(streamKept == batchKept, s"threshold $threshold")
      assert(Set(5L, 6L, 7L, 8L, 9L).subsetOf(streamKept), s"threshold $threshold")
    } finally spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
  }

  test("nearDedupStream: watermarked MinHash near-dedup admits uniques, drops near-copies") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    // without the opt-out the API must fail with an actionable message
    val e = intercept[IllegalArgumentException] {
      Events.nearDedupStream(spark, input.toDF().toDF("doc_id", "ts", "text"))
    }
    assert(e.getMessage.contains("checkCorrectness"))
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val admitted = Events.nearDedupStream(spark,
      input.toDF().toDF("doc_id", "ts", "text"),
      threshold = 0.7, watermarkDelaySec = 10, voteWindowSec = 5)
    val q = admitted.writeStream.format("memory").queryName("neardedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, t(100), "the quick brown fox jumps over the lazy dog"),
        (2L, t(101), "the quick brown fox jumps over the lazy cat"), // near-dup of 1
        (3L, t(102), "entirely different content about spark engines"))
      q.processAllAvailable()
      // push the watermark far past the first vote window so it closes
      input.addData((9L, t(1000), "a watermark pushing row of unique text"))
      q.processAllAvailable()
      input.addData((10L, t(1100), "another watermark push unique row here"))
      q.processAllAvailable()
      val ids = spark.table("neardedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L), "first copy must be admitted")
      assert(!ids.contains(2L), "near-dup within the window must be dropped")
      assert(ids.contains(3L), "distinct doc must be admitted")
      assert(ids.contains(9L), "post-window unique doc must be admitted once closed")
      // doc 1's state expired long before t=1100 (delay 10s): a late copy
      // of doc 1 is admitted again — watermark-bounded memory, asserted
      input.addData((11L, t(1101), "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      input.addData((12L, t(1200), "final watermark pushing unique row text"))
      q.processAllAvailable()
      val ids2 = spark.table("neardedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids2.contains(11L),
        "copy arriving after state expiry must be admitted (bounded state)")
    } finally {
      q.stop()
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("deltaSink refuses a FRESH query re-using another query's appId") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "/tmp/graft_test/delta_sink_clash"
    val ckpt = "/tmp/graft_test/delta_sink_clash_ckpt"
    Seq(base, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // the table already records batch 5 for this appId (a prior query)
    graft.sources.DeltaLogWriter.write(Seq((1L, "a")).toDF("k", "v"), base,
      txn = Some(("graft-stream", 5L)))
    val input = MemoryStream[(Long, String)]
    val q = Events.deltaSink(input.toDF().toDF("k", "v"), base, ckpt)
    try {
      input.addData((2L, "b")) // fresh checkpoint -> batchId 0 < 5
      val err = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] = Option(t).toSeq
        .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
      // the old guard silently SKIPPED batches 0..5 — data loss with no
      // signal; now it refuses and names the fix
      assert(msgs(err).exists(_.contains("distinct appId")), msgs(err))
    } finally q.stop()
  }

  test("deltaSink lands micro-batches as atomic Delta commits, idempotent by txn") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "/tmp/graft_test/delta_sink"
    val ckpt = "/tmp/graft_test/delta_sink_ckpt"
    Seq(base, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val input = MemoryStream[(Long, String)]
    val q = Events.deltaSink(input.toDF().toDF("k", "v"), base, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val got = graft.sources.DeltaLogReader.read(spark, base)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L))
      // txn bookkeeping: last committed batch recorded in the log
      assert(graft.sources.DeltaLogWriter
        .lastTxnVersion(spark, base, "graft-stream").exists(_ >= 1L))
      // idempotence: replaying an already-committed batch id through the
      // exact guard deltaSink uses is a no-op; a new id commits
      import graft.sources.{DeltaLogReader, DeltaLogWriter}
      val before = DeltaLogReader.tableVersions(spark, base).size
      val dup = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      if (!DeltaLogWriter.lastTxnVersion(spark, base, "graft-stream").exists(_ >= 0L))
        DeltaLogWriter.write(dup, base, txn = Some(("graft-stream", 0L)))
      assert(DeltaLogReader.tableVersions(spark, base).size == before,
        "replayed batch must be skipped")
      DeltaLogWriter.write(dup, base, txn = Some(("graft-stream", 99L)))
      assert(DeltaLogReader.tableVersions(spark, base).size == before + 1)
    } finally q.stop()
  }

  test("icebergSink lands micro-batches as snapshots, idempotent by " +
      "summary bookkeeping (deltaSink's twin)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "/tmp/graft_test/iceberg_sink"
    val ckpt = "/tmp/graft_test/iceberg_sink_ckpt"
    Seq(base, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val input = MemoryStream[(Long, String)]
    val q = Events.icebergSink(input.toDF().toDF("k", "v"), base, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      import graft.sources.IcebergTable
      val got = IcebergTable.read(spark, base)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L))
      assert(IcebergTable.lastStreamBatch(spark, base, "graft-stream")
        .exists(_ >= 1L))
      // idempotence: a replayed batch id through the sink's exact guard
      // is a no-op; a new id snapshots
      val dup = Seq((1L, "a")).toDF("k", "v")
      val before = IcebergTable.read(spark, base + "#snapshots").count()
      if (!IcebergTable.lastStreamBatch(spark, base, "graft-stream").exists(_ >= 0L))
        IcebergTable.write(dup, base, summaryProps = Map(
          "graft.app-id" -> "graft-stream", "graft.batch-id" -> "0"))
      assert(IcebergTable.read(spark, base + "#snapshots").count() == before,
        "replayed batch must be skipped")
      IcebergTable.write(dup, base, summaryProps = Map(
        "graft.app-id" -> "graft-stream", "graft.batch-id" -> "99"))
      assert(IcebergTable.read(spark, base + "#snapshots").count() == before + 1)
      assert(IcebergTable.lastStreamBatch(spark, base, "graft-stream")
        .contains(99L))
    } finally q.stop()
  }

  test("icebergUpsertSink materializes latest-key-wins via equality " +
      "deletes (the Flink-Iceberg upsert shape)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "/tmp/graft_test/iceberg_upsert"
    val ckpt = "/tmp/graft_test/iceberg_upsert_ckpt"
    Seq(base, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val input = MemoryStream[(Long, String)]
    val q = Events.icebergUpsertSink(input.toDF().toDF("k", "v"), base, ckpt,
      keyCols = Seq("k"))
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "b2"), (3L, "c")) // k=2 upserts
      q.processAllAvailable()
      import graft.sources.IcebergTable
      val got = IcebergTable.read(spark, base)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")),
        "the later batch's row must win its key through the " +
          "sequence-scoped equality delete")
      assert(IcebergTable.lastStreamBatch(spark, base, "graft-stream")
        .contains(1L))
      // batch 2 committed as ONE rowDelta-style snapshot (delete files +
      // data files together): the old delete-then-append pair published
      // an intermediate snapshot in which k=2 had vanished entirely
      val snaps = IcebergTable.loadMeta(spark, base).snapshots
      assert(snaps.size == 2,
        s"one snapshot per batch expected, got ${snaps.size}")
      // no intermediate state is addressable: every snapshot holds k=2
      snaps.foreach { s =>
        val at = IcebergTable.read(spark, base,
          snapshotId = Some(s.snapshotId))
          .collect().map(_.getLong(0)).toSet
        assert(at.contains(2L), s"snapshot ${s.snapshotId} lost k=2: $at")
      }
      // replay convergence: re-running the delete+append pair for a NEW
      // batch of the same key converges to that batch's row
      IcebergTable.deleteEquality(spark, base, Seq(2L).toDF("k"))
      IcebergTable.write(Seq((2L, "b3")).toDF("k", "v"), base,
        summaryProps = Map("graft.app-id" -> "graft-stream",
          "graft.batch-id" -> "2"))
      val got2 = IcebergTable.read(spark, base)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got2 == Set((1L, "a"), (2L, "b3"), (3L, "c")))
    } finally q.stop()
  }

  test("paimonSink upserts micro-batches into a PK table, exactly once " +
      "by (commitUser, commitIdentifier)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "/tmp/graft_test/paimon_sink"
    val ckpt = "/tmp/graft_test/paimon_sink_ckpt"
    Seq(base, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val input = MemoryStream[(Long, String)]
    val q = Events.paimonSink(input.toDF().toDF("k", "v"), base, ckpt,
      primaryKeys = Seq("k"))
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "b2"), (3L, "c")) // k=2 upserts
      q.processAllAvailable()
      import graft.sources.PaimonTable
      val got = PaimonTable.read(spark, base)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")),
        "later batch must win its key under the deduplicate merge")
      assert(PaimonTable.lastStreamBatch(spark, base, "graft-stream")
        .exists(_ >= 1L))
      // a replayed batch id is a no-op; a fresh id commits a snapshot
      val snaps = PaimonTable.snapshots(spark, base).size
      if (!PaimonTable.lastStreamBatch(spark, base, "graft-stream")
          .exists(_ >= 0L))
        PaimonTable.writePk(Seq((1L, "a")).toDF("k", "v"), base, Seq("k"),
          kind = "+U", commitUser = "graft-stream", commitIdentifier = 0L)
      assert(PaimonTable.snapshots(spark, base).size == snaps)
      PaimonTable.writePk(Seq((1L, "a9")).toDF("k", "v"), base, Seq("k"),
        kind = "+U", commitUser = "graft-stream", commitIdentifier = 99L)
      assert(PaimonTable.lastStreamBatch(spark, base, "graft-stream")
        .contains(99L))
    } finally q.stop()
  }

  test("batch and stream tumbling aggregation agree on the same data") {
    import spark.implicits._
    val batch = Seq((1L, ts(0), "click", 1.0), (2L, ts(10), "click", 2.0),
        (3L, ts(400), "view", 5.0))
      .toDF("event_id", "ts", "event_type", "value")
    val got = Events.tumblingAgg(batch, 300)
      .select("window_id", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((0L, "click", 2L), (1L, "view", 1L)))
  }

  test("session_window (native) agrees with the window-scan sessionize on batch") {
    import spark.implicits._
    val b = 100000L
    val batch = Seq(
      (1L, 10L, ts(b), 1.0), (1L, 11L, ts(b + 600), 2.0),     // one session
      (1L, 12L, ts(b + 5000), 4.0),                           // gap > 1800: new
      (2L, 13L, ts(b), 7.0))
      .toDF("user_id", "event_id", "ts", "value")
    val native = Events.sessionWindowAgg(batch, gapSec = 1800)
      .select(col("user_id"), col("sess_start").cast("long"),
        col("n_events"), col("sum_value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val windowed = Events.sessionize(batch, gapSec = 1800)
      .select(col("user_id"), col("start_sec"), col("n_events"), col("sum_value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(native === windowed)
    assert(native.size === 3)
  }

  test("session_window (native) streams with bounded state: sessions emit " +
      "once the watermark passes the gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sess = Events.sessionWindowAgg(
      input.toDF().toDF("user_id", "ts", "value"), gapSec = 1800,
      watermarkDelay = "10 seconds")
    val q = sess.writeStream.format("memory").queryName("native_sess_out")
      .outputMode("append").start()
    val b = 100000L
    try {
      input.addData((1L, ts(b), 1.0), (1L, ts(b + 600), 2.0))
      q.processAllAvailable()
      assert(spark.table("native_sess_out").count() === 0) // session open
      input.addData((1L, ts(b + 10000), 4.0)) // watermark passes b+600+gap
      q.processAllAvailable()
      val rows = spark.table("native_sess_out")
        .select(col("user_id"), col("sess_start").cast("long"),
          col("n_events"), col("sum_value_q"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet === Set((1L, b, 2L, (1.0 * 16384).toLong + (2.0 * 16384).toLong)))
    } finally q.stop()
  }
}
