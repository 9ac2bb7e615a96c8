package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.IcebergTable

class IcebergSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/iceberg_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  test("rollback keeps last-sequence-number monotonic; post-rollback writes don't collide") {
    import spark.implicits._
    import graft.sources.IcebergTable
    val base = freshDir("rollseq") + "/t"
    IcebergTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base,
      org.apache.spark.sql.SaveMode.Overwrite)
    IcebergTable.deleteFrom(spark, base, col("k") === 1L) // v2 upgrade, seq 1
    IcebergTable.write(Seq((3L, "c")).toDF("k", "v"), base,
      org.apache.spark.sql.SaveMode.Append) // seq 2
    val meta0 = IcebergTable.loadMeta(spark, base)
    val rollTarget = meta0.snapshots.find(_.sequenceNumber == 1L).get.snapshotId
    IcebergTable.rollbackTo(spark, base, rollTarget)
    val meta1 = IcebergTable.loadMeta(spark, base)
    // the spec invariant: last-sequence-number >= every listed snapshot
    assert(meta1.lastSequenceNumber >=
      meta1.snapshots.map(_.sequenceNumber).max,
      s"regressed: ${meta1.lastSequenceNumber} vs ${meta1.snapshots.map(_.sequenceNumber)}")
    IcebergTable.write(Seq((4L, "d")).toDF("k", "v"), base,
      org.apache.spark.sql.SaveMode.Append) // must mint seq 3, not re-use 2
    val meta2 = IcebergTable.loadMeta(spark, base)
    val v2seqs = meta2.snapshots.map(_.sequenceNumber).filter(_ > 0)
    assert(v2seqs.distinct.size == v2seqs.size, s"sequence collision: $v2seqs")
    // rolled-back state {2} plus the new append {4}
    assert(IcebergTable.read(spark, base).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L, 4L))
  }

  test("CTAS round-trip: write then read back equals source") {
    import spark.implicits._
    val base = freshDir("ctas")
    val src = (1L to 100L).map(i => (i, s"name$i", i % 7, i * 0.5))
      .toDF("k", "name", "grp", "score")
    val snap = IcebergTable.write(src, base)
    assert(snap == 1L)
    val back = IcebergTable.read(spark, base)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("append adds a snapshot; time travel by snapshotId and asOfTimestampMs") {
    import spark.implicits._
    val base = freshDir("append")
    val a = (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v")
    val b = (51L to 80L).map(i => (i, s"b$i")).toDF("k", "v")
    val s1 = IcebergTable.write(a, base)
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(5)
    val s2 = IcebergTable.write(b, base)
    assert(Seq(s1, s2) == Seq(1L, 2L))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(keys(IcebergTable.read(spark, base)) == (1L to 80L).toSet)
    assert(keys(IcebergTable.read(spark, base, snapshotId = Some(1L))) ==
      (1L to 50L).toSet)
    assert(keys(IcebergTable.read(spark, base,
      asOfTimestampMs = Some(tsBetween))) == (1L to 50L).toSet)
    intercept[IllegalArgumentException](
      IcebergTable.read(spark, base, snapshotId = Some(99L)))
  }

  test("overwrite replaces the snapshot; prior versions still readable") {
    import spark.implicits._
    val base = freshDir("overwrite")
    IcebergTable.write((1L to 10L).map(i => (i, "old")).toDF("k", "tag"), base)
    IcebergTable.write((11L to 13L).map(i => (i, "new")).toDF("k", "tag"), base,
      SaveMode.Overwrite)
    val latest = IcebergTable.read(spark, base)
    assert(latest.select("k").collect().map(_.getLong(0)).toSet == Set(11L, 12L, 13L))
    val v1 = IcebergTable.read(spark, base, snapshotId = Some(1L))
    assert(v1.count() == 10L)
    val snaps = IcebergTable.read(spark, s"$base#snapshots")
      .orderBy("snapshot_id").collect()
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "overwrite"))
  }

  test("partitioned write: identity values in manifests AND in data files; " +
    "partitionFilter prunes files before the scan") {
    import spark.implicits._
    val base = freshDir("part")
    val src = (1L to 90L).map(i => (i, s"g${i % 3}", i * 2))
      .toDF("k", "grp", "dbl")
    IcebergTable.write(src, base, partitionBy = Seq("grp"))
    val back = IcebergTable.read(spark, base)
    // identity-partition column data survives in the files
    assert(back.orderBy("k").collect().toSeq ==
      src.select("k", "grp", "dbl").orderBy("k").collect().toSeq)
    val full = IcebergTable.read(spark, base)
    val pruned = IcebergTable.read(spark, base,
      partitionFilter = p => p("grp") == "g1")
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet ==
      (1L to 90L).filter(_ % 3 == 1).toSet)
    // manifest partition tuples are typed
    val files = IcebergTable.liveFiles(spark, base)
    assert(files.forall(_.partition.keySet == Set("grp")))
    assert(files.map(_.partition("grp")).toSet == Set("g0", "g1", "g2"))
    // record counts in manifests match reality
    assert(files.map(_.recordCount).sum == 90L)
  }

  test("incremental read: only rows appended in (from, to]") {
    import spark.implicits._
    val base = freshDir("incr")
    IcebergTable.write((1L to 10L).map(i => (i, "s1")).toDF("k", "v"), base)
    IcebergTable.write((11L to 20L).map(i => (i, "s2")).toDF("k", "v"), base)
    IcebergTable.write((21L to 30L).map(i => (i, "s3")).toDF("k", "v"), base)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 1L)) ==
      (11L to 30L).toSet)
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 1L, Some(2L))) ==
      (11L to 20L).toSet)
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 3L)) == Set.empty)
    intercept[IllegalArgumentException](
      IcebergTable.readAppendedBetween(spark, base, 42L))
  }

  test("metadata tables: snapshots, history, manifests, files, partitions") {
    import spark.implicits._
    val base = freshDir("metatables")
    IcebergTable.write((1L to 40L).map(i => (i, s"g${i % 2}")).toDF("k", "grp"),
      base, partitionBy = Seq("grp"))
    IcebergTable.write((41L to 60L).map(i => (i, s"g${i % 2}")).toDF("k", "grp"),
      base, partitionBy = Seq("grp"))
    assert(IcebergTable.read(spark, s"$base#snapshots").count() == 2L)
    val hist = IcebergTable.read(spark, s"$base#history")
      .orderBy("snapshot_id").collect()
    // BOTH true: snapshot 1 is an ANCESTOR of the current snapshot 2 —
    // Iceberg's history table marks the whole current lineage, not just
    // the head (the old false-for-ancestors assertion was the bug)
    assert(hist.map(_.getAs[Boolean]("is_current_ancestor")).toSeq ==
      Seq(true, true))
    // current snapshot references both manifests (append carries forward)
    assert(IcebergTable.read(spark, s"$base#manifests").count() == 2L)
    val files = IcebergTable.read(spark, s"$base#files")
    assert(files.agg(sum("record_count")).collect().head.getLong(0) == 60L)
    val parts = IcebergTable.read(spark, s"$base#partitions").collect()
    assert(parts.map(_.getAs[Long]("record_count")).sum == 60L)
    assert(parts.length == 2) // g0, g1
    intercept[IllegalArgumentException](
      IcebergTable.read(spark, s"$base#nonsense"))
  }

  test("schema/spec guards and not-a-table errors are clear") {
    import spark.implicits._
    val base = freshDir("guards")
    IcebergTable.write(Seq((1L, "x")).toDF("k", "v"), base)
    val wrong = Seq((1L, 2L)).toDF("k", "v") // v: long, table has string
    val e1 = intercept[IllegalArgumentException](IcebergTable.write(wrong, base))
    assert(e1.getMessage.contains("schema mismatch"))
    val e2 = intercept[IllegalArgumentException](
      IcebergTable.write(Seq((1L, "x")).toDF("k", "v"), base,
        partitionBy = Seq("v")))
    assert(e2.getMessage.contains("partition spec mismatch"))
    intercept[IllegalArgumentException](
      IcebergTable.read(spark, freshDir("nothere")))
  }

  test("pushdown reaches parquet footers through the iceberg scan") {
    import spark.implicits._
    val base = freshDir("pushdown")
    IcebergTable.write((1L to 100L).map(i => (i, i % 10)).toDF("k", "m"), base)
    val df = IcebergTable.read(spark, base).filter(col("k") > 90L).select("m")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,90)]")
      || plan.contains("GreaterThan(k,90)"), s"no pushed filter in:\n$plan")
    assert(df.collect().length == 10)
  }

  test("timestamps, dates and decimals survive the round-trip") {
    import spark.implicits._
    val base = freshDir("types")
    val src = Seq(
      (1L, java.sql.Date.valueOf("2024-03-09"),
        java.sql.Timestamp.valueOf("2024-03-09 10:30:00"), BigDecimal("12.34")),
      (2L, java.sql.Date.valueOf("2025-12-31"),
        java.sql.Timestamp.valueOf("2025-12-31 23:59:59"), BigDecimal("-0.01"))
    ).toDF("k", "d", "ts", "dec")
    IcebergTable.write(src, base)
    val back = IcebergTable.read(spark, base)
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
    // and the declared iceberg schema says what the spec says it should
    val meta = IcebergTable.loadMeta(spark, base)
    val json = meta.schemaNode.toString
    assert(json.contains("\"date\"") && json.contains("\"timestamptz\"")
      && json.contains("decimal(38, 18)"))
  }

  // ---------------------------------------- format v2: merge-on-read

  test("deleteFrom writes position deletes; read merges them out (v2)") {
    import spark.implicits._
    val base = freshDir("v2del")
    val src = (1L to 100L).map(i => (i, s"n$i", i % 4)).toDF("k", "name", "grp")
    IcebergTable.write(src.filter(col("k") <= 60L), base, partitionBy = Seq("grp"))
    IcebergTable.write(src.filter(col("k") > 60L), base, partitionBy = Seq("grp"))
    val delSnap = IcebergTable.deleteFrom(spark, base, col("k") % 10 === 0L)
    assert(delSnap == 3L)
    // the table upgraded to format v2 with a sequence number
    val meta = IcebergTable.loadMeta(spark, base)
    assert(meta.formatVersion == 2 && meta.lastSequenceNumber == 1L)
    val keys = IcebergTable.read(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys == (1L to 100L).filterNot(_ % 10 == 0).toSet)
    // time travel to the pre-delete snapshot still sees every row
    val preDel = IcebergTable.read(spark, base, snapshotId = Some(2L))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(preDel == (1L to 100L).toSet)
  }

  test("append after delete keeps deletes applied to old files only (v2)") {
    import spark.implicits._
    val base = freshDir("v2append")
    IcebergTable.write((1L to 50L).map(i => (i, "a")).toDF("k", "tag"), base)
    IcebergTable.deleteFrom(spark, base, col("k") <= 10L)
    // appended rows reuse the deleted key range — they must survive,
    // because position deletes name (file, pos), not key values
    IcebergTable.write((1L to 20L).map(i => (i, "b")).toDF("k", "tag"), base)
    val rows = IcebergTable.read(spark, base)
      .select("k", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = (11L to 50L).map((_, "a")).toSet ++ (1L to 20L).map((_, "b"))
    assert(rows == expected)
    assert(IcebergTable.loadMeta(spark, base).lastSequenceNumber == 2L)
  }

  test("deleteFrom with no matching rows commits nothing") {
    import spark.implicits._
    val base = freshDir("v2nomatch")
    IcebergTable.write((1L to 10L).map(i => (i, "x")).toDF("k", "v"), base)
    val snap = IcebergTable.deleteFrom(spark, base, col("k") > 999L)
    assert(snap == 1L) // current snapshot, unchanged
    assert(IcebergTable.loadMeta(spark, base).formatVersion == 1)
    assert(IcebergTable.read(spark, base).count() == 10L)
  }

  test("equality deletes apply by value, scoped by sequence number (v2)") {
    import spark.implicits._
    val base = freshDir("v2eq")
    IcebergTable.write((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    // snapshot 2: equality-delete keys 1..3 (by value — CDC shape)
    IcebergTable.deleteEquality(spark, base, Seq(1L, 2L, 3L).toDF("k"))
    assert(IcebergTable.read(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet == (4L to 10L).toSet)
    // time travel to snapshot 1 still sees every row
    assert(IcebergTable.read(spark, base, snapshotId = Some(1L)).count() == 10L)
    // snapshot 3 re-appends keys 2..4 — they must SURVIVE (their data
    // sequence number is greater than the delete's), proving the
    // strictly-less-than scoping the spec requires
    IcebergTable.write(Seq((2L, "new2"), (3L, "new3"), (4L, "extra4"))
      .toDF("k", "v"), base)
    val rows = IcebergTable.read(spark, base)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = (4L to 10L).map(i => (i, s"v$i")).toSet ++
      Set((2L, "new2"), (3L, "new3"), (4L, "extra4"))
    assert(rows == expected)
    // a position delete can stack on top of equality deletes
    IcebergTable.deleteFrom(spark, base, col("v") === "extra4")
    assert(IcebergTable.read(spark, base)
      .filter(col("v") === "extra4").count() == 0L)
    // #delete_files lists both delete kinds with their sequence numbers
    val delFiles = IcebergTable.read(spark, s"$base#delete_files")
      .collect().map(r => (r.getAs[String]("content"),
        r.getAs[Long]("sequence_number"), r.getAs[String]("equality_ids")))
    // the eq delete was the table's first v2 commit → sequence number 1
    assert(delFiles.exists(d => d._1 == "EQUALITY_DELETES" && d._2 == 1L
      && d._3.nonEmpty))
    assert(delFiles.exists(_._1 == "POSITION_DELETES"))
  }

  test("multi-column equality deletes match null-safely (v2)") {
    import spark.implicits._
    val base = freshDir("v2eqnull")
    IcebergTable.write(Seq((1L, Some("a")), (2L, None), (3L, Some("b")),
      (4L, None)).toDF("k", "tag"), base)
    // delete on (k, tag) including a null tag tuple: null must match null
    IcebergTable.deleteEquality(spark, base,
      Seq((2L, Option.empty[String]), (3L, Some("b"))).toDF("k", "tag"))
    val left = IcebergTable.read(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 4L)) // k=4 survives: (4,null) not in the keys
  }

  test("equality-delete file without equality_ids refuses (v2)") {
    import spark.implicits._
    val base = freshDir("v2eqbad")
    IcebergTable.write((1L to 10L).map(i => (i, "x")).toDF("k", "v"), base)
    val meta = IcebergTable.loadMeta(spark, base)
    val eqPath = new org.apache.hadoop.fs.Path(base, "data/eqdel-0.parquet")
    Seq(1L, 2L).toDF("k").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/_eqstage")
    val fs = eqPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/_eqstage"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(staged, eqPath)
    IcebergTable.commitDeleteFiles(spark, base, meta, Seq(graft.sources.StagedFiles
      .StagedFile(eqPath, fs.getFileStatus(eqPath).getLen, Map.empty, 2L)),
      content = 2, snapshotId = 2L)
    val e = intercept[IllegalArgumentException](
      IcebergTable.read(spark, base).collect())
    assert(e.getMessage.contains("equality_ids"))
  }

  test("readChangesBetween: appends, position + equality deletes, " +
      "re-inserts — all as row-level diffs") {
    import spark.implicits._
    val base = freshDir("changelog")
    IcebergTable.write((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    IcebergTable.write((11L to 15L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    IcebergTable.deleteFrom(spark, base, col("k") <= 3L)      // snap 3
    IcebergTable.deleteEquality(spark, base, Seq(5L, 6L).toDF("k")) // snap 4
    IcebergTable.write(Seq((5L, "new5")).toDF("k", "v"), base) // snap 5
    def ch(from: Long, to: Option[Long] = None) =
      IcebergTable.readChangesBetween(spark, base, from, to)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    val full = ch(1L)
    val expected =
      (11L to 15L).map(i => ("insert", 2L, i, s"v$i")).toSet ++
      (1L to 3L).map(i => ("delete", 3L, i, s"v$i")) ++
      Seq(("delete", 4L, 5L, "v5"), ("delete", 4L, 6L, "v6"),
        ("insert", 5L, 5L, "new5"))
    assert(full == expected)
    // subrange (3, 5]: just the equality delete + the re-insert
    assert(ch(3L, Some(5L)) == Set(("delete", 4L, 5L, "v5"),
      ("delete", 4L, 6L, "v6"), ("insert", 5L, 5L, "new5")))
    // empty range
    assert(ch(5L).isEmpty)
  }

  test("non-identity partition transforms read fine; writes refuse") {
    import spark.implicits._
    val base = freshDir("transforms")
    IcebergTable.write((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    // rewrite the spec to declare a truncate[4] transform on k — what a
    // foreign writer's metadata looks like; iceberg keeps SOURCE values
    // in the data files, so scans stay complete without decoding it
    val metaPath = new org.apache.hadoop.fs.Path(base, "metadata/v1.metadata.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val spec = """"partition-spec":[{"name":"k_trunc","transform":"truncate[4]","source-id":1,"field-id":1000}]"""
    val rewritten = orig.replaceFirst(
      "\"partition-spec\"\\s*:\\s*\\[\\s*\\]",
      java.util.regex.Matcher.quoteReplacement(spec))
    assert(rewritten != orig, "spec rewrite must take effect")
    val os = fs.create(metaPath, true)
    os.write(rewritten.getBytes("UTF-8"))
    os.close()
    val meta = IcebergTable.loadMeta(spark, base)
    assert(meta.nonIdentityTransforms == Seq("k_trunc=truncate[4]"))
    assert(meta.partCols.isEmpty) // no identity fields left to prune on
    assert(IcebergTable.read(spark, base).count() == 20L)
    val e = intercept[IllegalArgumentException](
      IcebergTable.write(Seq((99L, "x")).toDF("k", "v"), base))
    assert(e.getMessage.contains("non-identity"))
    val e2 = intercept[IllegalArgumentException](
      IcebergTable.deleteFrom(spark, base, col("k") === 1L))
    assert(e2.getMessage.contains("non-identity"))
  }

  test("metadata tables and incremental read work on a v2 table") {
    import spark.implicits._
    val base = freshDir("v2meta")
    IcebergTable.write((1L to 30L).map(i => (i, i % 3)).toDF("k", "m"), base)
    IcebergTable.deleteFrom(spark, base, col("k") <= 5L)
    IcebergTable.write((31L to 40L).map(i => (i, i % 3)).toDF("k", "m"), base)
    // #files lists DATA files only — the delete file is not a data file
    val files = IcebergTable.read(spark, s"$base#files")
      .select("file_path").collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(!_.contains("delete-")))
    val snaps = IcebergTable.read(spark, s"$base#snapshots")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(snaps.count(_ == "delete") == 1)
    // incremental read between snapshots counts appended DATA rows only
    val inc = IcebergTable.readAppendedBetween(spark, base, 1L)
    assert(inc.select("k").collect().map(_.getLong(0)).toSet == (31L to 40L).toSet)
  }

  test("rewrite_data_files: replace snapshot keeps rows, changelog skips it") {
    import spark.implicits._
    val base = freshDir("rewrite")
    val df = (1L to 30L).map(i => (i, s"row$i")).toDF("k", "v")
    IcebergTable.write(df.filter(col("k") <= 10), base)
    IcebergTable.write(df.filter(col("k") > 10 && col("k") <= 20), base)
    IcebergTable.write(df.filter(col("k") > 20), base)
    assert(IcebergTable.liveFiles(spark, base).size >= 3)
    val before = IcebergTable.read(spark, base).orderBy("k").collect().map(_.toSeq)

    val snap = IcebergTable.rewriteDataFiles(spark, base)
    assert(snap === 4L)
    assert(IcebergTable.read(spark, base).orderBy("k").collect()
      .map(_.toSeq).toSeq === before.toSeq)
    assert(IcebergTable.liveFiles(spark, base).size === 1)
    // the snapshot is marked replace; the CDC changelog emits nothing
    // for it (compaction changes files, never rows)
    val ops = IcebergTable.read(spark, s"$base#snapshots")
      .select("snapshot_id", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(4L) === "replace")
    val ch = IcebergTable.readChangesBetween(spark, base, fromSnapshotId = 3L)
    assert(ch.count() === 0)
    // time travel to a pre-compaction snapshot resolves the old files
    assert(IcebergTable.read(spark, base, snapshotId = Some(3L))
      .orderBy("k").collect().map(_.toSeq).toSeq === before.toSeq)
  }

  test("rewrite_data_files APPLIES row-level deletes and drops the " +
      "delete files (merge-on-read maintenance)") {
    import spark.implicits._
    val base = freshDir("rewrite_mor")
    val df = (1L to 20L).map(i => (i, s"row$i")).toDF("k", "v")
    IcebergTable.write(df, base)
    IcebergTable.deleteFrom(spark, base, col("k") <= 5)
    val snap = IcebergTable.rewriteDataFiles(spark, base)
    def keys = IcebergTable.read(spark, base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys == (6L to 20L).toSet)
    // the replace snapshot carries NO delete files: the compaction
    // materialized the visible state
    val entries = IcebergTable.liveEntries(spark, base)
    assert(entries.nonEmpty && entries.forall(_.content == 0))
    // visible rows unchanged -> changelog still skips the replace
    val ch = IcebergTable.readChangesBetween(spark, base,
      fromSnapshotId = 2L, toSnapshotId = Some(snap))
    assert(ch.count() == 0)
  }

  test("expire_snapshots drops history, reclaims files, keeps the data") {
    import spark.implicits._
    val base = freshDir("expire")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = (1L to 30L).map(i => (i, s"row$i")).toDF("k", "v")
    IcebergTable.write(df.filter(col("k") <= 10), base)
    IcebergTable.write(df.filter(col("k") > 10 && col("k") <= 20), base)
    IcebergTable.write(df.filter(col("k") > 20), base)
    IcebergTable.rewriteDataFiles(spark, base)
    val before = IcebergTable.read(spark, base).orderBy("k").collect().map(_.toSeq)
    val preDataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base, "data"))
      .map(_.getPath.getName).toSet

    val expired = IcebergTable.expireSnapshots(spark, base, keepLast = 1)
    assert(expired === Seq(1L, 2L, 3L))
    // data unchanged; superseded data files physically gone, kept ones live
    assert(IcebergTable.read(spark, base).orderBy("k").collect()
      .map(_.toSeq).toSeq === before.toSeq)
    val postDataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base, "data"))
      .map(_.getPath.getName).toSet
    assert(postDataFiles.size < preDataFiles.size)
    assert(IcebergTable.liveFiles(spark, base)
      .forall(f => fs.exists(new org.apache.hadoop.fs.Path(f.path))))
    // time travel to an expired snapshot now fails with the clear error
    val e = intercept[IllegalArgumentException](
      IcebergTable.read(spark, base, snapshotId = Some(2L)))
    assert(e.getMessage.contains("not in table"))
    // expiring again is a no-op
    assert(IcebergTable.expireSnapshots(spark, base, keepLast = 1) === Nil)
  }

  test("incremental read scopes by commit order, not timestamps (same-ms commits)") {
    import spark.implicits._
    val base = freshDir("incr_samems")
    IcebergTable.write((1L to 10L).map(i => (i, "s1")).toDF("k", "v"), base)
    IcebergTable.write((11L to 20L).map(i => (i, "s2")).toDF("k", "v"), base)
    IcebergTable.write((21L to 30L).map(i => (i, "s3")).toDF("k", "v"), base)
    // flatten every snapshot timestamp to ONE millisecond — two fast
    // commits genuinely share a ms; a timestamp-scoped range then drops
    // a same-ms successor of `from` silently
    val v = IcebergTable.currentMetadataVersion(spark, base)
    val mp = java.nio.file.Paths.get(s"$base/metadata/v$v.metadata.json")
    val flat = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replaceAll("\"timestamp-ms\"\\s*:\\s*\\d+", "\"timestamp-ms\":1700000000000")
    java.nio.file.Files.write(mp, flat.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling(s".v$v.metadata.json.crc")) // hadoop checksum sidecar
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 1L)) ==
      (11L to 30L).toSet)
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 1L, Some(2L))) ==
      (11L to 20L).toSet)
    assert(keys(IcebergTable.readAppendedBetween(spark, base, 3L)) == Set.empty)
  }

  test("v1 deprecated direct-manifests form: read, metadata table, expiration") {
    import spark.implicits._
    val base = freshDir("v1direct")
    IcebergTable.write((1L to 10L).map(i => (i, "s1")).toDF("k", "v"), base)
    IcebergTable.write((11L to 20L).map(i => (i, "s2")).toDF("k", "v"), base)
    // convert the CURRENT snapshot to the deprecated direct "manifests"
    // array (old v1 writers): drop manifest-list, list the manifests
    val paths = IcebergTable.metadataTable(spark, base, "manifests")
      .select("path").collect().map(_.getString(0)).toSeq
    assert(paths.nonEmpty)
    val v = IcebergTable.currentMetadataVersion(spark, base)
    val mp = java.nio.file.Paths.get(s"$base/metadata/v$v.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(mp))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val curId = root.get("current-snapshot-id").asLong
    root.get("snapshots").elements().forEachRemaining { n =>
      val sn = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (sn.get("snapshot-id").asLong == curId) {
        sn.remove("manifest-list")
        val arr = sn.putArray("manifests")
        paths.foreach(arr.add)
      }
    }
    java.nio.file.Files.write(mp, mapper.writeValueAsBytes(root))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling(s".v$v.metadata.json.crc")) // hadoop checksum sidecar
    // read composes through the direct form
    assert(IcebergTable.read(spark, base).count() == 20)
    // the manifests metadata table surfaces the direct entries instead
    // of opening the table directory as an avro file
    val mrows = IcebergTable.metadataTable(spark, base, "manifests")
      .select("path").collect().map(_.getString(0)).toSet
    assert(mrows == paths.toSet)
    // expiration must not put the table ROOT in a file set (the empty
    // manifest-list path used to resolve to the table directory)
    assert(IcebergTable.expireSnapshots(spark, base, keepLast = 1) == Seq(1L))
    assert(IcebergTable.read(spark, base).count() == 20)
  }

  test("partitioned tables: global delete manifests use the unpartitioned spec") {
    import spark.implicits._
    val base = freshDir("part_del_spec")
    IcebergTable.write((1L to 30L).map(i => (i, s"g${i % 3}")).toDF("k", "grp"),
      base, partitionBy = Seq("grp"))
    IcebergTable.deleteFrom(spark, base, col("k") <= 6L)
    assert(IcebergTable.read(spark, base).select("k").collect()
      .map(_.getLong(0)).toSet == (7L to 30L).toSet)
    // the delete manifest references spec 1 (empty fields); data
    // manifests stay on spec 0 (the identity partition fields)
    val specs = IcebergTable.metadataTable(spark, base, "manifests")
      .select("partition_spec_id").collect().map(_.getInt(0)).toSet
    assert(specs == Set(0, 1), specs.toString)
    // the metadata JSON declares the unpartitioned spec
    val v = IcebergTable.currentMetadataVersion(spark, base)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/metadata/v$v.metadata.json")))
    val specById = root.get("partition-specs").elements()
    var found = false
    specById.forEachRemaining { s =>
      if (s.get("spec-id").asInt == 1) {
        found = true
        assert(s.get("fields").size() == 0, s.toString)
      }
    }
    assert(found, "partition-specs lacks the unpartitioned spec 1")
  }
  test("URI-escapable table paths keep the (file,pos) delete identity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a SPACE in the table path: _metadata.file_path is URI-ENCODED
    // (%20) while manifest spellings are raw — without the encoding
    // identity every position-delete join silently matched nothing and
    // DELETE returned having deleted zero rows
    val base = freshDir("enc dir/t spaced")
    val df = (1L to 6L).map(i => (i, s"row$i")).toDF("k", "v")
    graft.sources.IcebergTable.write(df.coalesce(1), base)
    graft.sources.IcebergTable.deleteFrom(spark, base, col("k") <= 2L)
    val got = graft.sources.IcebergTable.read(spark, base)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L, 5L, 6L), s"delete did not apply: $got")
    // DV-based delete path too
    graft.sources.IcebergTable.deleteFromDv(spark, base, col("k") === 3L)
    assert(graft.sources.IcebergTable.read(spark, base)
      .collect().map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
  }
}
