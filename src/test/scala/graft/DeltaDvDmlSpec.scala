package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter, MergeClauses}

/** DELETE via deletion vectors on Delta tables — the delta-spark default
  * delete shape once the feature is on: affected files re-added with a
  * DV descriptor, never rewritten. */
class DeltaDvDmlSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/deltadv_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  private def keys(base: String) = DeltaLogReader.read(spark, base)
    .select("k").collect().map(_.getLong(0)).toSet

  test("deleteDv: rows vanish, data files untouched, protocol declares " +
      "the feature") {
    import spark.implicits._
    val base = freshDir("basic")
    DeltaLogWriter.write(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    def parquetFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val dataFilesBefore = parquetFiles()
    val (v, n) = DeltaDml.deleteDv(spark, base, col("k") % 10 === 0)
    assert(v == 1L && n == 10L)
    assert(keys(base) == (1L to 100L).filterNot(_ % 10 == 0).toSet)
    // merge-on-read: no data file was rewritten — the commit added only
    // the DV bin file
    assert(parquetFiles() == dataFilesBefore,
      "DV delete must not rewrite data files")
    // the commit carries the protocol feature declaration
    val log = scala.io.Source.fromFile(
      s"$base/_delta_log/00000000000000000001.json").mkString
    assert(log.contains("\"deletionVectors\""))
    assert(log.contains("\"minReaderVersion\":3"))
  }

  test("second deleteDv merges the existing DV (replacement carries all " +
      "prior positions); dead rows don't re-count") {
    import spark.implicits._
    val base = freshDir("merge")
    DeltaLogWriter.write(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base)
    val (_, n1) = DeltaDml.deleteDv(spark, base, col("k") <= 20)
    // overlapping predicate: k <= 30 — rows 1..20 are already dead and
    // must not re-count
    val (_, n2) = DeltaDml.deleteDv(spark, base, col("k") <= 30)
    assert(n1 == 20L && n2 == 10L)
    assert(keys(base) == (31L to 100L).toSet)
    // one descriptor per file: the replacement superseded the first DV
    val files = DeltaLogReader.snapshot(spark, base).files
    assert(files.size == 1 && files.head.dv.isDefined)
    assert(files.head.dv.get.cardinality == 30L)
  }

  test("updateDv: old versions die under a DV, new versions append; " +
      "file rewrite avoided") {
    import spark.implicits._
    val base = freshDir("upd")
    DeltaLogWriter.write(
      (1L to 100L).map(i => (i, "x", i * 1.0)).toDF("k", "tag", "score")
        .coalesce(1), base)
    def parquetFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = parquetFiles()
    val (v, n) = DeltaDml.updateDv(spark, base, col("k") % 10 === 0,
      Map("tag" -> lit("hit"), "score" -> (col("score") * 2)))
    assert(v == 1L && n == 10L)
    // original file untouched; only the appended update versions are new
    assert(before.subsetOf(parquetFiles()))
    val rows = DeltaLogReader.read(spark, base)
      .select("k", "tag", "score").as[(Long, String, Double)].collect()
    assert(rows.length == 100)
    rows.foreach { case (k, tag, score) =>
      if (k % 10 == 0) assert(tag == "hit" && score == k * 2.0)
      else assert(tag == "x" && score == k * 1.0)
    }
    // a second DV update over an overlapping predicate: prior DV merges,
    // already-updated rows re-match on their NEW (appended) versions
    val (_, n2) = DeltaDml.updateDv(spark, base, col("k") <= 20,
      Map("tag" -> lit("low")))
    assert(n2 == 20L)
    val tags = DeltaLogReader.read(spark, base)
      .select("k", "tag").as[(Long, String)].collect().toMap
    assert(tags.size == 100)
    (1L to 100L).foreach { k =>
      val want = if (k <= 20) "low" else if (k % 10 == 0) "hit" else "x"
      assert(tags(k) == want, s"k=$k got ${tags(k)} want $want")
    }
  }

  test("checkpoint carries DVs: bootstrap applies them after log vacuum") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("cp")
    DeltaLogWriter.write(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base)
    DeltaDml.deleteDv(spark, base, col("k") <= 10)
    val cv = DeltaLogWriter.checkpoint(spark, base, vacuumJson = true)
    assert(cv == 1L)
    // JSON commits gone -> the checkpoint is the only source of truth
    assert(keys(base) == (11L to 50L).toSet)
    // the checkpointed protocol still declares the feature; further DV
    // DML and reads keep working on top
    val (_, n) = DeltaDml.deleteDv(spark, base, col("k") > 45)
    assert(n == 5L)
    assert(keys(base) == (11L to 45L).toSet)
  }

  test("CDF: DV DML emits exact change rows when graft.delta.cdf is on") {
    import spark.implicits._
    val base = freshDir("cdf")
    DeltaLogWriter.write(
      (1L to 30L).map(i => (i, "x")).toDF("k", "tag").coalesce(1), base)
    spark.conf.set("graft.delta.cdf", "true")
    try {
      DeltaDml.deleteDv(spark, base, col("k") % 10 === 0)
      DeltaDml.updateDv(spark, base, col("k") <= 3, Map("tag" -> lit("u")))
    } finally spark.conf.unset("graft.delta.cdf")
    val ch = DeltaLogReader.readChanges(spark, base, fromVersion = 1L)
      .select("_change_type", "k").as[(String, Long)].collect()
    val byType = ch.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byType("delete") == Set(10L, 20L, 30L))
    assert(byType("update_preimage") == Set(1L, 2L, 3L))
    assert(byType("update_postimage") == Set(1L, 2L, 3L))
  }

  test("RESTORE across DV boundaries: vectors re-applied or cleared to " +
      "match the target version") {
    import spark.implicits._
    import graft.sources.DeltaDml
    val base = freshDir("restore")
    DeltaLogWriter.write(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base) // v0
    DeltaDml.deleteDv(spark, base, col("k") <= 10)                        // v1
    DeltaDml.deleteDv(spark, base, col("k") > 35)                         // v2
    assert(keys(base) == (11L to 35L).toSet)
    // back to v1: the narrower DV state returns
    DeltaDml.restore(spark, base, 1L)                                     // v3
    assert(keys(base) == (11L to 40L).toSet)
    // back to v0: the DV clears entirely
    DeltaDml.restore(spark, base, 0L)                                     // v4
    assert(keys(base) == (1L to 40L).toSet)
    val files = DeltaLogReader.snapshot(spark, base).files
    assert(files.forall(_.dv.isEmpty))
  }

  test("no-match deleteDv commits nothing; works across multi-file tables") {
    import spark.implicits._
    val base = freshDir("multi")
    DeltaLogWriter.write(
      (1L to 200L).map(i => (i, i % 5)).toDF("k", "g").repartition(4), base)
    val (v0, n0) = DeltaDml.deleteDv(spark, base, col("k") > 999)
    assert(v0 == 0L && n0 == 0L)
    val (_, n) = DeltaDml.deleteDv(spark, base, col("g") === 2)
    assert(n == 40L)
    assert(keys(base) == (1L to 200L).filterNot(_ % 5 == 2).toSet)
    // only files holding g==2 rows got DVs... every file does here, but
    // each carries exactly its own dead positions
    val files = DeltaLogReader.snapshot(spark, base).files
    assert(files.flatMap(_.dv).map(_.cardinality).sum == 40L)
  }

  test("remove actions carry the superseded DV descriptor (PROTOCOL.md " +
      "logical-file identity is (path, dvUniqueId))") {
    import spark.implicits._
    val base = freshDir("removedv")
    DeltaLogWriter.write(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base)
    DeltaDml.deleteDv(spark, base, col("k") <= 5)  // v1: adds (f, dv1)
    DeltaDml.deleteDv(spark, base, col("k") <= 10) // v2: must remove (f, dv1)
    val log2 = scala.io.Source.fromFile(
      s"$base/_delta_log/00000000000000000002.json").mkString
    val removeLine = log2.linesIterator.find(_.contains("\"remove\"")).get
    assert(removeLine.contains("\"deletionVector\""),
      "a spec-keyed replay needs the removed file's OLD DV on the remove")
    assert(keys(base) == (11L to 50L).toSet)
  }

  test("DV DML merges the protocol instead of clobbering foreign features") {
    import spark.implicits._
    val base = freshDir("protomerge")
    DeltaLogWriter.write(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base)
    // simulate another engine declaring an extra reader/writer feature
    val extra =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz"],""" +
        """"writerFeatures":["timestampNtz"]}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/_delta_log/00000000000000000001.json"),
      (extra + "\n").getBytes("UTF-8"))
    DeltaDml.deleteDv(spark, base, col("k") <= 3) // v2
    val log2 = scala.io.Source.fromFile(
      s"$base/_delta_log/00000000000000000002.json").mkString
    assert(log2.contains("timestampNtz") && log2.contains("deletionVectors"),
      "protocol must merge features, never drop a declared one")
  }

  test("vacuum reclaims superseded deletion-vector files") {
    import spark.implicits._
    val base = freshDir("dvvac")
    DeltaLogWriter.write(
      (1L to 60L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base)
    DeltaDml.deleteDv(spark, base, col("k") <= 10) // dv1
    DeltaDml.deleteDv(spark, base, col("k") <= 20) // dv2 supersedes dv1
    def dvFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
        .toSet
    }
    assert(dvFiles().size == 2)
    val reclaimed = DeltaDml.vacuum(spark, base, retainMs = 0L)
    assert(reclaimed >= 1L, "the superseded DV bin must be reclaimable")
    assert(dvFiles().size == 1, "the LIVE DV must survive vacuum")
    assert(keys(base) == (21L to 60L).toSet) // table still reads correctly
  }

  test("MERGE with only NOT MATCHED BY SOURCE never duplicates a target " +
      "row that matches multiple source rows") {
    import spark.implicits._
    val base = freshDir("bysrcdup")
    DeltaLogWriter.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), base)
    // source holds TWO rows with key 1 and none with key 2: only-by-source
    // merge deletes unmatched k=2 and must keep exactly ONE copy of k=1
    val source = Seq((1L, "x"), (1L, "y")).toDF("mk", "mv")
    DeltaDml.merge(spark, base, source, on = "t.k = s.mk",
      MergeClauses(bySourceDelete = Some("true")))
    val rows = DeltaLogReader.read(spark, base).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(rows == Seq(1L), s"expected exactly one k=1 row, got $rows")
  }
}
