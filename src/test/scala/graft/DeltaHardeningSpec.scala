package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter}

/** Regressions from a Delta-family hardening review: percent-encoded
  * path identity (decode for the filesystem, re-encode for joins
  * against Spark's URI-encoded file-path expressions), DV-aware remove
  * actions, writer-feature gating (PROTOCOL.md writer-version rules),
  * append schema validation, overwrite metaData re-emission, checkpoint
  * add sizes, and the table-level CDF flag. */
class DeltaHardeningSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/dh_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitLines(base: String, v: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(base, "_delta_log"), f"$v%020d.json")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  test("table path with a SPACE: DML, DV DML and vacuum all key correctly") {
    import spark.implicits._
    val base = freshDir("sp ace") // space lands in every absolute path
    val df = (1L to 6L).map(i => (i, s"row$i")).toDF("k", "v")
    DeltaLogWriter.write(df.filter(col("k") <= 3).coalesce(1), base)
    DeltaLogWriter.write(df.filter(col("k") > 3).coalesce(1), base)
    // COW DELETE: the pruning join runs over _metadata.file_path, whose
    // value URI-encodes the space — a decoded join key matched nothing
    val (_, n) = DeltaDml.delete(spark, base, col("k") === 2L)
    assert(n == 1L, s"expected 1 deleted, got $n")
    assert(DeltaLogReader.read(spark, base).count() == 5L)
    // DV DELETE: same join, plus the descriptor bookkeeping
    val (_, n2) = DeltaDml.deleteDv(spark, base, col("k") === 5L)
    assert(n2 == 1L, s"expected 1 DV-deleted, got $n2")
    assert(DeltaLogReader.read(spark, base).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 6L))
    // vacuum must NOT treat live files as dead (the live set used the
    // decoded form while the listing re-encodes)
    DeltaDml.vacuum(spark, base, retainMs = 0L)
    assert(DeltaLogReader.read(spark, base).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 6L),
      "vacuum deleted live files of a space-path table")
  }

  test("percent-encoded add.path: read decodes, vacuum keeps the file") {
    import spark.implicits._
    val base = freshDir("enc")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df, base, "a b.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      """{"add":{"path":"a%20b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    assert(DeltaLogReader.read(spark, base).count() == 2L)
    DeltaDml.vacuum(spark, base, retainMs = 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "a b.parquet")),
      "vacuum deleted a live file whose log path percent-encodes")
    assert(DeltaLogReader.read(spark, base).count() == 2L)
  }

  test("overwrite of a DV table emits removes WITH the DV descriptor") {
    import spark.implicits._
    val base = freshDir("owdv")
    DeltaLogWriter.write((1L to 4L).map(i => (i, s"r$i")).toDF("k", "v"), base)
    DeltaDml.deleteDv(spark, base, col("k") === 2L) // v1: attaches a DV
    val v = DeltaLogWriter.write(Seq((9L, "z")).toDF("k", "v"), base,
      org.apache.spark.sql.SaveMode.Overwrite)
    val rm = commitLines(base, v).filter(_.contains("\"remove\""))
    assert(rm.nonEmpty && rm.exists(_.contains("deletionVector")),
      s"overwrite removes lost the DV descriptor: $rm")
    assert(DeltaLogReader.read(spark, base).collect()
      .map(_.getLong(0)).toSet == Set(9L))
  }

  test("restore across a DV change removes the superseded (path, dv) pair") {
    import spark.implicits._
    val base = freshDir("restdv")
    DeltaLogWriter.write((1L to 4L).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), base)                              // v0: one file, no DV
    DeltaDml.deleteDv(spark, base, col("k") === 3L)    // v1: same file + DV
    val (v, _, _) = DeltaDml.restore(spark, base, 0L)  // back to no-DV
    assert(DeltaLogReader.read(spark, base).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    val lines = commitLines(base, v)
    val rmIdx = lines.indexWhere(l =>
      l.contains("\"remove\"") && l.contains("deletionVector"))
    val addIdx = lines.indexWhere(l =>
      l.contains("\"add\"") && !l.contains("deletionVector"))
    assert(rmIdx >= 0,
      "restore must remove the superseded (path, dv) identity")
    assert(addIdx > rmIdx,
      "re-add must FOLLOW the remove so path-keyed replay lands on it")
  }

  test("append validates schema: reorder aligns, extra/missing refuse") {
    import spark.implicits._
    val base = freshDir("appsch")
    DeltaLogWriter.write(Seq((1L, "a")).toDF("k", "v"), base)
    // reordered columns align by name, not position
    DeltaLogWriter.write(Seq(("b", 2L)).toDF("v", "k"), base)
    assert(DeltaLogReader.read(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    val e1 = intercept[IllegalArgumentException] {
      DeltaLogWriter.write(Seq((3L, "c", 1.0)).toDF("k", "v", "x"), base)
    }
    assert(e1.getMessage.contains("schema mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaLogWriter.write(Seq(4L).toDF("k"), base)
    }
    assert(e2.getMessage.contains("schema mismatch"))
  }

  test("overwrite with a NEW schema re-emits metaData") {
    import spark.implicits._
    val base = freshDir("owsch")
    DeltaLogWriter.write(Seq((1L, "a")).toDF("k", "v"), base)
    DeltaLogWriter.write(Seq((2L, 9.5)).toDF("k", "w"), base,
      org.apache.spark.sql.SaveMode.Overwrite)
    val got = DeltaLogReader.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("k", "w"),
      s"overwrite schema change not visible: ${got.schema.fieldNames.toSeq}")
    val r = got.collect().head
    assert(r.getLong(0) == 2L && r.getDouble(1) == 9.5)
  }

  test("checkpoint add rows carry real sizes and dataChange=false") {
    import spark.implicits._
    val base = freshDir("cpsize")
    DeltaLogWriter.write((1L to 5L).map(i => (i, s"r$i")).toDF("k", "v"), base)
    val cv = DeltaLogWriter.checkpoint(spark, base)
    val cp = spark.read.parquet(
      f"$base/_delta_log/$cv%020d.checkpoint.parquet")
      .filter(col("add").isNotNull)
      .select("add.size", "add.dataChange").collect()
    assert(cp.nonEmpty)
    assert(cp.forall(_.getLong(0) > 0L),
      "checkpoint add.size must be the real file size (external engines " +
        "plan scans from it)")
    assert(cp.forall(!_.getBoolean(1)), "checkpoint adds are not new data")
  }

  test("append-only table refuses row-removing commits, accepts appends") {
    import spark.implicits._
    val base = freshDir("apponly")
    val df = Seq((1L, "a")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df, base, "f0.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "t1",
        Map("delta.appendOnly" -> "true")),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaDml.delete(spark, base, col("k") === 1L)
    }
    assert(e.getMessage.contains("append-only"))
    intercept[IllegalArgumentException] {
      DeltaLogWriter.write(Seq((9L, "z")).toDF("k", "v"), base,
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    DeltaLogWriter.write(Seq((2L, "b")).toDF("k", "v"), base) // append OK
    assert(DeltaLogReader.read(spark, base).count() == 2L)
  }

  test("checkpoint(vacuumJson) PRESERVES the table's metaData identity " +
      "and configuration") {
    import spark.implicits._
    val base = freshDir("cpmeta")
    val df = Seq((1L, "a")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df, base, "f0.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "my-table-id",
        Map("delta.appendOnly" -> "true")),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    // vacuumJson removes every JSON commit: the checkpoint row becomes
    // the ONLY metaData — the regression synthesized id="graft" with an
    // empty configuration, silently dropping appendOnly enforcement
    DeltaLogWriter.checkpoint(spark, base, vacuumJson = true)
    val snap = DeltaLogReader.snapshot(spark, base)
    val (id, conf) = (snap.metaId, snap.configuration)
    assert(id == "my-table-id", id)
    assert(conf.get("delta.appendOnly").contains("true"), conf)
    // the enforcement itself still gates post-vacuum
    intercept[IllegalArgumentException] {
      DeltaDml.delete(spark, base, col("k") === 1L)
    }
    assert(DeltaLogReader.read(spark, base).count() == 1L)
  }

  test("CHECK constraints and unknown writer features refuse DML loudly") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val base1 = freshDir("chk")
    DeltaLogReader.writeDataFile(df, base1, "f0.parquet")
    DeltaLogReader.writeCommit(spark, base1, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "t1",
        Map("delta.constraints.positive" -> "k > 0")),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e1 = intercept[IllegalArgumentException] {
      DeltaDml.update(spark, base1, col("k") === 1L, Map("v" -> lit("x")))
    }
    assert(e1.getMessage.contains("CHECK constraints"))

    val base2 = freshDir("rowtrack")
    DeltaLogReader.writeDataFile(df, base2, "f0.parquet")
    DeltaLogReader.writeCommit(spark, base2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"readerFeatures":[],"writerFeatures":["rowTracking"]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException] {
      DeltaDml.delete(spark, base2, col("k") === 1L)
    }
    assert(e2.getMessage.contains("rowTracking"))
  }

  test("table-level delta.enableChangeDataFeed forces cdc emission") {
    import spark.implicits._
    val base = freshDir("tablecdf")
    val df = (1L to 4L).map(i => (i, s"r$i")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df, base, "f0.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "t1",
        Map("delta.enableChangeDataFeed" -> "true")),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    assert(!spark.conf.getOption("graft.delta.cdf").exists(_ == "true"))
    val (v, n) = DeltaDml.delete(spark, base, col("k") === 2L)
    assert(n == 1L)
    // exact row-level CDF (cdc files), not the derived whole-file form
    val ch = DeltaLogReader.readChanges(spark, base, v, Some(v))
      .filter(col("_change_type") === "delete").collect()
    assert(ch.length == 1 && ch.head.getLong(0) == 2L,
      s"expected the one exact delete row, got ${ch.toSeq}")
  }
}
