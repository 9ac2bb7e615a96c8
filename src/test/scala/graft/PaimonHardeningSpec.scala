package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Regressions from a Paimon/BinaryRow/LakehouseDml hardening review:
  * partitioned changelog/stream file location, the null-partition dir
  * sentinel, Hive escape-set fidelity, MERGE primary-key integrity, and
  * UUID staging dirs. Lives in graft.sources to reach the
  * private[sources] streaming helpers. */
class PaimonHardeningSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/paimon_hard_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  test("readChangelog locates files of a PARTITIONED PK table") {
    import spark.implicits._
    val base = freshDir("chg_part")
    val pk = Seq("p", "id")
    PaimonTable.writePk((1L to 6L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", i * 10L)).toDF("id", "p", "amt"),
      base, pk, partitionBy = Seq("p"))
    PaimonTable.writePk(Seq((2L, "a", 999L)).toDF("id", "p", "amt"),
      base, pk, kind = "+U", partitionBy = Seq("p"))
    // snapshot 2's delta lives under p=a/bucket-0/ — the unpartitioned
    // <table>/bucket-0/<name> shape fails path-not-found (or silently
    // empty under ignoreMissingFiles)
    val ch = PaimonTable.readChangelog(spark, base, 2L).collect()
    assert(ch.length == 1, s"expected 1 changelog row, got ${ch.toSeq}")
    assert(ch.head.getAs[String]("row_kind") == "+U")
    assert(ch.head.getAs[Long]("amt") == 999L)
  }

  test("appendedFilesOf resolves partition dirs of an append table") {
    import spark.implicits._
    val base = freshDir("app_part")
    PaimonTable.write(Seq((1L, "x", "k1"), (2L, "y", "k2")).toDF("id", "v", "p"),
      base, partitionBy = Seq("p"))
    val snap = PaimonTable.snapshots(spark, base).last
    val files = PaimonTable.appendedFilesOf(spark, base, snap)
    assert(files.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f)),
        s"appendedFilesOf built a non-existent path: $f")
      assert(f.contains("p="), s"expected a partition dir in: $f")
    }
  }

  test("null partition value round-trips via __DEFAULT_PARTITION__") {
    import spark.implicits._
    val base = freshDir("nullpart")
    PaimonTable.write(
      Seq((1L, "x", "k1"), (2L, "y", null.asInstanceOf[String]))
        .toDF("id", "v", "p"), base, partitionBy = Seq("p"))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the dir uses paimon's own sentinel (partition.default-name)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base,
      "p=__DEFAULT_PARTITION__")),
      "null partition value must land in p=__DEFAULT_PARTITION__/")
    val got = PaimonTable.read(spark, base).collect()
      .map(r => (r.getLong(0), r.getAs[String]("p"))).toMap
    assert(got(1L) == "k1")
    assert(got(2L) == null,
      "the sentinel must read back as NULL, not the literal string")
  }

  test("partitionPath matches Hive's escape set: '{' escapes, '}' does not") {
    assert(BinaryRow.partitionPath(Seq("k"), Seq("a}b")) == "k=a}b")
    assert(BinaryRow.partitionPath(Seq("k"), Seq("a{b")) == "k=a%7Bb")
    assert(BinaryRow.partitionPath(Seq("k"), Seq("a:b")) == "k=a%3Ab")
    assert(BinaryRow.partitionPath(Seq("k"), Seq(null)) ==
      "k=__DEFAULT_PARTITION__")
  }

  test("MERGE INSERT must assign every primary-key column") {
    import spark.implicits._
    val base = freshDir("merge_nopk")
    PaimonTable.writePk(Seq((1L, "a", 10L)).toDF("id", "p", "v"),
      base, Seq("id"))
    val src = Seq((9L, "z", 90L)).toDF("sid", "sp", "sv")
    val e = intercept[IllegalArgumentException] {
      PaimonDml.merge(spark, base, src, on = "t.id = s.sid",
        MergeClauses(notMatchedInsert = Some(Map("p" -> "s.sp", "v" -> "s.sv"))))
    }
    assert(e.getMessage.contains("primary-key"), e.getMessage)
    // assigning the key works
    val st = PaimonDml.merge(spark, base, src, on = "t.id = s.sid",
      MergeClauses(notMatchedInsert = Some(Map("id" -> "s.sid", "p" -> "s.sp",
        "v" -> "s.sv"))))
    assert(st.inserted == 1L)
    assert(PaimonTable.read(spark, base).count() == 2L)
  }

  test("MERGE refuses an update/insert primary-key collision") {
    import spark.implicits._
    val base = freshDir("merge_clash")
    PaimonTable.writePk(Seq((1L, "a", 10L)).toDF("id", "p", "v"),
      base, Seq("id"))
    // source row A matches id=1 via the name column and updates it;
    // source row B is unmatched and INSERTS id=1 — same key, one commit,
    // one sequence number: the surviving row would be arbitrary
    val src = Seq(("a", 1L, 111L), ("zzz", 1L, 222L))
      .toDF("sname", "sid", "sv")
    val e = intercept[IllegalArgumentException] {
      PaimonDml.merge(spark, base, src, on = "t.p = s.sname",
        MergeClauses(matchedUpdate = Some(Map("v" -> "s.sv")),
        notMatchedInsert = Some(Map("id" -> "s.sid", "p" -> "s.sname",
          "v" -> "s.sv"))))
    }
    assert(e.getMessage.contains("same") &&
      e.getMessage.contains("primary key"), e.getMessage)
  }

  test("no stale deterministic staging dir collides across writes") {
    import spark.implicits._
    val base = freshDir("staging")
    PaimonTable.write(Seq((1L, "a")).toDF("id", "v"), base)
    PaimonTable.write(Seq((2L, "b")).toDF("id", "v"), base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filter(_.startsWith("_staging"))
    assert(leftover.isEmpty, s"staging dirs left behind: ${leftover.toSeq}")
    assert(PaimonTable.read(spark, base).count() == 2L)
  }
}
