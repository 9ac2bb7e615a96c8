package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{IcebergDml, IcebergTable, MergeClauses, PaimonDml,
  PaimonTable}

/** Row-level DML in the other two lakehouse formats' native shapes:
  * Iceberg merge-on-read (position-delete + append, LakehouseDml) and
  * Paimon PK-table row-kind frames, plus their DmlSql SQL routing. */
class LakehouseDmlSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/lhdml_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  /** Iceberg: two appends — snap 1 holds k 1..5, snap 2 holds k 6..9. */
  private def iceTable(name: String): String = {
    import spark.implicits._
    val base = freshDir(name)
    val df = (1L to 9L).map(i => (i, s"row$i")).toDF("k", "v")
    IcebergTable.write(df.filter(col("k") <= 5).coalesce(1), base)
    IcebergTable.write(df.filter(col("k") > 5).coalesce(1), base)
    base
  }

  private def iceRows(base: String,
                      snap: Option[Long] = None): Set[(Long, String)] =
    IcebergTable.read(spark, base, snapshotId = snap)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** Paimon PK table on k: k 1..6, v = "row<k>". */
  private def pkTable(name: String): String = {
    import spark.implicits._
    val base = freshDir(name)
    val df = (1L to 6L).map(i => (i, s"row$i")).toDF("k", "v")
    PaimonTable.writePk(df, base, Seq("k"))
    base
  }

  private def pkRows(base: String): Set[(Long, String)] =
    PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("iceberg UPDATE and MERGE carry the table's partition spec: a " +
      "partitioned table keeps its updated rows") {
    import spark.implicits._
    // the regression: update() appended with partitionBy=Nil, which
    // write() REJECTS on a partitioned table — AFTER the delete snapshot
    // committed, permanently losing the matched rows
    val base = freshDir("upd_part")
    val df = (1L to 8L).map(i => (i, s"p${i % 2}", s"row$i"))
      .toDF("k", "p", "v")
    IcebergTable.write(df, base, partitionBy = Seq("p"))
    val (_, n) = IcebergDml.update(spark, base, col("k") <= 2L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(n == 2L)
    val rows = IcebergTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows == ((1L to 2L).map(k => (k, s"row$k!")) ++
      (3L to 8L).map(k => (k, s"row$k"))).toSet)
    // MERGE on the same partitioned table
    val src = Seq((3L, "merged3"), (99L, "new99")).toDF("mk", "mv")
    IcebergDml.merge(spark, base, src, on = "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      notMatchedInsert = Some(Map(
        "k" -> "s.mk", "p" -> "'p1'", "v" -> "s.mv"))))
    val rows2 = IcebergTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows2.contains((3L, "merged3")) && rows2.contains((99L, "new99")))
    assert(rows2.size == 9)
  }

  test("paimon writePk refuses appending into a FOREIGN fixed-bucket " +
      "PK table (bucket routing would mis-place keys)") {
    import spark.implicits._
    val base = pkTable("foreign_pk")
    // simulate a foreign writer's table: strip graft's routing marker
    // from the schema file
    val schemaPath = new org.apache.hadoop.fs.Path(base, "schema/schema-0")
    val fs = schemaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = {
      val in = fs.open(schemaPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val foreign = txt.replace("\"graft.bucket-routing\":\"spark-murmur3\",", "")
      .replace(",\n\"graft.bucket-routing\":\"spark-murmur3\"", "")
    assert(foreign != txt, "marker not found in schema-0")
    val out = fs.create(schemaPath, true)
    try out.write(foreign.getBytes("UTF-8")) finally out.close()
    // ...and stamp a FOREIGN commitUser into every snapshot: a
    // marker-less table whose commits are all graft's is a LEGACY graft
    // table and the migration path accepts it (next test); foreign
    // means at least one non-graft commit
    val snapDir = new org.apache.hadoop.fs.Path(base, "snapshot")
    fs.listStatus(snapDir).map(_.getPath)
      .filter(_.getName.startsWith("snapshot-")).foreach { p =>
        val in = fs.open(p)
        val js = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
        val o = fs.create(p, true)
        try o.write(js.replace("\"commitUser\":\"graft\"",
          "\"commitUser\":\"9b2f-native-writer\"").getBytes("UTF-8"))
        finally o.close()
      }
    // reading stays fine; appending refuses loudly
    assert(PaimonTable.read(spark, base).count() == 6)
    val e = intercept[IllegalArgumentException] {
      PaimonTable.writePk(Seq((7L, "row7")).toDF("k", "v"), base, Seq("k"))
    }
    assert(e.getMessage.contains("graft.bucket-routing"))
  }

  test("paimon writePk ACCEPTS a legacy graft table missing the routing " +
      "marker when every snapshot is graft-committed (migration path)") {
    import spark.implicits._
    val base = pkTable("legacy_pk")
    // a table graft created BEFORE the routing marker existed: the
    // schema option is absent but the commit log is all-graft
    val schemaPath = new org.apache.hadoop.fs.Path(base, "schema/schema-0")
    val fs = schemaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = {
      val in = fs.open(schemaPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val legacy = txt.replace("\"graft.bucket-routing\":\"spark-murmur3\",", "")
      .replace(",\n\"graft.bucket-routing\":\"spark-murmur3\"", "")
    assert(legacy != txt, "marker not found in schema-0")
    val out = fs.create(schemaPath, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    PaimonTable.writePk(Seq((2L, "upd2"), (7L, "row7")).toDF("k", "v"),
      base, Seq("k"))
    val rows = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows(2L) == "upd2" && rows(7L) == "row7" && rows.size == 7)
  }

  test("iceberg UPDATE: delete+append, nothing rewritten, travel intact") {
    val base = iceTable("upd")
    val filesBefore = IcebergTable.liveEntries(spark, base)
      .filter(_.content == 0).map(_.path).toSet
    val (snap, n) = IcebergDml.update(spark, base, col("k") <= 3L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(n == 3L && snap == 4L) // snap 3 = position deletes, 4 = append
    assert(iceRows(base) ==
      ((1L to 3L).map(k => (k, s"row$k!")) ++
        (4L to 9L).map(k => (k, s"row$k"))).toSet)
    // merge-on-read: every original data file still live (never rewritten)
    val filesAfter = IcebergTable.liveEntries(spark, base)
      .filter(_.content == 0).map(_.path).toSet
    assert(filesBefore.subsetOf(filesAfter))
    // pre-update snapshot still serves the original rows
    assert(iceRows(base, Some(2L)) ==
      (1L to 9L).map(k => (k, s"row$k")).toSet)
    // no-match update is a snapshot no-op
    val (snap2, n2) = IcebergDml.update(spark, base, col("k") === 99L,
      Map("v" -> lit("x")))
    assert(n2 == 0L && snap2 == 4L)
    val e = intercept[IllegalArgumentException] {
      IcebergDml.update(spark, base, lit(true), Map("zz" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("iceberg MERGE: update + delete + insert, stats exact") {
    import spark.implicits._
    val base = iceTable("merge")
    val src = Seq((2L, "two", false), (5L, "five", false), (8L, "x", true),
      (42L, "forty-two", false)).toDF("mk", "mv", "kill")
    val st = IcebergDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      matchedDelete = Some("s.kill"),
      notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv"))))
    assert(st.updated == 2L && st.deleted == 1L && st.inserted == 1L)
    assert(iceRows(base) == ((1L to 9L).filter(_ != 8L).map(k => (k,
      if (k == 2L) "two" else if (k == 5L) "five" else s"row$k")) :+
      (42L -> "forty-two")).toSet)
  }

  test("iceberg MERGE: a masked row never resurrects; ambiguity refuses") {
    import spark.implicits._
    val base = iceTable("mask")
    // mask k=2 with a position delete first
    IcebergTable.deleteFrom(spark, base, col("k") === 2L)
    assert(!iceRows(base).exists(_._1 == 2L))
    // a merge whose source matches k=2 must not bring it back
    val src = Seq((2L, "zombie"), (3L, "three")).toDF("mk", "mv")
    val st = IcebergDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv"))))
    assert(st.updated == 1L)
    val got = iceRows(base)
    assert(!got.exists(_._1 == 2L), s"masked row resurrected: $got")
    assert(got.contains(3L -> "three"))

    val dup = Seq((4L, "x"), (4L, "y")).toDF("mk", "mv")
    val e = intercept[IllegalArgumentException] {
      IcebergDml.merge(spark, base, dup, "t.k = s.mk",
        MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv"))))
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("paimon DELETE: -D frames retract keys; append-only refuses") {
    import spark.implicits._
    val base = pkTable("del")
    val (snap, n) = PaimonDml.delete(spark, base, col("k") % 2 === 0L)
    assert(n == 3L && snap == 2L)
    assert(pkRows(base) == Set(1L, 3L, 5L).map(k => (k, s"row$k")))
    // no-match delete commits nothing
    val (snap2, n2) = PaimonDml.delete(spark, base, col("k") === 99L)
    assert(n2 == 0L && snap2 == 2L)

    val plain = freshDir("delplain")
    PaimonTable.write(Seq((1L, "a")).toDF("k", "v"), plain)
    val e = intercept[IllegalArgumentException] {
      PaimonDml.delete(spark, plain, lit(true))
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("paimon UPDATE: +U frames; SET on a primary key refuses") {
    val base = pkTable("upd")
    val (snap, n) = PaimonDml.update(spark, base, col("k") <= 2L,
      Map("v" -> upper(col("v"))))
    assert(n == 2L && snap == 2L)
    assert(pkRows(base) ==
      (Seq(1L, 2L).map(k => (k, s"ROW$k")) ++
        Seq(3L, 4L, 5L, 6L).map(k => (k, s"row$k"))).toSet)
    val e = intercept[IllegalArgumentException] {
      PaimonDml.update(spark, base, lit(true), Map("k" -> lit(0L)))
    }
    assert(e.getMessage.contains("primary-key"))
  }

  test("paimon MERGE: upsert + delete clause through the LSM merge") {
    import spark.implicits._
    val base = pkTable("merge")
    val src = Seq((2L, "two", false), (6L, "x", true), (9L, "nine", false))
      .toDF("mk", "mv", "kill")
    val st = PaimonDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      matchedDelete = Some("s.kill"),
      notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv"))))
    assert(st.updated == 1L && st.deleted == 1L && st.inserted == 1L)
    assert(pkRows(base) == Set(
      1L -> "row1", 2L -> "two", 3L -> "row3", 4L -> "row4",
      5L -> "row5", 9L -> "nine"))
  }

  test("NOT MATCHED BY SOURCE: iceberg position-deletes, paimon -D") {
    import spark.implicits._
    val ice = iceTable("bysrc")
    // source keeps 1..4; 5..9 vanished — delete small ones, flag big
    val src = (1L to 4L).map(k => (k, s"s$k")).toDF("mk", "mv")
    val st = IcebergDml.merge(spark, ice, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      bySourceDelete = Some("t.k <= 6"),
      bySourceUpdate = Some(Map("v" -> "concat(t.v, '?')")),
      bySourceUpdateCond = Some("t.k > 6")))
    assert(st.updated == 4L + 3L && st.deleted == 2L)
    assert(iceRows(ice) == ((1L to 4L).map(k => (k, s"s$k")) ++
      (7L to 9L).map(k => (k, s"row$k?"))).toSet)

    val pk = pkTable("bysrc")
    val psrc = Seq((1L, "one"), (2L, "two")).toDF("mk", "mv")
    val pst = PaimonDml.merge(spark, pk, psrc, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      bySourceDelete = Some("true")))
    assert(pst.updated == 2L && pst.deleted == 4L)
    assert(pkRows(pk) == Set(1L -> "one", 2L -> "two"))
  }

  test("SQL: UPDATE / MERGE route to iceberg and paimon by layout") {
    import spark.implicits._
    val ice = iceTable("sqlice")
    val pk = pkTable("sqlpk")
    spark.conf.set("graft.dfs.workspace.lh", "/tmp/graft_test")
    try {
      val u = spark.sql(
        "UPDATE dfs.lh.`lhdml_sqlice` SET v = 'ICE' WHERE k = 1").collect()(0)
      assert(u.getString(1).contains("merge-on-read"))
      assert(iceRows(ice).contains(1L -> "ICE"))

      val m = spark.sql(
        """MERGE INTO dfs.lh.`lhdml_sqlice` AS t
          |USING (SELECT 7 AS mk, 'seven' AS mv) AS s
          |ON t.k = s.mk
          |WHEN MATCHED THEN UPDATE SET v = s.mv""".stripMargin).collect()(0)
      assert(m.getString(1).contains("1 updated") &&
        m.getString(1).contains("iceberg"))
      assert(iceRows(ice).contains(7L -> "seven"))

      val d = spark.sql(
        "DELETE FROM dfs.lh.`lhdml_sqlpk` WHERE k = 6").collect()(0)
      assert(d.getString(1).contains("-D frames"))
      assert(!pkRows(pk).exists(_._1 == 6L))

      val pu = spark.sql(
        "UPDATE dfs.lh.`lhdml_sqlpk` SET v = 'PK' WHERE k = 5").collect()(0)
      assert(pu.getString(1).contains("+U frames"))
      assert(pkRows(pk).contains(5L -> "PK"))

      val pm = spark.sql(
        """MERGE INTO dfs.lh.`lhdml_sqlpk` AS t
          |USING (SELECT 4 AS mk, 'four' AS mv
          |       UNION ALL SELECT 11, 'eleven') AS s
          |ON t.k = s.mk
          |WHEN MATCHED THEN UPDATE SET v = s.mv
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, s.mv)
          |""".stripMargin).collect()(0)
      assert(pm.getString(1).contains("1 updated") &&
        pm.getString(1).contains("1 inserted") &&
        pm.getString(1).contains("paimon"))
      assert(pkRows(pk).contains(4L -> "four"))
      assert(pkRows(pk).contains(11L -> "eleven"))
    } finally spark.conf.unset("graft.dfs.workspace.lh")
  }
}
