package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter, MergeClauses}

/** Batch DML on Delta tables: copy-on-write DELETE / UPDATE / MERGE
  * (DeltaDml) and the SQL surface (DmlSql: DELETE FROM / UPDATE /
  * MERGE INTO over dfs targets). */
class DeltaDmlSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/dml_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  /** Three-file table: k 1..9 in files of 3, v = "row<k>". */
  private def threeFileTable(name: String): String = {
    import spark.implicits._
    val base = freshDir(name)
    val df = (1L to 9L).map(i => (i, s"row$i")).toDF("k", "v")
    DeltaLogWriter.write(df.filter(col("k") <= 3).coalesce(1), base)
    DeltaLogWriter.write(
      df.filter(col("k") > 3 && col("k") <= 6).coalesce(1), base)
    DeltaLogWriter.write(df.filter(col("k") > 6).coalesce(1), base)
    base
  }

  private def rows(base: String, version: Option[Long] = None): Set[(Long, String)] =
    DeltaLogReader.read(spark, base, version)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("DELETE rewrites only files containing matches; time travel intact") {
    val base = threeFileTable("del")
    val before = graft.sources.DeltaLogReader.activeState(spark, base)._3
      .map(_._1).toSet
    val (v, n) = DeltaDml.delete(spark, base, col("k") === 2L || col("k") === 5L)
    assert(v == 3L && n == 2L)
    assert(rows(base) == Set(1L, 3L, 4L, 6L, 7L, 8L, 9L)
      .map(k => (k, s"row$k")))
    // the file holding 7..9 had no match: it must carry over by reference
    val after = graft.sources.DeltaLogReader.activeState(spark, base)._3
      .map(_._1).toSet
    assert((before intersect after).size == 1,
      s"expected exactly the untouched file to survive, got $after")
    // pre-delete version still serves every row
    assert(rows(base, Some(2L)) == (1L to 9L).map(k => (k, s"row$k")).toSet)
  }

  test("DELETE: null-condition rows stay; no-match is a version no-op") {
    import spark.implicits._
    val base = freshDir("delnull")
    val df = Seq((1L, "a"), (2L, null), (3L, "b"))
      .toDF("k", "v")
    DeltaLogWriter.write(df, base)
    // v = 'a' is NULL for the null row — three-valued: only k=1 deleted
    val (_, n) = DeltaDml.delete(spark, base, col("v") === "a")
    assert(n == 1L)
    assert(rows(base).map(_._1) == Set(2L, 3L))
    val (v2, n2) = DeltaDml.delete(spark, base, col("k") === 99L)
    assert(n2 == 0L)
    assert(DeltaLogReader.tableVersions(spark, base).max == v2,
      "no-match DELETE must not commit a new version")
  }

  test("UPDATE applies SET expressions with casts; unknown column refuses") {
    val base = threeFileTable("upd")
    val (v, n) = DeltaDml.update(spark, base, col("k") <= 4L,
      Map("v" -> concat(col("v"), lit("!")), "k" -> (col("k") + 100)))
    assert(v == 3L && n == 4L)
    assert(rows(base) ==
      ((1L to 4L).map(k => (k + 100, s"row$k!")) ++
        (5L to 9L).map(k => (k, s"row$k"))).toSet)
    val e = intercept[IllegalArgumentException] {
      DeltaDml.update(spark, base, lit(true), Map("zz" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("MERGE: update + insert (the upsert shape), stats exact") {
    import spark.implicits._
    val base = threeFileTable("merge")
    val src = Seq((2L, "two"), (5L, "five"), (42L, "forty-two"))
      .toDF("mk", "mv")
    val st = DeltaDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv"))))
    assert(st.updated == 2L && st.deleted == 0L && st.inserted == 1L)
    assert(rows(base) == ((1L to 9L).map(k => (k,
      if (k == 2L) "two" else if (k == 5L) "five" else s"row$k")) :+
      (42L -> "forty-two")).toSet)
  }

  test("MERGE: conditional DELETE clause + update precedence") {
    import spark.implicits._
    val base = threeFileTable("mergedel")
    val src = Seq((1L, true), (2L, false), (8L, true)).toDF("mk", "kill")
    val st = DeltaDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "concat(t.v, '*')")),
      matchedDelete = Some("s.kill")))
    assert(st.deleted == 2L && st.updated == 1L && st.inserted == 0L)
    val got = rows(base)
    assert(!got.exists(r => r._1 == 1L || r._1 == 8L))
    assert(got.contains(2L -> "row2*"))
    assert(got.contains(3L -> "row3"))
  }

  test("MERGE: a target row matching two source rows refuses") {
    import spark.implicits._
    val base = threeFileTable("mergedup")
    val src = Seq((2L, "x"), (2L, "y")).toDF("mk", "mv")
    val e = intercept[IllegalArgumentException] {
      DeltaDml.merge(spark, base, src, "t.k = s.mk",
        MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv"))))
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("MERGE insert-only: append commit, no file rewrites") {
    import spark.implicits._
    val base = threeFileTable("mergeins")
    val before = graft.sources.DeltaLogReader.activeState(spark, base)._3
      .map(_._1).toSet
    val src = Seq((2L, "dup"), (50L, "new")).toDF("mk", "mv")
    val st = DeltaDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv"))))
    assert(st.inserted == 1L && st.updated == 0L && st.deleted == 0L)
    val after = graft.sources.DeltaLogReader.activeState(spark, base)._3
      .map(_._1).toSet
    assert(before.subsetOf(after), "insert-only merge must not rewrite")
    assert(rows(base).contains(50L -> "new"))
    assert(rows(base).count(_._1 == 2L) == 1)
  }

  test("MERGE: NOT MATCHED BY SOURCE deletes/updates vanished keys") {
    import spark.implicits._
    val base = threeFileTable("bysrc")
    // source keeps 1..4 and 9; 5..8 vanished
    val src = (Seq(1L, 2L, 3L, 4L, 9L)).map(k => (k, s"s$k")).toDF("mk", "mv")
    val st = DeltaDml.merge(spark, base, src, "t.k = s.mk",
      MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
      bySourceDelete = Some("t.k <= 6"),       // 5, 6 vanish
      bySourceUpdate = Some(Map("v" -> "concat(t.v, '?')")), // 7, 8 flagged
      bySourceUpdateCond = Some("t.k > 6")))
    assert(st.updated == 5L + 2L && st.deleted == 2L)
    assert(rows(base) == (Seq(1L, 2L, 3L, 4L, 9L).map(k => (k, s"s$k")) ++
      Seq(7L, 8L).map(k => (k, s"row$k?"))).toSet)
    // SQL surface
    val src2base = threeFileTable("bysrc2")
    spark.conf.set("graft.dfs.workspace.dml", "/tmp/graft_test")
    try {
      val r = spark.sql(
        """MERGE INTO dfs.dml.`dml_bysrc2` AS t
          |USING (SELECT 2 AS mk) AS s ON t.k = s.mk
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()(0)
      assert(r.getString(1).contains("8 deleted"))
      assert(rows(src2base).map(_._1) == Set(2L))
    } finally spark.conf.unset("graft.dfs.workspace.dml")
  }

  test("CDF emission: DML writes cdc files, readChanges is row-exact") {
    import spark.implicits._
    val base = threeFileTable("cdf")
    spark.conf.set("graft.delta.cdf", "true")
    try {
      DeltaDml.delete(spark, base, col("k") === 2L)            // v3
      DeltaDml.update(spark, base, col("k") === 5L,
        Map("v" -> lit("five")))                               // v4
      val src = Seq((7L, "seven"), (42L, "new")).toDF("mk", "mv")
      DeltaDml.merge(spark, base, src, "t.k = s.mk",           // v5
        MergeClauses(matchedUpdate = Some(Map("v" -> "s.mv")),
        notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv"))))
      val ch = DeltaLogReader.readChanges(spark, base, 3L)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSet
      // EXACT row-level changes — not whole-rewritten-file noise
      assert(ch == Set(
        (2L, "row2", "delete", 3L),
        (5L, "row5", "update_preimage", 4L),
        (5L, "five", "update_postimage", 4L),
        (7L, "row7", "update_preimage", 5L),
        (7L, "seven", "update_postimage", 5L),
        (42L, "new", "insert", 5L)))
      // live reads unaffected by cdc files
      assert(rows(base).size == 9)
    } finally spark.conf.unset("graft.delta.cdf")
  }

  test("partitioned and DV tables refuse DML") {
    import spark.implicits._
    val base = freshDir("refuse")
    // build a partitioned table via the log directly
    val df = Seq((1L, "a")).toDF("k", "v")
    val sz = DeltaLogReader.writeDataFile(df.select("k"), base, "p.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Seq("v")),
      s"""{"add":{"path":"p.parquet","partitionValues":{"v":"a"},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaDml.delete(spark, base, lit(true))
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("SQL: DELETE FROM / UPDATE / MERGE INTO over a dfs workspace") {
    import spark.implicits._
    val base = threeFileTable("sql")
    val wsDir = "/tmp/graft_test/dml_ws"
    val wp = new org.apache.hadoop.fs.Path(wsDir)
    val fs = wp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(wp, true); fs.mkdirs(wp)
    // the table itself lives elsewhere; address it with a quoted path
    spark.conf.set("graft.dfs.workspace.dml", "/tmp/graft_test")
    try {
      val del = spark.sql(
        s"DELETE FROM dfs.dml.`dml_sql` WHERE k = 9").collect()(0)
      assert(del.getBoolean(0) && del.getString(1).contains("1 rows deleted"))
      assert(rows(base).map(_._1) == (1L to 8L).toSet)

      val upd = spark.sql(
        s"UPDATE dfs.dml.`dml_sql` SET v = upper(v) WHERE k <= 2").collect()(0)
      assert(upd.getString(1).contains("2 rows updated"))
      assert(rows(base).contains(1L -> "ROW1"))
      assert(rows(base).contains(3L -> "row3"))

      val mrg = spark.sql(
        s"""MERGE INTO dfs.dml.`dml_sql` AS t
           |USING (SELECT 2 AS mk, 'swapped' AS mv
           |       UNION ALL SELECT 77, 'inserted') AS s
           |ON t.k = s.mk
           |WHEN MATCHED THEN UPDATE SET v = s.mv
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, s.mv)
           |""".stripMargin).collect()(0)
      assert(mrg.getString(1).contains("1 updated"))
      assert(mrg.getString(1).contains("1 inserted"))
      assert(rows(base).contains(2L -> "swapped"))
      assert(rows(base).contains(77L -> "inserted"))

      // DELETE without WHERE / TRUNCATE TABLE clear the table
      val tbase = threeFileTable("sql_trunc")
      val t = spark.sql("TRUNCATE TABLE dfs.dml.`dml_sql_trunc`").collect()(0)
      assert(t.getString(1).contains("9 rows deleted"))
      assert(rows(tbase).isEmpty)

      // DML on a plain parquet directory refuses with a clear error
      val plain = s"$wsDir/plain"
      Seq((1, "x")).toDF("a", "b").write.parquet(plain)
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM dfs.dml.`dml_ws/plain` WHERE a = 1")
      }
      assert(e.getMessage.contains("transactional"))
    } finally spark.conf.unset("graft.dfs.workspace.dml")
  }

  test("SQL: DELETE FROM an iceberg table routes to position deletes") {
    import spark.implicits._
    val base = freshDir("icedel")
    val df = (1L to 6L).map(i => (i, s"r$i")).toDF("k", "v")
    graft.sources.IcebergTable.write(df, base)
    spark.conf.set("graft.dfs.workspace.dml", "/tmp/graft_test")
    try {
      val res = spark.sql(
        "DELETE FROM dfs.dml.`dml_icedel` WHERE k > 4").collect()(0)
      assert(res.getString(1).contains("merge-on-read"))
      val left = graft.sources.IcebergTable.read(spark, base)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(left == Set(1L, 2L, 3L, 4L))
    } finally spark.conf.unset("graft.dfs.workspace.dml")
  }
}
