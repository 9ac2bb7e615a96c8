package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter}

/** One Delta statement reads the log once: the snapshot that decides
  * the DML shape (deletion vectors or copy-on-write) is the one the DML
  * runs, gates and commits against. Opens and listings are counted by
  * [[CountingFileSystem]] under its `countfs` scheme. */
class DeltaLogReadsSpec extends AnyFunSuite {
  import TestSpark._

  /** Opens of each JSON commit under `_delta_log` while `body` runs. */
  private def commitOpens(body: => Unit): Map[String, Int] = {
    CountingFileSystem.reset()
    body
    CountingFileSystem.openedPaths
      .filter(p => p.contains("/_delta_log/") && p.endsWith(".json"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size }
  }

  /** A fresh `countfs://` table dir backed by local `/tmp/graft_test/<name>`. */
  private def countfsDir(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingFileSystem].getName)
    val local = s"/tmp/graft_test/$name"
    val lp = new Path(local)
    lp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lp, true)
    s"countfs://$local"
  }

  test("a read after a checkpoint lists _delta_log once") {
    import spark.implicits._
    val base = countfsDir("logreads_cp")
    (1L to 3L).foreach(i => DeltaLogWriter.write(Seq((i, s"row$i")).toDF("k", "v"), base))
    DeltaLogWriter.checkpoint(spark, base)
    DeltaLogWriter.write(Seq((4L, "row4")).toDF("k", "v"), base)
    CountingFileSystem.reset()
    val got = DeltaLogReader.read(spark, base).as[(Long, String)].collect().toSet
    val listings = CountingFileSystem.listedPaths.count(_.endsWith("/_delta_log"))
    assert(listings == 1, s"listings of _delta_log: ${CountingFileSystem.listedPaths}")
    assert(got == (1L to 4L).map(i => (i, s"row$i")).toSet)
  }

  test("a Delta sink micro-batch opens each log commit at most once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = countfsDir("logreads_sink")
    val ckpt = "/tmp/graft_test/logreads_sink_ckpt"
    val cp = new Path(ckpt)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.Events.deltaSink(input.toDF().toDF("k", "v"), base, ckpt)
    try {
      input.addData((1L, "a"))
      q.processAllAvailable()
      input.addData((2L, "b"))
      q.processAllAvailable()
      val opens = commitOpens {
        input.addData((3L, "c"))
        q.processAllAvailable()
      }
      assert(opens.size == 2, s"expected the 2 prior commits read, got $opens")
      assert(opens.values.forall(_ == 1), s"micro-batch re-read log commits: $opens")
    } finally q.stop()
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "graft-stream").contains(2L))
    assert(DeltaLogReader.read(spark, base).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a SQL DELETE and UPDATE on a DV table open each log commit once") {
    import spark.implicits._
    val base = countfsDir("logreads_dv")
    val df = (1L to 8L).map(i => (i, s"row$i")).toDF("k", "v")
    DeltaLogWriter.write(df.filter(col("k") <= 4).coalesce(1), base)
    DeltaLogWriter.write(df.filter(col("k") > 4).coalesce(1), base)
    DeltaDml.deleteDv(spark, base, col("k") === 1L) // the table now carries a DV

    // the table's own DVs pick the DV path, not the session flag
    val saved = spark.conf.getOption("graft.delta.dv")
    spark.conf.unset("graft.delta.dv")
    try {
      var summary = ""
      val del = commitOpens {
        summary = spark.sql(s"DELETE FROM dfs.`$base` WHERE k = 2")
          .collect()(0).getString(1)
      }
      assert(summary.contains("1 rows deleted") &&
        summary.contains("deletion vectors"), summary)
      assert(del.size == 3, s"expected the 3 commits read, got $del")
      assert(del.values.forall(_ == 1), s"DELETE re-read log commits: $del")
      val upd = commitOpens {
        summary = spark.sql(s"UPDATE dfs.`$base` SET v = 'x' WHERE k = 3")
          .collect()(0).getString(1)
      }
      assert(summary.contains("1 rows updated") &&
        summary.contains("deletion vectors"), summary)
      assert(upd.size == 4, s"expected the 4 commits read, got $upd")
      assert(upd.values.forall(_ == 1), s"UPDATE re-read log commits: $upd")
    } finally saved.foreach(spark.conf.set("graft.delta.dv", _))
    assert(DeltaLogReader.read(spark, base).as[(Long, String)].collect().toSet ==
      (4L to 8L).map(i => (i, s"row$i")).toSet + ((3L, "x")))
  }
}
