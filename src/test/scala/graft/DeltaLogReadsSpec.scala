package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter}

/** One Delta statement reads the log once: the snapshot that decides
  * the DML shape (deletion vectors or copy-on-write) is the one the DML
  * runs, gates and commits against. Opens are counted by
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

  test("a SQL DELETE and UPDATE on a DV table open each log commit once") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingFileSystem].getName)
    val local = "/tmp/graft_test/logreads_dv"
    val lp = new Path(local)
    lp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lp, true)
    val base = s"countfs://$local"
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
