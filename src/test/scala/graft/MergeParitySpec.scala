package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter, IcebergDml,
  IcebergTable, MergeClauses, PaimonDml, PaimonTable}

/** One MERGE, three lakehouse formats: Delta (copy-on-write), Iceberg
  * (merge-on-read) and a Paimon primary-key table start from the same
  * rows, take the same DELETE and the same five-clause MERGE, and must
  * end with the same visible rows and the same DML counts. */
class MergeParitySpec extends AnyFunSuite {
  import TestSpark._

  private val Formats = Seq("delta", "iceberg", "paimon")

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/mparity_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  /** k 1..10, v = "row<k>", c = 10k (NULL when k % 4 == 0), in two
    * commits; then DELETE k = 3 (a masked row on Iceberg and Paimon). */
  private def table(fmt: String, name: String): String = {
    import spark.implicits._
    val base = freshDir(s"${fmt}_$name")
    val df = (1L to 10L).map(k => (k, s"row$k",
      if (k % 4 == 0) None else Some(k * 10))).toDF("k", "v", "c")
    val (a, b) = (df.filter(col("k") <= 5).coalesce(1),
      df.filter(col("k") > 5).coalesce(1))
    fmt match {
      case "delta" =>
        DeltaLogWriter.write(a, base); DeltaLogWriter.write(b, base)
        DeltaDml.delete(spark, base, col("k") === 3L)
      case "iceberg" =>
        IcebergTable.write(a, base); IcebergTable.write(b, base)
        IcebergTable.deleteFrom(spark, base, col("k") === 3L)
      case "paimon" =>
        PaimonTable.writePk(df, base, Seq("k"))
        PaimonDml.delete(spark, base, col("k") === 3L)
    }
    base
  }

  /** (mk, mv, kill): 1 deleted, 2 updated, 4 kept (update condition
    * NULL), 5 updated; 3 (masked) and 30 inserted; 42 fails the insert
    * condition, a NULL key evaluates it to NULL. Target rows 6..10 have
    * no source row: 6, 7 deleted, 8 kept (condition NULL), 9, 10 updated. */
  private def sourceRows = Seq(
    (Some(1L), "one", Some(true)), (Some(2L), "two", None),
    (Some(4L), "four", Some(false)), (Some(5L), "five", Some(false)),
    (Some(3L), "three", Some(false)), (Some(30L), "thirty", None),
    (Some(42L), "forty-two", None), (None, "nokey", None))

  private val clauses = MergeClauses(
    matchedDelete = Some("s.kill"),
    matchedUpdate = Some(Map("v" -> "s.mv", "c" -> "t.c + 1")),
    matchedUpdateCond = Some("t.c > 15"),
    notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv")),
    notMatchedInsertCond = Some("s.mk < 40"),
    bySourceDelete = Some("t.k <= 7"),
    bySourceUpdate = Some(Map("v" -> "concat(t.v, '?')", "c" -> "t.c + 1")),
    bySourceUpdateCond = Some("t.c > 85"))

  private def merge(fmt: String, base: String, src: DataFrame) = fmt match {
    case "delta"   => DeltaDml.merge(spark, base, src, "t.k = s.mk", clauses)
    case "iceberg" => IcebergDml.merge(spark, base, src, "t.k = s.mk", clauses)
    case "paimon"  => PaimonDml.merge(spark, base, src, "t.k = s.mk", clauses)
  }

  private def visible(fmt: String, base: String): Set[(Long, String, Option[Long])] =
    (fmt match {
      case "delta"   => DeltaLogReader.read(spark, base)
      case "iceberg" => IcebergTable.read(spark, base)
      case "paimon"  => PaimonTable.read(spark, base)
    }).select("k", "v", "c").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  private def currentVersion(fmt: String, base: String): Long = fmt match {
    case "delta"   => DeltaLogReader.tableVersions(spark, base).max
    case "iceberg" => IcebergTable.loadMeta(spark, base).currentSnapshotId.get
    case "paimon"  => PaimonTable.snapshots(spark, base).map(_.id).max
  }

  private val expected = Set[(Long, String, Option[Long])](
    (2L, "two", Some(21L)), (3L, "three", None), (4L, "row4", None),
    (5L, "five", Some(51L)), (8L, "row8", None), (9L, "row9?", Some(91L)),
    (10L, "row10?", Some(101L)), (30L, "thirty", None))

  test("all five MERGE clause kinds give the same rows and counts on " +
      "Delta, Iceberg and Paimon") {
    import spark.implicits._
    // a source the caller cached stays cached: MERGE releases only what
    // it persisted itself
    val src = sourceRows.toDF("mk", "mv", "kill").persist()
    val got = try Formats.map { fmt =>
      val base = table(fmt, "five")
      val st = merge(fmt, base, src)
      assert(st.version == currentVersion(fmt, base), fmt)
      assert(src.storageLevel != StorageLevel.NONE, fmt)
      fmt -> ((st.updated, st.deleted, st.inserted), visible(fmt, base))
    }.toMap finally src.unpersist()
    Formats.foreach { fmt =>
      assert(got(fmt)._2 == expected, s"$fmt rows")
      assert(got(fmt)._1 == ((4L, 3L, 2L)), s"$fmt counts")
    }
  }

  test("MERGE evaluates its source once") {
    import spark.implicits._
    val dir = freshDir("src")
    sourceRows.toDF("mk", "mv", "kill").repartition(2).write.parquet(dir)
    val calls = Formats.map { fmt =>
      val base = table(fmt, "once")
      val n = spark.sparkContext.longAccumulator(s"merge_src_$fmt")
      val tick = udf { (k: java.lang.Long) => n.add(1L); k }
        .asNondeterministic()
      val src = spark.read.parquet(dir).withColumn("mk", tick(col("mk")))
      val st = merge(fmt, base, src)
      assert((st.updated, st.deleted, st.inserted) == ((4L, 3L, 2L)), fmt)
      assert(visible(fmt, base) == expected, fmt)
      fmt -> n.value.longValue
    }.toMap
    // one call per source row: the source is computed once and reused
    assert(calls == Formats.map(_ -> sourceRows.size.toLong).toMap)
  }
}
