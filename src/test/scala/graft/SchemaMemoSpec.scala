package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's schema memo: keys that never alias, a stamp (Spark's
  * own listing of the read) that sees a rewritten file, a new file or a
  * new partition directory on any filesystem scheme, a key that
  * separates reader options and session confs, and a bounded LRU. */
class SchemaMemoSpec extends AnyFunSuite {
  import TestSpark.{jobsOf, spark}
  import spark.implicits._

  private val sa = new StructType().add("a", LongType)
  private val sb = new StructType().add("b", StringType)
  private val scope = Seq("parquet")

  /** Spark jobs that a `readParquet` of `path` runs: schema inference
    * runs one, a memo hit none. */
  private def inferJobs(path: String): Int = jobsOf(GraftSession.readParquet(spark, path))

  test("path lists that concatenate alike keep separate entries") {
    val base = Files.createTempDirectory("memo").toString
    val two = Seq(s"$base/a", s"$base/b")
    val one = Seq(s"$base/a$base/b") // == two.mkString("")
    assert(SchemaMemo.key(two, scope) != SchemaMemo.key(one, scope))
    val memo = new SchemaMemo(8)
    memo.put(two, scope, "", sa)
    memo.put(one, scope, "", sb)
    // both entries held: neither caller evicts the other's schema
    assert(memo.get(two, scope).map(_._2).contains(sa))
    assert(memo.get(one, scope).map(_._2).contains(sb))
    assert(memo.size == 2)
  }

  test("a new file in a read directory re-infers its schema") {
    val dir = Files.createTempDirectory("memo").resolve("t").toString
    Seq(1L, 2L).toDF("a").write.parquet(dir)
    assert(inferJobs(dir) > 0)
    assert(inferJobs(dir) == 0)
    Seq(3L).toDF("a").write.mode("append").parquet(dir)
    assert(inferJobs(dir) > 0)
    assert(GraftSession.readParquet(spark, dir).count() == 3)
  }

  test("the memo holds at most its bound, evicting the least recently used") {
    val base = Files.createTempDirectory("memo").toString
    val Seq(p1, p2, p3) = Seq("t1", "t2", "t3").map(n => Seq(s"$base/$n"))
    val memo = new SchemaMemo(2)
    memo.put(p1, scope, "", sa)
    memo.put(p2, scope, "", sa)
    assert(memo.get(p1, scope).isDefined) // p1 is now the most recent
    memo.put(p3, scope, "", sa)
    assert(memo.size == 2)
    assert(memo.get(p1, scope).isDefined && memo.get(p3, scope).isDefined)
    assert(memo.get(p2, scope).isEmpty)
  }

  test("a file: URI parquet rewritten with an extra column re-infers") {
    val dir = Files.createTempDirectory("memo").resolve("t").toString
    Seq(1L, 2L).toDF("a").write.parquet(dir)
    assert(GraftSession.readParquet(spark, s"file:$dir").columns.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val again = GraftSession.readParquet(spark, s"file:$dir")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.as[(Long, String)].collect().toSeq == Seq((3L, "x")))
  }

  test("a new partition directory re-infers its schema") {
    val dir = Files.createTempDirectory("memo").resolve("t").toString
    Seq((1L, 1)).toDF("a", "k").write.partitionBy("k").parquet(dir)
    assert(inferJobs(dir) > 0)
    assert(inferJobs(dir) == 0)
    Seq((2L, 2)).toDF("a", "k").write.mode("append").partitionBy("k").parquet(dir)
    assert(inferJobs(dir) > 0)
    assert(GraftSession.readParquet(spark, dir).as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 1), (2L, 2)))
  }

  test("a file rewritten in place inside a partition directory re-infers") {
    val base = Files.createTempDirectory("memo")
    val dir = base.resolve("t").toString
    Seq((1L, 1)).toDF("a", "k").write.partitionBy("k").parquet(dir)
    def dataFile(d: String) = Files.walk(java.nio.file.Paths.get(d)).iterator()
      .asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val Seq(part) = dataFile(dir)
    assert(GraftSession.readParquet(spark, dir).columns.toSeq == Seq("a", "k"))
    // same file name, new bytes: no directory's entries change
    Seq((2L, "x")).toDF("a", "b").coalesce(1).write.parquet(base.resolve("w").toString)
    Files.copy(dataFile(base.resolve("w").toString).head, part,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.delete(part.resolveSibling(s".${part.getFileName}.crc")) // the old bytes' checksum
    val again = GraftSession.readParquet(spark, dir)
    assert(again.columns.toSeq == Seq("a", "b", "k"))
    assert(again.as[(Long, String, Int)].collect().toSeq == Seq((2L, "x", 1)))
  }

  test("store.json.all_text_mode set between two reads of one file yields strings") {
    val f = Files.createTempDirectory("memo").resolve("e.json")
    Files.writeString(f, "{\"n\": 1, \"x\": 2.5}\n{\"n\": 2, \"x\": 3.5}\n")
    def types = spark.sql(s"SELECT * FROM dfs.`$f`").schema.map(_.dataType)
    assert(types == Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.DoubleType))
    spark.sql("ALTER SESSION SET store.json.all_text_mode = true")
    try assert(types == Seq(StringType, StringType))
    finally spark.sql("ALTER SESSION RESET store.json.all_text_mode")
    assert(types.head == org.apache.spark.sql.types.LongType)
  }

  test("the same bytes read as csv and as tsv keep separate entries") {
    val f = Files.createTempDirectory("memo").resolve("d.csv")
    Files.writeString(f, "a\tb,c\n1\t2,3\n")
    def cols(fmt: String) =
      graft.sources.DfsSql.readAs(spark, f.toString, fmt).columns.toSeq
    assert(cols("csv") == Seq("a\tb", "c"))
    assert(cols("tsv") == Seq("a", "b,c"))
    assert(jobsOf {
      assert(cols("csv") == Seq("a\tb", "c"))
      assert(cols("tsv") == Seq("a", "b,c"))
    } == 0)
  }

  test("a second resolve of parquet, JSON and CSV runs no Spark job") {
    val dir = Files.createTempDirectory("memo")
    val pq = dir.resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(pq)
    val json = dir.resolve("t.json")
    Files.writeString(json, "{\"k\": 1, \"v\": \"a\"}\n")
    val csv = dir.resolve("t.csv")
    Files.writeString(csv, "k,v\n1,a\n")
    for (p <- Seq(pq, json.toString, csv.toString)) {
      val first = graft.sources.DfsSql.read(spark, p).schema
      var again: StructType = null
      assert(jobsOf { again = graft.sources.DfsSql.read(spark, p).schema } == 0, p)
      assert(again == first, p)
    }
  }
}
