package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{IcebergTable, PaimonTable, StagedFiles}

/** The writers' one commit primitive ([[StagedFiles]]): put-if-absent
  * publishing under a race, Iceberg commits that refuse instead of
  * clobbering a concurrent winner, and staged partition values that
  * survive Hive path escaping. */
class CommitPrimitiveSpec extends AnyFunSuite {
  import TestSpark._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/commit_$name"
    val p = new Path(base)
    p.getFileSystem(conf).delete(p, true)
    base
  }

  private def bytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  for ((label, scheme) <- Seq("local" -> "file://", "countfs" -> "countfs://"))
    test(s"publishIfAbsent: 8 racing writers on $label, exactly one wins") {
      conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
      val dir = freshDir(s"race_$label")
      val dst = new Path(s"$scheme$dir/commit.json")
      val fs = FileSystem.get(dst.toUri, conf)
      fs.mkdirs(dst.getParent)
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val results = (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[(Int, Boolean)] {
            def call(): (Int, Boolean) = {
              start.await()
              i -> StagedFiles.publishIfAbsent(fs, dst, s"writer-$i".getBytes("UTF-8"))
            }
          })
        }
        start.countDown()
        val won = results.map(_.get()).collect { case (i, true) => i }
        assert(won.size == 1, s"winners: $won")
        assert(new String(bytes(s"$dir/commit.json"), "UTF-8") == s"writer-${won.head}")
        // every writer's tmp file is gone, checksum sidecars included
        assert(new java.io.File(dir).list().toSeq == Seq("commit.json"))
      } finally pool.shutdownNow()
    }

  test("an Iceberg commit from stale metadata refuses and leaves the winner intact") {
    import spark.implicits._
    val base = freshDir("iceberg_stale")
    IcebergTable.write((1L to 4L).map(i => (i, s"a$i")).toDF("k", "v"), base)
    val stale = IcebergTable.loadMeta(spark, base)
    // a concurrent writer commits v2 first
    IcebergTable.write((5L to 8L).map(i => (i, s"b$i")).toDF("k", "v"), base)
    val winner = s"$base/metadata/v2.metadata.json"
    val before = bytes(winner)
    val file = IcebergTable.liveFiles(spark, base).head.path
    val e = intercept[java.util.ConcurrentModificationException] {
      IcebergTable.commitPositionDeletes(spark, base, stale,
        Seq((file, 0L)).toDF("file_path", "pos"))
    }
    assert(e.getMessage.contains("iceberg commit conflict"), e.getMessage)
    assert(bytes(winner).sameElements(before), "the winner's metadata changed")
    assert(IcebergTable.loadMeta(spark, base).metadataVersion == 2)
    // the winner's manifests are untouched: every row of both writes reads
    assert(IcebergTable.read(spark, base).as[(Long, String)].collect().toSet ==
      ((1L to 4L).map(i => (i, s"a$i")) ++ (5L to 8L).map(i => (i, s"b$i"))).toSet)
  }

  test("a stale version-hint.text is probed forward to the newest metadata") {
    import spark.implicits._
    val base = freshDir("iceberg_hint")
    IcebergTable.write(Seq((1L, "a")).toDF("k", "v"), base)
    IcebergTable.write(Seq((2L, "b")).toDF("k", "v"), base)
    // a committer that died between its metadata publish and its hint
    // (written through Hadoop: a raw write would trip the checksum
    // sidecar, which reads as no hint)
    val hint = new Path(s"$base/metadata/version-hint.text")
    val os = hint.getFileSystem(conf).create(hint, true)
    try os.write("1".getBytes("UTF-8")) finally os.close()
    assert(IcebergTable.loadMeta(spark, base).metadataVersion == 2)
    // and the next commit lands on top of it instead of conflicting
    IcebergTable.write(Seq((3L, "c")).toDF("k", "v"), base)
    assert(IcebergTable.read(spark, base).count() == 3)
  }

  test("a SQL DELETE on an Iceberg table opens its hint, metadata and manifest list once") {
    import spark.implicits._
    conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = freshDir("iceberg_reads")
    val base = s"countfs://$local"
    IcebergTable.write((1L to 6L).map(i => (i, s"r$i")).toDF("k", "v"), base)
    IcebergTable.write((7L to 9L).map(i => (i, s"r$i")).toDF("k", "v"), base)
    CountingFileSystem.reset()
    spark.sql(s"DELETE FROM dfs.`$base` WHERE k = 2").collect()
    val opens = CountingFileSystem.openedPaths.groupBy(identity)
      .map { case (p, ps) => p -> ps.size }
    def opensOf(matches: String => Boolean) = opens.filter(o => matches(o._1))
    val hint = opensOf(_.endsWith("/metadata/version-hint.text"))
    val meta = opensOf(_.endsWith("/metadata/v2.metadata.json"))
    val list = opensOf(_.endsWith("-manifest-list.avro"))
    assert(hint.values.toSeq == Seq(1), s"version-hint opens: $hint")
    assert(meta.values.toSeq == Seq(1), s"metadata opens: $meta")
    assert(list.values.toSeq == Seq(1), s"manifest-list opens: $list")
    assert(IcebergTable.read(spark, base).select("k").as[Long].collect().toSet ==
      ((1L to 9L).toSet - 2L))
  }

  for ((verb, sql) <- Seq(
      "UPDATE" -> "UPDATE dfs.`%s` SET v = 'u' WHERE k = 2",
      "MERGE" -> ("MERGE INTO dfs.`%s` t USING (SELECT 2L AS k, 'm' AS v) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")))
    test(s"a SQL $verb on an Iceberg table opens its current metadata once") {
      import spark.implicits._
      conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
      val base = s"countfs://${freshDir(s"iceberg_${verb.toLowerCase}_reads")}"
      IcebergTable.write((1L to 6L).map(i => (i, s"r$i")).toDF("k", "v"), base)
      IcebergTable.write((7L to 9L).map(i => (i, s"r$i")).toDF("k", "v"), base)
      CountingFileSystem.reset()
      spark.sql(sql.format(base)).collect()
      val meta = CountingFileSystem.openedPaths
        .filter(_.endsWith("/metadata/v2.metadata.json"))
      assert(meta.size == 1, s"v2.metadata.json opens: ${meta.size}")
      val rows = IcebergTable.read(spark, base).as[(Long, String)].collect().toMap
      assert(rows.size == 9 && rows(2L) == (if (verb == "UPDATE") "u" else "m"))
    }

  // Spark's partitionBy staging Hive-escapes each value; the writers
  // recover it with the matching unescape. A non-ASCII value stays
  // unescaped in its directory name, which Spark's own write cannot
  // create when the JVM's file-name encoding (set by the locale) lacks
  // the character — the value is left out on such a JVM.
  private val oddValues = Seq("50%", "a/b", "k=v", "with space", "plain") ++
    Seq("naïve ü").filter(java.nio.charset.Charset
      .forName(System.getProperty("sun.jnu.encoding")).newEncoder().canEncode(_))

  test("partitioned Iceberg write round-trips values that need path escaping") {
    import spark.implicits._
    val base = freshDir("iceberg_escape")
    val df = oddValues.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("k", "p")
    IcebergTable.write(df, base, partitionBy = Seq("p"))
    assert(IcebergTable.read(spark, base).as[(Long, String)].collect().toSet ==
      df.as[(Long, String)].collect().toSet)
    assert(IcebergTable.liveFiles(spark, base).map(_.partition("p")).toSet ==
      oddValues.toSet)
    assert(IcebergTable.read(spark, base, partitionFilter = _("p") == "a/b")
      .select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("partitioned Paimon write round-trips values that need path escaping") {
    import spark.implicits._
    val base = freshDir("paimon_escape")
    val df = oddValues.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("k", "p")
    PaimonTable.write(df, base, partitionBy = Seq("p"))
    assert(PaimonTable.read(spark, base).select(col("k"), col("p"))
      .as[(Long, String)].collect().toSet == df.as[(Long, String)].collect().toSet)
    assert(PaimonTable.liveFiles(spark, base).size == oddValues.size)
  }
}
