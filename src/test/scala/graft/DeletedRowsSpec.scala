package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeletionVectors, DeltaLogReader, IcebergTable, StagedFiles}

/** Golden merge-on-read answers: each table gets deleted positions that
  * the spec plants itself (Delta DVs written as descriptors, Iceberg
  * position-delete parquet and Puffin DVs committed directly), and each
  * expected row set is computed from those positions through Spark's
  * plain parquet reader (`_metadata.file_name`, `_metadata.row_index`),
  * never through graft's lake readers. Covers DVs on many files in both
  * inline and UUID storage, a DV spanning several roaring containers, a
  * position-delete file naming many data files, the v3 rule that a DV
  * masks the file's v2 position deletes, and a file read as several
  * splits, where each split's row indexes must be file-absolute. */
class DeletedRowsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/deleted_rows_$name"
    val p = new Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  private def rows(from: Long, until: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts)
      .select(col("id").as("k"), concat(lit("r"), col("id")).as("v"))

  /** (file name, row index) -> k of every row of `paths`, from Spark's
    * own parquet reader. */
  private def keysAt(paths: Seq[String]): Map[(String, Long), Long] =
    spark.read.parquet(paths: _*)
      .select(col("_metadata.file_name"), col("_metadata.row_index"), col("k"))
      .as[(String, Long, Long)].collect()
      .map { case (f, p, k) => (f, p) -> k }.toMap

  /** The keys left once `planted` (file name -> positions) is deleted. */
  private def survivors(all: Map[(String, Long), Long],
                        planted: Map[String, Seq[Long]]): Set[Long] = {
    val dead = planted.map { case (f, ps) => f -> ps.toSet }
    all.collect { case ((f, p), k) if !dead.get(f).exists(_.contains(p)) => k }.toSet
  }

  private def keysOf(df: DataFrame): Seq[Long] = df.select("k").as[Long].collect().toSeq

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def dvAction(d: DeletionVectors.DvDescriptor): String =
    s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
      s""""offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** An inline (`i` storage) descriptor for `positions`. */
  private def inlineDv(positions: Seq[Long]): DeletionVectors.DvDescriptor = {
    val data = DeletionVectors.serialize(positions)
    val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
    DeletionVectors.DvDescriptor("i", DeletionVectors.z85Encode(padded), 0,
      data.length, positions.distinct.size.toLong)
  }

  /** A Delta table over the parquet parts already under `base/data`,
    * each carrying the DV `dvOf` gives it (if any). */
  private def commitDelta(base: String, dvOf: String => Option[DeletionVectors.DvDescriptor]): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(base, "data"))
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
    val protocol = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    DeltaLogReader.writeCommit(spark, base, 0,
      protocol +: DeltaLogReader.metaDataAction(rows(0, 1, 1).schema, Nil) +:
        parts.toSeq.map { st =>
          val rel = s"data/${st.getPath.getName}"
          s"""{"add":{"path":"$rel","partitionValues":{},"size":${st.getLen},""" +
            s""""modificationTime":1,"dataChange":true${dvOf(rel).map(dvAction).getOrElse("")}}}"""
        })
  }

  private def dataParts(base: String): Seq[String] = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(base, "data")).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
  }

  test("Delta: DVs on 48 files, inline and UUID storage mixed") {
    val base = freshDir("delta_many")
    rows(0, 4800, 48).write.parquet(s"$base/data")
    val names = dataParts(base).map(p => new Path(p).getName)
    assert(names.size == 48)
    // every file but a few gets a DV; even files inline, odd files share
    // one UUID-named DV file
    val planted: Map[String, Seq[Long]] = names.zipWithIndex.collect {
      case (n, i) if i % 12 != 5 => n -> (0L until 100L).filter(p => (p * 7 + i) % 11 == 0)
    }.toMap
    val (inline, uuid) = planted.toSeq.partition { case (n, _) => names.indexOf(n) % 2 == 0 }
    val uDescs = DeletionVectors.writeDvFile(spark, base,
      uuid.map { case (n, ps) => s"data/$n" -> ps })
    val iDescs = inline.map { case (n, ps) => s"data/$n" -> inlineDv(ps) }.toMap
    assert(uDescs.size >= 20 && iDescs.size >= 20)
    commitDelta(base, rel => uDescs.get(rel).orElse(iDescs.get(rel)))

    val expected = survivors(keysAt(dataParts(base)), planted)
    val got = keysOf(DeltaLogReader.read(spark, base))
    assert(got.size == expected.size, "a row survived twice or vanished")
    assert(got.toSet == expected)
    assert(got.size == 4800 - planted.values.map(_.size).sum)
  }

  test("Delta: a DV over 75,000 positions on a file read as several splits") {
    val base = freshDir("delta_big")
    // one 150,000-row file in small row groups, so the scan splits it
    rows(0, 150000, 1).write.option("parquet.block.size", 65536).parquet(s"$base/data")
    val Seq(file) = dataParts(base)
    val name = new Path(file).getName
    // every even position: three 64K roaring containers, bitmap-encoded
    val positions = (0L until 150000L by 2L)
    val descs = DeletionVectors.writeDvFile(spark, base, Seq(s"data/$name" -> positions))
    commitDelta(base, descs.get)

    val expected = survivors(keysAt(Seq(file)), Map(name -> positions))
    assert(expected.size == 75000)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144") {
      val df = DeltaLogReader.read(spark, base)
      assert(df.rdd.getNumPartitions >= 3, "the file must be read as >= 3 splits")
      val got = keysOf(df)
      assert(got.size == expected.size)
      assert(got.toSet == expected)
    }
  }

  /** Data files of an Iceberg table, each a contiguous key range. */
  private def icebergTable(name: String, from: Long, until: Long, files: Int): String = {
    val base = freshDir(name)
    IcebergTable.write(rows(from, until, files), base)
    base
  }

  /** Commit one v2 position-delete parquet file holding `planted`
    * (manifest file_path -> positions), sorted by (file_path, pos). */
  private def commitPositionFile(base: String, planted: Map[String, Seq[Long]]): Unit = {
    val meta = IcebergTable.loadMeta(spark, base)
    val dels = planted.toSeq.flatMap { case (f, ps) => ps.map(p => (f, p)) }
      .toDF("file_path", "pos").coalesce(1).sortWithinPartitions("file_path", "pos")
    // small row groups, so a reader filtering on file_path can skip some
    val staged = withConf("parquet.block.size" -> "4096") {
      StagedFiles.stage(dels, base, countRows = true)((_, u) =>
        Some(new Path(s"$base/data/delete-$u.parquet")))
    }
    assert(staged.size == 1)
    IcebergTable.commitDeleteFiles(spark, base, meta, staged, content = 1,
      snapshotId = meta.snapshots.map(_.snapshotId).max + 1)
  }

  private def byName(m: Map[String, Seq[Long]]): Map[String, Seq[Long]] =
    m.map { case (f, ps) => new Path(f).getName -> ps }

  test("Iceberg: one position-delete file names 40 data files, read by 4 tasks") {
    val base = icebergTable("iceberg_many", 0, 4000, 40)
    val files = IcebergTable.liveFiles(spark, base).map(_.path).sorted
    assert(files.size == 40)
    val planted = files.zipWithIndex.collect {
      case (f, i) if i % 9 != 4 => f -> (0L until 100L).filter(p => (p + i) % 7 == 0)
    }.toMap
    commitPositionFile(base, planted)
    val deleteFiles = IcebergTable.liveEntries(spark, base).filter(_.content == 1)
    assert(deleteFiles.size == 1 && !deleteFiles.head.isDv)

    val expected = survivors(keysAt(files), byName(planted))
    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "4096") {
      val df = IcebergTable.read(spark, base)
      assert(df.rdd.getNumPartitions >= 4)
      val got = keysOf(df)
      assert(got.size == expected.size)
      assert(got.toSet == expected)
    }
  }

  test("Iceberg: a newer DV masks the file's older v2 position deletes") {
    val base = icebergTable("iceberg_dv_wins", 0, 200, 1)
    val Seq(file) = IcebergTable.liveFiles(spark, base).map(_.path)
    val name = new Path(file).getName
    val v2 = (0L until 10L)
    commitPositionFile(base, Map(file -> v2))
    val beforeDv = IcebergTable.loadMeta(spark, base).currentSnapshotId.get
    // the DV is committed without the v2 positions merged into it, so
    // which carrier applies is visible in the answer
    val dv = (100L until 110L)
    val meta = IcebergTable.loadMeta(spark, base)
    IcebergTable.commitDvDeletes(spark, base, meta,
      dv.map(p => (file, p)).toDF("file_path", "pos"),
      IcebergTable.liveEntries(spark, base).filter(_.content == 0))
    val live = IcebergTable.liveEntries(spark, base).filter(_.content == 1)
    assert(live.count(_.isDv) == 1 && live.count(!_.isDv) == 1)

    val all = keysAt(Seq(file))
    assert(keysOf(IcebergTable.read(spark, base)).toSet ==
      survivors(all, Map(name -> dv)))
    assert(keysOf(IcebergTable.read(spark, base, snapshotId = Some(beforeDv))).toSet ==
      survivors(all, Map(name -> v2)))
  }
}
