package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PaimonTable

/** Hand-rolled Paimon reader/writer: round-trip, append + time travel,
  * overwrite, metadata tables, and the refusal paths (primary-key and
  * partitioned tables must error clearly, never return wrong rows). */
class PaimonSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/paimon_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  test("plain write on a PK table refuses; schema-only table reads empty") {
    import spark.implicits._
    // writing plain rows into a PK table would commit files without the
    // KeyValue system columns — the merge silently drops them
    val base = freshDir("pkguard") + "/t"
    PaimonTable.writePk(Seq((1L, "a")).toDF("id", "v"), base, Seq("id"))
    val e = intercept[IllegalArgumentException] {
      PaimonTable.write(Seq((2L, "b")).toDF("id", "v"), base)
    }
    assert(e.getMessage.contains("writePk"), e.getMessage)
    assert(PaimonTable.read(spark, base).count() == 1)

    // schema-only table (created, never committed): valid empty table
    val so = freshDir("schemaonly") + "/t"
    val fs = new org.apache.hadoop.fs.Path(so)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(so, "schema"))
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$so/schema/schema-0"), true)
    os.write(
      """{"version":3,"id":0,"fields":[{"id":0,"name":"x","type":"INT"}],
        |"highestFieldId":0,"partitionKeys":[],"primaryKeys":[],
        |"options":{},"timeMillis":0}""".stripMargin.getBytes("UTF-8"))
    os.close()
    val empty = PaimonTable.read(spark, so)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("x"))
  }

  test("round-trip: write then read back equals source, schema preserved") {
    import spark.implicits._
    val base = freshDir("ctas")
    val src = (1L to 100L).map(i => (i, s"name$i", i % 7, i * 0.5))
      .toDF("k", "name", "grp", "score")
    assert(PaimonTable.write(src, base) == 1L)
    val back = PaimonTable.read(spark, base)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("append adds a snapshot; time travel by snapshotId and asOfTimeMs") {
    import spark.implicits._
    val base = freshDir("append")
    val a = (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v")
    val b = (51L to 80L).map(i => (i, s"b$i")).toDF("k", "v")
    assert(PaimonTable.write(a, base) == 1L)
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(5)
    assert(PaimonTable.write(b, base) == 2L)
    import spark.implicits._
    assert(PaimonTable.read(spark, base).count() == 80L)
    assert(PaimonTable.read(spark, base, snapshotId = Some(1L))
      .select("k").as[Long].collect().toSet == (1L to 50L).toSet)
    assert(PaimonTable.read(spark, base, asOfTimeMs = Some(tsBetween))
      .count() == 50L)
  }

  test("overwrite replaces content (commitKind OVERWRITE, empty base)") {
    import spark.implicits._
    val base = freshDir("overwrite")
    PaimonTable.write((1L to 30L).toDF("k"), base)
    PaimonTable.write((100L to 104L).toDF("k"), base, SaveMode.Overwrite)
    assert(PaimonTable.read(spark, base)
      .select("k").as[Long].collect().toSet == (100L to 104L).toSet)
    val snaps = PaimonTable.metadataTable(spark, base, "snapshots")
    assert(snaps.filter(col("snapshot_id") === 2)
      .select("commit_kind").as[String].head() == "OVERWRITE")
  }

  test("metadata tables: snapshots, schemas, files, manifests") {
    import spark.implicits._
    val base = freshDir("meta")
    PaimonTable.write((1L to 20L).map(i => (i, s"x$i")).toDF("id", "s"), base)
    PaimonTable.write((21L to 25L).map(i => (i, s"y$i")).toDF("id", "s"), base)
    val snaps = PaimonTable.metadataTable(spark, base, "snapshots")
    assert(snaps.count() == 2)
    assert(snaps.select("commit_kind").as[String].collect().toSet == Set("APPEND"))
    assert(snaps.filter(col("snapshot_id") === 2)
      .select("total_record_count").as[Long].head() == 25L)
    val schemas = PaimonTable.metadataTable(spark, base, "schemas")
    assert(schemas.select("fields").as[String].head() == "id,s")
    val files = PaimonTable.metadataTable(spark, base, "files")
    assert(files.select("record_count").as[Long].collect().sum == 25L)
    val manifests = PaimonTable.metadataTable(spark, base, "manifests")
    assert(manifests.count() >= 2) // base-list entry + delta manifest
    intercept[IllegalArgumentException] {
      PaimonTable.metadataTable(spark, base, "nope")
    }
  }

  test("partitioned tables and exotic merge engines refuse clearly") {
    import spark.implicits._
    val base = freshDir("refuse")
    PaimonTable.write((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), base)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val fs = schemaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    def rewrite(s: String): Unit = {
      val os = fs.create(schemaPath, true)
      os.write(s.getBytes("UTF-8")); os.close()
    }
    // a PK table with a merge engine we can't honor must refuse, not
    // return wrongly-merged rows
    rewrite(orig
      .replace("\"primaryKeys\":[]", "\"primaryKeys\":[\"id\"]")
      .replace("\"file.format\":\"parquet\"",
        "\"file.format\":\"parquet\",\"merge-engine\":\"partial-update\""))
    val e1 = intercept[IllegalArgumentException] {
      PaimonTable.read(spark, base)
    }
    assert(e1.getMessage.contains("merge-engine"))
    // a table DECLARED primary-key (dynamic buckets — option absent)
    // over plain append-only data files must refuse on the KeyValue
    // probe, not null-fill the merge keys and mis-merge
    rewrite(orig
      .replace("\"partitionKeys\":[]", "\"partitionKeys\":[\"v\"]")
      .replace("\"primaryKeys\":[]", "\"primaryKeys\":[\"id\"]"))
    val e2 = intercept[IllegalArgumentException] {
      PaimonTable.read(spark, base)
    }
    assert(e2.getMessage.contains("KeyValue system"), e2.getMessage)
    rewrite(orig)
    assert(PaimonTable.read(spark, base).count() == 5L)
  }

  test("partitioned append-only reads: live files by name, values from data") {
    import spark.implicits._
    val base = freshDir("part_data")
    PaimonTable.write((1L to 5L).map(i => (i, s"v${i % 2}")).toDF("id", "v"), base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // declare v a partition key and move the data under a partition dir:
    // the reader must locate live files by NAME (manifest _PARTITION is
    // BinaryRow — unreadable) and take values from the data columns
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]",
      "\"partitionKeys\":[\"v\"]").getBytes("UTF-8")); os.close()
    val bucket = new org.apache.hadoop.fs.Path(s"$base/bucket-0")
    val part = new org.apache.hadoop.fs.Path(s"$base/v=mixed/bucket-0")
    fs.mkdirs(part.getParent)
    require(fs.rename(bucket, part))
    val got = PaimonTable.read(spark, base)
      .as[(Long, String)].collect().toSet
    assert(got == (1L to 5L).map(i => (i, s"v${i % 2}")).toSet)
  }

  /** Fixture: a partitioned append table whose DATA file is stripped of
    * the partition column — values recoverable only from the key=value
    * directory name (the native-paimon trimmed layout). */
  private def trimmedPartitionTable(name: String): String = {
    import spark.implicits._
    val base = freshDir(name)
    PaimonTable.write(Seq((1L, "a"), (2L, "a")).toDF("id", "p").coalesce(1), base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]",
      "\"partitionKeys\":[\"p\"]").getBytes("UTF-8")); os.close()
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/bucket-0"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val stripped = spark.read.parquet(dataFile.toString).select("id")
    val tmp = s"$base/_tmp_strip"
    stripped.coalesce(1).write.mode("overwrite").parquet(tmp)
    val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val part = new org.apache.hadoop.fs.Path(s"$base/p=a/bucket-0")
    fs.mkdirs(part)
    require(fs.rename(newFile, new org.apache.hadoop.fs.Path(part, dataFile.getName)))
    fs.delete(dataFile.getParent, true) // old bucket-0
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    base
  }

  test("readAppendFiles (the streaming micro-batch path) recovers " +
      "trimmed partition values like the batch read") {
    import spark.implicits._
    val base = trimmedPartitionTable("part_stream_unit")
    val snap = PaimonTable.snapshots(spark, base).last
    val files = PaimonTable.appendedFilesOf(spark, base, snap)
    assert(files.nonEmpty)
    // the bare schema'd read the stream used to do NULL-filled p here
    val got = PaimonTable.readAppendFiles(spark, base,
        PaimonTable.loadSchema(spark, base), files)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "a")), got)
  }

  test("partitioned append-only reads: values recovered from key=value dirs") {
    import spark.implicits._
    val base = freshDir("part_dirs")
    // full schema (id, p); then strip p from the DATA file so the only
    // source of partition values is the hive-style directory name
    PaimonTable.write(Seq((1L, "a"), (2L, "a")).toDF("id", "p").coalesce(1), base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]",
      "\"partitionKeys\":[\"p\"]").getBytes("UTF-8")); os.close()
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/bucket-0"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val stripped = spark.read.parquet(dataFile.toString).select("id")
    val tmp = s"$base/_tmp_strip"
    stripped.coalesce(1).write.mode("overwrite").parquet(tmp)
    val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val part = new org.apache.hadoop.fs.Path(s"$base/p=a/bucket-0")
    fs.mkdirs(part)
    require(fs.rename(newFile, new org.apache.hadoop.fs.Path(part, dataFile.getName)))
    fs.delete(dataFile.getParent, true) // old bucket-0
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val got = PaimonTable.read(spark, base).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "a")))
  }

  test("primary-key table: upsert + delete merge to latest state") {
    import spark.implicits._
    val base = freshDir("pk")
    // snap 1: initial rows, 3 buckets
    PaimonTable.writePk((1L to 20L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "name", "amt"), base, Seq("id"), numBuckets = 3)
    // snap 2: update ids 5..8 (+U), insert 21..22 (+I semantics equal)
    PaimonTable.writePk(
      ((5L to 8L).map(i => (i, s"upd$i", i * 100L)) ++
        Seq((21L, "v21", 210L), (22L, "v22", 220L))).toDF("id", "name", "amt"),
      base, Seq("id"), kind = "+U")
    // snap 3: delete ids divisible by 4 — key-only frame
    PaimonTable.writePk((1L to 22L).filter(_ % 4 == 0).toDF("id"),
      base, Seq("id"), kind = "-D")
    val rows = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expected = (1L to 22L).filter(_ % 4 != 0).map { i =>
      if (i >= 5 && i <= 8) (i, s"upd$i", i * 100L)
      else if (i == 21 || i == 22) (i, s"v$i", i * 10L)
      else (i, s"v$i", i * 10L)
    }.toSet
    assert(rows == expected)
    // keys live in more than one bucket dir (hash-bucketed layout)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filter(_.startsWith("bucket-")).toSet
    assert(bucketDirs.size > 1)
    // time travel: snapshot 1 is the pre-update state
    val snap1 = PaimonTable.read(spark, base, snapshotId = Some(1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(snap1 == (1L to 20L).map(i => (i, s"v$i", i * 10L)).toSet)
    // schema records the keys; #schemas metadata table shows them
    assert(PaimonTable.loadSchema(spark, base).primaryKeys == Seq("id"))
  }

  test("PARTITIONED primary-key table: LSM merge over partition dirs") {
    import spark.implicits._
    val base = freshDir("pk_part")
    // PK contains the partition field (paimon's fixed-bucket invariant);
    // three commits so the merge is real: insert, upsert, key-only delete
    PaimonTable.writePk((1L to 20L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", i * 10L)).toDF("id", "p", "amt"),
      base, Seq("p", "id"), numBuckets = 2)
    PaimonTable.writePk((5L to 8L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", i * 100L)).toDF("id", "p", "amt"),
      base, Seq("p", "id"), kind = "+U")
    PaimonTable.writePk((1L to 20L).filter(_ % 5 == 0).map(i =>
        (i, if (i % 2 == 0) "a" else "b")).toDF("id", "p"),
      base, Seq("p", "id"), kind = "-D")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // declare p a partition key and move the bucket dirs under partition
    // directories (the reader locates live files by NAME; partition
    // values come from the value rows, which carry the full row)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]",
      "\"partitionKeys\":[\"p\"]").getBytes("UTF-8")); os.close()
    Seq(0, 1).foreach { b =>
      val from = new org.apache.hadoop.fs.Path(s"$base/bucket-$b")
      if (fs.exists(from)) {
        val to = new org.apache.hadoop.fs.Path(
          s"$base/p=${if (b == 0) "a" else "b"}/bucket-$b")
        fs.mkdirs(to.getParent)
        require(fs.rename(from, to))
      }
    }
    val got = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expected = (1L to 20L).filterNot(_ % 5 == 0).map { i =>
      (i, if (i % 2 == 0) "a" else "b",
        if (i >= 5 && i <= 8) i * 100L else i * 10L)
    }.toSet
    assert(got == expected)
    // time travel composes with the partitioned merge
    val snap1 = PaimonTable.read(spark, base, snapshotId = Some(1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(snap1 == (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", i * 10L)).toSet)
    // DYNAMIC buckets on a partitioned PK table READ fine (the bucket
    // index is write-side routing; the global merge never needs it)
    val os2 = fs.create(schemaPath, true)
    os2.write(orig.replace("\"partitionKeys\":[]",
        "\"partitionKeys\":[\"p\"]")
      .replace("\"file.format\":\"parquet\"",
        "\"file.format\":\"parquet\",\"bucket\":\"-1\"").getBytes("UTF-8"))
    os2.close()
    val gotDyn = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotDyn == expected)
  }

  test("DYNAMIC-bucket cross-partition upsert reads: global merge, no index") {
    import spark.implicits._
    // Simulate a foreign cross-partition dynamic-bucket table (PK does
    // NOT cover the partition field): write the same KeyValue layout
    // unpartitioned, then declare p a partition key with bucket=-1 and
    // relocate the bucket dirs under a partition dir. The key-move
    // history: key 3 inserted in p=a (seq 1), retracted (seq 2),
    // re-inserted in p=b (seq 3) — exactly what paimon's cross-partition
    // sink emits, with the retract at a LOWER sequence than the insert.
    val base = freshDir("pk_dynamic")
    PaimonTable.writePk((1L to 10L).map(i => (i, "a", i * 10L))
      .toDF("id", "p", "v"), base, Seq("id"), numBuckets = 2)
    PaimonTable.writePk(Seq(3L).toDF("id"), base, Seq("id"), kind = "-D")
    PaimonTable.writePk(Seq((3L, "b", 999L)).toDF("id", "p", "v"),
      base, Seq("id"), kind = "+I")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$base/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]",
        "\"partitionKeys\":[\"p\"]")
      .replace("\"bucket\":\"2\"", "\"bucket\":\"-1\"").getBytes("UTF-8"))
    os.close()
    Seq(0, 1).foreach { b =>
      val from = new org.apache.hadoop.fs.Path(s"$base/bucket-$b")
      if (fs.exists(from)) {
        val to = new org.apache.hadoop.fs.Path(s"$base/p=a/bucket-$b")
        fs.mkdirs(to.getParent)
        require(fs.rename(from, to))
      }
    }
    val got = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expected = (1L to 10L).map {
      case 3L => (3L, "b", 999L)
      case i  => (i, "a", i * 10L)
    }.toSet
    assert(got == expected)
    // a FIXED-bucket table whose PK does not cover the partition field
    // is malformed and still refuses
    val os2 = fs.create(schemaPath, true)
    os2.write(orig.replace("\"partitionKeys\":[]",
      "\"partitionKeys\":[\"p\"]").getBytes("UTF-8"))
    os2.close()
    val e = intercept[IllegalArgumentException](PaimonTable.read(spark, base))
    assert(e.getMessage.contains("malformed"), e.getMessage)
    // WRITES to dynamic-bucket tables still refuse (routing needs the
    // index) — restore the dynamic schema first
    val os3 = fs.create(schemaPath, true)
    os3.write(orig.replace("\"partitionKeys\":[]",
        "\"partitionKeys\":[\"p\"]")
      .replace("\"bucket\":\"2\"", "\"bucket\":\"-1\"").getBytes("UTF-8"))
    os3.close()
    val e2 = intercept[IllegalArgumentException] {
      PaimonTable.writePk(Seq((11L, "a", 1L)).toDF("id", "p", "v"),
        base, Seq("id"), kind = "+U")
    }
    assert(e2.getMessage.contains("dynamic"), e2.getMessage)
  }

  test("GOLDEN: key predicates push below the PK merge into the scan, rows unchanged") {
    import spark.implicits._
    // a bucketed PK table: inserts, upserts and key-only deletes
    val bucketed = freshDir("pk_pushdown")
    PaimonTable.writePk((1L to 40L).map(i => (i, s"v$i", i * 10L)).toDF("k", "name", "amt"),
      bucketed, Seq("k"), numBuckets = 3)
    PaimonTable.writePk((5L to 12L).map(i => (i, s"upd$i", i * 100L)).toDF("k", "name", "amt"),
      bucketed, Seq("k"), kind = "+U")
    PaimonTable.writePk((1L to 40L).filter(_ % 4 == 0).toDF("k"), bucketed, Seq("k"), kind = "-D")
    // a partitioned dynamic-bucket table whose key 3 moves from p=a to
    // p=b: inserted, retracted, re-inserted (the retract at a lower
    // sequence number than the move's insert), then declared partitioned
    // by p with bucket = -1 and its bucket dirs moved under p=a
    val dynamic = freshDir("pk_pushdown_dynamic")
    PaimonTable.writePk((1L to 10L).map(i => (i, "a", i * 10L)).toDF("k", "p", "amt"),
      dynamic, Seq("k"), numBuckets = 2)
    PaimonTable.writePk(Seq(3L).toDF("k"), dynamic, Seq("k"), kind = "-D")
    PaimonTable.writePk(Seq((3L, "b", 999L)).toDF("k", "p", "amt"), dynamic, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(dynamic)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$dynamic/schema/schema-0")
    val in = fs.open(schemaPath)
    val orig = new String(in.readAllBytes(), "UTF-8"); in.close()
    val os = fs.create(schemaPath, true)
    os.write(orig.replace("\"partitionKeys\":[]", "\"partitionKeys\":[\"p\"]")
      .replace("\"bucket\":\"2\"", "\"bucket\":\"-1\"").getBytes("UTF-8"))
    os.close()
    Seq(0, 1).foreach { b =>
      val from = new org.apache.hadoop.fs.Path(s"$dynamic/bucket-$b")
      if (fs.exists(from)) {
        val to = new org.apache.hadoop.fs.Path(s"$dynamic/p=a/bucket-$b")
        fs.mkdirs(to.getParent)
        require(fs.rename(from, to))
      }
    }
    assert(PaimonTable.read(spark, dynamic).where(col("k") === 3).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"), r.getAs[Long]("amt"))).toSeq ==
      Seq((3L, "b", 999L)))

    val predicates: Seq[(String, Long => Boolean)] = Seq(
      "k BETWEEN 5 AND 20" -> (k => k >= 5 && k <= 20),
      "k BETWEEN 2 AND 4" -> (k => k >= 2 && k <= 4),
      "k = 3" -> (_ == 3),
      "k = 8" -> (_ == 8),
      "k = 7" -> (_ == 7))
    for (table <- Seq(bucketed, dynamic); (sql, keep) <- predicates) {
      val all = PaimonTable.read(spark, table).collect()
      val df = PaimonTable.read(spark, table).where(sql)
      assert(df.collect().map(_.toString).sorted.toSeq ==
        all.filter(r => keep(r.getAs[Long]("k"))).map(_.toString).sorted.toSeq, s"$table: $sql")
      val pushed = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
      }
      assert(pushed.nonEmpty && pushed.forall(_.contains("_KEY_k")), s"$table: $sql: $pushed")
    }
  }

  test("NATIVE partitioned PK writes: partition dirs, manifest tuples, merge") {
    import spark.implicits._
    val base = freshDir("pk_part_native")
    val pk = Seq("p", "id")
    def rows(r: Range, amt: Long => Long) =
      r.map(i => (i.toLong, if (i % 2 == 0) "a" else "b", amt(i))).toDF("id", "p", "amt")
    PaimonTable.writePk(rows(1 to 20, _ * 10L), base, pk,
      numBuckets = 2, partitionBy = Seq("p"))
    PaimonTable.writePk(rows(5 to 8, _ * 100L), base, pk, kind = "+U",
      partitionBy = Seq("p"))
    // key-only -D retraction on the partitioned table
    PaimonTable.writePk((1L to 20L).filter(_ % 5 == 0)
        .map(i => (if (i % 2 == 0) "a" else "b", i)).toDF("p", "id"),
      base, pk, kind = "-D", partitionBy = Seq("p"))
    // schema records the partition keys
    val sch = PaimonTable.loadSchema(spark, base)
    assert(sch.partitionKeys == Seq("p") && sch.primaryKeys == pk)
    // data files live under <k>=<v>/bucket-<b>/ and manifests carry
    // decodable BinaryRow _PARTITION tuples matching those dirs
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/p=a")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/p=b")))
    val live = PaimonTable.liveFiles(spark, base)
    assert(live.nonEmpty)
    val partVals = live.map(f => graft.sources.BinaryRow.decode(
      f.partition, Seq(org.apache.spark.sql.types.StringType)).head).toSet
    assert(partVals == Set("a", "b"))
    live.foreach { f =>
      val pv = graft.sources.BinaryRow.decode(f.partition,
        Seq(org.apache.spark.sql.types.StringType)).head
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$base/p=$pv/bucket-${f.bucket}/${f.fileName}")), f.fileName)
    }
    // merge read: upsert wins, deletes gone, partition values from rows
    val got = PaimonTable.read(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expected = (1L to 20L).filterNot(_ % 5 == 0).map { i =>
      (i, if (i % 2 == 0) "a" else "b",
        if (i >= 5 && i <= 8) i * 100L else i * 10L)
    }.toSet
    assert(got == expected)
    // time travel composes
    assert(PaimonTable.read(spark, base, snapshotId = Some(1L)).count() == 20)
    // appending with a DIFFERENT partitionBy refuses
    val e = intercept[IllegalArgumentException] {
      PaimonTable.writePk(rows(30 to 31, _ * 10L), base, pk, kind = "+U",
        partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
    // partition column outside the PK refuses at creation
    val e2 = intercept[IllegalArgumentException] {
      PaimonTable.writePk(rows(1 to 3, _ * 10L), freshDir("pk_part_bad"),
        Seq("id"), partitionBy = Seq("p"))
    }
    assert(e2.getMessage.contains("primary key"), e2.getMessage)
  }

  test("readChangelog exposes one snapshot's delta rows with RowKinds") {
    import spark.implicits._
    val base = freshDir("changelog")
    PaimonTable.writePk((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"),
      base, Seq("id"))
    PaimonTable.writePk(Seq((2L, "upd2"), (6L, "v6")).toDF("id", "v"),
      base, Seq("id"), kind = "+U")
    PaimonTable.writePk(Seq(3L).toDF("id"), base, Seq("id"), kind = "-D")
    def cl(s: Long) = PaimonTable.readChangelog(spark, base, s)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)))).toSet
    assert(cl(1L) == (1L to 5L).map(i => ("+I", i, Some(s"v$i"))).toSet)
    assert(cl(2L) == Set(("+U", 2L, Some("upd2")), ("+U", 6L, Some("v6"))))
    assert(cl(3L) == Set(("-D", 3L, None))) // retract ships null values
    // append-only tables refuse (their deltas are plain appends)
    val ap = freshDir("changelog_ap")
    PaimonTable.write(Seq(1L).toDF("k"), ap)
    val e = intercept[IllegalArgumentException](
      PaimonTable.readChangelog(spark, ap, 1L))
    assert(e.getMessage.contains("PRIMARY-KEY"))
  }

  test("primary-key table guards: key mismatch, bad kind, missing column") {
    import spark.implicits._
    val base = freshDir("pkguards")
    PaimonTable.writePk(Seq((1L, "a")).toDF("id", "v"), base, Seq("id"))
    intercept[IllegalArgumentException] {
      PaimonTable.writePk(Seq((2L, "b")).toDF("id", "v"), base, Seq("v"))
    }
    intercept[IllegalArgumentException] {
      PaimonTable.writePk(Seq((2L, "b")).toDF("id", "v"), base, Seq("id"),
        kind = "upsert")
    }
    // missing value column is only legal for -D retractions
    intercept[IllegalArgumentException] {
      PaimonTable.writePk(Seq(2L).toDF("id"), base, Seq("id"), kind = "+U")
    }
    PaimonTable.writePk(Seq(1L).toDF("id"), base, Seq("id"), kind = "-D")
    assert(PaimonTable.read(spark, base).count() == 0L)
  }

  test("incremental readAppendedBetween returns exactly the delta rows") {
    import spark.implicits._
    val base = freshDir("incr")
    PaimonTable.write((1L to 10L).toDF("k"), base)   // snap 1
    PaimonTable.write((11L to 15L).toDF("k"), base)  // snap 2
    PaimonTable.write((16L to 18L).toDF("k"), base)  // snap 3
    assert(PaimonTable.readAppendedBetween(spark, base, 1L)
      .select("k").as[Long].collect().toSet == (11L to 18L).toSet)
    assert(PaimonTable.readAppendedBetween(spark, base, 1L, Some(2L))
      .select("k").as[Long].collect().toSet == (11L to 15L).toSet)
    assert(PaimonTable.readAppendedBetween(spark, base, 3L).count() == 0L)
  }

  test("missing snapshot id and empty dir error clearly") {
    import spark.implicits._
    val base = freshDir("errs")
    intercept[IllegalArgumentException] {
      PaimonTable.read(spark, base) // no table at all
    }
    PaimonTable.write((1L to 3L).toDF("k"), base)
    val e = intercept[IllegalArgumentException] {
      PaimonTable.read(spark, base, snapshotId = Some(9L))
    }
    assert(e.getMessage.contains("snapshot 9 not found"))
  }

  test("full compaction: COMPACT snapshot keeps rows, incremental skips it") {
    import spark.implicits._
    import graft.sources.PaimonTable
    val base = freshDir("compact")
    val df = (1L to 30L).map(i => (i, s"row$i")).toDF("k", "v")
    PaimonTable.write(df.filter(col("k") <= 10), base)
    PaimonTable.write(df.filter(col("k") > 10 && col("k") <= 20), base)
    PaimonTable.write(df.filter(col("k") > 20), base)
    assert(PaimonTable.liveFiles(spark, base).size >= 3)
    val before = PaimonTable.read(spark, base).orderBy("k").collect().map(_.toSeq)

    val snap = PaimonTable.compact(spark, base)
    assert(snap === 4L)
    assert(PaimonTable.snapshots(spark, base).last.commitKind === "COMPACT")
    assert(PaimonTable.read(spark, base).orderBy("k").collect()
      .map(_.toSeq).toSeq === before.toSeq)
    assert(PaimonTable.liveFiles(spark, base).size === 1)
    // incremental read across the compaction sees the real appends only
    val inc = PaimonTable.readAppendedBetween(spark, base, fromSnapshotId = 1L)
    assert(inc.select("k").collect().map(_.getLong(0)).toSet === (11L to 30L).toSet)
    // time travel to a pre-compaction snapshot resolves the old files
    assert(PaimonTable.read(spark, base, snapshotId = Some(3L))
      .orderBy("k").collect().map(_.toSeq).toSeq === before.toSeq)
    // compacting a single-file table is a no-op
    assert(PaimonTable.compact(spark, base) === 4L)
  }

  test("compaction refuses primary-key tables") {
    import spark.implicits._
    import graft.sources.PaimonTable
    val base = freshDir("compact_pk")
    val rows = Seq(("+I", 1L, "a"), ("+I", 2L, "b")).toDF("kind", "k", "v")
    PaimonTable.writePk(rows, base, primaryKeys = Seq("k"))
    val e = intercept[IllegalArgumentException](PaimonTable.compact(spark, base))
    assert(e.getMessage.contains("append-only"))
  }

  test("expire_snapshots reclaims expired-only files, keeps the data") {
    import spark.implicits._
    import graft.sources.PaimonTable
    val base = freshDir("expire")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = (1L to 30L).map(i => (i, s"row$i")).toDF("k", "v")
    PaimonTable.write(df.filter(col("k") <= 10), base)
    PaimonTable.write(df.filter(col("k") > 10 && col("k") <= 20), base)
    PaimonTable.write(df.filter(col("k") > 20), base)
    PaimonTable.compact(spark, base)
    val before = PaimonTable.read(spark, base).orderBy("k").collect().map(_.toSeq)
    val preFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base, "bucket-0"))
      .map(_.getPath.getName).toSet

    val expired = PaimonTable.expireSnapshots(spark, base, keepLast = 1)
    assert(expired === Seq(1L, 2L, 3L))
    assert(PaimonTable.read(spark, base).orderBy("k").collect()
      .map(_.toSeq).toSeq === before.toSeq)
    // the three pre-compaction data files are physically gone
    val postFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base, "bucket-0"))
      .map(_.getPath.getName).toSet
    assert(postFiles.size < preFiles.size)
    assert(PaimonTable.snapshots(spark, base).map(_.id) === Seq(4L))
    val e = intercept[IllegalArgumentException](
      PaimonTable.read(spark, base, snapshotId = Some(2L)))
    assert(e.getMessage.contains("not found"))
    // EARLIEST hint moved; expiring again is a no-op
    assert(PaimonTable.expireSnapshots(spark, base, keepLast = 1) === Nil)
  }
}
