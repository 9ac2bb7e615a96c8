package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DeltaLogReader

// v2-checkpoint fixture rows (top-level for Janino-safe encoders)
case class V2SidecarAdd(path: String, partitionValues: Map[String, String],
                        size: Long, modificationTime: Long, dataChange: Boolean)
case class V2SidecarRow(add: V2SidecarAdd)

class DeltaSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/delta_$name"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  test("snapshot replay: add, add, remove+add across versions; time travel") {
    import spark.implicits._
    val base = freshDir("plain")
    val df = (1L to 10L).map(i => (i, s"row$i")).toDF("k", "v")
    val szA = DeltaLogReader.writeDataFile(df.filter(col("k") <= 3), base, "a.parquet")
    val szB = DeltaLogReader.writeDataFile(df.filter(col("k") > 3 && col("k") <= 6), base, "b.parquet")
    val szC = DeltaLogReader.writeDataFile(df.filter(col("k") > 6), base, "c.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$szA,"modificationTime":1,"dataChange":true}}"""))
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      s"""{"add":{"path":"b.parquet","partitionValues":{},"size":$szB,"modificationTime":2,"dataChange":true}}"""))
    DeltaLogReader.writeCommit(spark, base, 2, Seq(
      """{"remove":{"path":"a.parquet","deletionTimestamp":3,"dataChange":true}}""",
      s"""{"add":{"path":"c.parquet","partitionValues":{},"size":$szC,"modificationTime":3,"dataChange":true}}"""))

    assert(DeltaLogReader.tableVersions(spark, base) == Seq(0L, 1L, 2L))
    def keys(version: Option[Long]) =
      DeltaLogReader.read(spark, base, version)
        .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(None) == (4L to 10L).toSet)         // latest: b + c
    assert(keys(Some(0L)) == (1L to 3L).toSet)      // v0: a only
    assert(keys(Some(1L)) == (1L to 6L).toSet)      // v1: a + b
    assert(keys(Some(2L)) == (4L to 10L).toSet)
    intercept[IllegalArgumentException](keys(Some(9L)))
  }

  test("re-add after remove restores the file (last action per path wins)") {
    import spark.implicits._
    val base = freshDir("readd")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val sz = DeltaLogReader.writeDataFile(df, base, "a.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      DeltaLogReader.metaDataAction(df.schema, Nil),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      """{"remove":{"path":"a.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    DeltaLogReader.writeCommit(spark, base, 2, Seq(
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":3,"dataChange":true}}"""))
    assert(DeltaLogReader.read(spark, base, Some(1L)).count() == 0)
    assert(DeltaLogReader.read(spark, base).count() == 2)
  }

  test("partition values come from the log, typed per the declared schema") {
    import spark.implicits._
    val base = freshDir("part")
    // data files carry ONLY (k, v); partition column p lives in the log
    val data = Seq((1L, "a1"), (2L, "a2")).toDF("k", "v")
    val data2 = Seq((3L, "b1")).toDF("k", "v")
    val szA = DeltaLogReader.writeDataFile(data, base, "p=10/a.parquet")
    val szB = DeltaLogReader.writeDataFile(data2, base, "p=20/b.parquet")
    val full = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING, p INT")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      DeltaLogReader.metaDataAction(full, Seq("p")),
      s"""{"add":{"path":"p=10/a.parquet","partitionValues":{"p":"10"},"size":$szA,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"p=20/b.parquet","partitionValues":{"p":"20"},"size":$szB,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLogReader.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "p"))
    assert(got.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(rows == Set((1L, 10), (2L, 10), (3L, 20)))
    // the many-partitions plan shape (one scan + input_file_name join)
    // must produce identical rows and schema to the literal-column shape
    val joined = DeltaLogReader.read(spark, base, maxLiteralPartitions = 0)
    assert(joined.schema == got.schema)
    assert(joined.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      == got.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet)
    // and its plan carries ONE parquet scan regardless of tuple count
    // (count inside the AQE final plan; the string repeats the tree
    // under "== Initial Plan ==")
    joined.collect()
    val finalPlan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size == 1)
  }

  test("writer: create + append + overwrite, each readable by version") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    import org.apache.spark.sql.SaveMode
    val base = freshDir("writer")
    val df = (1L to 6L).map(i => (i, s"v$i")).toDF("k", "v")
    assert(DeltaLogWriter.write(df.filter(col("k") <= 2), base) == 0L)
    assert(DeltaLogWriter.write(df.filter(col("k") > 2 && col("k") <= 4), base) == 1L)
    assert(DeltaLogWriter.write(df.filter(col("k") > 4), base, SaveMode.Overwrite) == 2L)
    def keys(v: Option[Long]) = DeltaLogReader.read(spark, base, v)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(Some(0L)) == Set(1L, 2L))
    assert(keys(Some(1L)) == Set(1L, 2L, 3L, 4L))     // append accumulates
    assert(keys(None) == Set(5L, 6L))                 // overwrite replaces
    // round-trips through a multi-part write too
    val wide = spark.range(100).toDF("k").withColumn("v", col("k").cast("string"))
      .repartition(4)
    val base2 = freshDir("writer_parts")
    DeltaLogWriter.write(wide, base2)
    assert(DeltaLogReader.read(spark, base2).count() == 100)
  }

  test("multi-part classic checkpoints fold ALL parts; incomplete parts refuse") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("multipart")
    DeltaLogWriter.write((1L to 4L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    DeltaLogWriter.write((5L to 8L).map(i => (i, s"v$i")).toDF("k", "v"), base)
    val cv = DeltaLogWriter.checkpoint(spark, base, vacuumJson = true)
    // split the single classic checkpoint into two named parts
    val logDir = new org.apache.hadoop.fs.Path(base, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val classic = new org.apache.hadoop.fs.Path(logDir,
      f"$cv%020d.checkpoint.parquet")
    val all = spark.read.parquet(classic.toString)
    val half = all.count() / 2
    val rows = all.collect()
    def writePart(part: Int, slice: Array[org.apache.spark.sql.Row]): Unit = {
      val tmp = freshDir(s"mp_stage_$part")
      spark.createDataFrame(spark.sparkContext.parallelize(slice.toSeq, 1),
        all.schema).coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(f, new org.apache.hadoop.fs.Path(logDir,
        f"$cv%020d.checkpoint.$part%010d.0000000002.parquet"))
    }
    writePart(1, rows.take(half.toInt))
    writePart(2, rows.drop(half.toInt))
    fs.delete(classic, false)
    // all 8 keys come back through the two parts
    assert(DeltaLogReader.read(spark, base).select("k")
      .collect().map(_.getLong(0)).toSet == (1L to 8L).toSet)
    // missing part refuses instead of silently dropping half the table
    fs.delete(new org.apache.hadoop.fs.Path(logDir,
      f"$cv%020d.checkpoint.${2}%010d.0000000002.parquet"), false)
    val e = intercept[Exception](DeltaLogReader.read(spark, base).collect())
    assert(e.getMessage.contains("incomplete"), e.getMessage)
  }

  test("commits are put-if-absent: a version race fails, never clobbers") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("commitrace")
    DeltaLogWriter.write(Seq((1L, "a")).toDF("k", "v"), base)
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaLogReader.writeCommit(spark, base, 0L, Seq("""{"txn":{"appId":"x","version":1}}"""))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the original commit is intact
    assert(DeltaLogReader.read(spark, base).count() == 1)
  }

  test("append to a partitioned table refuses (partition values live in the log)") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("partguard")
    // partitioned fixture: metaData declares a partition column
    val df = Seq((1L, "x")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df, base, "f1.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(
        org.apache.spark.sql.types.StructType(df.schema.fields :+
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.StringType)), Seq("p")),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaLogWriter.write(Seq((2L, "y", "b")).toDF("k", "v", "p"), base)
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
  }

  test("checkpoint + vacuum: reads bootstrap from parquet, txn state survives") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    import org.apache.spark.sql.SaveMode
    val base = freshDir("checkpoint")
    val df = (1L to 9L).map(i => (i, s"v$i")).toDF("k", "v")
    DeltaLogWriter.write(df.filter(col("k") <= 3), base,
      txn = Some(("app1", 0L)))                                    // v0
    DeltaLogWriter.write(df.filter(col("k") > 3 && col("k") <= 6), base,
      txn = Some(("app1", 1L)))                                    // v1
    val cv = DeltaLogWriter.checkpoint(spark, base, vacuumJson = true)
    assert(cv == 1L)
    // JSON history gone, checkpoint present
    assert(DeltaLogReader.tableVersions(spark, base).isEmpty)
    assert(DeltaLogReader.lastCheckpointVersion(spark, base).contains(1L))
    // checkpoint-only read
    def keys(v: Option[Long]) = DeltaLogReader.read(spark, base, v)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(None) == (1L to 6L).toSet)
    // txn bookkeeping survived the vacuum
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app1").contains(1L))
    // writes continue past the checkpoint: v2 appends
    assert(DeltaLogWriter.write(df.filter(col("k") > 6), base,
      txn = Some(("app1", 2L))) == 2L)
    assert(keys(None) == (1L to 9L).toSet)
    assert(keys(Some(1L)) == (1L to 6L).toSet) // time travel to the checkpoint
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app1").contains(2L))
    // time travel below the vacuumed history errors clearly
    val e = intercept[IllegalArgumentException](keys(Some(0L)))
    assert(e.getMessage.contains("version 0 not in log"))
    // overwrite after checkpoint removes the checkpointed files too
    DeltaLogWriter.write(df.filter(col("k") === 1L), base, SaveMode.Overwrite)
    assert(keys(None) == Set(1L))
  }

  test("non-delta dir and checkpoint-only log raise clear errors") {
    val e1 = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, freshDir("missing")))
    assert(e1.getMessage.contains("_delta_log"))
  }

  // --------------------------------------------- protocol guardrails

  test("z85 codec matches the ZeroMQ RFC test vector and round-trips") {
    import graft.sources.DeletionVectors.{z85Decode, z85Encode}
    // RFC 32: 86 4F D2 6F B5 59 F7 5B <-> "HelloWorld"
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(z85Encode(bytes) == "HelloWorld")
    assert(z85Decode("HelloWorld").sameElements(bytes))
    val rnd = new scala.util.Random(7)
    val blob = Array.fill(64)(rnd.nextInt().toByte)
    assert(z85Decode(z85Encode(blob)).sameElements(blob))
  }

  test("roaring bitmap codec round-trips array, bitmap and high buckets") {
    import graft.sources.DeletionVectors.{deserialize, serialize}
    // sparse (array container), dense (>4096 → bitmap container), a
    // second 16-bit container, and a >32-bit row index (second bucket)
    val sparse = Seq(1L, 5L, 70000L)
    assert(deserialize(serialize(sparse)).sorted == sparse)
    val dense = (0L until 5000L).map(_ * 2) :+ (1L << 33)
    assert(deserialize(serialize(dense)).sorted == dense.sorted)
  }

  test("roaring codec round-trips arbitrary position sets (property)") {
    import graft.sources.DeletionVectors.{deserialize, serialize}
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.scalacheck.Test.{check, Parameters}
    // positions drawn from ranges that exercise array containers, the
    // dense bitmap threshold, container boundaries and >32-bit buckets
    val posGen = Gen.oneOf(
      Gen.chooseNum(0L, 200000L),
      Gen.chooseNum(65530L, 65545L),                // container boundary
      Gen.chooseNum((1L << 32) - 5, (1L << 32) + 5), // bucket boundary
      Gen.chooseNum(0L, 1L << 40))
    val setGen = Gen.listOf(posGen)
    val prop = forAll(setGen) { ps =>
      deserialize(serialize(ps)).sorted == ps.distinct.sorted
    }
    val res = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
    // and a forced dense run: one full container + neighbors
    val dense = (0L until 70000L) ++ Seq(1L << 33, (1L << 33) + 1)
    assert(deserialize(serialize(dense)).sorted == dense.sorted)
  }

  test("deletion vectors drop exactly the flagged rows (u and i storage)") {
    import spark.implicits._
    val base = freshDir("dv_read")
    val df = (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v")
    val szA = DeltaLogReader.writeDataFile(df.filter($"k" < 50), base, "a.parquet")
    val szB = DeltaLogReader.writeDataFile(df.filter($"k" >= 50), base, "b.parquet")
    // one DV file carrying both files' bitmaps ("u" storage, real shape)
    val descs = graft.sources.DeletionVectors.writeDvFile(spark, base, Seq(
      "a.parquet" -> Seq(0L, 3L, 7L),   // deletes k = 0, 3, 7
      "b.parquet" -> Seq(1L, 2L)))      // deletes k = 51, 52 (pos 1, 2)
    def dvJson(d: graft.sources.DeletionVectors.DvDescriptor): String =
      s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$szA,"modificationTime":1,"dataChange":true${dvJson(descs("a.parquet"))}}}""",
      s"""{"add":{"path":"b.parquet","partitionValues":{},"size":$szB,"modificationTime":1,"dataChange":true${dvJson(descs("b.parquet"))}}}"""))
    val got = DeltaLogReader.read(spark, base).select("k")
      .as[Long].collect().toSet
    assert(got == (0L until 100L).toSet -- Set(0L, 3L, 7L, 51L, 52L))
    // version 1: a REPLACEMENT DV on file a (inline "i" storage) widens
    // the delete set — last add per path wins, proving DV replay
    val inlineData = graft.sources.DeletionVectors.serialize(Seq(0L, 1L, 2L, 3L))
    val inline = graft.sources.DeletionVectors.z85Encode(
      inlineData ++ Array.fill((4 - inlineData.length % 4) % 4)(0.toByte))
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$szA,"modificationTime":2,"dataChange":false,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${inlineData.length},"cardinality":4}}}"""))
    val got1 = DeltaLogReader.read(spark, base).select("k")
      .as[Long].collect().toSet
    assert(got1 == (0L until 100L).toSet -- Set(0L, 1L, 2L, 3L, 51L, 52L))
    // time travel to version 0 re-applies the original, narrower DV
    assert(DeltaLogReader.read(spark, base, version = Some(0L)).count() == 95)
    // a checkpoint CARRIES the vectors: bootstrap sees the same rows
    graft.sources.DeltaLogWriter.checkpoint(spark, base, vacuumJson = true)
    assert(DeltaLogReader.read(spark, base).select("k")
      .as[Long].collect().toSet == got1)
  }

  test("column mapping mode 'id' resolves by parquet FIELD ID, not name") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = freshDir("proto_cm_id")
    // the data file's PHYSICAL column names DISAGREE with the
    // schemaString's physicalName on purpose: only field-id resolution
    // can read this correctly (matching the icebergCompat layout where
    // ids are authoritative)
    def writeMeta(id: Int) = new MetadataBuilder()
      .putLong("parquet.field.id", id.toLong).build()
    val physDf = Seq((7L, "p"), (8L, "q")).toDF("anything-a", "anything-b")
      .select(col("anything-a").as("anything-a", writeMeta(1)),
        col("anything-b").as("anything-b", writeMeta(2)))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val sz = DeltaLogReader.writeDataFile(physDf, base, "a.parquet")
    def fieldMeta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = true, fieldMeta("col-x1", 1)),
      StructField("v", StringType, nullable = true, fieldMeta("col-x2", 2))))
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(logical.json)
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"id"}}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLogReader.read(spark, base)
    assert(got.columns.toSeq == Seq("k", "v"))
    assert(got.as[(Long, String)].collect().toSet == Set((7L, "p"), (8L, "q")))
    // an unknown FUTURE mode still refuses
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"nonsense"}}}"""))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, base).collect())
    assert(e.getMessage.contains("column mapping"))
  }

  test("column mapping mode 'name' resolves physical names; unknown mode refuses") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = freshDir("proto_cm")
    // data file carries PHYSICAL column names, the logical schema maps
    // to them via field metadata — the reader must rename transparently
    val physDf = Seq((1L, "x"), (2L, "y")).toDF("col-9a1", "col-b27")
    val sz = DeltaLogReader.writeDataFile(physDf, base, "a.parquet")
    def fieldMeta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = true, fieldMeta("col-9a1", 1)),
      StructField("v", StringType, nullable = true, fieldMeta("col-b27", 2))))
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(logical.json)
    def md(mode: String) =
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"$mode"}}}"""
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      md("name"),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLogReader.read(spark, base)
    assert(got.columns.toSeq == Seq("k", "v"))
    assert(got.as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y")))
    // an unknown future mode is NOT implemented and must refuse
    DeltaLogReader.writeCommit(spark, base, 1, Seq(md("unknown-future-mode")))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, base).collect())
    assert(e.getMessage.contains("column mapping"))
  }

  test("v2 checkpoint: json top-level + parquet sidecars bootstrap the " +
      "snapshot; newer commits replay on top") {
    import spark.implicits._
    val base = freshDir("v2cp")
    val df = (1L to 30L).map(i => (i, s"r$i")).toDF("k", "v")
    // versions 0+1: ordinary commits through the writer
    graft.sources.DeltaLogWriter.write(df.filter($"k" <= 10), base)
    graft.sources.DeltaLogWriter.write(
      df.filter($"k" > 10 && $"k" <= 20), base)
    val live = DeltaLogReader.read(spark, base)
    assert(live.count() == 20)
    val files = graft.sources.DeltaLogReader.snapshot(spark, base).files.map(_.path)
    // hand-build the v2 checkpoint at version 1: parquet SIDECAR with
    // the add actions, UUID-named JSON top-level with protocol/
    // metaData/checkpointMetadata/sidecarFile, _last_checkpoint hint
    val logDir = new org.apache.hadoop.fs.Path(base, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecarName = "11111111-2222-3333-4444-555555555555.parquet"
    val rows = files.map(p => V2SidecarRow(
      V2SidecarAdd(p, Map.empty, 0L, 0L, dataChange = true)))
    DeltaLogReader.writeDataFile(rows.toDF(),
      s"$base/_delta_log/_sidecars", sidecarName)
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(df.schema.json)
    val topName = "00000000000000000001.checkpoint.aaaabbbb-cccc-dddd-eeee-ffff00001111.json"
    val topLines = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":[],"configuration":{}}}""",
      """{"checkpointMetadata":{"version":1}}""",
      s"""{"sidecarFile":{"path":"$sidecarName","sizeInBytes":1}}""")
    val osT = fs.create(new org.apache.hadoop.fs.Path(logDir, topName), true)
    osT.write((topLines.mkString("\n") + "\n").getBytes("UTF-8")); osT.close()
    val osL = fs.create(new org.apache.hadoop.fs.Path(logDir, "_last_checkpoint"), true)
    osL.write("""{"version":1,"size":4}""".getBytes("UTF-8")); osL.close()
    // vacuum the JSON commits the checkpoint covers: the v2 checkpoint
    // is now the ONLY source of the version-1 state
    Seq(0L, 1L).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json"), false))
    assert(DeltaLogReader.read(spark, base)
      .select("k").as[Long].collect().toSet == (1L to 20L).toSet)
    // a newer JSON commit replays on top of the v2 bootstrap
    val szC = DeltaLogReader.writeDataFile(df.filter($"k" > 20), base, "c.parquet")
    DeltaLogReader.writeCommit(spark, base, 2, Seq(
      s"""{"add":{"path":"c.parquet","partitionValues":{},"size":$szC,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLogReader.read(spark, base)
      .select("k").as[Long].collect().toSet == (1L to 30L).toSet)
    // parquet TOP-LEVEL variant: a classic-schema checkpoint under a
    // UUID name also resolves (v2 naming, no sidecars); the writer
    // advances _last_checkpoint to version 2 first
    graft.sources.DeltaLogWriter.checkpoint(spark, base)
    val classic = new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000002.checkpoint.parquet")
    val uuidNamed = new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000002.checkpoint.99998888-7777-6666-5555-444433332222.parquet")
    require(fs.rename(classic, uuidNamed))
    assert(DeltaLogReader.read(spark, base).count() == 30)
  }

  test("readChanges: derived inserts/deletes, cdc precedence, guards") {
    import spark.implicits._
    val base = freshDir("cdf")
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    graft.sources.DeltaLogWriter.write(df.filter($"k" <= 6), base)   // v0
    graft.sources.DeltaLogWriter.write(df.filter($"k" > 6), base)    // v1
    // v2: overwrite → derived deletes of everything + inserts of subset
    graft.sources.DeltaLogWriter.write(df.filter($"k" <= 3), base,
      org.apache.spark.sql.SaveMode.Overwrite)                        // v2
    val ch = DeltaLogReader.readChanges(spark, base, 0L)
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"), r.getAs[Long]("k"))).toSet
    val expected =
      (1L to 6L).map(k => ("insert", 0L, k)).toSet ++
      (7L to 10L).map(k => ("insert", 1L, k)) ++
      (1L to 10L).map(k => ("delete", 2L, k)) ++
      (1L to 3L).map(k => ("insert", 2L, k))
    assert(ch == expected)
    // range bounds: only v1's changes
    assert(DeltaLogReader.readChanges(spark, base, 1L, Some(1L))
      .select("k").as[Long].collect().toSet == (7L to 10L).toSet)
    // a deletion-vector commit in range refuses
    val dvBase = freshDir("cdf_dv")
    val sz = DeltaLogReader.writeDataFile(df, dvBase, "a.parquet")
    val dvData = graft.sources.DeletionVectors.serialize(Seq(0L))
    val inline = graft.sources.DeletionVectors.z85Encode(
      dvData ++ Array.fill((4 - dvData.length % 4) % 4)(0.toByte))
    DeltaLogReader.writeCommit(spark, dvBase, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":21,"cardinality":1}}}"""))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.readChanges(spark, dvBase, 0L).collect())
    assert(e.getMessage.contains("deletion-vector"))
  }

  test("minReaderVersion 3 with only supported features still reads") {
    import spark.implicits._
    val base = freshDir("proto_ok")
    val df = Seq((1L, "x")).toDF("k", "v")
    val sz = DeltaLogReader.writeDataFile(df, base, "a.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz","vacuumProtocolCheck"],"writerFeatures":[]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLogReader.read(spark, base).count() == 1)
    // and a future protocol version is refused outright
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":9}}"""))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, base).collect())
    assert(e.getMessage.contains("minReaderVersion 4"))
  }

  test("OPTIMIZE compacts small files, keeps rows, stays CDF-invisible") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("optimize")
    val df = (1L to 30L).map(i => (i, s"row$i")).toDF("k", "v")
    DeltaLogWriter.write(df.filter(col("k") <= 10), base)
    DeltaLogWriter.write(df.filter(col("k") > 10 && col("k") <= 20), base)
    DeltaLogWriter.write(df.filter(col("k") > 20), base)
    val before = DeltaLogReader.read(spark, base)
      .orderBy("k").collect().map(_.toSeq)
    val filesBefore = graft.sources.DeltaLogReader.snapshot(spark, base).files.map(_.path).size
    assert(filesBefore >= 3)

    val (v, compacted, bins) = DeltaLogWriter.optimize(spark, base,
      smallFileBytes = Long.MaxValue, targetFileBytes = Long.MaxValue)
    assert(v === 3L && compacted === filesBefore && bins === 1)
    // identical rows, one live file
    assert(DeltaLogReader.read(spark, base).orderBy("k").collect()
      .map(_.toSeq).toSeq === before.toSeq)
    assert(DeltaLogReader.snapshot(spark, base).files.size === 1)
    // time travel to a pre-optimize version resolves the original files
    assert(DeltaLogReader.read(spark, base, version = Some(2L))
      .orderBy("k").collect().map(_.toSeq).toSeq === before.toSeq)
    // dataChange:false — the optimize commit contributes NO change rows
    val changes = DeltaLogReader.readChanges(spark, base, fromVersion = 0L)
    assert(changes.filter(col("_commit_version") === 3L).count() === 0)
    assert(changes.filter(col("_change_type") === "insert").count() === 30)
    // second pass is a no-op: one live file left
    assert(DeltaLogWriter.optimize(spark, base,
      smallFileBytes = Long.MaxValue, targetFileBytes = Long.MaxValue)
      === ((3L, 0, 0)))
  }

  test("OPTIMIZE refuses partitioned tables and deletion vectors") {
    import spark.implicits._
    import graft.sources.DeltaLogWriter
    val base = freshDir("optimize_part")
    val df = (1L to 4L).map(i => (i, s"row$i")).toDF("k", "v")
    val sz = DeltaLogReader.writeDataFile(df, base, "a.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      DeltaLogReader.metaDataAction(df.schema, Seq("p")),
      s"""{"add":{"path":"a.parquet","partitionValues":{"p":"x"},"size":$sz,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{"p":"y"},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException](
      DeltaLogWriter.optimize(spark, base))
    assert(e.getMessage.contains("partitioned"))

    // OPTIMIZE over a DV table PURGES the vectors: candidates include
    // DV-bearing files regardless of size, bins hold only visible rows
    val base2 = freshDir("optimize_dv")
    DeltaLogWriter.write(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), base2)
    graft.sources.DeltaDml.deleteDv(spark, base2, col("k") % 5 === 0)
    val (v2, compacted, bins) = DeltaLogWriter.optimize(spark, base2)
    assert(compacted == 1 && bins >= 1)
    val after = DeltaLogReader.snapshot(spark, base2).files
    assert(after.forall(_.dv.isEmpty), "OPTIMIZE must purge DVs")
    assert(DeltaLogReader.read(spark, base2)
      .select("k").collect().map(_.getLong(0)).toSet ==
      (1L to 50L).filterNot(_ % 5 == 0).toSet)
    // time travel to the pre-optimize version still applies the DV
    assert(DeltaLogReader.read(spark, base2, Some(v2 - 1)).count() == 40)
  }
}
