package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter}

/** Delta logs whose JSON commits are vacuumed: the checkpoint is the only
  * record of the protocol, the metaData identity and configuration and
  * the txn versions, so writers must take all of them from it — a classic
  * `checkpoint(vacuumJson = true)` log, a v2 JSON-top checkpoint with a
  * parquet sidecar (the `q_delta_v2_checkpoint` fixture's shape) and a
  * foreign checkpoint whose protocol omits minWriterVersion. */
class DeltaVacuumedLogSpec extends AnyFunSuite {
  import TestSpark._

  private val mapper = new ObjectMapper()
  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshDir(name: String): String = {
    val base = s"/tmp/graft_test/vaclog_$name"
    fs.delete(new Path(base), true)
    base
  }

  private def logFile(base: String, name: String) =
    new Path(new Path(base, "_delta_log"), name)

  private def writeLog(base: String, name: String, lines: Seq[String]): Unit = {
    val os = fs.create(logFile(base, name), true)
    try os.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally os.close()
  }

  /** The protocol action of commit `v`. */
  private def protocolOf(base: String, v: Long): JsonNode = {
    val in = fs.open(logFile(base, f"$v%020d.json"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.map(mapper.readTree).find(_.has("protocol"))
      .getOrElse(fail(s"commit $v of $base carries no protocol action"))
      .get("protocol")
  }

  private def features(p: JsonNode, kind: String): Set[String] =
    p.get(kind).elements.asScala.map(_.asText).toSet

  /** (metaData id, configuration, txn appId -> version) of the classic
    * checkpoint at `cv`. */
  private def checkpointMeta(base: String, cv: Long)
      : (String, Map[String, String], Map[String, Long]) = {
    val cp = spark.read.parquet(logFile(base, f"$cv%020d.checkpoint.parquet").toString)
    val md = cp.filter(col("metaData").isNotNull)
      .select("metaData.id", "metaData.configuration").head()
    val txns = cp.filter(col("txn").isNotNull)
      .select("txn.appId", "txn.version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (md.getString(0), md.getMap[String, String](1).toMap, txns)
  }

  private def keys(base: String): Set[Long] =
    DeltaLogReader.read(spark, base).select("k").collect().map(_.getLong(0)).toSet

  private def add(path: String) =
    s"""{"add":{"path":"$path","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""

  test("classic vacuumed checkpoint: DV DELETE keeps a foreign writer " +
      "feature; re-checkpoint carries metaData id, configuration and txns") {
    import spark.implicits._
    val base = freshDir("classic")
    val df = (1L to 6L).map(i => (i, s"row$i")).toDF("k", "v")
    DeltaLogReader.writeDataFile(df.filter(col("k") <= 4), base, "f0.parquet")
    DeltaLogReader.writeDataFile(df.filter(col("k") > 4), base, "f1.parquet")
    val conf = Map("delta.logRetentionDuration" -> "interval 30 days")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["vacuumProtocolCheck"],""" +
        """"writerFeatures":["vacuumProtocolCheck"]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "tbl-classic", conf),
      """{"txn":{"appId":"app-a","version":7}}""", add("f0.parquet")))
    DeltaLogReader.writeCommit(spark, base, 1, Seq(
      """{"txn":{"appId":"app-a","version":9}}""",
      """{"txn":{"appId":"app-b","version":3}}""", add("f1.parquet")))
    assert(DeltaLogWriter.checkpoint(spark, base, vacuumJson = true) == 1L)
    assert(!fs.exists(logFile(base, f"${0L}%020d.json")))

    val (v, n) = DeltaDml.deleteDv(spark, base, col("k") === 2L)
    assert(v == 2L && n == 1L)
    val p = protocolOf(base, v)
    assert(features(p, "writerFeatures") == Set("vacuumProtocolCheck", "deletionVectors"))
    assert(features(p, "readerFeatures") == Set("vacuumProtocolCheck", "deletionVectors"))
    // commit 2 carries no txn: the checkpoint's versions answer
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app-a").contains(9L))
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app-b").contains(3L))
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app-c").isEmpty)

    assert(DeltaLogWriter.checkpoint(spark, base, vacuumJson = true) == 2L)
    assert(checkpointMeta(base, 2L) ==
      (("tbl-classic", conf, Map("app-a" -> 9L, "app-b" -> 3L))))
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app-a").contains(9L))
    assert(keys(base) == Set(1L, 3L, 4L, 5L, 6L))
  }

  test("v2 JSON-top checkpoint with a parquet sidecar: DV DELETE keeps " +
      "v2Checkpoint; a classic re-checkpoint carries id, configuration, txn") {
    import spark.implicits._
    val base = freshDir("v2json")
    val df = (1L to 6L).map(i => (i, s"row$i")).toDF("k", "v")
    val szA = DeltaLogReader.writeDataFile(df.filter(col("k") <= 2), base, "data-a.parquet")
    val szB = DeltaLogReader.writeDataFile(
      df.filter(col("k") > 2 && col("k") <= 4), base, "data-b.parquet")
    DeltaLogReader.writeDataFile(df.filter(col("k") > 4), base, "data-c.parquet")
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val sidecar = "9e1c0a10-57bd-4e6a-9a2f-0000000000aa.parquet"
    val szSc = DeltaLogReader.writeDataFile(spark.createDataFrame(
        Seq(("data-a.parquet", szA), ("data-b.parquet", szB)).map { case (p, sz) =>
          Row(Row(p, Map.empty[String, String], sz, 1700000000000L, true)) }.asJava,
        StructType(Seq(StructField("add", addType)))),
      s"$base/_delta_log/_sidecars", sidecar)
    val conf = Map("delta.checkpointPolicy" -> "v2")
    // the covered commits 0 and 1 are vacuumed: only the top-level file
    // and its sidecar describe the table at version 1
    writeLog(base, "00000000000000000001.checkpoint.aaaabbbb-cccc-dddd-eeee-0000000000aa.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil, "tbl-v2", conf),
      """{"txn":{"appId":"app-v2","version":4}}""",
      """{"checkpointMetadata":{"version":1}}""",
      s"""{"sidecarFile":{"path":"$sidecar","sizeInBytes":$szSc}}"""))
    writeLog(base, "_last_checkpoint", Seq("""{"version":1,"size":5}"""))
    DeltaLogReader.writeCommit(spark, base, 2, Seq(add("data-c.parquet")))
    assert(keys(base) == (1L to 6L).toSet)
    assert(DeltaLogWriter.lastTxnVersion(spark, base, "app-v2").contains(4L))

    val (v, n) = DeltaDml.deleteDv(spark, base, col("k") === 3L)
    assert(v == 3L && n == 1L)
    val p = protocolOf(base, v)
    assert(features(p, "writerFeatures") == Set("v2Checkpoint", "deletionVectors"))
    assert(features(p, "readerFeatures") == Set("v2Checkpoint", "deletionVectors"))

    assert(DeltaLogWriter.checkpoint(spark, base) == 3L)
    assert(checkpointMeta(base, 3L) == (("tbl-v2", conf, Map("app-v2" -> 4L))))
    assert(keys(base) == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("a protocol without minWriterVersion gates as writer version 2") {
    import spark.implicits._
    val df = (1L to 4L).map(i => (i, s"row$i")).toDF("k", "v")
    // writer version 2 implies appendOnly + invariants, no more: the DV
    // commit's table-features protocol must list exactly those
    def assertV2Upgrade(base: String, v: Long): Unit = {
      val p = protocolOf(base, v)
      assert(p.get("minWriterVersion").asInt == 7)
      assert(features(p, "writerFeatures") ==
        Set("appendOnly", "invariants", "deletionVectors"))
    }

    // a JSON commit without it, checkpointed and vacuumed
    val json = freshDir("nominw_json")
    DeltaLogReader.writeDataFile(df, json, "f0.parquet")
    DeltaLogReader.writeCommit(spark, json, 0, Seq(
      """{"protocol":{"minReaderVersion":1}}""",
      DeltaLogReader.metaDataAction(df.schema, Nil), add("f0.parquet")))
    DeltaLogWriter.checkpoint(spark, json, vacuumJson = true)
    val cpProtocol = spark.read
      .parquet(logFile(json, f"${0L}%020d.checkpoint.parquet").toString)
      .filter(col("protocol").isNotNull).select("protocol.minWriterVersion").head()
    assert(cpProtocol.getInt(0) == 2)
    assertV2Upgrade(json, DeltaDml.deleteDv(spark, json, col("k") === 1L)._1)

    // a foreign checkpoint whose protocol struct has no such field
    val foreign = freshDir("nominw_parquet")
    DeltaLogReader.writeDataFile(df, foreign, "f0.parquet")
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val rows = Seq(
      Row(Row(1), null, null),
      Row(null, Row("tbl-foreign", df.schema.json, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row("f0.parquet", Map.empty[String, String], 1L, 0L, false)))
    DeltaLogReader.writeDataFile(spark.createDataFrame(rows.asJava, schema),
      s"$foreign/_delta_log", "00000000000000000000.checkpoint.parquet")
    writeLog(foreign, "_last_checkpoint", Seq("""{"version":0,"size":3}"""))
    assert(keys(foreign) == (1L to 4L).toSet)
    assertV2Upgrade(foreign, DeltaDml.deleteDv(spark, foreign, col("k") === 1L)._1)
    assert(keys(foreign) == Set(2L, 3L, 4L))
  }
}
