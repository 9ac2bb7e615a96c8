package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import graft.sources.{DeltaLogReader, DeltaLogWriter, DfsSql, IcebergTable, PaimonTable, QueryServer}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One REST client: POSTs a statement to the front door and reads the
  * streamed answer to its end. */
final class RestClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  /** (HTTP status, body, ok): ok when the stream ended COMPLETED. */
  def post(sql: String): (Int, String, Boolean) = {
    val body = mapper.writeValueAsString(java.util.Map.of("query", sql))
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val ok = resp.statusCode == 200 &&
      resp.body.endsWith("\"queryState\":\"COMPLETED\"}")
    (resp.statusCode, resp.body, ok)
  }
}

/** One timed statement, as the checker reads it back. */
final case class Op(client: Int, idx: Int, cls: String, sql: String, ms: Double,
                    status: Int, ok: Boolean, body: String) {
  def json: String = Json.obj("client" -> client, "idx" -> idx, "cls" -> cls,
    "sql" -> sql, "ms" -> ms, "status" -> status, "ok" -> ok, "body" -> body)
}

/** `sql_interactive`: two closed-loop clients send a seeded deck of
  * twelve statements to the REST front door over and over, like a
  * dashboard refreshing, each the next statement only after the previous
  * answer has fully streamed back. Set-up writes one
  * Delta, one Iceberg and one Paimon table through graft's writers and
  * sends one seeded DELETE to each through the front door, so the
  * `lake_mor` statements read a deletion vector, a position-delete file
  * and PK retraction frames; nothing writes while the clients run. */
final class SqlBench(spark: SparkSession, args: Args, trace: Trace,
                     rep: Report, cpu: CpuCounter) extends Workload {
  import SqlBench._

  private val stmts: JsonNode = new ObjectMapper().readTree(
    new java.io.File(s"${args.inputs}/statements.json"))
  private val lakeDir = s"${args.work}/lake"
  private var server: QueryServer.Running = _
  private var port = 0
  private val ops = mutable.ArrayBuffer[Op]()
  /** Files of each table right after the base load. */
  private var baseFiles = Map.empty[String, Set[String]]

  /** `{x.ext}` reads a generated file, `{lake_fmt}` a lakehouse table. */
  private def render(sql: String): String =
    """\{([A-Za-z0-9_.]+)\}""".r.replaceAllIn(sql, m => {
      val n = m.group(1)
      if (n.startsWith("lake_")) s"dfs.lake.`${n.stripPrefix("lake_")}`"
      else s"dfs.bench.`$n`"
    })

  /** Distinct statements in the deck each client repeats. */
  private lazy val deckSize = seq(0).map(_._2).distinct.size

  private def seq(c: Int): IndexedSeq[(String, String)] =
    stmts.get("sql").get(c.toString).elements().asScala
      .map(n => (n.get("cls").asText, n.get("sql").asText)).toIndexedSeq

  private def filesUnder(fmt: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length)
    walk(new java.io.File(s"$lakeDir/$fmt")).toMap
  }

  /** Writes the three tables through graft's writers, two data files
    * each, so reads merge more than one file. */
  def fixtures(): Unit = {
    spark.conf.set("graft.dfs.workspace.bench", args.inputs)
    spark.conf.set("graft.dfs.workspace.lake", lakeDir)
    // Delta DELETE writes a deletion vector (merge-on-read)
    spark.conf.set("graft.delta.dv", "true")
    val base = spark.read.parquet(s"${args.inputs}/lake_base.parquet").repartition(2)
    Formats.foreach { f =>
      val path = s"$lakeDir/$f"
      trace.span(s"sources.writers.$f") {
        f match {
          case "delta" => DeltaLogWriter.write(base, path)
          case "iceberg" => IcebergTable.write(base, path)
          case "paimon" => PaimonTable.writePk(base, path, Seq("k"))
        }
      }
    }
    baseFiles = Formats.map(f => f -> filesUnder(f).keySet).toMap
  }

  def frontDoor(): Unit = {
    server = QueryServer.start(spark)
    port = server.port
  }

  /** The seeded set-up DELETEs, then the whole deck once, each client
    * sending its own half, so every statement has planned and run before
    * timing. */
  def warmup(): Unit = {
    def must(client: RestClient, name: String, sql: String): Unit = {
      val (status, body, ok) = trace.request(name, -1L)(client.post(render(sql)))
      if (!ok) throw new IllegalStateException(s"set-up statement failed ($status): $body")
    }
    val client = new RestClient(port)
    stmts.get("lake_setup").elements().asScala.foreach { n =>
      must(client, s"setup.dml.${n.get("fmt").asText}", n.get("sql").asText)
    }
    val share = (deckSize + Clients - 1) / Clients
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Clients).map { c =>
      val mine = seq(c).take(share)
      val t = new Thread(() =>
        try mine.foreach { case (_, sql) => must(new RestClient(port), "setup.warmup.sql", sql) }
        catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  private def post(client: RestClient, c: Int, idx: Int, cls: String, sql: String): Op = {
    val t = System.nanoTime()
    val (status, body, ok) =
      try trace.request(s"sql.$cls", idx.toLong)(client.post(render(sql)))
      catch { case e: Exception => (-1, e.toString, false) }
    val op = Op(c, idx, cls, sql, (System.nanoTime() - t) / 1e6, status, ok, body)
    if (!ok) rep.fail(s"$cls: status $status: ${body.take(300)}")
    op
  }

  def run(seconds: Int): Unit = {
    if (args.trace) {
      val client = new RestClient(port)
      seq(0).take(deckSize).zipWithIndex.foreach { case ((cls, sql), i) =>
        ops += post(client, 0, i, cls, sql)
      }
      rep.attempted += ops.size
      return
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val cpu0 = cpu.cpuNs.get
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val perClient = (0 until Clients).map(_ => mutable.ArrayBuffer[Op]())
    val doneS = Array.fill(Clients)(0.0)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val client = new RestClient(port)
        val s = seq(c)
        var i = 0
        while (System.nanoTime() < deadline && i < s.size) {
          perClient(c) += post(client, c, i, s(i)._1, s(i)._2)
          i += 1
        }
        doneS(c) = (System.nanoTime() - t0) / 1e9
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val cpuNs = cpu.cpuNs.get - cpu0
    perClient.foreach(ops ++= _)
    rep.attempted += ops.size
    // each client's own rate, summed: a client's last answer lands up to
    // one statement after the deadline, and its rate counts exactly the
    // statements it completed in the time it took
    rep.e2e("items_per_s") = (0 until Clients).map(c => perClient(c).size / doneS(c)).sum
    // each deck statement's median latency, averaged over the deck: the
    // statements differ in cost by class, so a median over all of them
    // would jump between classes as a run ends at a different point of
    // the deck
    val perStmt = ops.groupBy(_.sql).values.toSeq.sortBy(_.head.idx).map { os =>
      val ms = Stats.median(os.map(_.ms).toSeq)
      Log(f"  $ms%7.0f ms x${os.size} ${os.head.cls} ${os.head.sql.take(60)}")
      ms
    }
    rep.e2e("latency_ms") = perStmt.sum / perStmt.size
    rep.e2e("cpu_ms_per_item") = cpuNs / 1e6 / ops.size
    Log(f"sql_interactive: ${ops.size} statements, latency ${rep.e2e("latency_ms")}%.0f ms, " +
      f"${rep.e2e("items_per_s")}%.3f statements/s")
  }

  def finish(): Unit = {
    val out = new java.io.PrintWriter(s"${args.out}/ops.jsonl", "UTF-8")
    try ops.foreach(o => out.println(o.json)) finally out.close()
    if (args.trace) layers()
  }

  private def layers(): Unit = {
    trace.attribute()
    val spans = trace.all.filter(!_.viaProperty)
    Classes.foreach { cls =>
      val ss = spans.filter(_.name == s"sql.$cls")
      val n = math.max(ss.size, 1).toDouble
      val ph = ss.map(phases)
      val w = ss.map(_.work).foldLeft(Work())(_ + _)
      rep.layers(s"sql.$cls.prejob_ms") = ph.map(_._1).sum / n
      rep.layers(s"sql.$cls.exec_ms") = ph.map(_._2).sum / n
      rep.layers(s"sql.$cls.post_ms") = ph.map(_._3).sum / n
      rep.count(s"sql.$cls.jobs", w.jobs / n)
      rep.count(s"sql.$cls.tasks", w.tasks / n)
      rep.layers(s"sql.$cls.input_mb") = w.inputB / 1e6 / n
    }
    val byName = trace.all.groupBy(_.name)
    Formats.foreach { f =>
      rep.layers(s"sources.writers.$f.ms") = byName(s"sources.writers.$f").head.durMs
      rep.layers(s"sources.dml.$f.delete_ms") = byName(s"setup.dml.$f").head.durMs
      val files = filesUnder(f)
      rep.count(s"sources.writers.$f.files", files.size.toDouble)
      // not an exact count: table metadata carries commit times and ids
      rep.layers(s"sources.writers.$f.mb") = files.values.sum / 1e6
      rep.count(s"sources.$f.delete_files_live", deleteFilesLive(f).toDouble)
    }
    rep.layers("sources.writers.space_amp") = spaceAmp()
    resolve()
  }

  /** Per-request phases from the jobs attributed to a request span:
    * request sent -> first job, first job -> last job end, last job end
    * -> answer fully read. */
  private def phases(span: Trace#Span): (Double, Double, Double) =
    trace.jobTimes.get(span.id) match {
      case Some((first, lastEnd)) =>
        (math.max(0L, first - span.startMs).toDouble,
          math.max(0L, lastEnd - first).toDouble,
          math.max(0L, span.endMs - lastEnd).toDouble)
      case None => (span.durMs, 0.0, 0.0)
    }

  /** Files a read must merge besides plain data: Delta data files
    * carrying a deletion vector, Iceberg delete files, and Paimon files
    * written after the base load (LSM frames awaiting compaction). */
  private def deleteFilesLive(fmt: String): Int = {
    val p = s"$lakeDir/$fmt"
    fmt match {
      case "delta" => DeltaLogReader.activeState(spark, p)._3.count(_._3)
      case "iceberg" => IcebergTable.liveEntries(spark, p).count(_.content != 0)
      case "paimon" =>
        val base = baseFiles(fmt).map(s => new java.io.File(s).getName)
        PaimonTable.liveFiles(spark, p).count(f => !base.contains(f.fileName))
    }
  }

  /** Bytes under the three table directories over the bytes of their
    * live rows written fresh as one parquet file each. */
  private def spaceAmp(): Double = {
    val onDisk = Formats.map(f => filesUnder(f).values.sum).sum
    val fresh = Formats.map { f =>
      val dst = s"${args.work}/fresh/$f"
      DfsSql.read(spark, s"$lakeDir/$f").coalesce(1).write.mode("overwrite").parquet(dst)
      new java.io.File(dst).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }.sum
    onDisk.toDouble / fresh
  }

  /** `DfsSql.read` alone for each format: path resolution, format
    * dispatch, schema inference and metadata replay, no execution. */
  private def resolve(): Unit = {
    val paths = Seq("parquet" -> s"${args.inputs}/lineitem.parquet",
      "json" -> s"${args.inputs}/events.json", "csv" -> s"${args.inputs}/events.csv") ++
      Formats.map(f => f -> s"$lakeDir/$f")
    paths.foreach { case (fmt, p) =>
      rep.layers(s"sources.$fmt.resolve_ms") = Stats.median((1 to 3).map { _ =>
        trace.span(s"sources.$fmt.resolve") {
          val t = System.nanoTime()
          DfsSql.read(spark, p)
          (System.nanoTime() - t) / 1e6
        }
      })
    }
  }

  def release(): Unit = {
    ops.clear()
    if (server != null) { server.stop(); server = null }
  }
}

object SqlBench {
  val Classes = Seq("scan_agg", "join", "window", "schema_on_read", "lake_mor")
  val Formats = Seq("delta", "iceberg", "paimon")
  val Clients = 2
}
