package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RestShapefileSpec extends AnyFunSuite {
  import TestSpark._

  test("shapefile: point records + dbf attributes, GeoJSON-shaped") {
    val df = graft.sources.ShapefileReader.read(spark, s"$Fixtures/sample.shp")
    assert(df.schema.fieldNames.toSeq ==
      Seq("feature_idx", "geom_type", "lon", "lat", "properties"))
    val rows = df.orderBy("feature_idx").collect()
    assert(rows.length == 4)
    assert(rows(0).getString(1) == "Point")
    assert(math.abs(rows(0).getDouble(2) - (-122.42)) < 1e-9)
    assert(math.abs(rows(0).getDouble(3) - 37.77) < 1e-9)
    assert(rows(0).getMap[String, String](4)("NAME") == "alpha")
    assert(rows(3).getMap[String, String](4)("KIND") == "city")
    // unions cleanly with the GeoJSON reader (same relational shape)
    val geo = graft.sources.SchemaOnRead.geojson(spark, s"$Fixtures/sample.geojson")
      .select("feature_idx", "geom_type", "lon", "lat", "properties")
    assert(geo.unionByName(df).count() == geo.count() + 4)
  }

  test("shp without a sidecar dbf yields null properties, not a failure") {
    // copy just the .shp to a dir with no .dbf
    val dir = "/tmp/graft_test/shp_nodbf"
    new java.io.File(s"$dir/lone.shp").delete()
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Fixtures/sample.shp"),
      java.nio.file.Paths.get(s"$dir/lone.shp"))
    val rows = graft.sources.ShapefileReader.read(spark, s"$dir/lone.shp").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.isNullAt(4)))
  }

  test("REST query endpoint: POST sql -> columns + rows (Drill /query shape)") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("rest_spec_t")
    val server = graft.sources.QueryServer.start(spark, maxRows = 100)
    try {
      def post(body: String): (Int, String) = {
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.port}/query").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val s = new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, s)
      }
      val (code, body) = post(
        """{"query": "SELECT k, v FROM rest_spec_t WHERE k > 1 ORDER BY k"}""")
      assert(code == 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(node.get("columns").toString == """["k","v"]""")
      assert(node.get("rows").size() == 2)
      assert(node.get("rows").get(0).get("k").asLong == 2L)
      assert(node.get("rows").get(1).get("v").asText == "c")
      // bad SQL -> 400 with errorMessage, server stays up
      val (badCode, badBody) = post("""{"query": "SELECT FROM nope"}""")
      assert(badCode == 400 && badBody.contains("errorMessage"))
      // missing query field -> 400
      assert(post("""{"nope": 1}""")._1 == 400)
      // still serving after errors
      assert(post("""{"query": "SELECT 1 AS one"}""")._1 == 200)

      // Host check is EXACT (minus :port): a DNS-rebinding name that
      // merely STARTS with a loopback literal must be rejected.
      // HttpURLConnection refuses to forge Host, so speak raw HTTP.
      def rawPost(hostHeader: String): Int = {
        val sock = new java.net.Socket("127.0.0.1", server.port)
        try {
          val payload = """{"query": "SELECT 1 AS one"}"""
          val req = s"POST /query HTTP/1.1\r\nHost: $hostHeader\r\n" +
            "Content-Type: application/json\r\n" +
            s"Content-Length: ${payload.length}\r\nConnection: close\r\n\r\n" +
            payload
          sock.getOutputStream.write(req.getBytes("UTF-8"))
          val line = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream)).readLine()
          line.split(" ")(1).toInt
        } finally sock.close()
      }
      assert(rawPost("127.0.0.1.evil.com") == 403)
      assert(rawPost("localhost.evil.com:80") == 403)
      assert(rawPost(s"127.0.0.1:${server.port}") == 200)
      assert(rawPost("localhost") == 200)
      assert(rawPost("") == 403)
    } finally server.stop()
  }

  test("POST /query STREAMS large results: 150k rows arrive complete " +
      "and row-exact over chunked transfer, the serving path never " +
      "materializes the response (bounded peak write), caps are LOUD " +
      "(truncated flag), and the client's maxRows rides the body") {
    val server = graft.sources.QueryServer.start(spark) // no server cap
    try {
      def post(body: String): (java.net.HttpURLConnection, String) = {
        val conn = java.net.URI.create(
          s"http://127.0.0.1:${server.port}/query").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val s = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        (conn, s)
      }
      val (conn, body) = post(
        """{"query": "SELECT id FROM range(150000)"}""")
      // chunked transfer — no Content-Length, the response streamed
      assert(conn.getHeaderField("Transfer-Encoding") == "chunked")
      assert(Option(conn.getHeaderField("Content-Length")).isEmpty)
      conn.disconnect()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(node.get("rows").size() == 150000)
      assert(node.get("rowCount").asLong == 150000L)
      assert(node.get("queryState").asText == "COMPLETED")
      assert(node.get("truncated") == null, "an uncapped result is never truncated")
      // row-exact: sum over the streamed rows matches the closed form
      var sum = 0L
      val it = node.get("rows").elements()
      while (it.hasNext) sum += it.next().get("id").asLong
      assert(sum == 149999L * 150000L / 2)
      // bounded-buffer contract: the response is >1 MB but no single
      // write to the wire exceeded one row/header fragment — a
      // full-result String would show up as one body-sized write
      assert(body.length > 1000000, s"body ${body.length}")
      assert(graft.sources.QueryServer.lastStreamPeakWrite < 65536,
        s"peak write ${graft.sources.QueryServer.lastStreamPeakWrite} — " +
          "serving path materialized the result")
      // client-requested cap in the body: explicit, and LOUD when it
      // actually shortens the result
      val (c2, b2) = post(
        """{"query": "SELECT id FROM range(150000)", "maxRows": 100}""")
      c2.disconnect()
      val n2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(b2)
      assert(n2.get("rows").size() == 100 && n2.get("truncated").asBoolean)
      // a cap the result fits under adds no flag
      val (c3, b3) = post(
        """{"query": "SELECT id FROM range(7)", "maxRows": 100}""")
      c3.disconnect()
      val n3 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(b3)
      assert(n3.get("rows").size() == 7 && n3.get("truncated") == null)
      // an integer past 64 bits must read as "effectively unlimited",
      // not wrap into a tiny cap (Jackson asLong wraps 2^64+1 to 1)
      val (c4, b4) = post(
        """{"query": "SELECT id FROM range(7)",""" +
          """ "maxRows": 18446744073709551617}""")
      c4.disconnect()
      val n4 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(b4)
      assert(n4.get("rows").size() == 7 && n4.get("truncated") == null,
        b4.take(200))
      // analysis errors still answer 400 (planning is forced BEFORE the
      // first chunk freezes the status code)
      val bad = java.net.URI.create(
        s"http://127.0.0.1:${server.port}/query").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      bad.setRequestMethod("POST")
      bad.setRequestProperty("Content-Type", "application/json")
      bad.setDoOutput(true)
      bad.getOutputStream.write(
        """{"query": "SELECT nope FROM range(3)"}""".getBytes("UTF-8"))
      assert(bad.getResponseCode == 400)
      bad.disconnect()
    } finally server.stop()
  }

  test("REST endpoint caps result materialization at maxRows") {
    import spark.implicits._
    (1 to 500).toDF("n").createOrReplaceTempView("rest_spec_big")
    val server = graft.sources.QueryServer.start(spark, maxRows = 10)
    try {
      val url = java.net.URI.create(
        s"http://127.0.0.1:${server.port}/query").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"query": "SELECT n FROM rest_spec_big"}""".getBytes("UTF-8"))
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(conn.getInputStream.readAllBytes(), "UTF-8"))
      conn.disconnect()
      assert(node.get("rows").size() == 10)
    } finally server.stop()
  }

  test("POST /query plans a statement once; a planner failure still answers 400") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Range}
    import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
    // every physical-planner run plans the statement's one Range leaf
    // once, so calls of a strategy that sees it count the runs
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    object CountRanges extends SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
        case r: Range if r.end == 13 => throw new IllegalStateException("no plan for range(13)")
        case _: Range => runs.incrementAndGet(); Nil
        case _ => Nil
      }
    }
    val s = spark.newSession()
    s.experimental.extraStrategies = Seq(CountRanges)
    val server = graft.sources.QueryServer.start(s)
    def post(sql: String): (Int, String) = {
      val conn = java.net.URI.create(s"http://127.0.0.1:${server.port}/query").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.getOutputStream.write(s"""{"query": "$sql"}""".getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try (code, new String(is.readAllBytes(), "UTF-8")) finally conn.disconnect()
    }
    try {
      val (code, body) = post("SELECT id * 2 AS v FROM range(5)")
      assert(code == 200, body)
      assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        .get("rowCount").asLong == 5L)
      assert(runs.get == 1)
      // planning is forced before the status line goes out
      val (bad, err) = post("SELECT id FROM range(13)")
      assert(bad == 400 && err.contains("no plan for range(13)"), err)
    } finally server.stop()
  }

  test("GET /profiles serves the query-profile ring (web UI profiles role)") {
    import graft.sources.QueryProfiles
    val server = graft.sources.QueryServer.start(spark)
    QueryProfiles.enable(spark, capacity = 50)
    try {
      spark.range(10).selectExpr("sum(id)").collect()
      var tries = 0
      while (QueryProfiles.profiles(spark).count() == 0 && tries < 100) {
        Thread.sleep(100); tries += 1
      }
      val url = java.net.URI.create(
        s"http://127.0.0.1:${server.port}/profiles").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(node.isArray && node.size() >= 1)
      assert(body.contains("\"status\""))
      // per-stage depth: /profiles/stages serves the stage-metric ring
      val surl = java.net.URI.create(
        s"http://127.0.0.1:${server.port}/profiles/stages").toURL
      val sconn = surl.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val sbody = new String(sconn.getInputStream.readAllBytes(), "UTF-8")
      sconn.disconnect()
      val snode = new com.fasterxml.jackson.databind.ObjectMapper().readTree(sbody)
      assert(snode.isArray && snode.size() >= 1)
      assert(sbody.contains("\"shuffle_write_records\"")
        && sbody.contains("\"execution_id\""))
    } finally { QueryProfiles.disable(spark); server.stop() }
  }

  test("GET /options.json and /storage.json serve the option and storage registries") {
    val server = graft.sources.QueryServer.start(spark)
    spark.conf.set("graft.dfs.workspace.restws", "/tmp")
    try {
      def fetch(path: String): String = {
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        conn.disconnect(); body
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val opts = mapper.readTree(fetch("/options.json"))
      assert(opts.isArray && opts.size() >= 5)
      assert(fetch("/options.json").contains("spark.sql.shuffle.partitions"))
      val storage = mapper.readTree(fetch("/storage.json"))
      val names = (0 until storage.size())
        .map(i => storage.get(i).get("name").asText).toSet
      assert(names.contains("dfs.root") && names.contains("dfs.tmp"))
      assert(names.contains("dfs.restws"))
      assert(names.contains("default")) // catalog database
      assert((0 until storage.size()).forall(i =>
        storage.get(i).get("enabled").asBoolean))
    } finally {
      spark.conf.unset("graft.dfs.workspace.restws")
      server.stop()
    }
  }

  test("REST basic auth: credentials gate EVERY endpoint with 401 + " +
      "WWW-Authenticate, correct Basic credentials pass, messages " +
      "never enumerate usernames; a credential-less server is open") {
    val server = graft.sources.QueryServer.start(spark,
      credentials = Map("alice" -> "s3cret", "bob" -> "hunter2"))
    try {
      def call(path: String, auth: Option[String],
               post: Option[String] = None): (Int, String, String) = {
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        auth.foreach(a => conn.setRequestProperty("Authorization",
          "Basic " + java.util.Base64.getEncoder
            .encodeToString(a.getBytes("UTF-8"))))
        post.foreach { b =>
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", "application/json")
          conn.setDoOutput(true)
          conn.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(), "UTF-8")
        val www = Option(conn.getHeaderField("WWW-Authenticate")).getOrElse("")
        conn.disconnect()
        (code, body, www)
      }
      val q = Some("""{"query": "SELECT 1 AS one"}""")
      // no credentials / wrong password / unknown user: 401, same body
      val (c1, b1, w1) = call("/query", None, q)
      assert(c1 == 401 && w1.startsWith("Basic") && b1.contains(
        "authentication required"), s"$c1 $b1")
      val (c2, b2, _) = call("/query", Some("alice:wrong"), q)
      val (c3, b3, _) = call("/query", Some("mallory:s3cret"), q)
      assert(c2 == 401 && c3 == 401)
      assert(b2 == b3, "auth failure bodies must not enumerate users")
      // correct credentials pass, both users
      assert(call("/query", Some("alice:s3cret"), q)._1 == 200)
      assert(call("/query", Some("bob:hunter2"), q)._1 == 200)
      // every other endpoint is gated too
      Seq("/profiles", "/options.json", "/storage.json", "/").foreach { p =>
        assert(call(p, None)._1 == 401, p)
        assert(call(p, Some("alice:s3cret"))._1 == 200, p)
      }
      // malformed Authorization values are 401, not 500
      assert(call("/query", Some(""), q)._1 == 401)
    } finally server.stop()
    // credential-less server: unchanged open behavior
    val open = graft.sources.QueryServer.start(spark)
    try {
      val url = java.net.URI.create(
        s"http://127.0.0.1:${open.port}/options.json").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    } finally open.stop()
  }

  test("REST per-user authorization: workspace and view allow-lists " +
      "deny user A what only user B holds (403), X-Run-As honors the " +
      "inbound-impersonation policy, and sys.profiles records the " +
      "principal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_acl").toString
    spark.range(3).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("bobs_view")
    spark.conf.set("graft.dfs.workspace.vault", dir)
    // the policy registry is server-side (JVM-global, owner-set) —
    // session conf would let a client grant itself access
    graft.sources.AccessControl.grantWorkspace("vault", Set("bob"))
    graft.sources.AccessControl.grantView("bobs_view", Set("bob"))
    graft.sources.AccessControl.allowImpersonation("alice", Set("bob"))
    graft.sources.QueryProfiles.enable(spark, capacity = 50)
    val server = graft.sources.QueryServer.start(spark,
      credentials = Map("alice" -> "a-pw", "bob" -> "b-pw"))
    try {
      def post(auth: String, sql: String,
               runAs: Option[String] = None): (Int, String) = {
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.port}/query").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setRequestProperty("Authorization", "Basic " +
          java.util.Base64.getEncoder.encodeToString(auth.getBytes("UTF-8")))
        runAs.foreach(conn.setRequestProperty("X-Run-As", _))
        conn.setDoOutput(true)
        conn.getOutputStream.write(
          s"""{"query": ${new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(sql)}}""".getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, body)
      }
      val wsSql = "SELECT count(*) AS n FROM dfs.vault.`t.parquet`"
      val viewSql = "SELECT k FROM bobs_view"
      // workspace: bob (on the allow-list) reads, alice gets 403
      assert(post("bob:b-pw", wsSql)._1 == 200)
      val (wc, wb) = post("alice:a-pw", wsSql)
      assert(wc == 403 && wb.contains("not authorized"), s"$wc $wb")
      // view: same split
      assert(post("bob:b-pw", viewSql)._1 == 200)
      val (vc, vb) = post("alice:a-pw", viewSql)
      assert(vc == 403 && vb.contains("not authorized"), s"$vc $vb")
      // inbound impersonation: alice may run as bob (policy grants it)
      // and then reads both; bob has no policy, so bob-as-alice is 403
      assert(post("alice:a-pw", wsSql, runAs = Some("bob"))._1 == 200)
      assert(post("alice:a-pw", viewSql, runAs = Some("bob"))._1 == 200)
      val (ic, ib) = post("bob:b-pw", viewSql, runAs = Some("alice"))
      assert(ic == 403 && ib.contains("impersonate"), s"$ic $ib")
      // unprotected resources stay open to every authenticated user
      assert(post("alice:a-pw", "SELECT 1 AS one")._1 == 200)
      // sys.profiles carries the EFFECTIVE principal (bob for the
      // impersonated queries, alice for her own) — listener is async
      def userCount(u: String): Long =
        graft.sources.QueryProfiles.profiles(spark)
          .filter(org.apache.spark.sql.functions.col("user") === u).count()
      var tries = 0
      while ((userCount("bob") == 0 || userCount("alice") == 0) && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      assert(userCount("bob") > 0, "profiles must record principal bob")
      assert(userCount("alice") > 0, "profiles must record principal alice")
    } finally {
      server.stop()
      graft.sources.AccessControl.clearPolicy()
      spark.conf.unset("graft.dfs.workspace.vault")
      spark.catalog.dropTempView("bobs_view")
    }
  }

  test("CONCURRENT authenticated requests never swap principals: " +
      "40 interleaved alice/bob queries against a bob-only view — " +
      "alice is always 403, bob always 200 (regression for the " +
      "HttpExchange context-shared-attribute race)") {
    import spark.implicits._
    Seq((1, "y")).toDF("k", "v").createOrReplaceTempView("race_view")
    graft.sources.AccessControl.grantView("race_view", Set("bob"))
    val server = graft.sources.QueryServer.start(spark,
      credentials = Map("alice" -> "a-pw", "bob" -> "b-pw"))
    try {
      def post(auth: String): Int = {
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.port}/query").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setRequestProperty("Authorization", "Basic " +
          java.util.Base64.getEncoder.encodeToString(auth.getBytes("UTF-8")))
        conn.setDoOutput(true)
        conn.getOutputStream.write(
          """{"query": "SELECT k FROM race_view"}""".getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        is.readAllBytes(); conn.disconnect()
        code
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (0 until 40).map { i =>
          val who = if (i % 2 == 0) "alice:a-pw" else "bob:b-pw"
          (who, pool.submit(new java.util.concurrent.Callable[Int] {
            override def call(): Int = post(who)
          }))
        }
        futures.foreach { case (who, f) =>
          val code = f.get(60, java.util.concurrent.TimeUnit.SECONDS)
          if (who.startsWith("alice"))
            assert(code == 403, s"alice got $code — principal swap!")
          else assert(code == 200, s"bob got $code — principal swap!")
        }
      } finally pool.shutdownNow()
    } finally {
      server.stop()
      graft.sources.AccessControl.clearPolicy()
      spark.catalog.dropTempView("race_view")
    }
  }

  test("CTAS routes to lakehouse formats: delta and iceberg targets") {
    import spark.implicits._
    import graft.sources.{DeltaLogReader, IcebergTable, Writer}
    val base = java.nio.file.Files.createTempDirectory("ctas_lake_").toString
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val d = Writer.ctas(src, s"$base/t_delta", "delta")
    assert(d.count() === 2)
    assert(DeltaLogReader.read(spark, s"$base/t_delta").count() === 2)
    val i = Writer.ctas(src, s"$base/t_iceberg", "iceberg")
    assert(i.count() === 2)
    assert(IcebergTable.read(spark, s"$base/t_iceberg" + "#snapshots").count() === 1)
    // and both read back through the dfs directory detection
    assert(spark.sql(s"SELECT * FROM dfs.`$base/t_delta`").count() === 2)
    assert(spark.sql(s"SELECT * FROM dfs.`$base/t_iceberg`").count() === 2)
  }

  test("HTML console: index + profiles pages 200, JSON contracts unchanged") {
    val server = graft.sources.QueryServer.start(spark)
    try {
      def fetch(path: String): (Int, String, String) = {
        val conn = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(), "UTF-8")
        val ct = conn.getContentType
        conn.disconnect()
        (code, body, ct)
      }
      val (c1, b1, t1) = fetch("/")
      assert(c1 == 200 && t1.startsWith("text/html"))
      assert(b1.contains("graft query console") && b1.contains("/query"))
      // the console's own fetch must send the Content-Type its server
      // REQUIRES — without it every console query 415'd against the
      // very endpoint it ships with
      assert(b1.contains("'Content-Type':'application/json'"),
        "console fetch() must declare application/json")
      val (c2, b2, t2) = fetch("/web/profiles.html")
      assert(c2 == 200 && t2.startsWith("text/html"))
      assert(b2.contains("/profiles/operators"))
      // the JSON surfaces keep their contracts (root context must not
      // shadow the longer /profiles, /options.json contexts)
      val (c3, b3, t3) = fetch("/profiles")
      assert(c3 == 200 && t3.startsWith("application/json") && b3.startsWith("["))
      val (c4, _, _) = fetch("/options.json")
      assert(c4 == 200)
      val (c5, b5, _) = fetch("/no/such/page")
      assert(c5 == 404 && b5.contains("no such path"))
    } finally server.stop()
  }

  test("storage mutation over REST (Drill StorageResources): POST " +
      "/storage/<name> registers a dfs workspace live, queries resolve " +
      "it, DELETE drops it, and ACL-protected names fail closed") {
    import spark.implicits._
    val server = graft.sources.QueryServer.start(spark)
    try {
      def http(method: String, path: String, body: Option[String])
          : (Int, String) = {
        val conn = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        body.foreach { b =>
          conn.setRequestProperty("Content-Type", "application/json")
          conn.setDoOutput(true)
          conn.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val s = new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, s)
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_rest_ws")
      Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
        .write.parquet(s"$dir/t.parquet")
      // register
      val (rc, rb) = http("POST", "/storage/wsrest",
        Some(s"""{"location": "$dir"}"""))
      assert(rc == 200 && rb.contains("dfs.wsrest"), rb)
      // listed in the registry endpoint
      assert(http("GET", "/storage.json", None)._2.contains("dfs.wsrest"))
      // and QUERIES resolve it immediately (same live registry)
      val (qc, qb) = http("POST", "/query", Some(
        """{"query": "SELECT count(*) AS n FROM dfs.wsrest.`t.parquet`"}"""))
      assert(qc == 200 && qb.contains("\"n\":3"), qb)
      // bad input shapes (the bad name URL-encoded — java.net.URI
      // refuses raw spaces client-side before the server ever sees it)
      assert(http("POST", "/storage/bad%20name%21", Some("{}"))._1 == 400)
      assert(http("POST", "/storage/wsrest2", Some("{}"))._1 == 400)
      // drop; idempotence is a 404, and the name stops resolving
      assert(http("DELETE", "/storage/wsrest", None)._1 == 200)
      assert(http("DELETE", "/storage/wsrest", None)._1 == 404)
      assert(http("POST", "/query", Some(
        """{"query": "SELECT count(*) AS n FROM dfs.wsrest.`t.parquet`"}"""
      ))._1 == 400)
      // an ACL-protected name refuses mutation on the principal-less
      // open endpoint (fail closed — re-pointing a protected name would
      // leak other data under the grant)
      try {
        graft.sources.AccessControl.grantWorkspace("locked", Set("bob"))
        val (ac, ab) = http("POST", "/storage/locked",
          Some(s"""{"location": "$dir"}"""))
        assert(ac == 403 && ab.contains("ACL-protected"), s"$ac $ab")
      } finally graft.sources.AccessControl.clearPolicy()
      // GET /metrics.json — flat operator gauges (Drill MetricsResources)
      val (mc, mb) = http("GET", "/metrics.json", None)
      assert(mc == 200, mb)
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mb)
      assert(m.get("gauges").get("heap.used").asLong > 0)
      assert(m.get("gauges").get("threads.live").asInt > 0)
      assert(m.get("gauges").get("queries.running").asInt == 0)
      assert(m.get("gc").size() > 0)
      // per-user credentials on the OPEN door: identity-less, so the
      // whole surface fails closed
      assert(http("GET", "/credentials", None)._1 == 403)
      assert(http("POST", "/credentials/api",
        Some("""{"username":"u"}"""))._1 == 403)
      // GET /status (+ /status/threads) — liveness/version + thread
      // dump (Drill StatusResources / ThreadsResources)
      val (stc, stb) = http("GET", "/status", None)
      assert(stc == 200 && stb.contains("\"status\":\"Running!\""), stb)
      val st = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stb)
      assert(st.get("uptime_ms").asLong > 0 &&
        st.get("engine_version").asText.nonEmpty)
      val (tdc, tdb) = http("GET", "/status/threads", None)
      assert(tdc == 200 && tdb.contains("RUNNABLE") &&
        tdb.contains("    at "), tdb.take(200))
      assert(http("GET", "/status/nope", None)._1 == 404)
      // raw-prefix context matching must not widen the route
      assert(http("GET", "/status/threadsEVIL", None)._1 == 404)
      assert(http("GET", "/status/threads.json", None)._1 == 404)
      // GET /logs.json + /logs/<name> — the log browser (Drill
      // LogsResources): list + byte-bounded tail under graft.log.dir
      val logDir = java.nio.file.Files.createTempDirectory("graft_logs")
      java.nio.file.Files.write(logDir.resolve("engine.log"),
        ("x" * 100 + "\nTHE-TAIL-MARKER\n").getBytes("UTF-8"))
      java.nio.file.Files.write(logDir.resolve("notes.txt"),
        "not a log".getBytes("UTF-8"))
      try {
        // unconfigured: empty listing, 404 tail — never an error shape
        assert(http("GET", "/logs.json", None)._2 == "[]")
        assert(http("GET", "/logs/engine.log", None)._1 == 404)
        spark.conf.set("graft.log.dir", logDir.toString)
        val (lc, lb) = http("GET", "/logs.json", None)
        assert(lc == 200 && lb.contains("engine.log") &&
          !lb.contains("notes.txt"), lb)
        val (tc, tb) = http("GET", "/logs/engine.log?tail=20", None)
        assert(tc == 200 && tb.contains("THE-TAIL-MARKER") &&
          tb.length <= 20, s"$tc ${tb.length}")
        // unlisted names (incl. traversal) never touch the filesystem
        assert(http("GET", "/logs/notes.txt", None)._1 == 404)
        assert(http("GET", "/logs/..%2Fsecret", None)._1 == 400)
        assert(http("GET", "/logs/nope.log", None)._1 == 404)
      } finally spark.conf.unset("graft.log.dir")
    } finally server.stop()
  }

  test("web-console session login + CSRF (Drill LogInLogOutResources " +
      "+ CsrfTokenInjectFilter): login->cookie->query->logout round " +
      "trip works, a cookie-authenticated POST without the token is " +
      "403, the basic-auth API path needs no token, and logout " +
      "invalidates server-side") {
    val server = graft.sources.QueryServer.start(spark,
      credentials = Map("webby" -> "w-pw"))
    try {
      def call(method: String, path: String, body: Option[String],
               headers: Map[String, String],
               ct: String = "application/json")
          : (Int, String, Option[String]) = {
        val conn = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        conn.setInstanceFollowRedirects(false)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        body.foreach { b =>
          conn.setRequestProperty("Content-Type", ct)
          conn.setDoOutput(true)
          conn.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val s = Option(is).map(i => new String(i.readAllBytes(), "UTF-8"))
          .getOrElse("")
        val cookie = Option(conn.getHeaderField("Set-Cookie"))
        conn.disconnect()
        (code, s, cookie)
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // the form is reachable BEFORE authentication
      val (fc, fb, _) = call("GET", "/login", None, Map.empty)
      assert(fc == 200 && fb.contains("<form"), s"$fc")
      // a urlencoded login POST is refused: that shape is a
      // no-preflight "simple request", i.e. the login-CSRF vector (a
      // cross-site page silently logging the victim into an
      // attacker-credentialed session)
      assert(call("POST", "/login", Some("username=webby&password=w-pw"),
        Map.empty, ct = "application/x-www-form-urlencoded")._1 == 415)
      // wrong password: 401, generic body, NO cookie minted
      val (wc, wb, wck) = call("POST", "/login",
        Some("""{"username":"webby","password":"nope"}"""), Map.empty)
      assert(wc == 401 && wck.isEmpty && !wb.contains("webby"), s"$wc $wb")
      // correct login: HttpOnly+SameSite session cookie + csrf token
      val (lc, lb, lck) = call("POST", "/login",
        Some("""{"username":"webby","password":"w-pw"}"""), Map.empty)
      assert(lc == 200, s"$lc $lb")
      val setCookie = lck.getOrElse(fail("no Set-Cookie on login"))
      assert(setCookie.contains("HttpOnly") &&
        setCookie.contains("SameSite=Strict"), setCookie)
      val cookie = setCookie.split(';')(0) // graft_session=<id>
      val csrf = mapper.readTree(lb).get("csrf").asText
      assert(csrf.length == 32)
      // the console page injects THIS session's token
      val (pc, pb, _) = call("GET", "/", None, Map("Cookie" -> cookie))
      assert(pc == 200 && pb.contains(csrf), "page must embed the token")
      // cookie + token: query runs
      val q = Some("""{"query": "SELECT 1 AS one"}""")
      assert(call("POST", "/query", q, Map("Cookie" -> cookie,
        "X-Graft-Csrf" -> csrf))._1 == 200)
      // cookie WITHOUT token (the cross-site shape): 403
      val (nc, nb, _) = call("POST", "/query", q, Map("Cookie" -> cookie))
      assert(nc == 403 && nb.contains("X-Graft-Csrf"), s"$nc $nb")
      // wrong token: 403; and the cancel verb is gated the same way
      assert(call("POST", "/query", q, Map("Cookie" -> cookie,
        "X-Graft-Csrf" -> "beef")) ._1 == 403)
      assert(call("DELETE", "/query/some-id", None,
        Map("Cookie" -> cookie))._1 == 403)
      // ...and so is dropping a stored credential (every mutation runs
      // the same token gate — DELETE included)
      assert(call("DELETE", "/credentials/api", None,
        Map("Cookie" -> cookie))._1 == 403)
      // an effectively-unlimited client cap must not overflow the
      // cap+1 truncation probe
      assert(call("POST", "/query", Some(
        """{"query": "SELECT 1 AS one", "maxRows": 2147483647}"""),
        Map("Cookie" -> cookie, "X-Graft-Csrf" -> csrf))._1 == 200)
      // the basic-auth API path needs NO token (not browser-ambient)
      val basic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("webby:w-pw".getBytes("UTF-8"))
      assert(call("POST", "/query", q,
        Map("Authorization" -> basic))._1 == 200)
      // logout is POST-only (a GET nav link is prefetch/prerender
      // bait — a browser would log the user out spontaneously) and
      // invalidates SERVER-side: the old cookie (even with the right
      // token) is 401 afterwards, and the cookie is expired
      assert(call("GET", "/logout", None, Map("Cookie" -> cookie))._1 == 405)
      val (oc, _, ock) = call("POST", "/logout", None,
        Map("Cookie" -> cookie))
      assert(oc == 200 && ock.exists(_.contains("Max-Age=0")))
      assert(call("POST", "/query", q, Map("Cookie" -> cookie,
        "X-Graft-Csrf" -> csrf))._1 == 401)
    } finally server.stop()
    // an OPEN door has no credential store to log into
    val open = graft.sources.QueryServer.start(spark)
    try {
      val conn = java.net.URI.create(
        s"http://127.0.0.1:${open.port}/login").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 404)
      conn.disconnect()
    } finally open.stop()
  }

  test("credentialed door: /storage/ mutation is ADMIN-gated (Drill " +
      "StorageResources @RolesAllowed(ADMIN_ROLE)) with a per-grant " +
      "carve-out, refuses no-preflight Content-Types (415 — the " +
      "drive-by simple-POST guard), and /logs is admin-only") {
    import graft.sources.AccessControl
    AccessControl.grantAdmins(Set("root"))
    AccessControl.grantWorkspace("mine", Set("carol"))
    AccessControl.grantWorkspace("locked", Set("bob"))
    val server = graft.sources.QueryServer.start(spark,
      credentials = Map("root" -> "r-pw", "carol" -> "c-pw"))
    val dir = java.nio.file.Files.createTempDirectory("graft_admws").toString
    try {
      def http(method: String, path: String, auth: String,
               body: Option[String], ct: String = "application/json")
          : (Int, String) = {
        val conn = java.net.URI.create(
          s"http://127.0.0.1:${server.port}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        conn.setRequestProperty("Authorization", "Basic " +
          java.util.Base64.getEncoder.encodeToString(auth.getBytes("UTF-8")))
        body.foreach { b =>
          conn.setRequestProperty("Content-Type", ct)
          conn.setDoOutput(true)
          conn.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val s = new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, s)
      }
      val loc = Some(s"""{"location": "$dir"}""")
      // a non-admin may NOT create/re-point an unprotected workspace
      val (nc, nb) = http("POST", "/storage/anyws", "carol:c-pw", loc)
      assert(nc == 403 && nb.contains("admin"), s"$nc $nb")
      // an admin may (and may drop it again)
      assert(http("POST", "/storage/anyws", "root:r-pw", loc)._1 == 200)
      assert(http("DELETE", "/storage/anyws", "root:r-pw", None)._1 == 200)
      // a non-admin ON a protected workspace's allow-list mutates THAT
      // name (their own grant) — but not someone else's protected name
      assert(http("POST", "/storage/mine", "carol:c-pw", loc)._1 == 200)
      assert(http("DELETE", "/storage/mine", "carol:c-pw", None)._1 == 200)
      assert(http("POST", "/storage/locked", "carol:c-pw", loc)._1 == 403)
      // the CSRF simple-request guard: a text/plain POST (what a cross-
      // site form can send without preflight) is 415 even for an admin
      assert(http("POST", "/storage/anyws", "root:r-pw", loc,
        ct = "text/plain")._1 == 415)
      // /logs endpoints are admin-reserved on a credentialed door
      // (Drill LogsResources) — logs carry other users' SQL
      val (lc, lb) = http("GET", "/logs.json", "carol:c-pw", None)
      assert(lc == 403 && lb.contains("admin"), s"$lc $lb")
      assert(http("GET", "/logs/engine.log", "carol:c-pw", None)._1 == 403)
      assert(http("GET", "/logs.json", "root:r-pw", None)._1 == 200)
      // /status is open to every authenticated user, the THREAD DUMP
      // is admin-only (Drill ThreadsResources @RolesAllowed)
      assert(http("GET", "/status", "carol:c-pw", None)._1 == 200)
      assert(http("GET", "/status/threads", "carol:c-pw", None)._1 == 403)
      assert(http("GET", "/status/threads", "root:r-pw", None)._1 == 200)
      // per-user credential REST surface (Drill CredentialResources):
      // each principal manages its OWN downstream credentials; GET
      // answers MASKED — secrets never travel back out
      assert(http("POST", "/credentials/api", "carol:c-pw",
        Some("""{"username":"carol-dw","password":"s3cret-dw"}"""))._1 == 200)
      val (gc2, gb2) = http("GET", "/credentials/api", "carol:c-pw", None)
      assert(gc2 == 200 && gb2.contains("*****") &&
        !gb2.contains("s3cret-dw"), gb2)
      assert(http("GET", "/credentials", "carol:c-pw", None)
        ._2.contains("api"))
      // another principal sees NOTHING of carol's — per-user isolation
      assert(http("GET", "/credentials/api", "root:r-pw", None)._1 == 404)
      assert(http("DELETE", "/credentials/api", "carol:c-pw", None)._1 == 200)
      assert(http("GET", "/credentials/api", "carol:c-pw", None)._1 == 404)
    } finally {
      server.stop()
      AccessControl.clearPolicy()
      graft.sources.UserCredentials.clear()
      spark.conf.unset("graft.dfs.workspace.anyws")
      spark.conf.unset("graft.dfs.workspace.mine")
    }
  }
}
