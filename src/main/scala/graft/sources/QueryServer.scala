package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import org.apache.spark.sql.SparkSession

/** In-process REST query endpoint — the "point curl at it" half of
  * Drill's identity (reference exec/.../server/rest/DrillRestServer.java,
  * BaseQueryRunner.java, QueryWrapper). `POST /query` with
  * `{"query": "SELECT ..."}` returns Drill's REST response shape:
  * `{"columns": [...], "rows": [ {col: value, ...}, ... ]}`.
  *
  * The server is a thin shell: the SQL plans and executes on the session
  * exactly as a programmatic `spark.sql` call would (same catalog, same
  * registered views/extensions) and rows serialize through the engine's
  * own JSON writer.
  *
  * RESULTS STREAM (Drill's streamed REST results, reference
  * exec/.../server/rest/stream/StreamingHttpConnection.java +
  * QueryRunner.java): the response is CHUNKED transfer encoding —
  * columns and result-schema DDL first, then rows one at a time off
  * `df.toJSON.toLocalIterator()` (Spark fetches ONE PARTITION of the
  * result at a time to the driver), then a `queryState` trailer. The
  * serving path never materializes the result set — driver memory is
  * bounded by one result partition plus a fixed 32 KiB write buffer
  * regardless of result size, so a 100M-row SELECT streams complete.
  * Caps are EXPLICIT, never silent: the client may send `maxRows` in
  * the request body, the operator may set a server-side ceiling at
  * [[start]]; when a cap actually drops rows the response says
  * `"truncated":true`, and with no cap configured nothing is dropped.
  * An error AFTER the 200 header is already on the wire (a task
  * failure mid-stream) closes the rows array and reports
  * `"queryState":"FAILED"` + `errorMessage` in the trailer — exactly
  * the reference's streamed-error contract.
  */
object QueryServer {

  private val mapper = new ObjectMapper()

  /** Test seam for the bounded-buffer contract: the largest single
    * byte-array handed to the response stream while serving the most
    * recent POST /query (header fragment or one row). A full-result
    * String materialization would show up here as one response-sized
    * write; the streaming path keeps it at max(row, header) bytes. */
  @volatile private[graft] var lastStreamPeakWrite: Int = 0

  /** An AccessControl denial anywhere in the cause chain (Spark wraps
    * analysis-time failures) is a 403, not a generic 400. */
  private def isDenied(e: Throwable): Boolean = {
    var c: Throwable = e
    var guard = 0
    while (c != null && guard < 20) {
      if (c.isInstanceOf[AccessControl.DeniedException]) return true
      c = c.getCause; guard += 1
    }
    false
  }

  final class Running(server: HttpServer,
                      pool: java.util.concurrent.ExecutorService) {
    val port: Int = server.getAddress.getPort
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** A web-console login session: principal + per-session CSRF token +
    * last-touch for idle expiry (reference LogInLogOutResources.java's
    * servlet session, CsrfTokenInjectFilter's token). */
  private final class Session(val user: String, val csrf: String) {
    @volatile var touchedMs: Long = System.currentTimeMillis()
  }
  private val SessionIdleMs = 8L * 3600 * 1000
  // bounded session store: past this, login sweeps idle-expired entries
  // and then evicts oldest — the map can never grow without bound
  private val MaxSessions = 1000

  /** `tls` = Some((keystorePath, password)) serves EVERY endpoint over
    * HTTPS (an `HttpsServer` with the keystore's key — Drill's web
    * server does exactly this, self-generating a cert when none is
    * configured; reference exec/.../server/rest/ssl/
    * SslContextFactoryConfigurator.java, ssl/SSLConfigServer.java).
    * Generate the PKCS12 pair with [[TlsSupport.generateKeyStore]]; a
    * client trusts the matching truststore and verifies the HOSTNAME
    * against the cert's SubjectAlternativeName (the generator writes
    * DNS/IP SANs, so stock verification works — no trust-all clients).
    * Plaintext HTTP against a TLS port dies in the handshake, so
    * enabling TLS IS the plaintext refusal. With TLS on, basic-auth
    * credentials ride the encrypted channel — the posture that makes
    * `credentials` safe past loopback.
    *
    * `credentials` non-empty enables HTTP BASIC auth on EVERY endpoint
    * (Drill's REST surface under security: rest API auth, reference
    * exec/.../server/rest with security.auth enabled) — the password
    * check is constant-time (MessageDigest.isEqual, the JdbcEndpoint
    * CUSTOM-provider rule: short-circuiting compares leak prefix length
    * to a timing probe) and failures answer 401 + WWW-Authenticate with
    * a GENERIC message (never "unknown user" — username enumeration).
    * Empty credentials = open loopback endpoint, unchanged.
    *
    * `maxRows` is the OPERATOR ceiling on rows per response (0, the
    * default, streams every row — memory stays bounded either way);
    * a response a cap actually shortened carries `"truncated":true`,
    * and clients request their own cap per query via `maxRows` in the
    * request body — there is no silent default truncation.
    *
    * Known, accepted bounds on a LOOPBACK-BOUND endpoint (r13 verdict
    * note): the credentials map holds plaintext passwords in process
    * memory (no hashing — the map is operator-supplied at start and
    * never persisted), and MessageDigest.isEqual returns early on a
    * LENGTH mismatch, so password length is in principle observable to
    * a local timing probe. A deployment past loopback must terminate
    * TLS+auth in front (the JdbcEndpoint posture) rather than harden
    * this shell. */
  def start(spark: SparkSession, port: Int = 0, maxRows: Int = 0,
            credentials: Map[String, String] = Map.empty,
            tls: Option[(String, String)] = None): Running = {
    val server = tls match {
      case None =>
        HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
      case Some((ksPath, ksPass)) =>
        val s = com.sun.net.httpserver.HttpsServer
          .create(new InetSocketAddress("127.0.0.1", port), 0)
        s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(
          TlsSupport.serverContext(ksPath, ksPass)))
        s
    }
    // unknown users still run the constant-time compare against a
    // dummy — skipping it returns measurably faster and re-opens the
    // username-enumeration timing channel the generic 401 body closes
    def checkPassword(u: String, pw: String): Boolean = {
      val expected = credentials.getOrElse(u, "\u0000graft-no-such-user")
      java.security.MessageDigest.isEqual(
        expected.getBytes("UTF-8"), pw.getBytes("UTF-8")) &&
        credentials.contains(u)
    }
    // ---- web-console SESSION store (reference server/rest/
    // LogInLogOutResources.java): POST /login trades a JSON credential
    // for an HttpOnly cookie + a per-session CSRF token; cookie-bearing
    // state-changing requests must echo the token (CsrfTokenInjectFilter
    // role). Sessions are per-server-instance and idle-expired.
    val sessions =
      new java.util.concurrent.ConcurrentHashMap[String, Session]()
    val rng = new java.security.SecureRandom()
    def newToken(): String = {
      val b = new Array[Byte](16); rng.nextBytes(b)
      b.map("%02x".format(_)).mkString
    }
    def cookieSession(x: HttpExchange): Option[(String, Session)] =
      Option(x.getRequestHeaders.getFirst("Cookie")).flatMap { c =>
        c.split(';').map(_.trim).collectFirst {
          case kv if kv.startsWith("graft_session=") =>
            kv.stripPrefix("graft_session=")
        }
      }.flatMap(id => Option(sessions.get(id)).map(id -> _)).filter {
        case (id, s) =>
          val live = System.currentTimeMillis() - s.touchedMs < SessionIdleMs
          if (live) s.touchedMs = System.currentTimeMillis()
          else sessions.remove(id)
          live
      }
    def basicUser(x: HttpExchange): Option[String] = {
      val hdr = Option(x.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      if (!hdr.startsWith("Basic ")) None
      else {
        val dec =
          try new String(java.util.Base64.getDecoder
            .decode(hdr.drop(6).trim), "UTF-8")
          catch { case _: IllegalArgumentException => "" }
        val i = dec.indexOf(':')
        if (i <= 0) None
        else if (checkPassword(dec.take(i), dec.drop(i + 1)))
          Some(dec.take(i))
        else None
      }
    }
    // the AUTHENTICATED principal of this exchange: the Basic header or
    // a live login-session cookie. Handlers re-derive it from the SAME
    // request material — NEVER through HttpExchange.setAttribute, whose
    // store is the HttpContext-wide SHARED map, so concurrent requests
    // would read each other's principals (a confirmed principal-swap
    // race).
    def authUser(x: HttpExchange): Option[String] =
      basicUser(x).orElse(cookieSession(x).map(_._2.user))
    // CSRF gate for state-changing verbs: ONLY cookie-authenticated
    // requests need the token — a cookie rides AMBIENTLY on whatever
    // cross-site request a browser is tricked into, a Basic header
    // (API clients) does not. The token must echo in the X-Graft-Csrf
    // header, which a cross-site page cannot set without the CORS
    // preflight this server never approves.
    def csrfFailed(x: HttpExchange): Boolean =
      credentials.nonEmpty && basicUser(x).isEmpty &&
        cookieSession(x).exists { case (_, s) =>
          Option(x.getRequestHeaders.getFirst("X-Graft-Csrf"))
            .getOrElse("") != s.csrf
        }
    def guarded(h: HttpHandler): HttpHandler =
      if (credentials.isEmpty) h
      else new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          if (authUser(x).isEmpty) {
            x.getResponseHeaders.add("WWW-Authenticate",
              "Basic realm=\"graft\"")
            respond(x, 401, error("authentication required"))
          } else h.handle(x)
        }
      }
    // ADMIN-reserved endpoints (Drill's @RolesAllowed(ADMIN_ROLE) on
    // LogsResources): on a credentialed door only AccessControl.grantAdmins
    // principals pass; the open loopback door keeps its session-owner
    // posture (no principal channel = the caller already owns the JVM).
    def adminOnly(h: HttpHandler): HttpHandler =
      if (credentials.isEmpty) h
      else new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          val u = authUser(x).getOrElse("")
          if (!AccessControl.isAdmin(u))
            respond(x, 403, error(
              s"user '$u' is not an admin (AccessControl.grantAdmins) — " +
                "this endpoint is admin-only on a credentialed door"))
          else h.handle(x)
        }
      }
    // shared browser-hardening checks (rationale documented at the POST
    // /query call site): application/json forces a CORS preflight that
    // simple cross-site requests can never pass, and the EXACT Host
    // match blocks DNS rebinding (where the page's origin IS the
    // rebound name, so the preflight alone doesn't help). Every
    // body-reading mutation endpoint must run BOTH before reading.
    def jsonContentType(x: HttpExchange): Boolean =
      Option(x.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("").toLowerCase.startsWith("application/json")
    def hostOk(x: HttpExchange): Boolean = {
      // Strip the :port suffix (bracketed IPv6 keeps its brackets)
      // and require EXACT equality: prefix matching would pass
      // attacker DNS names like 127.0.0.1.evil.com pointed at
      // loopback, defeating the rebinding check.
      val host = Option(x.getRequestHeaders.getFirst("Host"))
        .getOrElse("").toLowerCase
      val hostName =
        if (host.startsWith("[")) host.take(host.indexOf(']') + 1)
        else host.takeWhile(_ != ':')
      hostName == "127.0.0.1" || hostName == "localhost" ||
        hostName == "[::1]"
    }
    server.createContext("/query", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        try {
          // DELETE /query/<queryId> — cancel a RUNNING query (Drill's
          // /profiles/cancel/{queryid}, reference server/rest/
          // QueryResources.java): running and future jobs of the query's
          // job group die, the submitter sees a failed action, the
          // session survives. Ids come from sys.running_queries /
          // GET /queries.json.
          if (x.getRequestMethod == "DELETE") {
            val path = x.getRequestURI.getPath
            val id = path.stripPrefix("/query").stripPrefix("/")
            if (id.isEmpty) { respond(x, 400, error(
              "DELETE /query/<queryId> — id required")); return }
            if (csrfFailed(x)) {
              respond(x, 403, error("missing or wrong X-Graft-Csrf " +
                "token (cookie-authenticated mutation)")); return
            }
            // on an AUTHENTICATED door, cancellation is scoped like
            // Drill's (QueryResources checks owner-or-admin): a
            // principal may cancel its OWN queries, admins
            // (AccessControl.grantAdmins) may cancel anyone's. The
            // open loopback endpoint keeps the session-owner posture.
            if (credentials.nonEmpty) {
              val principal = authUser(x).getOrElse("")
              val owner = RunningQueries.ownerOf(id)
              if (owner.isDefined && owner.get != principal &&
                  !AccessControl.isAdmin(principal)) {
                respond(x, 403, error(s"user '$principal' may not " +
                  s"cancel a query owned by '${owner.get}' (not an admin)"))
                return
              }
            }
            if (RunningQueries.cancel(spark, id))
              respond(x, 200, s"""{"cancelled":"$id"}""")
            else respond(x, 404, error(
              s"no running query '$id' (already finished?)"))
            return
          }
          if (x.getRequestMethod != "POST") { respond(x, 405, error("POST only")); return }
          // CSRF hardening: loopback binding does not stop a BROWSER on
          // this machine from firing cross-site POSTs at localhost.
          // Requiring application/json forces a CORS preflight (simple
          // no-preflight requests can only carry form/text types) which
          // this server never approves, and the Host check blocks DNS
          // rebinding. Non-browser clients (curl/Federation) just set
          // the header.
          if (!jsonContentType(x)) {
            respond(x, 415, error(
              "Content-Type must be application/json")); return
          }
          if (!hostOk(x)) {
            respond(x, 403, error("unrecognized Host")); return
          }
          // cookie-authenticated queries must echo the session's CSRF
          // token (the reference's CsrfTokenInjectFilter contract);
          // Basic-auth API clients are exempt — their header is not
          // browser-ambient
          if (csrfFailed(x)) {
            respond(x, 403, error("missing or wrong X-Graft-Csrf " +
              "token (cookie-authenticated mutation)")); return
          }
          val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          val req = Option(mapper.readTree(body))
          val sql = req.flatMap(n => Option(n.get("query")))
            .map(_.asText).getOrElse("")
          if (sql.trim.isEmpty) { respond(x, 400, error("missing \"query\"")); return }
          // row caps are EXPLICIT, never silent: the client's requested
          // maxRows (request body — Drill QueryWrapper's autoLimit role)
          // and the operator ceiling from start(); the tighter one wins,
          // absent both nothing is dropped, and a cap that actually
          // drops rows says so in the trailer ("truncated":true)
          // canConvertToLong guard + clamp: Jackson's asInt/asLong
          // silently WRAP out-of-range JSON integers (4294967297 via
          // asInt — or 2^64+1 via asLong — would become a 1-row cap),
          // and Int.MaxValue itself must survive the limit(cap+1)
          // probe below without overflowing. A positive integer past
          // 64 bits means "effectively unlimited" and clamps; negative
          // or non-numeric values mean no client cap.
          val clientCap = req.flatMap(n => Option(n.get("maxRows")))
            .flatMap { v =>
              if (v.canConvertToLong)
                Some(v.asLong).filter(_ > 0L)
                  .map(x => math.min(x, (Int.MaxValue - 1).toLong).toInt)
              else if (v.isIntegralNumber && v.bigIntegerValue.signum > 0)
                Some(Int.MaxValue - 1)
              else None
            }
          val serverCap = Some(math.min(maxRows, Int.MaxValue - 1)).filter(_ > 0)
          val cap = (clientCap, serverCap) match {
            case (Some(c), Some(s)) => Some(math.min(c, s))
            case (c, s)             => c.orElse(s)
          }
          // trackSql: ONE parse+analysis serves admission sizing AND
          // execution (spark.sql here would analyze the text a second
          // time per admitted query)
          def run(asUser: String): Unit =
              RunningQueries.trackSql(spark, sql, asUser, "rest") { df0 =>
            // limit(cap+1): the one extra row PROVES truncation without
            // pulling anything past it
            val df = cap.map(c => df0.limit(c + 1)).getOrElse(df0)
            // force planning before the first byte: analysis/optimizer/
            // planner failures must still answer 400/403 — once a chunk
            // is on the wire the status code is frozen. `toJSON` has its
            // own QueryExecution, so forcing `df`'s plan instead would
            // plan the statement twice.
            val json = df.toJSON
            json.queryExecution.executedPlan
            val cols = mapper.createArrayNode()
            df.columns.foreach(cols.add)
            // ONE result partition at a time reaches the driver — the
            // serving path never holds the full result. The FIRST
            // hasNext runs before the headers go out, so runtime
            // failures (and cancellations) in the first result
            // partition — where most single-row/aggregate queries do
            // ALL their work — still answer a clean 400/403/cancel
            // status; only failures past the first partition ride the
            // streamed trailer.
            val it = json.toLocalIterator()
            val hasFirst = it.hasNext
            var peak = 0
            val out = new java.io.BufferedOutputStream(x.getResponseBody, 32768)
            def w(s: String): Unit = {
              val b = s.getBytes("UTF-8")
              peak = math.max(peak, b.length)
              out.write(b)
            }
            x.getResponseHeaders.set("Content-Type", "application/json")
            x.sendResponseHeaders(200, 0) // length 0 = chunked transfer
            try {
              try {
                w("{\"columns\":" + mapper.writeValueAsString(cols))
                // result schema as DDL: peers re-type zero-row results
                // instead of failing JSON inference (Federation.graftPeer)
                w(",\"schema\":" + mapper.writeValueAsString(df.schema.toDDL))
                w(",\"rows\":[")
                var n = 0L
                var truncated = false
                var more = hasFirst
                while (more && !truncated) {
                  val row = it.next()
                  if (cap.exists(n >= _)) truncated = true
                  else {
                    if (n > 0L) w(",")
                    w(row)
                    n += 1
                    more = it.hasNext
                  }
                }
                w(s"""],"rowCount":$n""")
                if (truncated) w(",\"truncated\":true")
                w(",\"queryState\":\"COMPLETED\"}")
              } catch {
                case e: Throwable =>
                  // the 200 header is gone — close the rows array and
                  // carry the failure in the trailer (the reference's
                  // streamed-error contract); clients check queryState
                  w(s"""],"queryState":"FAILED","errorMessage":${
                    mapper.writeValueAsString(Option(e.getMessage)
                      .getOrElse(e.getClass.getSimpleName))}}""")
              }
              out.flush()
            } finally {
              lastStreamPeakWrite = peak
              x.close()
            }
          } // track(): job group + cancel registration + admission queue
          // authenticated requests execute AS the effective principal:
          // the basic-auth user, or the X-Run-As target when the
          // inbound-impersonation policy allows it (AccessControl) —
          // allow-list checks and sys.profiles both see that user
          (if (credentials.isEmpty) None else authUser(x)) match {
            case None => run("") // open endpoint: session-owner posture
            case Some(auth) =>
              val eff = AccessControl.effectiveUser(spark, auth,
                Option(x.getRequestHeaders.getFirst("X-Run-As")))
              AccessControl.runAs(spark, eff)(run(eff))
          }
        } catch {
          case e: RunningQueries.AdmissionException =>
            // Drill's queue-timeout surface: the engine is at its
            // configured concurrency — a retryable 503, not a 400
            respond(x, 503, error(e.getMessage))
          case e: Throwable =>
            // best-effort: if the failure was a dead client mid-stream
            // the headers are already gone and respond() itself throws
            try respond(x, if (isDenied(e)) 403 else 400, error(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
            catch { case _: Exception => try x.close() catch { case _: Exception => () } }
        }
      }
    }))
    // shared GET->JSON-array handler: the four DataFrame endpoints are
    // identical except for the frame expression — one copy of the
    // method-check / toJSON / error plumbing, no drift
    def jsonGet(path: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      server.createContext(path, guarded(new HttpHandler {
        override def handle(x: HttpExchange): Unit = try {
          if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
          respond(x, 200, df.toJSON.collect().mkString("[", ",", "]"))
        } catch {
          case e: Throwable => respond(x, 400, error(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
        }
      }))
    // Drill web UI's profile listing (ref server/rest/profile/
    // ProfileResources.java): the QueryProfiles ring as JSON. Empty until
    // QueryProfiles.enable(spark) — profiling is opt-in.
    jsonGet("/profiles")(QueryProfiles.profiles(spark))
    // per-stage metric rows (Drill's operator-level profile fragments,
    // ref server/rest/profile/ProfileResources.java detail view); join
    // to /profiles on execution_id
    jsonGet("/profiles/stages")(QueryProfiles.stageProfiles(spark))
    // per-OPERATOR metric rows (the deepest level of Drill's profile
    // detail view: each operator's output rows / build times / spills)
    jsonGet("/profiles/operators")(QueryProfiles.operatorProfiles(spark))
    // GET /options.json — Drill's option listing (ref server/rest/
    // StatusResources.java): the sys.options table as JSON
    jsonGet("/options.json")(SysTables.options(spark))
    // GET /queries.json — the LIVE query registry (Drill's running-
    // profiles view, ref server/rest/profile/ProfileResources.java):
    // ids here feed DELETE /query/<id> and the console's cancel button
    jsonGet("/queries.json")(RunningQueries.running(spark))
    // GET /storage.json — the storage/workspace registry (ref
    // server/rest/StorageResources.java): dfs workspaces from the
    // session conf + the catalog's databases, with enabled flags
    server.createContext("/storage.json", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        val ws = DfsSql.workspaces(spark) // the one canonical registry
        val arr = mapper.createArrayNode()
        ws.sortBy(_._1).foreach { case (name, dir) =>
          val n = arr.addObject()
          n.put("name", s"dfs.$name"); n.put("type", "file")
          n.put("location", dir); n.put("enabled", true)
        }
        spark.catalog.listDatabases().collect().foreach { db =>
          val n = arr.addObject()
          n.put("name", db.name); n.put("type", "catalog")
          n.put("location", db.locationUri); n.put("enabled", true)
        }
        respond(x, 200, mapper.writeValueAsString(arr))
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    // GET /logs.json + /logs/<name>?tail=N — Drill's log browser (ref
    // server/rest/LogsResources.java: list the log dir, serve a file's
    // tail). The dir comes from `graft.log.dir` (session conf or system
    // property — Drill reads drill.log.dir the same way); unset = an
    // empty listing, never an error. Tails are BYTE-bounded (default
    // 64 KiB, cap 1 MiB) so a runaway log cannot be pulled through the
    // driver in one response.
    def logDir(): Option[String] =
      spark.conf.getOption("graft.log.dir")
        .orElse(Option(System.getProperty("graft.log.dir")))
    server.createContext("/logs.json", guarded(adminOnly(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        val arr = mapper.createArrayNode()
        logDir().foreach { d =>
          val dir = new java.io.File(d)
          Option(dir.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && (f.getName.endsWith(".log") ||
              f.getName.endsWith(".out") || f.getName.contains(".log.")))
            .sortBy(_.getName).foreach { f =>
              val n = arr.addObject()
              n.put("name", f.getName); n.put("size", f.length())
              n.put("mtime_ms", f.lastModified())
            }
        }
        respond(x, 200, mapper.writeValueAsString(arr))
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    })))
    server.createContext("/logs/", guarded(adminOnly(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        val name = x.getRequestURI.getPath.stripPrefix("/logs/")
        // the listing is the namespace: a name with separators (or any
        // name outside the dir's own listing) never touches the fs —
        // no path traversal out of the log dir
        if (name.contains('/') || name.contains('\\') || name.isEmpty) {
          respond(x, 400, error("bad log name")); return
        }
        val dir = logDir().getOrElse {
          respond(x, 404, error("graft.log.dir is not configured")); return
        }
        val f = new java.io.File(dir, name)
        // the LISTING is the namespace (same suffix filter as
        // /logs.json) — an unlisted name 404s without touching the fs
        val listed = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty).exists(l => l.isFile && l.getName == name &&
            (name.endsWith(".log") || name.endsWith(".out") ||
              name.contains(".log.")))
        if (!listed) { respond(x, 404, error(s"no log file '$name'")); return }
        val tail = Option(x.getRequestURI.getQuery).getOrElse("")
          .split('&').map(_.split("=", 2))
          .collectFirst { case Array("tail", v) => v.toLong }
          .getOrElse(65536L)
        val n = math.min(math.max(tail, 1L), 1048576L)
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val start = math.max(0L, raf.length() - n)
          raf.seek(start)
          val buf = new Array[Byte](math.min(n, raf.length() - start).toInt)
          raf.readFully(buf)
          val bytes = buf
          x.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
          x.sendResponseHeaders(200, bytes.length)
          x.getResponseBody.write(bytes)
          x.close()
        } finally raf.close()
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    })))
    // GET /metrics.json — Drill's metrics endpoint (ref server/rest/
    // MetricsResources.java serving the codahale registry): flat JVM /
    // process gauges an operator's monitoring scrapes — heap, GC,
    // threads, CPU, uptime, plus the engine's live-query count
    server.createContext("/metrics.json", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        import java.lang.management.ManagementFactory
        val mem = ManagementFactory.getMemoryMXBean
        val th = ManagementFactory.getThreadMXBean
        val rt = ManagementFactory.getRuntimeMXBean
        val os = ManagementFactory.getOperatingSystemMXBean
        val root = mapper.createObjectNode()
        val g = root.putObject("gauges")
        g.put("heap.used", mem.getHeapMemoryUsage.getUsed)
        g.put("heap.max", mem.getHeapMemoryUsage.getMax)
        g.put("non-heap.used", mem.getNonHeapMemoryUsage.getUsed)
        g.put("threads.live", th.getThreadCount)
        g.put("threads.peak", th.getPeakThreadCount)
        g.put("uptime.ms", rt.getUptime)
        g.put("os.load", os.getSystemLoadAverage)
        g.put("cores", os.getAvailableProcessors)
        // O(1) registry size — a DataFrame count would run a Spark job
        // (and post a profile row) per monitoring poll
        g.put("queries.running", RunningQueries.liveCount)
        val gc = root.putObject("gc")
        import scala.jdk.CollectionConverters._
        ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { b =>
          val n = gc.putObject(b.getName.replace(' ', '_'))
          n.put("count", b.getCollectionCount)
          n.put("time.ms", b.getCollectionTime)
        }
        respond(x, 200, mapper.writeValueAsString(root))
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    // PER-USER credential management (ref server/rest/
    // CredentialResources.java — Drill 1.20's user-translation REST
    // surface): each authenticated principal manages its OWN downstream
    // credentials for per-user sources. GET /credentials lists the
    // caller's sources; GET /credentials/<source> answers MASKED (keys
    // only — secrets never travel back out); POST sets the caller's
    // map; DELETE removes it. Principal-REQUIRED: the open loopback
    // door has no identity channel, so "whose credentials?" has no
    // answer there — 403, fail closed.
    server.createContext("/credentials", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        val u = (if (credentials.isEmpty) None else authUser(x)).getOrElse {
          respond(x, 403, error("per-user credentials need an " +
            "authenticated principal — this endpoint is identity-less " +
            "on an open (credential-free) server")); return
        }
        val src = x.getRequestURI.getPath.stripPrefix("/credentials")
          .stripPrefix("/").stripSuffix(".json")
        // EVERY mutation (POST/PUT/DELETE) runs the same drive-by
        // guards as /storage and /query — DELETE included: dropping a
        // stored credential is state-changing too
        if (x.getRequestMethod != "GET") {
          if (!hostOk(x)) {
            respond(x, 403, error("unrecognized Host")); return
          }
          if (csrfFailed(x)) {
            respond(x, 403, error("missing or wrong X-Graft-Csrf " +
              "token (cookie-authenticated mutation)")); return
          }
        }
        x.getRequestMethod match {
          case "GET" if src.isEmpty =>
            val arr = mapper.createArrayNode()
            UserCredentials.sourcesFor(u).foreach(arr.add)
            respond(x, 200, mapper.writeValueAsString(arr))
          case "GET" =>
            UserCredentials.get(src, u) match {
              case None => respond(x, 404, error(
                s"user '$u' has no stored credential for '$src'"))
              case Some(m) =>
                val n = mapper.createObjectNode()
                m.keys.toSeq.sorted.foreach(k => n.put(k, "*****"))
                respond(x, 200, mapper.writeValueAsString(n))
            }
          case "POST" | "PUT" =>
            if (src.isEmpty || !src.matches("[A-Za-z0-9_.-]+")) {
              respond(x, 400, error(s"bad source name '$src'")); return
            }
            if (!jsonContentType(x)) {
              respond(x, 415, error(
                "Content-Type must be application/json")); return
            }
            val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
            val node = Option(mapper.readTree(body))
              .filter(_.isObject).getOrElse {
                respond(x, 400, error("body must be a JSON object of " +
                  "credential fields")); return
              }
            import scala.jdk.CollectionConverters._
            val m = node.fieldNames().asScala
              .map(k => k -> node.get(k).asText).toMap
            if (m.isEmpty) {
              respond(x, 400, error("empty credential map — use DELETE " +
                "to remove stored credentials")); return
            }
            UserCredentials.set(src, u, m)
            respond(x, 200, s"""{"result":"ok","source":"$src","user":${
              mapper.writeValueAsString(u)}}""")
          case "DELETE" =>
            if (UserCredentials.get(src, u).isEmpty) {
              respond(x, 404, error(
                s"user '$u' has no stored credential for '$src'")); return
            }
            UserCredentials.set(src, u, Map.empty)
            respond(x, 200, s"""{"result":"ok","dropped":"$src"}""")
          case _ => respond(x, 405, error("GET, POST, PUT or DELETE"))
        }
      } catch {
        case e: Throwable => respond(x, if (isDenied(e)) 403 else 400,
          error(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    // GET /status + /status.json — Drill's liveness/version endpoint
    // (ref server/rest/StatusResources.java: status string + version
    // info + uptime, open to every authenticated user); GET
    // /status/threads — the thread dump (ref ThreadsResources.java,
    // @RolesAllowed(ADMIN_ROLE) there and admin-gated here), plain text
    // like the reference so `curl | less` works during an incident
    server.createContext("/status", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        import java.lang.management.ManagementFactory
        x.getRequestURI.getPath match {
          case "/status" | "/status.json" =>
            val n = mapper.createObjectNode()
            n.put("status", "Running!")
            n.put("engine_version", spark.version)
            n.put("scala_version", scala.util.Properties.versionNumberString)
            n.put("uptime_ms", ManagementFactory.getRuntimeMXBean.getUptime)
            n.put("queries_running", RunningQueries.liveCount)
            respond(x, 200, mapper.writeValueAsString(n))
          case p => respond(x, 404, error(s"no such path: $p"))
        }
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    // its own LONGER context so the ONE admin gate (adminOnly) guards
    // it — no inline re-implementation to drift from the /logs posture
    server.createContext("/status/threads", guarded(adminOnly(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        // com.sun contexts match by RAW PREFIX — without this,
        // /status/threadsANYTHING would also serve the dump where it
        // used to 404
        if (x.getRequestURI.getPath != "/status/threads") {
          respond(x, 404, error(
            s"no such path: ${x.getRequestURI.getPath}")); return
        }
        import java.lang.management.ManagementFactory
        val sb = new StringBuilder()
        ManagementFactory.getThreadMXBean
          .dumpAllThreads(false, false).foreach { ti =>
            sb.append(s""""${ti.getThreadName}" id=${ti.getThreadId} ${
              ti.getThreadState}\n""")
            ti.getStackTrace.take(24)
              .foreach(f => sb.append(s"    at $f\n"))
            sb.append('\n')
          }
        val bytes = sb.toString.getBytes("UTF-8")
        x.getResponseHeaders.set("Content-Type",
          "text/plain; charset=utf-8")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    })))
    // storage MUTATION (ref server/rest/StorageResources.java PUT/
    // DELETE /storage/{name}.json — @RolesAllowed(ADMIN_ROLE)):
    // register / drop a dfs WORKSPACE at runtime — POST /storage/<name>
    // {"location": dir} sets the graft.dfs.workspace.<name> conf key
    // (the one canonical registry), DELETE /storage/<name> unsets it.
    // Authorization matches the reference's admin posture: on a
    // credentialed door an ADMIN may mutate any workspace, and a
    // non-admin only an ACL-protected name whose allow-list carries
    // them (their own grant — re-pointing it can only re-point data
    // they already read); unprotected names are admin-only, so an
    // arbitrary authenticated principal can no longer create or
    // re-point the shared namespace. The open loopback door keeps the
    // session-owner posture, except ACL-protected names which fail
    // closed (no principal channel = no way to check the allow-list).
    server.createContext("/storage/", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        val method = x.getRequestMethod
        if (method != "POST" && method != "PUT" && method != "DELETE") {
          respond(x, 405, error("POST, PUT or DELETE")); return
        }
        // same drive-by hardening as POST /query: a cross-site SIMPLE
        // request (text/plain form POST, no preflight) must not reach
        // the mutation, and a DNS-rebound Host must not either
        if ((method == "POST" || method == "PUT") && !jsonContentType(x)) {
          respond(x, 415, error(
            "Content-Type must be application/json")); return
        }
        if (!hostOk(x)) {
          respond(x, 403, error("unrecognized Host")); return
        }
        if (csrfFailed(x)) {
          respond(x, 403, error("missing or wrong X-Graft-Csrf " +
            "token (cookie-authenticated mutation)")); return
        }
        val name = x.getRequestURI.getPath.stripPrefix("/storage/")
          .stripSuffix(".json")
        if (!name.matches("[A-Za-z0-9_]+")) {
          respond(x, 400, error(s"bad workspace name '$name'")); return
        }
        val key = s"graft.dfs.workspace.${name.toLowerCase}"
        val principal = if (credentials.isEmpty) None else authUser(x)
        principal match {
          case Some(u) =>
            if (!AccessControl.isAdmin(u)) {
              if (!AccessControl.isWorkspaceProtected(name))
                throw new AccessControl.DeniedException(
                  s"user '$u' is not an admin — storage mutation is " +
                    "admin-only (AccessControl.grantAdmins), except a " +
                    "workspace whose allow-list carries the caller")
              // an ACL'd name: the caller must be ON its allow-list
              AccessControl.runAs(spark, u)(
                AccessControl.checkWorkspace(spark, name))
            }
          case None =>
            if (AccessControl.isWorkspaceProtected(name))
              throw new AccessControl.DeniedException(
                s"workspace '$name' is ACL-protected — mutation needs an " +
                  "authenticated principal on its allow-list")
        }
        method match {
          case "POST" | "PUT" =>
            val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
            val loc = Option(mapper.readTree(body))
              .flatMap(n => Option(n.get("location"))).map(_.asText)
              .getOrElse("")
            if (loc.isEmpty) {
              respond(x, 400, error("missing \"location\"")); return
            }
            spark.conf.set(key, loc)
            respond(x, 200,
              s"""{"result":"ok","name":"dfs.$name","location":${
                mapper.writeValueAsString(loc)}}""")
          case "DELETE" =>
            if (spark.conf.getOption(key).isEmpty) {
              respond(x, 404, error(s"no workspace '$name'")); return
            }
            spark.conf.unset(key)
            respond(x, 200, s"""{"result":"ok","dropped":"dfs.$name"}""")
          case _ => respond(x, 405, error("POST, PUT or DELETE"))
        }
      } catch {
        case e: Throwable =>
          respond(x, if (isDenied(e)) 403 else 400, error(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    // ---- session LOGIN / LOGOUT (reference server/rest/
    // LogInLogOutResources.java): the BROWSER flow for a credentialed
    // door — GET /login serves the form, POST /login trades JSON
    // credentials (constant-time check, generic failure body — same
    // rules as Basic) for an HttpOnly+SameSite session cookie and a
    // per-session CSRF token the HTML shells embed; /logout invalidates
    // server-side and expires the cookie. Registered OUTSIDE guarded —
    // the form must be reachable before authentication — and 404 on an
    // open door (no credential store to log into). Basic auth keeps
    // working unchanged for API clients.
    server.createContext("/login", new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (credentials.isEmpty) {
          respond(x, 404, error("no credentialed door — login exists " +
            "only when the server starts with credentials")); return
        }
        x.getRequestMethod match {
          case "GET" => respondHtml(x, 200, loginHtml)
          case "POST" =>
            // JSON body, NOT form-urlencoded: a urlencoded POST is a
            // no-preflight "simple request", so a cross-site page could
            // silently log the victim's browser into an
            // ATTACKER-credentialed session (login CSRF — the victim's
            // console use, and any credentials they store, would then
            // land under the attacker's principal). application/json
            // forces the preflight this server never approves; the
            // login page's own fetch just sets the header.
            if (!jsonContentType(x)) {
              respond(x, 415, error(
                "Content-Type must be application/json")); return
            }
            if (!hostOk(x)) {
              respond(x, 403, error("unrecognized Host")); return
            }
            val node = Option(mapper.readTree(
              new String(x.getRequestBody.readAllBytes(), "UTF-8")))
            def field(k: String): String =
              node.flatMap(n => Option(n.get(k))).map(_.asText).getOrElse("")
            val u = field("username")
            if (!checkPassword(u, field("password"))) {
              // generic body — same no-enumeration rule as Basic 401s
              respond(x, 401, error("authentication failed")); return
            }
            // bounded store: sweep idle-expired sessions whose cookies
            // never came back, then evict oldest if a login flood (or
            // months of never-logging-out) still holds the cap
            if (sessions.size >= MaxSessions) {
              val now = System.currentTimeMillis()
              sessions.entrySet.removeIf(e =>
                now - e.getValue.touchedMs >= SessionIdleMs)
              while (sessions.size >= MaxSessions) {
                import scala.jdk.CollectionConverters._
                sessions.entrySet.asScala
                  .minByOption(_.getValue.touchedMs)
                  .foreach(e => sessions.remove(e.getKey))
              }
            }
            val id = newToken()
            val csrf = newToken()
            sessions.put(id, new Session(u, csrf))
            // HttpOnly: script can't read the cookie; SameSite=Strict:
            // the browser won't attach it cross-site; Secure on TLS
            val secure = if (tls.isDefined) "; Secure" else ""
            x.getResponseHeaders.add("Set-Cookie",
              s"graft_session=$id; HttpOnly; Path=/; SameSite=Strict$secure")
            respond(x, 200, s"""{"result":"ok","user":${
              mapper.writeValueAsString(u)},"csrf":"$csrf"}""")
          case _ => respond(x, 405, error("GET or POST"))
        }
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    })
    server.createContext("/logout", new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        // POST only: logout MUTATES (kills the session server-side), and
        // a GET nav link is fair game for browser prefetch/prerender —
        // which would log the user out spontaneously mid-work. Always
        // reachable with just the cookie (no CSRF token needed: the
        // worst a forced logout does is end the attacker's leverage).
        if (x.getRequestMethod != "POST") {
          respond(x, 405, error("POST only — logout mutates")); return
        }
        cookieSession(x).foreach { case (id, _) => sessions.remove(id) }
        x.getResponseHeaders.add("Set-Cookie",
          "graft_session=; HttpOnly; Path=/; Max-Age=0; SameSite=Strict")
        respond(x, 200, """{"result":"logged out"}""")
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    })
    // ---- human-facing HTML console (reference exec/java-exec/src/main/
    // resources/rest/: index.ftl + profile/list.ftl, served by
    // DrillRestServer) — a minimal static shell over the SAME JSON
    // endpoints above; the JSON contracts are the API, these pages are
    // just eyes on them. Registered under "/" (com.sun HttpServer gives
    // the longer /query, /profiles... contexts precedence) with the
    // profile page under /web/ so it can't shadow the /profiles JSON.
    // A cookie-authenticated page gets the session's CSRF token
    // INJECTED (the CsrfTokenInjectFilter role) so its fetches pass
    // the mutation gate.
    server.createContext("/", guarded(new HttpHandler {
      override def handle(x: HttpExchange): Unit = try {
        if (x.getRequestMethod != "GET") { respond(x, 405, error("GET only")); return }
        val csrf = cookieSession(x).map(_._2.csrf)
        x.getRequestURI.getPath match {
          case "/" | "/index.html" => respondHtml(x, 200, indexHtml(csrf))
          case "/web/profiles.html" => respondHtml(x, 200, profilesHtml(csrf))
          case p => respond(x, 404, error(s"no such path: $p"))
        }
      } catch {
        case e: Throwable => respond(x, 400, error(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    }))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    new Running(server, pool)
  }

  private def error(msg: String): String = {
    val n = mapper.createObjectNode()
    n.put("errorMessage", msg)
    mapper.writeValueAsString(n)
  }

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private def respondHtml(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private val style =
    """<style>body{font-family:sans-serif;margin:2em;max-width:70em}
      |table{border-collapse:collapse;margin:1em 0}
      |td,th{border:1px solid #999;padding:.25em .6em;text-align:left}
      |textarea{width:100%;font-family:monospace}
      |nav a{margin-right:1.2em}</style>""".stripMargin

  /** The login form (LogInLogOutResources' login page role): its
    * fetch posts JSON credentials to /login (urlencoded is the
    * login-CSRF vector and answers 415), stores nothing client-side —
    * the session rides the HttpOnly cookie, the CSRF token is
    * re-injected into each page server-side. */
  private val loginHtml: String =
    s"""<!doctype html><html><head><title>graft login</title>$style</head>
       |<body><h1>graft login</h1>
       |<form onsubmit="go();return false">
       |<input id="u" placeholder="username" autocomplete="username"><br>
       |<input id="p" type="password" placeholder="password"
       |  autocomplete="current-password"><br>
       |<button>Log in</button></form><div id="msg"></div>
       |<script>
       |async function go(){
       | const r=await fetch('/login',{method:'POST',
       |   headers:{'Content-Type':'application/json'},
       |   body:JSON.stringify({username:document.getElementById('u').value,
       |     password:document.getElementById('p').value})});
       | if(r.ok){location='/'}
       | else{document.getElementById('msg').textContent='login failed'}
       |}
       |</script></body></html>""".stripMargin

  /** index.ftl role: a query box over POST /query + links to every JSON
    * surface. `csrf` = the cookie session's token, injected so the
    * page's own fetches pass the cookie-mutation gate
    * (CsrfTokenInjectFilter role). */
  private def indexHtml(csrf: Option[String]): String =
    s"""<!doctype html><html><head><title>graft</title>$style</head><body>
       |<h1>graft query console</h1>
       |<nav><a href="/web/profiles.html">profiles</a>
       |<a href="/options.json">options.json</a>
       |<a href="/storage.json">storage.json</a>
       |<a href="#" onclick="logout();return false">logout</a></nav>
       |<form onsubmit="run();return false">
       |<textarea id="q" rows="4">SELECT 1 AS one</textarea><br>
       |<button>Run</button></form><div id="out"></div>
       |<script>
       |const CSRF=${mapper.writeValueAsString(csrf.getOrElse(""))};
       |// query results are UNTRUSTED data — escape before innerHTML, or
       |// a cell containing markup executes in the console origin
       |function esc(s){return String(s).replace(/&/g,'&amp;')
       | .replace(/</g,'&lt;').replace(/>/g,'&gt;').replace(/"/g,'&quot;')}
       |async function logout(){
       | await fetch('/logout',{method:'POST'});location='/login';
       |}
       |async function run(){
       | const H={'Content-Type':'application/json'};
       | if(CSRF)H['X-Graft-Csrf']=CSRF;
       | const r=await fetch('/query',{method:'POST',
       |   headers:H,
       |   body:JSON.stringify({query:document.getElementById('q').value})});
       | const j=await r.json();
       | const out=document.getElementById('out');
       | if(j.errorMessage){out.textContent=j.errorMessage;return}
       | let h='<table><tr>'+j.columns.map(c=>'<th>'+esc(c)+'</th>').join('')+'</tr>';
       | for(const row of j.rows){h+='<tr>'+j.columns.map(c=>
       |   '<td>'+(row[c]===undefined?'':esc(row[c]))+'</td>').join('')+'</tr>'}
       | h+='</table>';
       | if(j.truncated)h+='<p>(result truncated at '+j.rowCount+
       |   ' rows — pass maxRows to raise the cap)</p>';
       | out.innerHTML=h;
       |}
       |</script></body></html>""".stripMargin

  /** profile/list.ftl role: the profile ring + per-stage/per-operator
    * depth, fetched from the JSON endpoints. `csrf` as on [[indexHtml]]
    * — the cancel button is a cookie-gated mutation. */
  private def profilesHtml(csrf: Option[String]): String =
    s"""<!doctype html><html><head><title>graft profiles</title>$style</head>
       |<body><h1>query profiles</h1><nav><a href="/">console</a></nav>
       |<h2>running <button onclick="loadRunning()">refresh</button></h2>
       |<div id="r"></div>
       |<div id="p"></div><h2>stages</h2><div id="s"></div>
       |<h2>operators</h2><div id="o"></div>
       |<script>
       |// profile rows carry user SQL / plan text — escape (see index)
       |function esc(s){return String(s).replace(/&/g,'&amp;')
       | .replace(/</g,'&lt;').replace(/>/g,'&gt;').replace(/"/g,'&quot;')}
       |function tab(rows,extra){
       | if(!rows.length)return '<p>(none — enable profiling)</p>';
       | const cols=Object.keys(rows[0]);
       | let h='<table><tr>'+cols.map(c=>'<th>'+esc(c)+'</th>').join('')
       |   +(extra?'<th></th>':'')+'</tr>';
       | for(const r of rows){h+='<tr>'+cols.map(c=>
       |   '<td>'+(r[c]===undefined?'':esc(r[c]))+'</td>').join('')
       |   +(extra?'<td>'+extra(r)+'</td>':'')+'</tr>'}
       | return h+'</table>';
       |}
       |async function load(id,url){
       | document.getElementById(id).innerHTML=tab(await (await fetch(url)).json());
       |}
       |// the per-row CANCEL button (Drill web UI's cancel link): DELETE
       |// /query/<id> kills the query's running+future jobs
       |async function loadRunning(){
       | const rows=await (await fetch('/queries.json')).json();
       | document.getElementById('r').innerHTML=rows.length?tab(rows,
       |   r=>'<button onclick="cancelQ(\\''+esc(r.query_id)+'\\')">cancel</button>')
       |   :'<p>(no queries running)</p>';
       |}
       |async function cancelQ(id){
       | const CSRF=${mapper.writeValueAsString(csrf.getOrElse(""))};
       | await fetch('/query/'+encodeURIComponent(id),{method:'DELETE',
       |   headers:CSRF?{'X-Graft-Csrf':CSRF}:{}});
       | loadRunning();
       |}
       |loadRunning();load('p','/profiles');load('s','/profiles/stages');
       |load('o','/profiles/operators');
       |</script></body></html>""".stripMargin
}
