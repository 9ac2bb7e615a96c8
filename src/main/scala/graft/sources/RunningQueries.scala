package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live-query tracking, CANCELLATION and ADMISSION CONTROL for graft's
  * front doors — the re-expression of two Drill operator surfaces:
  *
  *  - query cancellation (reference exec/.../server/rest/
  *    QueryResources.java `/profiles/cancel/{queryid}` and the Foreman's
  *    CANCEL state transition): every REST query registers here under a
  *    fresh queryId and runs inside its own Spark JOB GROUP with
  *    interrupt-on-cancel, so `DELETE /query/<id>` (or [[cancel]]) kills
  *    the running jobs AND any job the query would still submit
  *    (`cancelJobGroupAndFutureJobs`) while the session itself survives
  *    — exactly what an operator reaches for when a runaway query holds
  *    the cluster.
  *  - workload queues (reference exec/.../resourcemgr/
  *    ThrottledResourceManager.java and the `exec.queue.*` options):
  *    queries are admitted through a SMALL or LARGE queue by
  *    plan-estimated input size — Spark's own `optimizedPlan.stats`
  *    (which ANALYZE feeds through the stats metastore) plays the role
  *    of Drill's planner cost. The N+1th concurrent query WAITS up to
  *    the configured timeout (Drill's `exec.queue.timeout`), then fails
  *    loudly; timeout 0 = reject immediately.
  *
  * Both are JVM-global like the front doors themselves (one server pair
  * per JVM). The registry is bounded by construction: entries live
  * exactly as long as their query.
  *
  * Admission options (session conf, settable via `ALTER SYSTEM SET`):
  *  - `graft.queue.enable`        (false) — master switch
  *  - `graft.queue.small`         (10)    — concurrent small queries
  *  - `graft.queue.large`         (2)     — concurrent large queries
  *  - `graft.queue.threshold`     (10485760) — estimated input BYTES at
  *    or above which a query is "large" (Drill's exec.queue.threshold
  *    is planner cost; bytes are Spark's native stats unit)
  *  - `graft.queue.timeout_ms`    (30000) — max wait for a queue slot;
  *    0 rejects immediately
  *
  * 100 TB posture: the queues bound DRIVER-side concurrency (how many
  * queries hold executors at once), which is precisely Drill's memory
  * story — admission is O(1) bookkeeping per query, and the size
  * estimate is a plan-stats read, not a data touch.
  */
object RunningQueries {

  /** Thrown when the admission queue is full past the timeout. */
  final class AdmissionException(msg: String)
      extends RuntimeException(msg)

  final class Info private[RunningQueries] (
      val queryId: String, val sql: String, val user: String,
      val door: String, val submitMs: Long, val groupId: String) {
    @volatile private[RunningQueries] var state: String = "QUEUED"
    @volatile private[RunningQueries] var tier: String = ""
    private[RunningQueries] val cancelRequested = new AtomicBoolean(false)
  }

  private val live = new ConcurrentHashMap[String, Info]()

  // ---- admission gates (dynamic limits: the limit is a THUNK
  // re-evaluated on every pass of the wait loop, so ALTER SYSTEM SET
  // raising graft.queue.small/large unblocks queries ALREADY WAITING in
  // the queue — not just ones admitted after the change; the 200 ms
  // wait quantum bounds how stale a queued query's view can be)
  private final class Gate {
    private var running = 0
    def acquire(limit: () => Int, timeoutMs: Long, tier: String,
                info: Info): Unit = synchronized {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (running >= limit()) {
        if (info.cancelRequested.get())
          throw new AdmissionException(
            s"query ${info.queryId} cancelled while queued")
        val waitMs = (deadline - System.nanoTime()) / 1000000L
        if (waitMs <= 0)
          throw new AdmissionException(
            s"$tier query queue full ($running/${limit()} running) — " +
              s"waited ${timeoutMs}ms (graft.queue.timeout_ms); " +
              "retry later or raise graft.queue." + tier)
        wait(math.min(waitMs, 200L)) // short waits: see cancel + raised limits promptly
      }
      running += 1
    }
    def release(): Unit = synchronized { running -= 1; notifyAll() }
    def load: Int = synchronized(running)
  }
  private val smallGate = new Gate
  private val largeGate = new Gate

  private def confLong(spark: SparkSession, k: String, d: Long): Long =
    spark.conf.getOption(k).flatMap(_.toLongOption).getOrElse(d)
  private def confBool(spark: SparkSession, k: String): Boolean =
    spark.conf.getOption(k).exists(_.equalsIgnoreCase("true"))

  /** Plan-estimated INPUT size in bytes — Spark's logical-plan stats
    * over the ANALYZED plan (ANALYZE-computed table stats count, the
    * way Drill's queue placement uses planner cost, reference
    * resourcemgr/DistributedQueryQueue.java). Deliberately NOT the
    * optimized plan: QueryExecution.optimizedPlan EAGERLY EXECUTES
    * command plans (CTAS / INSERT), so sizing through it would run DML
    * twice — analysis alone never executes. Conservative on failure: a
    * query whose size cannot be estimated (commands without stats)
    * rides the LARGE queue. */
  private def estimatedBytes(spark: SparkSession, sql: String): BigInt =
    try {
      val parsed = spark.sessionState.sqlParser.parsePlan(sql)
      spark.sessionState.executePlan(parsed).analyzed.stats.sizeInBytes
    } catch { case _: Exception => BigInt(Long.MaxValue) }

  /** Run `body` as a TRACKED, CANCELLABLE, ADMISSION-CONTROLLED query.
    * Sets a fresh job group (interrupt-on-cancel) on the calling thread
    * for the body's lifetime; registers in [[running]]; applies the
    * admission queues when enabled. The front doors wrap every query in
    * this; library callers may too. */
  def track[T](spark: SparkSession, sql: String, user: String,
               door: String)(body: => T): T =
    trackImpl(spark, sql, user, door,
      () => estimatedBytes(spark, sql))(body)

  /** [[track]] for a SQL string the caller wants EXECUTED as a
    * DataFrame — the REST door's shape: ONE parse+analysis serves BOTH
    * admission sizing and execution. [[track]]+`spark.sql` analyzes the
    * text twice per admitted query (the sizing pass and the execution
    * pass); here sizing reads the SAME QueryExecution the body's
    * DataFrame is minted from (PlanShim — the private[sql] Dataset
    * constructor is the only way to hand one a prebuilt
    * QueryExecution). The Dataset is constructed INSIDE the admission
    * gate, so command plans (CTAS/INSERT), which execute at
    * construction exactly as in spark.sql, stay behind admission. */
  def trackSql[T](spark: SparkSession, sql: String, user: String,
                  door: String)(body: DataFrame => T): T = {
    // parse errors surface immediately (the caller's 400), analysis
    // errors surface where they always did: sizing swallows them into
    // the conservative LARGE tier and the Dataset construction inside
    // the gate rethrows them (ACL denials included — analysis runs in
    // the caller's runAs scope either way)
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val qe = spark.sessionState.executePlan(parsed)
    trackImpl(spark, sql, user, door,
      () => try qe.analyzed.stats.sizeInBytes
        catch { case _: Exception => BigInt(Long.MaxValue) })(
      body(org.apache.spark.sql.graftshim.PlanShim.datasetOf(qe)))
  }

  private def trackImpl[T](spark: SparkSession, sql: String, user: String,
                           door: String, estimate: () => BigInt)
                          (body: => T): T = {
    val id = java.util.UUID.randomUUID().toString
    val info = new Info(id, sql, user, door, System.currentTimeMillis(),
      s"graft.query.$id")
    live.put(id, info)
    val sc = spark.sparkContext
    try {
      // ---- admission (before any cluster work)
      val (gate, limit) =
        if (!confBool(spark, "graft.queue.enable"))
          (null: Gate, () => 0)
        else {
          val threshold = confLong(spark, "graft.queue.threshold", 10485760L)
          val big = estimate() >= threshold
          info.tier = if (big) "large" else "small"
          val lim: () => Int =
            if (big) () => confLong(spark, "graft.queue.large", 2L).toInt
            else () => confLong(spark, "graft.queue.small", 10L).toInt
          (if (big) largeGate else smallGate, lim)
        }
      if (gate != null)
        gate.acquire(limit, confLong(spark, "graft.queue.timeout_ms", 30000L),
          info.tier, info)
      try {
        info.state = "RUNNING"
        // a cancel that landed while queued already marked the group's
        // FUTURE jobs cancelled — the body fails fast on its first job
        sc.setJobGroup(info.groupId, s"graft $door query $id",
          interruptOnCancel = true)
        try body
        finally sc.clearJobGroup()
      } finally if (gate != null) gate.release()
    } finally live.remove(id)
  }

  /** Cancel a live query by id: running AND future jobs of its group die
    * (tasks are interrupted), the query's caller sees the cancellation
    * as a failed action, the SESSION survives. Returns false when the id
    * is unknown (already finished — cancellation is idempotent-ish, the
    * Drill REST contract). */
  def cancel(spark: SparkSession, queryId: String,
             reason: String = "cancelled via graft cancel API"): Boolean =
    Option(live.get(queryId)).exists { info =>
      info.cancelRequested.set(true)
      info.state = "CANCEL_REQUESTED"
      spark.sparkContext.cancelJobGroupAndFutureJobs(info.groupId, reason)
      // wake a QUEUED query's admission wait so it aborts promptly
      smallGate.synchronized(smallGate.notifyAll())
      largeGate.synchronized(largeGate.notifyAll())
      true
    }

  /** The registered principal of a live query (None when the id is not
    * live) — the front doors' owner-or-admin cancellation check. */
  def ownerOf(queryId: String): Option[String] =
    Option(live.get(queryId)).map(_.user)

  /** O(1) live-query count for the metrics scrape — counting through
    * the DataFrame would run a Spark job (and post a profile row) per
    * monitoring poll. */
  def liveCount: Int = live.size()

  /** sys.running_queries: the live registry as a relation — queryId to
    * cancel with, who runs it, through which door, queue tier/state,
    * elapsed wall. */
  def running(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    live.values().asScala.toSeq.sortBy(_.submitMs)
      .map(i => (i.queryId, i.user, i.door, i.state, i.tier,
        i.submitMs, now - i.submitMs, i.sql.take(500)))
      .toDF("query_id", "user", "door", "state", "queue_tier",
        "submit_ts_ms", "elapsed_ms", "sql")
  }

  /** Queue occupancy snapshot (for sys.options-style introspection and
    * specs): (small running, large running). */
  def queueLoad: (Int, Int) = (smallGate.load, largeGate.load)
}
