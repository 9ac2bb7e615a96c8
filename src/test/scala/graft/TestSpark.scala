package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (scalatest runs suites in
  * one forked JVM; getOrCreate dedupes). */
object TestSpark {
  // keep embedded-derby's log out of the repo root WITHOUT setting
  // derby.system.home (which breaks the memory: URL form — see
  // FederationSpec's note)
  System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val SF = "/root/testdata/sf0.001"
  val Fixtures = "/root/repo/testfiles"

  /** Spark jobs that `run` starts on the calling thread: every job of a
    * one-off job group, counted once the listener bus has delivered its
    * events. */
  def jobsOf(run: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-of-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == tag) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(tag, "job count")
    try run
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** Cause-chain messages joined to one string — the shared helper for
    * refusal-message asserts (Spark wraps task failures several layers
    * deep; raising the depth here raises it for every suite). */
  def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  /** ONE JDBC endpoint for the whole suite JVM: HiveServer2 keeps
    * JVM-global service state, so a stop() + second start() in the same
    * JVM never accepts — suites share this instance and never stop it
    * (the forked test JVM exit reaps it). Started with CUSTOM password
    * auth so every suite exercises the authenticated path (the
    * one-per-JVM constraint means auth posture is fixed at first
    * start). */
  val JdbcUser = "graft"
  val JdbcPassword = "graft-test-pw"
  // a second authenticated principal for the authorization tests (user
  // A must not read what only user B holds)
  val JdbcUser2 = "intern"
  val JdbcPassword2 = "intern-pw"
  lazy val jdbcServer: graft.sources.JdbcEndpoint.Running =
    graft.sources.JdbcEndpoint.start(spark,
      credentials = Map(JdbcUser -> JdbcPassword,
        JdbcUser2 -> JdbcPassword2))
}
