package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Executor CPU of every finished task. The only listener an untraced
  * run registers. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** Spark-side work of a set of jobs. */
final case class Work(jobs: Int = 0, tasks: Int = 0, failedTasks: Int = 0,
                      cpuNs: Long = 0L, shuffleReadB: Long = 0L,
                      shuffleWriteB: Long = 0L, fetchWaitMs: Long = 0L,
                      inputB: Long = 0L) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    failedTasks + o.failedTasks, cpuNs + o.cpuNs,
    shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    fetchWaitMs + o.fetchWaitMs, inputB + o.inputB)
}

/** Traced runs only: every job with its submitting span (a local
  * property set by [[Trace.span]]), its start/end times, and the task
  * metrics of its stages. Attribution happens after the run, from the
  * recorded events, so the asynchronous bus cannot misattribute. */
final class JobListener(overheadNs: AtomicLong) extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val span: Int) {
    @volatile var endMs: Long = -1L
    var work: Work = Work(jobs = 1)
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanKey))).map(_.toInt).getOrElse(-1)
    val j = new Job(e.jobId, e.time, span)
    synchronized {
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val w =
      if (m == null) Work(tasks = 1, failedTasks = if (failed) 1 else 0)
      else Work(tasks = 1, failedTasks = if (failed) 1 else 0,
        cpuNs = m.executorCpuTime,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        inputB = m.inputMetrics.bytesRead)
    synchronized {
      stageJob.get(e.stageId).foreach(j => j.work = j.work + w)
    }
  }
}

object Trace {
  val SpanKey = "graft.perfbench.span"
}

/** Spans recorded from the benchmark's own code around each call into a
  * graft layer and each REST request. Kept in memory; written out once
  * at the end with self time and the Spark work attributed to each.
  * With `on = false` every method is a pass-through. */
final class Trace(val on: Boolean, sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val op: Long, val startNs: Long, val startMs: Long,
                   val viaProperty: Boolean) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    var work: Work = Work()
    def durMs: Double = (endNs - startNs) / 1e6
  }

  val overheadNs = new AtomicLong
  val listener: Option[JobListener] =
    if (on) { val l = new JobListener(overheadNs); sc.addSparkListener(l); Some(l) }
    else None
  private val spans = mutable.ArrayBuffer[Span]()
  /** Open spans of this thread, innermost first; a thread started inside
    * a span (the warm-up's clients) opens its spans under it. */
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  private def open(name: String, op: Long, viaProperty: Boolean): Span = {
    val t = System.nanoTime()
    val parent = stack.get.headOption.map(_.id).getOrElse(-1)
    val s = synchronized {
      val s = new Span(spans.size, parent, name, op, System.nanoTime(),
        System.currentTimeMillis(), viaProperty)
      spans += s
      s
    }
    stack.set(s :: stack.get)
    if (viaProperty) sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    overheadNs.addAndGet(System.nanoTime() - t)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    val t = System.nanoTime()
    stack.set(stack.get.tail)
    if (s.viaProperty) sc.setLocalProperty(Trace.SpanKey,
      stack.get.headOption.filter(_.viaProperty).map(_.id.toString).orNull)
    overheadNs.addAndGet(System.nanoTime() - t)
  }

  /** A call into a graft layer on this thread: jobs it submits carry the
    * span id as a local property. */
  def span[T](name: String, op: Long = -1L)(f: => T): T =
    if (!on) f else {
      val s = open(name, op, viaProperty = true)
      try f finally close(s)
    }

  /** A REST request: its jobs run on server threads, so they are
    * attributed by time window. Exact because traced runs keep one
    * request in flight. */
  def request[T](name: String, op: Long)(f: => T): T =
    if (!on) f else {
      val s = open(name, op, viaProperty = false)
      try f finally close(s)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Attribute every recorded job to a span: by local property when the
    * submitting thread set one, otherwise to the request span whose
    * window holds the job's start. Then add each span's work to its
    * ancestors, so a span's counters are inclusive. */
  def attribute(): Unit = listener.foreach { l =>
    org.apache.spark.BenchBus.drain(sc)
    val ss = all.toVector
    val requests = ss.filter(!_.viaProperty).sortBy(_.startMs)
    val own = mutable.HashMap[Int, Work]()
    val jobsOf = mutable.HashMap[Int, mutable.ArrayBuffer[l.Job]]()
    l.synchronized(l.jobs.values.toList).foreach { j =>
      val sid =
        if (j.span >= 0) j.span
        else requests.findLast(r => r.startMs <= j.startMs && j.startMs <= r.endMs)
          .map(_.id).getOrElse(-1)
      if (sid >= 0) {
        own(sid) = own.getOrElse(sid, Work()) + j.work
        jobsOf.getOrElseUpdate(sid, mutable.ArrayBuffer()) += j
      }
    }
    ss.foreach(_.work = Work())
    own.foreach { case (sid, w) =>
      var cur = sid
      while (cur >= 0) { ss(cur).work = ss(cur).work + w; cur = ss(cur).parent }
    }
    jobTimes = jobsOf.map { case (sid, js) =>
      sid -> (js.map(_.startMs).min, js.map(_.endMs).max) }.toMap
  }

  /** span id -> (first job start ms, last job end ms), after attribute(). */
  var jobTimes: Map[Int, (Long, Long)] = Map.empty

  /** Self time: duration minus the union of the children's intervals. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.endNs - s.startNs - covered) / 1e6
  }

  def write(path: String): Unit = if (on) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val w = s.work
      out.println(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durMs, "self_ms" -> selfMs(s),
        "jobs" -> w.jobs, "tasks" -> w.tasks, "failed_tasks" -> w.failedTasks,
        "cpu_s" -> w.cpuNs / 1e9,
        "shuffle_read_mb" -> w.shuffleReadB / 1e6,
        "shuffle_write_mb" -> w.shuffleWriteB / 1e6,
        "fetch_wait_ms" -> w.fetchWaitMs, "input_mb" -> w.inputB / 1e6))
    } finally out.close()
  }
}
