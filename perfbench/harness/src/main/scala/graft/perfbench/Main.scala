package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import scala.collection.mutable

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}

/** Progress lines on stderr (the run's log), never on stdout. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, inputs: String, out: String,
                      work: String)

/** Everything a workload hands back for the result file. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** per-layer metric names whose values are exact counts */
  val counts = mutable.LinkedHashSet[String]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += msg
  }
  def count(name: String, v: Double): Unit = { layers(name) = v; counts += name }
}

/** One workload: set-up phases in order, then the timed phase. */
trait Workload {
  def fixtures(): Unit
  def frontDoor(): Unit
  def warmup(): Unit
  /** The timed phase (untraced) or the fixed traced pass. */
  def run(seconds: Int): Unit
  /** After timing: answers for the checker, traced per-layer metrics. */
  def finish(): Unit
  /** Drop the workload's own references before the live-heap reading. */
  def release(): Unit
}

/** Entry point. Usage:
  * graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --out DIR --work DIR
  * Writes DIR/result.json (and spans.jsonl when traced). */
object Main {
  val Workloads = Seq("curate", "sql_interactive")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("inputs"), m("out"), m("work"))
  }

  def main(argv: Array[String]): Unit =
    try { bench(parse(argv)); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(3) }

  private def bench(args: Args): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // half the host's cores, as many shuffle partitions: the other half
    // is left to the driver thread, JIT, GC, the front door and the REST
    // clients, so that a run measures graft rather than the host's
    // scheduler (the chain runs no faster on all four cores of a 4-core
    // host)
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = math.max(1, nproc / 2)
    val master = s"local[$cpus]"
    val rep = new Report
    val t0 = System.nanoTime()
    // GraftSession.builder, as graft.Verify builds its session
    val spark = GraftSession.builder(master = master, shufflePartitions = cpus)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = new CpuCounter
    spark.sparkContext.addSparkListener(cpu)
    val trace = new Trace(args.trace, spark.sparkContext)
    val sessionMs = (System.nanoTime() - t0) / 1e6

    // An untraced run times the named workload only. A traced run makes
    // the fixed traced pass of every workload, so each traced run reports
    // every per-layer metric.
    val order = if (args.trace) Workloads else Seq(args.workload)
    var setupS = 0.0
    var runMs = 0.0
    var heapMb = 0.0
    val made = mutable.LinkedHashMap[String, Workload]()
    val setupMs = mutable.HashMap[String, Seq[Double]]()
    order.foreach { name =>
      val wa = args.copy(out = s"${args.out}/$name", work = s"${args.work}/$name")
      new java.io.File(wa.out).mkdirs()
      val w: Workload = name match {
        case "curate" => new CurateBench(spark, wa, trace, rep, cpu)
        case "sql_interactive" => new SqlBench(spark, wa, trace, rep, cpu)
        case other => sys.error(s"unknown workload $other")
      }
      made(name) = w
      def phase(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
      Log(s"$name: set-up")
      setupMs(name) = Seq(
        phase(trace.span("setup.fixtures")(w.fixtures())),
        phase(trace.span("setup.frontdoor")(w.frontDoor())),
        phase(trace.span("setup.warmup")(w.warmup())))
      Log(f"$name: set-up ${setupMs(name).map(ms => f"$ms%.0f").mkString(" / ")} ms " +
        "(fixtures / front door / warm-up)")
      if (name == args.workload)
        setupS = (System.currentTimeMillis() - processStartMs) / 1e3
      Log(s"$name: timed phase")
      val runT0 = System.nanoTime()
      w.run(args.seconds)
      runMs += (System.nanoTime() - runT0) / 1e6
      Log(s"$name: finish")
      w.finish()
      if (!args.trace) {
        w.release()
        heapMb = liveHeapMb()
      }
      Log(s"$name: done")
    }
    made.values.foreach(_.release())
    Seq("fixtures", "frontdoor", "warmup").zip(setupMs(args.workload)).foreach { case (k, v) =>
      rep.layers(s"setup.${k}_ms") = v
    }
    rep.layers("setup.session_ms") = sessionMs
    rep.e2e("setup_s") = setupS
    rep.e2e("heap_live_mb") = heapMb
    if (args.trace) {
      trace.attribute()
      rep.layers("trace.overhead_pct") = 100.0 * trace.overheadNs.get / 1e6 / runMs
      trace.write(s"${args.out}/spans.jsonl")
    }
    val result = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "master" -> master, "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "attempted" -> rep.attempted, "failed" -> rep.failed,
      "errors" -> rep.errors.toList,
      "e2e" -> rep.e2e, "layers" -> rep.layers, "counts" -> rep.counts.toList,
      "run_ms" -> runMs)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${args.out}/result.json"), result)
    spark.stop()
  }

  /** Live heap after full collections. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
