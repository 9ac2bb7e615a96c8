package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line
  * to stdout. Queries chosen to exercise the load-bearing plan shapes:
  * scan+agg, broadcast join, multi-join, window, dedup family, ANN.
  *
  * Each query runs REPS times and reports the min — round 3's driver
  * artifact showed ±20-90% run-to-run jitter on sub-second queries,
  * drowning the real round-over-round signal; min-of-3 (all runs also
  * emitted under "runs") keeps the artifact decision-grade.
  */
object Bench {
  /** The 11 original headline queries (round-over-round comparable back
    * to round 1) + round-5 additions at the END, so per-query deltas and
    * prefix totals stay comparable across rounds; BASELINE.md tracks the
    * split. */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_multi_join", "q_broadcast_join", "q_window_running",
    "q_topn", "q_dedup_minhash", "q_dedup_simhash", "q_ann_bruteforce",
    "q_embed_neardup", "q_token_count", "q_sessionize",
    // round 5: exact n-gram decontamination, BM25 scoring, dfs-path SQL
    "q_ngram_decontam", "q_bm25", "q_dfs_sql",
    // round 6: Iceberg v2 merge-on-read, connected-components dedup,
    // as-of join (zero-join window spelling), binned range join
    "q_iceberg_v2", "q_dup_components", "q_asof_join", "q_range_join",
    // round 7: equality-delete merge-on-read, Paimon PK LSM merge,
    // Delta deletion vectors, DSIR gram-model weighting, iceberg CDC
    // changelog (pruned snapshot diffs)
    "q_iceberg_eq_delete", "q_paimon_pk", "q_delta_dv", "q_dsir",
    "q_iceberg_changelog",
    // round 10: quality-classifier training (3 distributed gradient
    // iterations — the round's new iterative-model plan family) and the
    // Delta column-mapping id-mode read (field-id scan path)
    "q_quality_clf", "q_delta_colmap_id",
    // round 11: multi-class softmax classifier (K× the quality
    // classifier's per-iteration join fan-out — the heaviest iterative
    // plan in the library)
    "q_lang_clf")

  val Reps = 3

  /** The sf1 HEAVYWEIGHT tier: queries whose wall at sf0.1 is real work
    * rather than fixed job overhead — measured on a 10x-scaled corpus so
    * round-over-round deltas carry signal the noise-bound sf0.1 numbers
    * no longer do. TWO reps each (both reported): a single rep cannot
    * distinguish a degraded host window from a scale regression (the
    * round-7 driver artifact's 127.5s-vs-64.6s ambiguity).
    * q_iceberg_changelog is the metadata-path datapoint — the tier was
    * previously all compute-dominated queries. */
  val heavyweight: Seq[String] = Seq("q_dedup_minhash", "q_dedup_simhash",
    "q_dup_components", "q_multi_join", "q_dsir", "q_iceberg_changelog",
    // round 9: the retrieval-shaped datapoint (BM25/decontam family had
    // no scale cross-check when its sf0.1 number ran 3x in a degraded
    // window) — expected ~linear in corpus grams
    "q_bm25",
    // round 13: the two iterative classifiers, whose sf0.1 walls read
    // dirty in the r12 driver window with no scale cross-check — the
    // sf1 tier's per-query brackets give them in-artifact attribution
    "q_quality_clf", "q_lang_clf")

  val Sf1Reps = 2

  /** (steal jiffies, total jiffies) from /proc/stat — host steal%
    * across the bench window makes degraded-host rounds machine-
    * detectable instead of narrative-adjudicated. */
  private def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
              finally src.close()
      (f.lift(7).getOrElse(0L), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** (machine busy CPU-seconds, THIS-process CPU-seconds) — machine
    * from /proc/stat line 1 (busy = all fields minus idle+iowait),
    * process from /proc/self/stat utime+stime (fields 14/15, after the
    * parenthesized comm). Sampled at query start/end, the DIVERGENCE
    * (machine minus process) is other-process CPU inside the query
    * window — the co-tenant signature probes can't see because it
    * inflates cache/bandwidth-bound work without slowing a register
    * spin. Jiffies are USER_HZ=100 on linux (hardcoded; the value only
    * feeds ratios so a nonstandard HZ scales both sides equally). */
  private def cpuSample(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
              finally src.close()
      val busy = f.sum - f.lift(3).getOrElse(0L) - f.lift(4).getOrElse(0L)
      val self = scala.io.Source.fromFile("/proc/self/stat")
      val line = try self.getLines().next() finally self.close()
      // comm may contain spaces/parens — fields count from the LAST ')'
      val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
      // rest(0) = field 3 (state); utime/stime are fields 14/15
      val proc = rest(11).toLong + rest(12).toLong
      (busy / 100.0, proc / 100.0)
    } catch { case _: Exception => (0.0, 0.0) }

  /** Fixed single-thread CPU probe (xorshift spin, constant iteration
    * count) timed at bench start AND end: steal% only sees hypervisor
    * steal, not co-tenant IO pressure, cgroup throttling, or thermal
    * slowdown — a calibration delta makes any degraded window directly
    * measurable in the artifact. ~0.5s each, outside all query timings. */
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def calibProbe(): Double = {
    val t0 = System.nanoTime()
    if (spin() == 42L) System.err.println("calib") // defeat dead-code elim
    (System.nanoTime() - t0) / 1e9
  }

  /** PARALLEL calibration probe: the same fixed spin on
    * `availableProcessors` threads at once, wall measured to the LAST
    * finisher. A one-thread probe always gets its one core, so it is
    * structurally blind to multicore co-tenant contention — the exact
    * failure mode that inflated the 32-way CPU-parallel queries 2-8x in
    * the r8 driver window while q1_agg ran 1.00x. Clean host: parallel
    * wall ≈ single-thread wall; contended host: elevated, and the ratio
    * (parallel / single) is the machine-readable contention factor. */
  private def calibProbePar(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => sink.addAndGet(spin()))
      t.start(); t
    }
    threads.foreach(_.join())
    if (sink.get == 42L) System.err.println("calib-par")
    (System.nanoTime() - t0) / 1e9
  }

  /** MEMORY-BANDWIDTH probe: sum-sweep a shared read-only long array
    * far larger than any LLC (256 MB), single-threaded and on all
    * cores at once, wall to the last finisher. The register-only spin
    * probe is structurally blind to co-tenant MEMORY pressure — an
    * LLC/bandwidth-heavy neighbor inflates cycles-per-instruction while
    * threads stay on-CPU, so eff_par reads high, wall reads slow, and
    * the spin calib reads clean (the r9 q_dsir sf1 signature). A clean
    * host's parallel sweep saturates the memory controllers at some
    * fixed ratio to the single sweep; round-over-round and
    * start/bracket/end DRIFT in that ratio is the contention signal. */
  private def bwSweep(a: Array[Long], passes: Int): Long = {
    var s = 0L
    var p = 0
    while (p < passes) {
      var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      p += 1
    }
    s
  }

  /** (single-thread sweep sec, all-core sweep sec). The 256 MB array is
    * allocated PER PROBE (outside the clock) and released right after —
    * a retained probe buffer would pin old-gen and add GC pressure to
    * exactly the query windows the probe exists to sanity-check. */
  private def bwProbe(): (Double, Double) = {
    val a = new Array[Long](32 * 1024 * 1024) // 256 MB, probe-scoped
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    val t0 = System.nanoTime()
    if (bwSweep(a, 4) == 42L) System.err.println("bw")
    val single = (System.nanoTime() - t0) / 1e9
    val n = Runtime.getRuntime.availableProcessors
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t1 = System.nanoTime()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => sink.addAndGet(bwSweep(a, 4)))
      t.start(); t
    }
    threads.foreach(_.join())
    if (sink.get == 42L) System.err.println("bw-par")
    (single, (System.nanoTime() - t1) / 1e9)
  }

  /** Distinct PHYSICAL cores from /proc/cpuinfo ((physical id, core id)
    * pairs; 0 when unreadable). On an SMT host the parallel probe's
    * clean-host baseline is ~logical/physical × the single-thread wall
    * (paired hyperthreads share ports) — without this count a clean
    * 2-way-SMT host reads as "contended". The artifact carries both so
    * the expected baseline is computable, not guessed. */
  private def physicalCores(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try {
        var phys = "?"
        val pairs = scala.collection.mutable.Set[(String, String)]()
        src.getLines().foreach { l =>
          val kv = l.split(":", 2)
          if (kv.length == 2) kv(0).trim match {
            case "physical id" => phys = kv(1).trim
            case "core id" => pairs += ((phys, kv(1).trim))
            case _ =>
          }
        }
        pairs.size
      } finally src.close()
    } catch { case _: Exception => 0 }

  /** Best-effort listener-bus flush: the 60 ms sleep alone is not a
    * barrier — a task-heavy rep leaves TaskEnd events queued past it and
    * the CPU time mis-attributes to the NEXT rep. waitUntilEmpty is
    * private[spark] in source but public in bytecode; reflection keeps
    * the attribution exact, the sleep stays as the fallback. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      catch { case _: NoSuchMethodException =>
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(2000L))
      }
    } catch { case _: Exception => }
    Thread.sleep(20)
  }

  /** First three /proc/loadavg fields (1/5/15-min runqueue averages) —
    * a co-tenant's load shows here even when steal% and the
    * single-thread probe read clean. */
  private def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().trim.split("\\s+").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch { case _: Exception => Nil }

  /** Sums executor CPU time (ns) and run time (ms) across every finished
    * task — snapshotted around each rep, cpu/wall is that rep's EFFECTIVE
    * PARALLELISM. A 32-way CPU-bound query at eff_par ~4 under a clean
    * calibration is contention; at ~30 and still slow, a real regression. */
  private object TaskCpuListener
      extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    }
    // wall-clock ms of the FIRST job submission after markPlanStart():
    // (first job - action start) is the rep's PLANNING wall (analysis +
    // optimization + codegen before any task runs) — the instrument
    // that names whether sub-second inflation is plan-time or
    // execution-time (r13 verdict #2's conditional). job.time is
    // stamped on the submitting thread, so async listener delivery
    // does not skew the value.
    @volatile var firstJobMs: Long = -1L
    def markPlanStart(): Unit = firstJobMs = -1L
    override def onJobStart(
        job: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (firstJobMs < 0) firstJobMs = job.time
  }

  /** Per-query minimum over SUCCESSFUL reps only — a fast-failing rep
    * must not report its failure wall as the decision-grade number.
    * Shared by both bench tiers (they previously carried copies). */
  private def minOkWall(walls: Seq[(Double, Boolean)]): Double = {
    val ok = walls.filter(_._2).map(_._1)
    if (ok.nonEmpty) ok.min else walls.map(_._1).min
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Deterministic 10x-scaled corpus derived from sfDir (cached across
    * runs): documents get copy 0 verbatim + 9 copies with ~60% of
    * tokens perturbed per (token, doc) hash (the corpus BASELINE.md's
    * sf1 minhash numbers were measured on), one dense shard + nine
    * sparse shards, the web-corpus operating mix; orders/lineitem
    * replicate with orderkey offsets (join keys stay consistent);
    * dimension-ish tables copy verbatim. */
  private def ensureSf1(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val marker = java.nio.file.Paths.get(dir, "_built_from.txt")
    // cache key includes source (mtime, size): the round driver can
    // regenerate the testdata between runs — a stale 10x corpus would
    // silently bench old data
    // v2: copy index k folded into the perturbation hash and suffix —
    // sparse copies 1-9 are nine DISTINCT near-dup variants, not nine
    // identical exact-dup clones (the v1 shape benched 9-way exact
    // cliques). Recipe version in the stamp forces a rebuild on change.
    val stamp = "v2:" + sfDir + ":" + Seq("documents", "lineitem", "orders").map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      s"${f.lastModified}/${f.length}"
    }.mkString(",")
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker).trim == stamp) return dir
    new java.io.File(dir).mkdirs()
    val copies = 10
    val docs0 = GraftSession.table(spark, sfDir, "documents")
    val rest = docs0.columns.filterNot(c => c == "doc_id" || c == "text")
    (0 until copies).map { k =>
      val perturbRate = if (k == 0) lit(0) else lit(60)
      docs0.select(Seq((col("doc_id") + k * 10000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => when(pmod(xxhash64(t, col("doc_id"), lit(k)), lit(100)) < perturbRate,
            concat(t, lit("_"),
              pmod(col("doc_id") + k * 131L, lit(997)).cast("string")))
            .otherwise(t))).as("text")) ++ rest.map(col): _*)
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach {
      case (t, key) =>
        val base = GraftSession.table(spark, sfDir, t)
        (0 until copies).map { k =>
          base.withColumn(key, col(key) + k * 1000000000L)
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      GraftSession.table(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.writeString(marker, stamp)
    dir
  }

  def main(args: Array[String]): Unit = {
    // the f-interpolator formats through the DEFAULT locale — a
    // comma-decimal locale (de_DE et al) would render 1.234 as "1,234"
    // and produce an unparseable artifact; pin ROOT before any timing
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.addSparkListener(TaskCpuListener)
    val (steal0, jiff0) = cpuStat()
    val load0 = loadAvg()
    val calib0 = calibProbe()
    val calibPar0 = calibProbePar()
    val (bwS0, bwP0) = bwProbe()
    // warm the JVM + parquet footers once (not timed per query); drain
    // the listener bus so the warm-up's async TaskEnd events can't land
    // inside rep 1's CPU window and inflate q1_agg's cpu_s/eff_par
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    drainListenerBus(spark)
    // ---- SELF-DEFENSE in dirty windows (r12 verdict #2): the session
    // tracks a CLEAN FLOOR for the parallel calibration probe (min of
    // every sample this run). A query window is flagged DIRTY when any
    // of three instruments trips — per-query steal% > 1, other-process
    // CPU inside the window above ~15% of the machine, or (for the
    // probed dirt-sensitive queries) a calib_par bracket reading >1.5x
    // the floor. A dirty query re-runs ONCE after the window settles
    // (probe-until-clean, bounded), with every rep kept in the artifact
    // plus the dirty flag — so a degraded host window is attributed
    // in-artifact DURING the run, not adjudicated from narrative after.
    var floorPar = calibPar0
    def settle(): Unit = {
      var tries = 0
      var done = false
      while (tries < 3 && !done) {
        val c = calibProbePar()
        floorPar = math.min(floorPar, c)
        if (c <= 1.5 * floorPar) done = true
        tries += 1
      }
    }
    val nCores = Runtime.getRuntime.availableProcessors
    // per-query calib_par brackets only for the historically
    // dirt-sensitive headline queries (a probe per query would double
    // the bench wall); steal + machine-vs-process cover the rest
    val headlineProbed = Set("q_dedup_minhash", "q_dup_components",
      "q_quality_clf", "q_lang_clf")
    def runOnce(name: String, dir: String): (Double, Boolean, Double, Double, Double, Double) = {
      val cpu0 = TaskCpuListener.cpuNs.get
      val (mach0, proc0) = cpuSample()
      TaskCpuListener.markPlanStart()
      val wall0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // the LOOKUP lives inside the try too: a renamed/missing query
      // key must surface as ok=false in the artifact, not kill main()
      // before any JSON is written
      val ok =
        try { SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // flush the async listener bus (outside the timed window) so
      // per-rep CPU attribution is exact, not sleep-raced
      drainListenerBus(spark)
      val (mach1, proc1) = cpuSample()
      val cpuS = (TaskCpuListener.cpuNs.get - cpu0) / 1e9
      val otherCores =
        if (wall > 0) ((mach1 - mach0) - (proc1 - proc0)) / wall else 0.0
      // firstJobMs is read AFTER drainListenerBus, so a normally-run
      // query has posted its job-start by here; -1 = honestly UNKNOWN
      // (a pure driver-side rep, or a failed bus drain) — never the
      // full wall, which would invert the plan-vs-execution diagnosis
      val planSec =
        if (TaskCpuListener.firstJobMs >= wall0Ms)
          (TaskCpuListener.firstJobMs - wall0Ms) / 1e3
        else -1.0
      (wall, ok, if (wall > 0) cpuS / wall else 0.0, cpuS, otherCores,
        planSec)
    }
    // A failed query must be LOUD: record ok=false and exit non-zero, so a
    // broken headline query can never masquerade as a slow one.
    case class QWin(name: String, minWall: Double, walls: Seq[Double],
      ok: Boolean, effPars: Seq[Double], cpuSecs: Seq[Double],
      otherCpu: Seq[Double], planSecs: Seq[Double], dirty: Boolean,
      reasons: Seq[String], qSteal: Double)
    // running count of dirty windows THIS SESSION: after
    // DirtySessionThreshold flags, BenchGuard's floor trigger escalates
    // to FloorRatioEscalated for the remaining queries — contention here
    // is bursty and correlated, and the session knows it (the r14
    // q_iceberg_changelog 2.13x-unflagged margin)
    var sessionDirty = 0
    val results = headline.map { name =>
      val (s0, j0) = cpuStat()
      var runs = (1 to Reps).map(_ => runOnce(name, sfDir)).toVector
      val (s1, j1) = cpuStat()
      val qSteal =
        if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
      val bracket =
        if (headlineProbed(name)) {
          val c = calibProbePar()
          floorPar = math.min(floorPar, c)
          Some(c)
        } else None
      // the full window verdict lives in BenchGuard (pure, spec-tested):
      // steal / other-process CPU / probe bracket as before, PLUS the
      // committed-clean-floor ratio — the r13 blind spot where co-tenant
      // pressure inflated walls 10x without tripping any probe-visible
      // instrument
      val reasons = BenchGuard.verdict(qSteal,
        runs.map(r => (r._1, r._5)), nCores, bracket, floorPar,
        minOkWall(runs.map(r => (r._1, r._2))),
        BenchGuard.cleanFloorSf01.get(name), sessionDirty)
      val dirty = reasons.nonEmpty
      if (dirty) { sessionDirty += 1; settle(); runs = runs :+ runOnce(name, sfDir) }
      // per-query minimum over SUCCESSFUL reps only: a fast-failing rep
      // must not report its failure wall as the decision-grade number
      // (ok=false + rc=1 already mark the round; "runs" keeps all reps,
      // including a dirty window's settled re-run)
      QWin(name, minOkWall(runs.map(r => (r._1, r._2))),
        runs.map(_._1), runs.forall(_._2),
        runs.map(_._3), runs.map(_._4), runs.map(_._5), runs.map(_._6),
        dirty, reasons, qSteal)
    }
    def qJson[T](f: QWin => T): String = results
      .map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val qs = qJson(r => f"${r.minWall}%.3f")
    // median alongside min: round 7's [10.48, 10.26, 3.42] showed a
    // jittery session whose min looked fine — the median makes an
    // unstable window visible in one number without re-reading "runs"
    val medians = qJson(r => f"${median(r.walls)}%.3f")
    val allRuns = qJson(_.walls.map(w => f"$w%.3f").mkString("[", ",", "]"))
    val oks = qJson(_.ok)
    // per-rep effective parallelism (executor CPU-time / wall): the
    // instrument that separates "contended host" (low eff_par, elevated
    // parallel calib) from "real regression" (full eff_par, still slow)
    val effPars = qJson(_.effPars.map(e => f"$e%.1f").mkString("[", ",", "]"))
    // per-rep executor CPU-SECONDS (the eff_par numerator, emitted
    // directly): "work grew" vs "wall grew" separates without reader
    // arithmetic — the r9 sf1 ambiguity in one field
    val cpuSecs = qJson(_.cpuSecs.map(c => f"$c%.1f").mkString("[", ",", "]"))
    // per-rep OTHER-PROCESS cpu cores inside the window (machine minus
    // self over wall) — the sf1 tier's co-tenant attribution, now at
    // sf0.1 too (r13 verdict #1)
    val otherCpuJson = qJson(_.otherCpu.map(c => f"$c%.2f").mkString("[", ",", "]"))
    // per-rep PLANNING wall (action start -> first job submission):
    // separates "fixed per-query plan overhead grew" from "execution
    // slowed" without re-running anything
    val planSecJson = qJson(_.planSecs.map(c => f"$c%.3f").mkString("[", ",", "]"))
    val total = results.map(_.minWall).sum
    val allOk = results.forall(_.ok)
    // per-query dirty flags + WHY (the tripped instruments) + the wall
    // vs committed-clean-floor ratio — the detection inputs live in the
    // artifact, not just the verdict
    val dirtyJson = qJson(_.dirty)
    val reasonsJson = qJson(_.reasons.map("\"" + _ + "\"").mkString("[", ",", "]"))
    val floorRatioJson = qJson(r =>
      BenchGuard.cleanFloorSf01.get(r.name)
        .map(fl => f"${r.minWall / fl}%.2f").getOrElse("null"))
    val qStealJson = qJson(r => f"${r.qSteal}%.2f")
    val dirtyCount = results.count(_.dirty)
    // sf1 heavyweight tier (opt out with SPARK_GRAFT_SF1=0): TWO reps
    // per query on the 10x corpus, both reported — one rep cannot tell
    // a degraded host window from a scale regression. Failures here are
    // LOUD in the artifact (ok:false) but don't fail the bench rc — the
    // tier is auxiliary signal on top of the primary gate-scale numbers.
    val sf1Json =
      if (sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "0") "null"
      else try {
        val sf1Dir = ensureSf1(spark, sfDir)
        // bracket EVERY QUERY, not just the tier: the r10 window's
        // tier-level brackets read clean while q_dsir tripled its
        // cpu_s MID-tier — per-query brackets attribute co-tenancy to
        // the query it actually hit. One probe between consecutive
        // queries serves as both "after" and "before" (~1.5 s each,
        // N+1 probes total, outside all query timings); the tier-level
        // fields below remain the first/last probes for round-over-
        // round continuity.
        val probes = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
        def tierProbe(): Double = {
          val c = calibProbePar()
          floorPar = math.min(floorPar, c)
          val (bs, bp) = bwProbe()
          probes += ((c, bs, bp))
          c
        }
        tierProbe()
        val rs = heavyweight.map { name =>
          def sf1Once(): (Double, Boolean, Double, Double, Double, Double) = {
            val cpu0 = TaskCpuListener.cpuNs.get
            val (mach0, proc0) = cpuSample()
            val t0 = System.nanoTime()
            val ok =
              try { SparkEntry.queries(name)(spark, sf1Dir)
                .write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] sf1 $name FAILED: ${e.getMessage}"); false }
            val wall = (System.nanoTime() - t0) / 1e9
            drainListenerBus(spark)
            val (mach1, proc1) = cpuSample()
            val cpuS = (TaskCpuListener.cpuNs.get - cpu0) / 1e9
            (wall, ok, if (wall > 0) cpuS / wall else 0.0, cpuS,
              mach1 - mach0, proc1 - proc0)
          }
          val (st0, jf0) = cpuStat()
          var runs = (1 to Sf1Reps).map(_ => sf1Once()).toVector
          val (st1, jf1) = cpuStat()
          val qSteal =
            if (jf1 > jf0) 100.0 * (st1 - st0) / (jf1 - jf0) else 0.0
          // per-round instrumentation for the iterative CC query: a slow
          // run decomposes into rounds × per-round wall in the artifact
          val cc = if (name == "q_dup_components")
            graft.pipeline.Dedup.lastCcStats.map(s =>
              s""","cc":{"rounds":${s.rounds},"edges":${s.edges},""" +
                s""""shuffle_partitions":${s.shufflePartitions},""" +
                s""""round_wall":${s.roundWallSec.map(w => f"$w%.3f")
                  .mkString("[", ",", "]")}}""").getOrElse("")
          else ""
          val bracketAfter = tierProbe()
          // self-defense: same four-instrument BenchGuard verdict as
          // the headline loop (steal / other-process CPU / bracket /
          // committed-clean-floor ratio) — re-run once after the
          // window settles, keep every rep, flag the query
          // sessionDirty CONTINUES from the headline loop — co-tenant
          // pressure is machine-wide, so sf0.1 flags inform sf1 windows
          val reasons = BenchGuard.verdict(qSteal,
            runs.map(r => (r._1, if (r._1 > 0) (r._5 - r._6) / r._1 else 0.0)),
            nCores, Some(bracketAfter), floorPar,
            minOkWall(runs.map(r => (r._1, r._2))),
            BenchGuard.cleanFloorSf1.get(name), sessionDirty)
          val dirty = reasons.nonEmpty
          if (dirty) { sessionDirty += 1; settle(); runs = runs :+ sf1Once() }
          // same successful-reps-only minimum as the headline loop
          val minW = minOkWall(runs.map(r => (r._1, r._2)))
          (name, runs.map(_._1), runs.forall(_._2), cc, runs.map(_._3),
            runs.map(_._4), minW, runs.map(_._5), runs.map(_._6),
            dirty, qSteal, reasons)
        }
        val (tierCalibPar0, tierBw0) = (probes.head._1, (probes.head._2, probes.head._3))
        val (tierCalibPar1, tierBw1) = (probes.last._1, (probes.last._2, probes.last._3))
        def q1Json(f: ((String, Seq[Double], Boolean, String, Seq[Double],
            Seq[Double], Double, Seq[Double], Seq[Double], Boolean,
            Double, Seq[String])) => String): String =
          rs.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
        val q1 = q1Json(r => f"${r._7}%.3f")
        val runs1 = q1Json(_._2.map(v => f"$v%.3f").mkString("[", ",", "]"))
        val ok1 = q1Json(_._3.toString)
        val ep1 = q1Json(_._5.map(e => f"$e%.1f").mkString("[", ",", "]"))
        val cs1 = q1Json(_._6.map(c => f"$c%.1f").mkString("[", ",", "]"))
        // in-flight co-tenant attribution (r11 verdict #1): machine-wide
        // vs this-process CPU-seconds INSIDE each rep's window — when
        // machine >> process while brackets read clean, the dirt is a
        // co-tenant that never touched the probes
        val ms1 = q1Json(_._8.map(c => f"$c%.1f").mkString("[", ",", "]"))
        val ps1 = q1Json(_._9.map(c => f"$c%.1f").mkString("[", ",", "]"))
        val ccJson = rs.map(_._4).filter(_.nonEmpty).mkString
        val dirty1 = q1Json(_._10.toString)
        val steal1 = q1Json(r => f"${r._11}%.2f")
        val reasons1 = q1Json(_._12.map("\"" + _ + "\"").mkString("[", ",", "]"))
        val floorRatio1 = q1Json(r =>
          BenchGuard.cleanFloorSf1.get(r._1)
            .map(fl => f"${r._7 / fl}%.2f").getOrElse("null"))
        // per-query [before, after] probe brackets — co-tenancy that
        // ramps mid-tier attributes to the query it hit
        val cpBrackets = heavyweight.zipWithIndex.map { case (k, i) =>
          "\"" + k + "\":[" + f"${probes(i)._1}%.3f" + "," +
            f"${probes(i + 1)._1}%.3f" + "]" }.mkString("{", ",", "}")
        val bwBrackets = heavyweight.zipWithIndex.map { case (k, i) =>
          "\"" + k + "\":[" + f"${probes(i)._3}%.3f" + "," +
            f"${probes(i + 1)._3}%.3f" + "]" }.mkString("{", ",", "}")
        s"""{"total":${f"${rs.map(_._7).sum}%.3f"},"queries":$q1,""" +
          s""""runs":$runs1,"ok":$ok1,"eff_par":$ep1,"cpu_s":$cs1,""" +
          s""""machine_cpu_s":$ms1,"proc_cpu_s":$ps1,""" +
          s""""calib_par_sec":[${f"$tierCalibPar0%.3f"},${f"$tierCalibPar1%.3f"}],""" +
          s""""bw_sec":[${f"${tierBw0._1}%.3f"},${f"${tierBw1._1}%.3f"}],""" +
          s""""bw_par_sec":[${f"${tierBw0._2}%.3f"},${f"${tierBw1._2}%.3f"}],""" +
          s""""calib_par_brackets":$cpBrackets,""" +
          s""""bw_par_brackets":$bwBrackets,""" +
          s""""dirty":$dirty1,"dirty_reasons":$reasons1,""" +
          s""""floor_ratio":$floorRatio1,"q_steal_pct":$steal1,""" +
          s""""copies":10$ccJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 tier failed: ${e.getMessage}")
        "null"
      }
    val (steal1, jiff1) = cpuStat()
    val calib1 = calibProbe()
    val calibPar1 = calibProbePar()
    val (bwS1, bwP1) = bwProbe()
    val load1 = loadAvg()
    val stealPct =
      if (jiff1 > jiff0) 100.0 * (steal1 - steal0) / (jiff1 - jiff0) else 0.0
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"median":$medians,"runs":$allRuns,"ok":$oks,"eff_par":$effPars,"cpu_s":$cpuSecs,"steal_pct":${f"$stealPct%.2f"},"calib_sec":[${f"$calib0%.3f"},${f"$calib1%.3f"}],"calib_par_sec":[${f"$calibPar0%.3f"},${f"$calibPar1%.3f"}],"bw_sec":[${f"$bwS0%.3f"},${f"$bwS1%.3f"}],"bw_par_sec":[${f"$bwP0%.3f"},${f"$bwP1%.3f"}],"calib_par_threads":${Runtime.getRuntime.availableProcessors},"phys_cores":${physicalCores()},"loadavg":[${arr(load0)},${arr(load1)}],"dirty":$dirtyJson,"dirty_reasons":$reasonsJson,"floor_ratio":$floorRatioJson,"other_cpu":$otherCpuJson,"plan_sec":$planSecJson,"q_steal_pct":$qStealJson,"calib_par_floor":${f"$floorPar%.3f"},"sf1":$sf1Json,"sf":"${
        sfDir.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    println(line)
    // The stdout line gets buried in sbt [info] noise (rounds 3 and 5 had
    // "parsed": null in the driver artifact) — also persist the metrics to
    // files so grading has a structured copy regardless of log framing.
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val outs = Seq(artifact, "/tmp/bench.json")
    outs.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    }
    // COMPACT summary as the TRUE LAST stdout line: the driver keeps only
    // a 2000-char log tail, and the full line above has outgrown it
    // (rounds 8-9 had "parsed": null for exactly this reason). This line
    // stays under ~1.3 KB — per-query MINIMA only, window-health scalars,
    // sf1 totals, and the artifact path holding the full record.
    val sf1Compact = sf1Json match {
      case "null" => "null"
      case j =>
        // lift "total" and "queries" (the first two fields by construction)
        val qEnd = j.indexOf('}', j.indexOf("\"queries\":")) + 1
        "{" + j.substring(1, qEnd) + "}"
    }
    val compact =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"ok_all":$allOk,"steal_pct":${f"$stealPct%.2f"},"calib_sec":[${f"$calib0%.3f"},${f"$calib1%.3f"}],"calib_par_sec":[${f"$calibPar0%.3f"},${f"$calibPar1%.3f"}],"bw_par_sec":[${f"$bwP0%.3f"},${f"$bwP1%.3f"}],"phys_cores":${physicalCores()},"dirty_count":$dirtyCount,"sf1":$sf1Compact,"artifact":"${
        artifact.replace("\\", "\\\\").replace("\"", "\\\"")}","sf":"${
        sfDir.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    spark.stop()
    println(compact) // after Spark teardown: nothing may print past this
    if (!allOk) sys.exit(1)
  }
}
