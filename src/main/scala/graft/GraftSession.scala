package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Session factory with the engine's scale-oriented defaults.
  *
  * Mirrors the role of Drill's bootstrap options (reference:
  * exec/java-exec/src/main/resources/drill-module.conf) but expressed as
  * Spark SQL conf: AQE on (runtime re-plan ≈ Drill's parallelizer),
  * skew-join handling, broadcast threshold for dimension tables, and a
  * shuffle-partition count sized to the local core count (at cluster
  * scale this is 2-3x total cores + AQE coalesce).
  */
object GraftSession {

  /** Entries of Spark's compiled-class cache (Drill's
    * `drill.exec.compile.cache_max_size`, 1000 by default). Spark's own
    * default, 100, is below graft's working set, so the LRU cache
    * thrashed and a statement recompiled its generated classes with
    * Janino on every run. Working sets, counted as Janino compilations
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) in one JVM with this cap
    * (4 cores, local[2]):
    *  - the sql_interactive REST deck: 165 classes per pass; a whole
    *    benchmark run (fixtures plus the deck's first pass) compiles 218
    *    and then nothing in the timed phase, where Spark's cap compiled
    *    721 (about 12 per statement);
    *  - a curate run (warm-up pass plus three timed passes): 203, where
    *    Spark's cap compiled 682;
    *  - the tier-1 ScalaTest suite: 6,745 in one JVM, far above any
    *    cap; there the cap only bounds what is retained.
    * Worst-case retention: a compiled entry holds 2.15 classes of 2.1 KB
    * mean bytecode (`METRIC_GENERATED_CLASS_BYTECODE_SIZE`), so 1000
    * entries hold about 4.5 MB of bytecode, plus their keys, the
    * generated source (4.6 KB mean). Measured, 218 held entries raised
    * live heap by 5.3 MB (78.5 -> 83.8 MB), about 24 KB per entry, so a
    * full cache retains at most about 25 MB. */
  val CodegenCacheEntries = 1000

  /** A session with the engine's defaults (see the object's doc and
    * [[CodegenCacheEntries]]). */
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions) // native graft expressions
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // TIMESTAMP(NANOS) parquet columns (e.g. events.ts) surface as
      // BIGINT nanos — Spark has no ns timestamp type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Non-UTC-adjusted parquet timestamps read as TIMESTAMP (session tz
      // is pinned UTC above), not TIMESTAMP_NTZ: one timestamp family
      // engine-wide, so literals/casts/arithmetic never hit LTZ-vs-NTZ
      // coercion errors and plans stay identical across testdata writers.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // static and JVM-wide: fixed when the JVM first generates code
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Engine semantic, declared up front: a requested schema that
      // CARRIES parquet.field.id metadata matches file columns by FIELD
      // ID (what Delta column-mapping `id` and Iceberg readers mean by
      // their schemas); schemas without ids keep name matching. Only
      // graft's id-mode paths build such schemas.
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // Spark 4.1's checksum checkpoint manager awaits its writer pool
      // inside state-store commits and deadlocks under local[N] stateful
      // streaming; the classic rename-based manager is fine for us.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // The default FileContext manager shells out (readlink) on every
      // rename; JDK17's jspawnhelper intermittently deadlocks in this
      // container, hanging micro-batches. The FileSystem-based manager
      // stays in-process...
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // ...and the local FS itself must not fork `chmod` per created file
      // (no native hadoop lib here) — see NioLocalFileSystem.
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      // JDBC front door (sources/JdbcEndpoint): deliberately NOT
      // singleSession — Spark's session manager force-sets
      // datetime.java8API.enabled on every connection open, which under
      // singleSession would silently flip Row timestamp types for every
      // other consumer of the live session. Per-connection newSession()
      // clones (Drill's per-connection model) share the catalog, GLOBAL
      // temp views, persistent views, and all graft extensions.

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load one of the standard test tables from a scale-factor directory.
    *
    * events.ts contract: epoch-NANOS BIGINT. Early testdata generations
    * wrote parquet TIMESTAMP(NANOS) (surfacing as exactly that via
    * nanosAsLong); later ones write TIMESTAMP(MICROS). A timestamp-typed
    * ts is normalized back to nanos here (micros * 1000 — lossless), so
    * every time-domain operator and gate sees one representation
    * regardless of which generation wrote the files. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events" &&
        df.schema.exists(f => f.name == "ts" &&
          (f.dataType == TimestampType || f.dataType == TimestampNTZType)))
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    else df
  }

  /** Schema memo for [[readInferred]]. SCHEMA METADATA only — never
    * rows, never results: every query still computes from the file
    * bytes. A bare schema-inferring read (`spark.read.parquet(p)`,
    * `.json`, `.csv` with inferSchema) re-runs inference on EVERY
    * DataFrame construction: a footer-merge job for parquet (~100 ms per
    * call vs ~20 ms schema-supplied, measured in OPTIMIZATION_r17.md),
    * one pass over the whole file for JSON, two for CSV. For the front
    * door's sub-second statements that inference IS a visible share of
    * the wall (fixed per-query overhead). The entry's key carries the
    * format, the reader options and the session's `spark.sql.*` confs
    * that shape inference (nanosAsLong etc.), so the memoized schema is
    * exactly what inference would return under the same settings. */
  private val schemaMemo = new SchemaMemo(1024)

  /** Schema-memoized parquet read of a table path (the `table()` entry
    * point, the lakehouse readers' data and delete files). Multi-path
    * reads key the memo on the full path list (the iceberg delete-file
    * group shape: one schema across the group's files). */
  def readParquet(spark: SparkSession, path: String, more: String*): DataFrame =
    readInferred(spark, "parquet", Map.empty, path +: more)

  /** Read `paths` in a schema-inferring `format`, inferring the schema
    * once per (format, options, session `spark.sql.*` confs, paths) until
    * the files Spark lists under the paths change (see [[SchemaMemo]]).
    * A memo hit lists the files once, in the read itself, on any
    * filesystem scheme (`file:`, `hdfs:`, `s3a:`); a miss infers, then
    * reads with the inferred schema, as a hit would. */
  def readInferred(spark: SparkSession, format: String,
                   options: Map[String, String], paths: Seq[String]): DataFrame = {
    // a fresh reader per read: DataFrameReader.schema mutates the reader
    def reader = spark.read.format(format).options(options)
    def read(schema: StructType) = reader.schema(schema).load(paths: _*)
    val scope = format +: options.toSeq.sorted.map { case (k, v) => s"$k=$v" } :+
      SchemaMemo.sqlConfDigest(spark)
    schemaMemo.get(paths, scope)
      .map { case (stamp, schema) => (stamp, read(schema)) }
      .collect { case (stamp, df) if SchemaMemo.stampOf(df) == stamp => df }
      .getOrElse {
        val inferred = reader.load(paths: _*)
        schemaMemo.put(paths, scope, SchemaMemo.stampOf(inferred), inferred.schema)
        read(inferred.schema)
      }
  }

  /** Rebalance a (possibly few-split) input across the session's shuffle
    * parallelism before a fan-out-heavy stage (band/token explode, block
    * replication). Costs one narrow-data shuffle of the projected columns;
    * pays for itself whenever the upstream layout is skewed — a handful of
    * small local files here, a hot object-store prefix at 100 TB. Without
    * it, a 5 MB single-split parquet pins a 96M-row LSH band join to ONE
    * core (measured 43 s -> 4.5 s at sf0.1). */
  def balanced(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
}

/** Bounded LRU memo of inferred schemas keyed by a scope (what shapes
  * inference: format, reader options, conf digest) and a path list. Each
  * entry carries a freshness stamp: the full path, length and mtime of
  * every file Spark's file index listed for the read that inferred it
  * ([[SchemaMemo.stampOf]]), so a rewritten file, a new file or a new
  * partition directory re-infers. Keys and stamps length-prefix their
  * parts, so distinct scopes and path lists never alias (`["/a", "/b"]`
  * vs `["/a/b"]`). The least recently used entry goes once `max` are
  * held; re-inference only costs time. Inference runs outside the lock,
  * so concurrent readers never wait on each other's inference. */
private[graft] final class SchemaMemo(max: Int) {
  private val entries =
    new java.util.LinkedHashMap[String, (String, StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, StructType)]): Boolean =
        size() > max
    }

  /** The held (stamp, schema) of `paths` under `scope`. */
  def get(paths: Seq[String], scope: Seq[String]): Option[(String, StructType)] =
    entries.synchronized(Option(entries.get(SchemaMemo.key(paths, scope))))

  def put(paths: Seq[String], scope: Seq[String], stamp: String, schema: StructType): Unit =
    entries.synchronized(entries.put(SchemaMemo.key(paths, scope), (stamp, schema)))

  def size: Int = entries.synchronized(entries.size)
}

private[graft] object SchemaMemo {
  /** Length-prefixed concatenation: no part's content can fake a
    * boundary, whatever characters paths or option values hold. */
  private def join(parts: Seq[String]): String =
    parts.map(p => s"${p.length}:$p").mkString

  def key(paths: Seq[String], scope: Seq[String]): String =
    join(Seq(join(scope), join(paths)))

  /** Digest of the session's `spark.sql.*` confs: the memo is JVM-wide
    * and shared by `newSession()` clones, so an entry inferred under one
    * setting (nanosAsLong, inferTimestampNTZ, case sensitivity, ...)
    * must never serve a session under another. */
  def sqlConfDigest(spark: SparkSession): String = {
    val confs = spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    confs.foreach { case (k, v) => md.update(join(Seq(k, v)).getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Every file that `df`'s file relations read, by full path, length
    * and mtime, from the listing Spark's file index made when `df` was
    * analyzed (globs expanded, partition directories walked); the read
    * reuses that analysis, so the stamp costs no listing of its own. */
  def stampOf(df: DataFrame): String =
    join(df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .flatMap(_.listFiles(Nil, Nil).flatMap(_.files))
      .map(f => join(Seq(f.getPath.toString, f.getLen.toString,
        f.getModificationTime.toString)))
      .sorted)
}
