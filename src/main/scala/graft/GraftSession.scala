package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Parquet schema memo for [[readParquet]]. SCHEMA METADATA only —
    * never rows, never results: every query still computes from the
    * parquet bytes. Plain `spark.read.parquet(p)` re-reads footers for
    * schema inference on EVERY DataFrame construction (~100 ms per call
    * vs ~20 ms schema-supplied, measured by tools/ReadOverheadProbe);
    * for the bench's sub-second tail that inference IS a visible share
    * of the wall (guide §1.2 step 3 / VERDICT r16 item 6: fixed
    * per-query overhead). Because inference
    * happens under the SAME session confs that shape it (nanosAsLong
    * etc., pinned by this builder), the memoized schema is exactly what
    * inference would return. */
  private val schemaMemo = new SchemaMemo(1024)

  /** Schema-memoized parquet read of a stable table path (the `table()`
    * entry point and any other fixed-layout read). Multi-path reads key
    * the memo on the full path list + stamps (the iceberg delete-file
    * group shape: one schema across the group's files). FLAT layouts
    * only: the stamp sees a directory's direct children, so a change
    * inside a nested (e.g. partition) subdirectory would serve the old
    * schema — read partitioned trees with `spark.read` directly. */
  def readParquet(spark: SparkSession, path: String, more: String*): DataFrame = {
    val paths = path +: more
    val schema = schemaMemo.schema(paths)(spark.read.parquet(paths: _*).schema)
    spark.read.schema(schema).parquet(paths: _*)
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

/** Bounded LRU memo of inferred schemas keyed by a path list. Each entry
  * carries a freshness stamp of its paths — every file's (or every
  * directory's DIRECT children's) names, mtimes and lengths, in full —
  * so a regenerated table re-infers. Key and stamps join their parts with
  * '\u0000', which no path holds, so distinct path lists never alias
  * (`["/a", "/b"]` vs `["/a/b"]`). The least recently used entry goes
  * once `max` are held; re-inference costs ~100 ms, so eviction only
  * costs time. Inference runs outside the lock, so concurrent readers
  * never wait on each other's footers. */
private[graft] final class SchemaMemo(max: Int) {
  private val entries =
    new java.util.LinkedHashMap[String, (String, StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, StructType)]): Boolean =
        size() > max
    }

  def schema(paths: Seq[String])(infer: => StructType): StructType = {
    val key = SchemaMemo.key(paths)
    val stamp = paths.map(SchemaMemo.stampOf).mkString("\u0000")
    entries.synchronized(Option(entries.get(key))) match {
      case Some((st, s)) if st == stamp => s
      case _ =>
        val s = infer
        entries.synchronized(entries.put(key, (stamp, s)))
        s
    }
  }

  def size: Int = entries.synchronized(entries.size)
  def contains(paths: Seq[String]): Boolean =
    entries.synchronized(entries.containsKey(SchemaMemo.key(paths)))
}

private[graft] object SchemaMemo {
  def key(paths: Seq[String]): String = paths.mkString("\u0000")

  private def stampOf(path: String): String = {
    val f = new java.io.File(path)
    val base = s"${f.lastModified}:${f.length}"
    if (f.isDirectory) {
      // '/' cannot occur in a file name, so the joined list is unambiguous
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
        .map(k => s"${k.getName}:${k.lastModified}:${k.length}")
        .sorted.mkString("/")
      s"$base#$kids"
    } else base
  }
}
