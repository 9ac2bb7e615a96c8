package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Persistent table statistics — Drill's ANALYZE TABLE ... COMPUTE
  * STATISTICS + metastore (reference /root/reference/metastore and
  * exec/.../planner/common/DrillStatsTable.java): stats computed once,
  * persisted durably, REUSED for planning decisions in later sessions.
  * Stored as one JSON file per table next to the view catalog's files
  * (same atomic temp+rename discipline).
  *
  * The Spark-first reuse point is join-side sizing: Spark's own CBO
  * reads catalog-table stats, but path-based reads (the schema-on-read
  * world graft lives in) have none — `withBroadcastHint` closes that
  * gap by applying a broadcast hint iff the STORED size estimate clears
  * the threshold, turning a persisted ANALYZE into the same planning
  * effect Drill's metastore stats feed its parallelizer. Stats are also
  * queryable as a relation (INFORMATION_SCHEMA-style), and analyze()
  * computes everything in ONE distributed aggregation pass (count +
  * per-column approx NDV + null counts + min/max), not a pass per
  * column.
  */
object StatsCatalog {

  private val Suffix = ".stats.json"
  private val mapper = new ObjectMapper()

  /** `histogram`: equi-depth bucket boundaries for numeric columns
    * (n buckets = n+1 ascending boundaries; each bucket holds ~1/n of
    * the non-null rows) — Drill's NumericEquiDepthHistogram (ref
    * exec/.../planner/common/NumericEquiDepthHistogram.java,
    * HistogramUtils.java; Drill fills it from a t-digest, here from the
    * same percentile sketch approx_percentile uses). Empty = not built
    * or non-numeric. */
  case class ColumnStats(name: String, ndv: Long, nulls: Long,
                         min: String, max: String,
                         histogram: Seq[Double] = Nil)
  case class TableStats(table: String, rowCount: Long, sizeBytes: Long,
                        analyzedAtMs: Long, columns: Seq[ColumnStats])

  private def fs(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** ANALYZE: one aggregation pass over `df`; `sizeBytes` comes from the
    * plan's own estimate (file-size sum for file sources). Persisted
    * atomically under `base`. */
  /** `fileKey` (default = table) names the stats FILE — callers whose
    * display names can collide (same basename in two workspaces) pass a
    * path-disambiguated key; the record's `table` field stays the
    * display name statsTable surfaces. */
  def analyze(spark: SparkSession, base: String, table: String,
              df: DataFrame, histogramBuckets: Int = 0,
              fileKey: String = ""): TableStats = {
    import org.apache.spark.sql.types._
    // stats cover ATOMIC columns only: min/max need an ordering and ndv
    // needs hashability — one map-typed column (schema-on-read JSON)
    // used to abort the whole ANALYZE with an AnalysisException
    // duplicate-NAMED columns (a join result carrying both sides' `id`)
    // resolve ambiguously and abort the whole pass — skip them, same
    // posture as the map filter below
    val dupNames = df.schema.fields.groupBy(_.name.toLowerCase)
      .filter(_._2.length > 1).keySet
    val cols = df.schema.fields.filter(_.dataType match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType | BinaryType => true
      case _ => false
    }).filterNot(f => dupNames.contains(f.name.toLowerCase))
      .map(_.name).toSeq
    // exact-name resolution: a raw col("price.usd") parses the dot as a
    // struct path and fails; backtick-quote (with `` escaping)
    def col(c: String): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(s"`${c.replace("`", "``")}`")
    val numericCols =
      if (histogramBuckets <= 0) Set.empty[String]
      else df.schema.fields
        .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    // histogram boundaries ride the SAME single aggregation pass: one
    // approx_percentile at n+1 equi-spaced quantiles per numeric column
    val qs = (0 to histogramBuckets)
      .map(i => i.toDouble / math.max(histogramBuckets, 1))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c => Seq(
      approx_count_distinct(col(c), rsd = 0.01).as(s"__ndv_$c"),
      // coalesce: sum over an EMPTY table is null, and stats on empty
      // tables are legitimate (a fresh partition)
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
        .as(s"__nulls_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")) ++
      (if (numericCols.contains(c))
        Seq(percentile_approx(col(c).cast("double"),
          array(qs.map(lit): _*), lit(10000)).as(s"__hist_$c"))
      else Nil)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val colStats = cols.map { c => ColumnStats(c,
      r.getAs[Long](s"__ndv_$c"), r.getAs[Long](s"__nulls_$c"),
      Option(r.getAs[String](s"__min_$c")).orNull,
      Option(r.getAs[String](s"__max_$c")).orNull,
      if (numericCols.contains(c))
        Option(r.getAs[scala.collection.Seq[Double]](s"__hist_$c"))
          .map(_.toSeq).getOrElse(Nil)
      else Nil)
    }
    val stats = TableStats(table, r.getAs[Long]("__n"),
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong,
      System.currentTimeMillis(), colStats)
    write(spark, base, stats, if (fileKey.isEmpty) table else fileKey)
    stats
  }

  private def write(spark: SparkSession, base: String, s: TableStats,
                    key: String): Unit = {
    val f = fs(spark, base)
    f.mkdirs(new Path(base))
    val node = mapper.createObjectNode()
    node.put("table", s.table)
    node.put("rowCount", s.rowCount)
    node.put("sizeBytes", s.sizeBytes)
    node.put("analyzedAtMs", s.analyzedAtMs)
    val arr = node.putArray("columns")
    s.columns.foreach { c =>
      val cn = arr.addObject()
      cn.put("name", c.name); cn.put("ndv", c.ndv); cn.put("nulls", c.nulls)
      cn.put("min", c.min); cn.put("max", c.max)
      if (c.histogram.nonEmpty) {
        val h = cn.putArray("histogram")
        c.histogram.foreach(h.add)
      }
    }
    StagedFiles.replace(f, new Path(base, key + Suffix),
      mapper.writeValueAsBytes(node))
    // NO migration delete of `<displayName>.stats.json` here: that file
    // is indistinguishable from the LIVE stats of a different table
    // that legitimately keys by display name (the no-fileKey API) and
    // happens to share the basename — deleting it silently un-hinted
    // that table forever. The cost is a possible stale double-listing
    // in statsTable for a table analyzed under both keyings
    // (analyzedAtMs disambiguates which is current).
  }

  /** Stored stats for `table`, if analyzed. A reader racing the
    * writer's delete→rename window (or a writer that crashed inside it)
    * falls back to the COMPLETE tmp file instead of seeing no stats. */
  def load(spark: SparkSession, base: String, table: String): Option[TableStats] = {
    val f = fs(spark, base)
    val target = new Path(base, table + Suffix)
    // candidates newest-first; a PARTIAL file (mid-write tmp, TOCTOU on
    // the delete->rename window, crashed writer) parses as None and the
    // next candidate is tried — stats loading never throws
    def parse(p: Path): Option[TableStats] =
      try {
        val in = f.open(p)
        val n = try mapper.readTree(in) finally in.close()
        Some(TableStats(n.get("table").asText, n.get("rowCount").asLong,
          n.get("sizeBytes").asLong, n.get("analyzedAtMs").asLong,
          n.get("columns").elements.asScala.map { c =>
            ColumnStats(c.get("name").asText, c.get("ndv").asLong,
              c.get("nulls").asLong,
              Option(c.get("min")).filterNot(_.isNull).map(_.asText).orNull,
              Option(c.get("max")).filterNot(_.isNull).map(_.asText).orNull,
              Option(c.get("histogram"))
                .map(_.elements.asScala.map(_.asDouble).toSeq).getOrElse(Nil))
          }.toSeq))
      } catch { case scala.util.control.NonFatal(_) => None }
    // tmp candidates list LAZILY: the directory listing is pure fallback
    // for ANALYZE's crash window, and paying one listStatus per load made
    // a 500-table statsTable() scan issue 500 LIST RPCs on the happy path
    def tmps =
      try f.listStatus(new Path(base)).toSeq
        .filter { st =>
          val nm = st.getPath.getName
          nm.startsWith(s".$table$Suffix") && nm.endsWith(".tmp")
        }
        .sortBy(-_.getModificationTime).map(_.getPath)
      catch { case scala.util.control.NonFatal(_) => Nil }
    parse(target).orElse(tmps.iterator.flatMap(parse(_)).nextOption())
  }

  /** The planning reuse: broadcast-hint `df` iff its STORED size
    * estimate is under `threshold` (default: Spark's own
    * autoBroadcastJoinThreshold). No stored stats => df unchanged
    * (never guess a broadcast). */
  def withBroadcastHint(spark: SparkSession, base: String, table: String,
                        df: DataFrame, threshold: Long = -1L): DataFrame = {
    val limit =
      if (threshold >= 0) threshold
      else parseThreshold(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    load(spark, base, table) match {
      case Some(s) if s.sizeBytes >= 0 && s.sizeBytes <= limit => broadcast(df)
      case _ => df
    }
  }

  /** Spark's threshold accepts bare bytes OR size suffixes ("10MB");
    * "-1" disables broadcasting. */
  private def parseThreshold(v: String): Long =
    if (v.trim.startsWith("-")) -1L
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.trim)

  /** Range selectivity of `[lo, hi)` on a column from its equi-depth
    * histogram — Drill's NumericEquiDepthHistogram.estimatedSelectivity
    * (ref exec/.../planner/common/NumericEquiDepthHistogram.java):
    * buckets are closed-open on [boundary_i, boundary_{i+1}), each holds
    * ~1/n of the non-null rows, partially-overlapped buckets contribute
    * linearly interpolated fractions, and the result is floored at
    * Drill's SMALL_SELECTIVITY (0.0001) because boundaries are
    * approximate. Returns None when no histogram is stored. */
  def rangeSelectivity(c: ColumnStats,
                       lo: Double, hi: Double): Option[Double] = {
    val b = c.histogram
    if (b.size < 2 || hi <= lo) return if (b.size < 2) None else Some(0.0001)
    val n = b.size - 1
    val frac = (0 until n).map { i =>
      val (s, e) = (b(i), b(i + 1))
      // zero-width bucket = a heavy single value: it is IN [lo, hi)
      // iff s >= lo && s < hi — the shared half-open exclusion test
      // (e <= lo) would wrongly drop a point bucket sitting exactly at
      // lo and collapse a ~1.0 selectivity to the floor
      if (e == s) { if (s >= lo && s < hi) 1.0 else 0.0 }
      else if (e <= lo || s >= hi) 0.0
      else (math.min(e, hi) - math.max(s, lo)) / (e - s)
    }.sum / n
    Some(math.max(frac, 0.0001).min(1.0))
  }

  /** [[withBroadcastHint]]'s filter-aware sibling — Drill's actual use
    * of histograms (filter selectivity → row estimate → join planning,
    * ref planner/cost/DrillRelMdSelectivity.java): hint broadcast iff
    * the stored size SCALED by the estimated selectivity of
    * `[lo, hi)` on `column` clears the threshold. A table too big to
    * broadcast whole often isn't after a tight range filter. Falls back
    * to the unscaled decision when no histogram exists. */
  def withFilteredBroadcastHint(spark: SparkSession, base: String,
                                table: String, df: DataFrame,
                                column: String, lo: Double, hi: Double,
                                threshold: Long = -1L): DataFrame = {
    val limit =
      if (threshold >= 0) threshold
      else parseThreshold(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    load(spark, base, table) match {
      case Some(s) if s.sizeBytes >= 0 =>
        val sel = s.columns.find(_.name == column)
          .flatMap(rangeSelectivity(_, lo, hi)).getOrElse(1.0)
        if (s.sizeBytes * sel <= limit) broadcast(df) else df
      case _ => df
    }
  }

  /** Stats matching a DISPLAY name — files may be keyed with a
    * path-hash suffix (see analyze's fileKey), so name lookups scan the
    * directory; ambiguous names (same basename analyzed from several
    * paths) return the most recently analyzed. */
  def loadByName(spark: SparkSession, base: String,
                 table: String): Option[TableStats] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) return None
    f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(Suffix))
      .map(s => s.getPath.getName.stripSuffix(Suffix))
      .flatMap(t => load(spark, base, t))
      .filter(_.table == table)
      .sortBy(_.analyzedAtMs).lastOption
  }

  /** INFORMATION_SCHEMA-style relation over every stored stats file:
    * (table_name, row_count, size_bytes, column_name, ndv, nulls, min, max). */
  def statsTable(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, base)
    val dir = new Path(base)
    val all =
      if (!f.exists(dir)) Seq.empty[TableStats]
      else f.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(Suffix))
        .map(s => s.getPath.getName.stripSuffix(Suffix))
        .flatMap(t => load(spark, base, t))
    all.flatMap(t => t.columns.map(c =>
        (t.table, t.rowCount, t.sizeBytes, c.name, c.ndv, c.nulls, c.min,
          c.max, c.histogram)))
      .toDF("table_name", "row_count", "size_bytes", "column_name",
        "ndv", "nulls", "min", "max", "histogram")
  }
}
