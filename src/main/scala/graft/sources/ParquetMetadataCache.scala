package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet metadata cache — Drill's `REFRESH TABLE METADATA` (reference:
  * exec/.../store/parquet/metadata/Metadata.java and
  * sql/handlers/RefreshMetadataHandler.java): read every file FOOTER once
  * (metadata-only I/O — row counts and per-column min/max live in the
  * footer; no data pages are touched), persist a manifest next to the
  * data, and let later reads prune whole files against a predicate
  * BEFORE the scan is planned.
  *
  * Scale shape: footers are read by EXECUTORS (one task per file, same
  * FileList parallelism as the other file-granular readers) and only the
  * KB-scale manifest rows come back to the driver — at 100 TB the
  * refresh is a distributed metadata sweep, and each later query's
  * planning cost is O(manifest) instead of O(files × footer I/O). This
  * is the same planning economy Delta gets from its log (69p); this
  * variant needs no table format — it works on any parquet directory,
  * which is exactly Drill's positioning.
  */
object ParquetMetadataCache {

  val ManifestName = ".graft.parquet_metadata.json"

  final case class ColStat(typ: String, min: String, max: String)
  final case class FileMeta(path: String, rows: Long,
                            cols: Map[String, ColStat],
                            mtime: Long = 0L, size: Long = 0L)

  /** Footer sweep → manifest. INCREMENTAL: a file whose (path, mtime,
    * size) already sits in the manifest keeps its entry without re-reading
    * the footer — the same refresh economy Drill's REFRESH TABLE METADATA
    * has (exec/.../sql/handlers/RefreshMetadataHandler.java skips
    * up-to-date segments). Entries for files no longer present are
    * dropped. Returns the number of footers actually READ (0 on a
    * no-change refresh), counted by an executor-side accumulator.
    */
  def refresh(spark: SparkSession, dir: String): Int = {
    import spark.implicits._
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(dirPath).toSeq
      .filter(s => s.isFile &&
        s.getPath.getName.toLowerCase.endsWith(".parquet") &&
        !s.getPath.getName.contains(ManifestName))
      .map(s => (s.getPath.toString, s.getModificationTime, s.getLen))
      .sortBy(_._1)
    require(statuses.nonEmpty, s"no .parquet files under $dir")
    val prior: Map[String, FileMeta] =
      if (fs.exists(new Path(dir, ManifestName)))
        load(spark, dir).map(m => m.path -> m).toMap
      else Map.empty
    val (kept, toRead) = statuses.partition { case (p, mt, sz) =>
      prior.get(p).exists(m => m.mtime == mt && m.size == sz)
    }
    val footersRead =
      spark.sparkContext.longAccumulator("graft.metadata.footersRead")
    val fresh: Seq[FileMeta] =
      if (toRead.isEmpty) Seq.empty
      else {
        // sweep parallelism follows the CLUSTER (defaultParallelism /
        // conf), not a fixed constant — a 500k-file refresh must fan out
        // to every executor, not pin to the dev box's core count
        val par = spark.conf.getOption("graft.metadata.refreshParallelism")
          .map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism)
        // ship the SESSION hadoop conf to executors — a bare
        // Configuration() drops fs credentials/endpoints and the sweep
        // would fail on any non-default filesystem
        val confBc = spark.sparkContext.broadcast(
          new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
        spark.createDataset(toRead)
          .repartition(math.min(toRead.size, math.max(1, par)))
          .mapPartitions { it =>
            val conf = confBc.value.value
            it.map { case (f, mt, sz) =>
              footersRead.add(1L)
              readFooter(conf, f, mt, sz)
            }
          }
          .collect().toSeq // manifest rows: KBs per file set, metadata-scale
      }
    val metas = (kept.map { case (p, _, _) => prior(p) } ++ fresh)
      .sortBy(_.path)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = json.createArrayNode()
    metas.foreach { m =>
      val n = root.addObject()
      n.put("path", m.path); n.put("rows", m.rows)
      n.put("mtime", m.mtime); n.put("size", m.size)
      val cols = n.putObject("cols")
      m.cols.foreach { case (c, s) =>
        val cn = cols.putObject(c)
        cn.put("t", s.typ); cn.put("min", s.min); cn.put("max", s.max)
      }
    }
    // a failed replace throws: a silently-stale manifest would prune
    // against old min/max
    StagedFiles.replace(fs, new Path(dir, ManifestName),
      json.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    footersRead.value.toInt
  }

  private def readFooter(conf: Configuration, file: String,
                         mtime: Long, size: Long): FileMeta = {
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val stats = scala.collection.mutable.Map[String, ColStat]()
      // a column's file-level range is only trustworthy when EVERY row
      // group carries stats for it — one stat-less block (writers drop
      // stats for oversized values, or disable them) would understate
      // the range and pruning would silently drop its rows
      val statless = scala.collection.mutable.Set[String]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        statOf(c.getStatistics) match {
          case Some(s) if !statless.contains(name) =>
            stats(name) = stats.get(name).map(merge(_, s)).getOrElse(s)
          case Some(_) => // column already marked unknown
          case None =>
            // an all-null block has no min/max but prunes safely; only
            // a block with VALUES and no stats poisons the range
            val st = c.getStatistics
            val allNulls = st != null && st.isNumNullsSet &&
              st.getNumNulls == b.getRowCount
            if (!allNulls) { statless += name; stats.remove(name) }
        }
      }
      FileMeta(file, rows, stats.toMap, mtime, size)
    } finally r.close()
  }

  private def statOf(s: Statistics[_]): Option[ColStat] =
    if (s == null || !s.hasNonNullValue) None
    else s match {
      case l: LongStatistics   => Some(ColStat("long", l.getMin.toString, l.getMax.toString))
      case i: IntStatistics    => Some(ColStat("long", i.getMin.toString, i.getMax.toString))
      case d: DoubleStatistics => Some(ColStat("double", d.getMin.toString, d.getMax.toString))
      // WIDEN floats before stringifying: "0.1" (the shortest float
      // repr) parses back as double 0.1 which is NOT (double)0.1f —
      // a query boundary between the two silently pruned matching rows
      case f: FloatStatistics  => Some(ColStat("double",
        f.getMin.toDouble.toString, f.getMax.toDouble.toString))
      case b: BinaryStatistics => Some(ColStat("string",
        b.genericGetMin.toStringUsingUTF8, b.genericGetMax.toStringUsingUTF8))
      case _ => None // int96/boolean etc: no pruning stats, still scanned
    }

  private def merge(a: ColStat, b: ColStat): ColStat = a.typ match {
    case "string" => ColStat(a.typ,
      if (a.min <= b.min) a.min else b.min, if (a.max >= b.max) a.max else b.max)
    case "double" => ColStat(a.typ,
      math.min(a.min.toDouble, b.min.toDouble).toString,
      math.max(a.max.toDouble, b.max.toDouble).toString)
    case _ => ColStat(a.typ,
      math.min(a.min.toLong, b.min.toLong).toString,
      math.max(a.max.toLong, b.max.toLong).toString)
  }

  def load(spark: SparkSession, dir: String): Seq[FileMeta] = {
    val p = new Path(dir, ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no metadata cache at $dir — run refresh() first")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val root = try json.readTree(in.readAllBytes()) finally in.close()
    import scala.jdk.CollectionConverters._
    root.elements().asScala.map { n =>
      val cols = n.get("cols").properties().asScala
        .map(e => e.getKey -> ColStat(e.getValue.get("t").asText,
          e.getValue.get("min").asText, e.getValue.get("max").asText)).toMap
      FileMeta(n.get("path").asText, n.get("rows").asLong, cols,
        Option(n.get("mtime")).map(_.asLong).getOrElse(0L),
        Option(n.get("size")).map(_.asLong).getOrElse(0L))
    }.toSeq
  }

  /** Files whose [min,max] for `column` intersects [lo,hi] (numeric).
    * A file with no stats for the column is conservatively kept. */
  def prunedFiles(spark: SparkSession, dir: String, column: String,
                  lo: Double, hi: Double): Seq[String] =
    load(spark, dir).filter(m => m.cols.get(column) match {
      case Some(s) if s.typ != "string" =>
        // exact decimal compare: .toDouble on a >2^53 long stat rounds,
        // which could prune a file whose true max equals the bound
        BigDecimal(s.min) <= BigDecimal(hi) && BigDecimal(s.max) >= BigDecimal(lo)
      case _ => true
    }).map(_.path)

  /** Range read through the cache: plan the scan over ONLY the surviving
    * files (the predicate itself still applies — footer pruning is an
    * optimization, never a correctness dependency). */
  def readRange(spark: SparkSession, dir: String, column: String,
                lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    // STALENESS guard — the "never a correctness dependency" claim:
    // a file added after the last refresh() is absent from the manifest
    // (its rows would silently vanish from a manifest-planned scan) and
    // a deleted file would fail the job mid-scan. On any divergence,
    // fall back to the full directory scan (correct, just unpruned) —
    // run refresh() to restore pruning. Driver-side listing, metadata-
    // scale, the same class of work load() already does.
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveNames = fs.listStatus(dirPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen)).toSet
    val manifestNames = load(spark, dir)
      .map(m => (new Path(m.path).getName, m.size)).toSet
    if (liveNames != manifestNames)
      return spark.read.parquet(dir).filter(col(column) >= lo && col(column) <= hi)
    val files = prunedFiles(spark, dir, column, lo, hi)
    if (files.isEmpty) {
      val schema = spark.read.parquet(dir).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      spark.read.parquet(files: _*).filter(col(column) >= lo && col(column) <= hi)
  }
}
