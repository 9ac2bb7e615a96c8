package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, concat, count, lit, sha2, substring, sum}
import org.scalatest.funsuite.AnyFunSuite

/** [[OneTaskScans]] on both sides of each of its bounds. The same 4000
  * rows are written as one tiny file, a small set of 3 tiny files, one
  * file just under and one just over `spark.sql.files.openCostInBytes`
  * (a padding column sets the size; the queries never read it) and 32
  * tiny files, whose packing cost passes `spark.sql.files.maxPartitionBytes`.
  * Every side gives identical answers; the one-task sides plan no shuffle
  * exchange and the others keep Spark's splits and exchanges. Only `dfs`
  * SQL names are candidates: the same file read as a DataFrame keeps
  * Spark's plan. The class keeps the rule's earlier name so that its
  * tests keep their names. */
class OneSplitScansSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private val OpenCost = 4L << 20

  private lazy val dir = {
    val d = "/tmp/graft_test/one_split"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = spark.range(1, 4001).select(col("id").as("k"), (col("id") % 7).as("g"),
      (col("id") * 1.5).as("v"), (col("id") % 5 === 0).as("flag"))
    rows.coalesce(1).write.parquet(s"$d/one")
    rows.repartition(3).write.parquet(s"$d/small")
    rows.repartition(32).write.parquet(s"$d/many")
    // `len` hex characters per row, uncompressed and without a
    // dictionary, so the file's size follows `len`
    def padded(len: Int) = rows.withColumn("pad", substring(concat(
      (0 until len / 64 + 1).map(i => sha2(concat(col("k").cast("string"), lit(s"/$i")), 256)): _*),
      1, len))
    for ((side, len) <- Seq("under" -> 980, "over" -> 1100))
      padded(len).coalesce(1).write.option("compression", "none")
        .option("parquet.enable.dictionary", "false").parquet(s"$d/$side")
    spark.range(0, 7).select(col("id").as("g"), col("id").cast("string").as("name"))
      .coalesce(1).write.parquet(s"$d/dim")
    d
  }

  private val sides = Seq("one", "small", "under", "over", "many")
  private val oneTask = Set("one", "small", "under")

  /** The data files of a fixture side and their total bytes. */
  private def files(side: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$side")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    (data.length, data.map(_.getLen).sum)
  }

  private def fact(side: String) = s"dfs.`$dir/$side`"
  private def dim = s"dfs.`$dir/dim`"

  private val queries: Seq[(String, String => String)] = Seq(
    "aggregate" -> (t => s"SELECT g, count(*) AS n, sum(v) AS s FROM $t " +
      "WHERE k > 100 GROUP BY g ORDER BY g"),
    "join" -> (t => s"SELECT name, count(*) AS n, sum(v) AS s FROM $t f " +
      s"JOIN $dim d ON f.g = d.g WHERE f.flag GROUP BY name ORDER BY name"),
    "window" -> (t => "SELECT k, sum(v) OVER (PARTITION BY g ORDER BY k ROWS " +
      s"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM $t WHERE k < 500"))

  private def run(sql: String): (DataFrame, Seq[String]) = {
    val df = spark.sql(sql)
    (df, df.collect().map(_.toString).sorted.toSeq)
  }

  private def shuffles(p: SparkPlan) = collectWithSubqueries(p) { case s: ShuffleExchangeLike => s }
  private def broadcasts(p: SparkPlan) = collectWithSubqueries(p) { case b: BroadcastExchangeLike => b }
  private def coalesces(p: SparkPlan) = collectWithSubqueries(p) { case c: CoalesceExec => c }
  /** The fixture directories whose scans sit under a coalesce. */
  private def coalescedScans(p: SparkPlan) = coalesces(p).flatMap(_.collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
  }.flatten).toSet

  private def splits(side: String) = spark.sql(s"SELECT * FROM ${fact(side)}")
    .queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }
    .get.inputRDD.getNumPartitions

  test("the split count comes from the input: the fixture plans 1 and >= 2 splits") {
    assert(splits("one") == 1)
    assert(splits("many") >= 2)
    // each side sits where its name says, measured on the written files
    val (nUnder, under) = files("under")
    val (nOver, over) = files("over")
    assert(nUnder == 1 && under <= OpenCost && under > OpenCost * 9 / 10, s"under: $under bytes")
    assert(nOver == 1 && over > OpenCost && over < OpenCost * 6 / 5, s"over: $over bytes")
    assert(files("small")._1 == 3 && files("small")._2 <= OpenCost)
    assert(files("many")._1 == 32)
    // Spark reads the just-under file as one split and the just-over
    // file as two; it spreads the small set over its cores
    assert(splits("under") == 1)
    assert(splits("over") >= 2)
    assert(splits("small") >= 2)
  }

  for ((name, q) <- queries) test(s"$name: identical rows on both sides of the gate") {
    val runs = sides.map(side => side -> run(q(fact(side))))
    val rowsOne = runs.head._2._2
    assert(rowsOne.nonEmpty)
    for ((side, (df, rows)) <- runs) {
      assert(rows == rowsOne, s"$side answers differently")
      val p = df.queryExecution.executedPlan
      assert(coalescedScans(p).contains(side) == oneTask(side), s"$side $name:\n$p")
      if (oneTask(side)) assert(shuffles(p).isEmpty, s"$side $name plans a shuffle:\n$p")
      else assert(shuffles(p).nonEmpty, s"$side $name lost its exchange:\n$p")
    }
  }

  test("join: the one-split side keeps its dimension broadcast") {
    val (df, _) = run(queries(1)._2(fact("one")))
    assert(broadcasts(df.queryExecution.executedPlan).nonEmpty)
  }

  test("a one-split aggregate runs as one Spark job") {
    val sql = queries.head._2(fact("one"))
    spark.sql(sql).collect() // resolve the schema once
    assert(jobsOf(spark.sql(sql).collect()) == 1)
    assert(jobsOf(spark.sql(queries.head._2(fact("many"))).collect()) > 1)
  }

  test("a lone file that Spark cannot split runs as one task at any size") {
    val path = s"$dir/gz"
    // 2048 hex characters per row: about 5 MB once gzipped
    spark.read.parquet(s"$dir/one").withColumn("pad", concat(
      (0 until 32).map(i => sha2(concat(col("k").cast("string"), lit(s"/gz$i")), 256)): _*))
      .coalesce(1).write.option("compression", "gzip").json(path)
    val (n, bytes) = {
      val p = new org.apache.hadoop.fs.Path(path)
      val gz = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .filter(_.getPath.getName.endsWith(".json.gz"))
      (gz.length, gz.map(_.getLen).sum)
    }
    assert(n == 1 && bytes > OpenCost, s"$n files, $bytes bytes")
    val (df, rows) = run(queries.head._2(s"dfs_read('$path', 'json')"))
    assert(rows == run(queries.head._2(fact("one")))._2)
    val p = df.queryExecution.executedPlan
    assert(shuffles(p).isEmpty && coalescedScans(p).contains("gz"), s"gzip plan:\n$p")
  }

  test("a small file set that Spark spreads over several splits runs as one Spark job") {
    val sql = queries.head._2(fact("small"))
    spark.sql(sql).collect() // resolve the schema once
    assert(jobsOf(spark.sql(sql).collect()) == 1)
    val over = queries.head._2(fact("over"))
    spark.sql(over).collect()
    assert(jobsOf(spark.sql(over).collect()) > 1)
  }

  /** A lake table of `rows` with a few rows deleted through the format's
    * merge-on-read writer, and the keys left. `files` is the number of
    * write tasks: 1, or 2 as the bench fixtures write (`repartition(2)`). */
  private def lake(fmt: String, files: Int): (String, Set[Long]) = {
    val path = s"$dir/lake_${fmt}_$files"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val keys = spark.range(1, 2001).select(col("id").as("k"), (col("id") % 7).as("g"))
    val rows = if (files == 1) keys.coalesce(1) else keys.repartition(files)
    val gone = col("k") % 10 === 3
    fmt match {
      case "delta" =>
        sources.DeltaLogWriter.write(rows, path)
        sources.DeltaDml.deleteDv(spark, path, gone)
      case "iceberg" =>
        sources.IcebergTable.write(rows, path)
        sources.IcebergTable.deleteFrom(spark, path, gone)
      case "paimon" =>
        sources.PaimonTable.writePk(rows, path, Seq("k"))
        sources.PaimonDml.delete(spark, path, gone)
    }
    (path, (1L to 2000L).filter(_ % 10 != 3).toSet)
  }

  /** A dfs GROUP BY over the table runs as one Spark job and answers the
    * planted keys. */
  private def oneJobLakeRead(fmt: String, files: Int): Unit = {
    val (path, keys) = lake(fmt, files)
    val sql = s"SELECT g, count(*) AS n, sum(k) AS s FROM dfs.`$path` GROUP BY g ORDER BY g"
    spark.sql(sql).collect() // resolve the schema once
    var got = Array.empty[org.apache.spark.sql.Row]
    assert(jobsOf { got = spark.sql(sql).collect() } == 1, s"$fmt over $files write tasks")
    assert(got.map(_.getLong(1)).sum == keys.size)
    assert(got.map(_.getLong(2)).sum == keys.sum)
  }

  for (fmt <- Seq("delta", "iceberg"))
    test(s"a dfs GROUP BY over a one-split $fmt table with deletes runs as one Spark job") {
      oneJobLakeRead(fmt, 1)
      oneJobLakeRead(fmt, 2)
    }

  test("a dfs GROUP BY over a bench-shape paimon PK table with deletes runs as one Spark job") {
    oneJobLakeRead("paimon", 1)
    oneJobLakeRead("paimon", 2)
  }

  test("a self-join of one file keeps its exchange") {
    val (df, rows) = run(s"SELECT a.g, count(*) AS n FROM ${fact("one")} a " +
      s"JOIN ${fact("one")} b ON a.k = b.k + 1 GROUP BY a.g")
    assert(rows.size == 7)
    val p = df.queryExecution.executedPlan
    assert(shuffles(p).nonEmpty && coalesces(p).isEmpty, s"self-join plan:\n$p")
  }

  test("a one-split file read outside the dfs namespace keeps its exchanges") {
    val sql = spark.sql(queries.head._2(fact("one")))
    for (df <- Seq(spark.read.parquet(s"$dir/one"), GraftSession.readParquet(spark, s"$dir/one"))) {
      val agg = df.where(col("k") > 100).groupBy("g")
        .agg(count("*").as("n"), sum("v").as("s")).orderBy("g")
      assert(agg.collect().toSeq == sql.collect().toSeq)
      val p = agg.queryExecution.executedPlan
      assert(shuffles(p).nonEmpty && coalesces(p).isEmpty, s"direct read plan:\n$p")
    }
  }

  test("PushedFilters and ReadSchema are the plan's without the rule") {
    val df = spark.sql(s"SELECT g, sum(v) FROM ${fact("one")} WHERE k > 100 AND flag GROUP BY g")
    df.collect()
    def scan(p: SparkPlan) = collectWithSubqueries(p) { case s: FileSourceScanExec => s }.head
    val withRule = scan(df.queryExecution.executedPlan).metadata
    val without = scan(df.queryExecution.sparkPlan).metadata
    assert(coalesces(df.queryExecution.executedPlan).nonEmpty)
    for (k <- Seq("PushedFilters", "PartitionFilters", "ReadSchema"))
      assert(withRule(k) == without(k), k)
  }

  test("a graft.Bench sf0.1 query over a several-split fact scan plans unchanged") {
    val sf01 = new java.io.File(new java.io.File(SF).getParentFile, "sf0.1").getPath
    assume(new java.io.File(sf01).isDirectory, s"$sf01 not present")
    val planned = SparkEntry.queries("q1_agg")(spark, sf01).queryExecution.sparkPlan
    val scan = planned.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.inputRDD.getNumPartitions >= 2)
    assert(OneTaskScans(planned) eq planned)
  }
}
