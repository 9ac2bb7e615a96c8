package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, count, sum}
import org.scalatest.funsuite.AnyFunSuite

/** [[OneSplitScans]] on both sides of the one-split gate: the same rows
  * from one file and from several files give identical answers; the
  * one-split side plans no shuffle exchange and the several-split side
  * keeps its exchanges. Only `dfs` SQL names are candidates: the same
  * file read as a DataFrame keeps Spark's plan. */
class OneSplitScansSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private lazy val dir = {
    val d = "/tmp/graft_test/one_split"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = spark.range(1, 4001).select(col("id").as("k"), (col("id") % 7).as("g"),
      (col("id") * 1.5).as("v"), (col("id") % 5 === 0).as("flag"))
    rows.coalesce(1).write.parquet(s"$d/one")
    rows.repartition(4).write.parquet(s"$d/many")
    spark.range(0, 7).select(col("id").as("g"), col("id").cast("string").as("name"))
      .coalesce(1).write.parquet(s"$d/dim")
    d
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

  test("the split count comes from the input: the fixture plans 1 and >= 2 splits") {
    def splits(side: String) = spark.sql(s"SELECT * FROM ${fact(side)}")
      .queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }
      .get.inputRDD.getNumPartitions
    assert(splits("one") == 1)
    assert(splits("many") >= 2)
  }

  for ((name, q) <- queries) test(s"$name: identical rows on both sides of the gate") {
    val (one, rowsOne) = run(q(fact("one")))
    val (many, rowsMany) = run(q(fact("many")))
    assert(rowsOne.nonEmpty && rowsOne == rowsMany)
    val p1 = one.queryExecution.executedPlan
    assert(shuffles(p1).isEmpty, s"one-split $name plans a shuffle:\n$p1")
    assert(coalesces(p1).nonEmpty, s"one-split $name is not coalesced:\n$p1")
    val pN = many.queryExecution.executedPlan
    assert(shuffles(pN).nonEmpty, s"several-split $name lost its exchange:\n$pN")
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

  /** A one-file lake table of `rows` with a few rows deleted through
    * the format's merge-on-read writer, and the keys left. */
  private def lake(fmt: String): (String, Set[Long]) = {
    val path = s"$dir/lake_$fmt"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = spark.range(1, 2001).select(col("id").as("k"), (col("id") % 7).as("g"))
      .coalesce(1)
    val gone = col("k") % 10 === 3
    fmt match {
      case "delta" =>
        sources.DeltaLogWriter.write(rows, path)
        sources.DeltaDml.deleteDv(spark, path, gone)
      case "iceberg" =>
        sources.IcebergTable.write(rows, path)
        sources.IcebergTable.deleteFrom(spark, path, gone)
    }
    (path, (1L to 2000L).filter(_ % 10 != 3).toSet)
  }

  for (fmt <- Seq("delta", "iceberg"))
    test(s"a dfs GROUP BY over a one-split $fmt table with deletes runs as one Spark job") {
      val (path, keys) = lake(fmt)
      val sql = s"SELECT g, count(*) AS n, sum(k) AS s FROM dfs.`$path` GROUP BY g ORDER BY g"
      spark.sql(sql).collect() // resolve the schema once
      var got = Array.empty[org.apache.spark.sql.Row]
      assert(jobsOf { got = spark.sql(sql).collect() } == 1)
      assert(got.map(_.getLong(1)).sum == keys.size)
      assert(got.map(_.getLong(2)).sum == keys.sum)
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
    assert(OneSplitScans(planned) eq planned)
  }
}
