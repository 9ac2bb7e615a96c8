package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the properties that make these queries scale are
  * asserted on the EXECUTED plan, not just implied — pushdown reaching
  * the parquet scan, projection pruning in ReadSchema, dimension
  * broadcast, two-phase aggregation, whole-stage codegen. */
class PlanAuditSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** Materialize first: AQE finalizes (and codegen-annotates) the plan
    * only on execution; the string also truncates long filter lists. */
  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, SF)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_pushdown: predicates reach the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate filter should push to parquet")
  }

  test("q_scan_project: ReadSchema prunes to the selected columns") {
    val p = plan("q_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"unpruned scan: $readSchema")
  }

  test("q_multi_join: dimension tables broadcast, facts shuffle") {
    val p = plan("q_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation/region should broadcast")
  }

  test("q1_agg: two-phase hash aggregation inside whole-stage codegen") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg expected")
    assert(p.contains("*("), "whole-stage codegen stages expected")
  }

  test("q_dir_pruning: filter lands in PartitionFilters with no data filter") {
    val p = plan("q_dir_pruning")
    assert(p.contains("PartitionFilters:") && p.contains("o_orderstatus"))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("DataFilters: []"), s"data filter should be empty: $scanLine")
  }

  test("q_ann_bruteforce: only the query side broadcasts") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "corpus must stream, never cartesian")
  }

  test("q_redact: narrow projection — ZERO exchanges, fused into the scan") {
    val df = SparkEntry.queries("q_redact")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"redaction must be a map-only projection, found a shuffle:\n$p")
    assert(p.contains("*("), "should fuse under whole-stage codegen")
  }

  test("capped minhash plans the row_number skew guard; capless does not") {
    val capped = graft.pipeline.Dedup.minhashNearDups(
      GraftSession.table(spark, SF, "documents"), "doc_id", "text",
      maxBucket = 100000)
    assert(capped.queryExecution.analyzed.toString.contains("row_number"),
      "cap on => bucket guard window must be planned")
    val capless = graft.pipeline.Dedup.minhashNearDups(
      GraftSession.table(spark, SF, "documents"), "doc_id", "text",
      maxBucket = Int.MaxValue)
    assert(!capless.queryExecution.analyzed.toString.contains("row_number"),
      "cap off => no window, band self-join stays broadcastable")
  }

  test("capped simhash64 plans the row_number skew guard; capless does not") {
    val capped = graft.pipeline.Dedup.simhashNearDups64(
      GraftSession.table(spark, SF, "documents"), "doc_id", "text",
      maxBucket = 100000)
    assert(capped.queryExecution.analyzed.toString.contains("row_number"),
      "cap on => bucket guard window must be planned")
    val capless = graft.pipeline.Dedup.simhashNearDups64(
      GraftSession.table(spark, SF, "documents"), "doc_id", "text",
      maxBucket = Int.MaxValue)
    assert(!capless.queryExecution.analyzed.toString.contains("row_number"),
      "cap off => no window, block self-join stays broadcastable")
  }

  test("delta reader: predicates + pruning reach the underlying parquet scan") {
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLogReader
    val base = "/tmp/graft_test/delta_planaudit"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val src = GraftSession.table(spark, SF, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val sz = DeltaLogReader.writeDataFile(src, base, "data.parquet")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      DeltaLogReader.metaDataAction(src.schema, Nil),
      s"""{"add":{"path":"data.parquet","partitionValues":{},"size":$sz,"modificationTime":1,"dataChange":true}}"""))
    val q = DeltaLogReader.read(spark, base)
      .filter(col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]"),
      s"delta read must keep parquet pushdown intact:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderstatus"),
      s"column pruning must reach the delta data files: $readSchema")
  }

  test("provided-schema CSV read: coercion fuses into the scan, zero exchanges") {
    val df = SparkEntry.queries("q_provided_schema")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"declared-schema coercion must be a map-only projection:\n$p")
  }

  test("partitioned delta: a partition filter prunes whole file groups at plan time") {
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLogReader
    val base = "/tmp/graft_test/delta_prune"
    val pth = new org.apache.hadoop.fs.Path(base)
    pth.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pth, true)
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((2L, "y")).toDF("k", "v")
    val szA = DeltaLogReader.writeDataFile(a, base, "p=10/a.parquet")
    val szB = DeltaLogReader.writeDataFile(b, base, "p=20/b.parquet")
    val full = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING, p INT")
    DeltaLogReader.writeCommit(spark, base, 0, Seq(
      DeltaLogReader.metaDataAction(full, Seq("p")),
      s"""{"add":{"path":"p=10/a.parquet","partitionValues":{"p":"10"},"size":$szA,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"p=20/b.parquet","partitionValues":{"p":"20"},"size":$szB,"modificationTime":1,"dataChange":true}}"""))
    val q = DeltaLogReader.read(spark, base).filter(col("p") === 10)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // partition values are plan literals: the p=20 branch folds to false
    // and its scan disappears — one parquet scan survives
    val scans = "Scan parquet".r.findAllIn(q.queryExecution.executedPlan.toString).size
    assert(scans == 1,
      s"partition filter must prune the non-matching file group, saw $scans scans")
  }

  test("q_hll_sketch: sketches partial-aggregate map-side before the union") {
    val p = plan("q_hll_sketch")
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial_"),
      "per-group sketch build must combine map-side")
  }

  test("q_bm25: corpus stats broadcast; only matched query terms shuffle") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastExchange"),
      "df/N/avgdl statistics must broadcast, not shuffle-join")
    // the term filter must run BEFORE the tf aggregation's exchange:
    // the only shuffled rows are (doc, matched term) pairs
    val filterIdx = p.indexOf("spark")
    assert(filterIdx >= 0, "term filter should appear in the plan")
    assert(!p.contains("CartesianProduct"), "stats join must broadcast")
  }

  test("q_vocab_topk: distributed top-k (TakeOrderedAndProject), window only on survivors") {
    val df = SparkEntry.queries("q_vocab_topk")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary top-k must not globally sort the term table:\n$p")
    assert(p.contains("partial_count"), "term counts must combine map-side")
  }

  test("q_embed_quantize: ZERO exchanges — quantization fuses into the scan") {
    val df = SparkEntry.queries("q_embed_quantize")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"int8 quantization must be a map-only projection:\n$p")
  }

  test("q_ngram_decontam: reference grams deduplicate before the join " +
      "and the join keys are hashes, not gram strings") {
    val df = SparkEntry.queries("q_ngram_decontam")(spark, SF)
    df.collect()
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("xxhash64"),
      "join key must be the 64-bit token-window hash, never a gram string")
    assert(!analyzed.contains("array_join"),
      "no n-gram string may be materialized on the hash path")
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "distinct on reference grams + per-doc count must both aggregate")
  }

  test("q_unigram_ppl: corpus total broadcasts; vocab join never cartesian") {
    val df = SparkEntry.queries("q_unigram_ppl")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), "the 1-row total must broadcast")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("q_dsir: totals broadcast, no cartesian, raw gram exchange REUSED") {
    val df = SparkEntry.queries("q_dsir")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), "the 1-row totals must broadcast")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    // the per-doc gram stream feeds the raw model counts AND the weight
    // join from ONE shuffle — the corpus tokenizes once, not twice
    assert(p.contains("ReusedExchange"),
      s"raw gram shuffle must be shared between model and weights:\n$p")
  }

  test("q_temperature_mix: per-source rates broadcast onto docs (no doc shuffle)") {
    val df = SparkEntry.queries("q_temperature_mix")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"rates (|sources| rows) must broadcast-join the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"docs must never shuffle for the rate join:\n$p")
  }

  test("q_stratified_sample: one shuffle on the stratum key, then rank-filter") {
    val df = SparkEntry.queries("q_stratified_sample")(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), "per-stratum rank expected")
    assert(!p.contains("Exchange SinglePartition"),
      s"stratified sampling must never single-partition the corpus:\n$p")
  }

  test("q_asof_join: one window pass, ZERO join operators") {
    val p = plan("q_asof_join")
    // the whole point of the union+window spelling: |L|+|R| rows shuffle
    // once on the key; no pair-building join of any kind in the plan
    assert(p.contains("Window"), s"windowed carry-forward expected:\n$p")
    assert(!p.contains("Join"), s"asof must not build row pairs:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q_asof_forward: same zero-join window plan as backward") {
    val p = plan("q_asof_forward")
    assert(p.contains("Window"), s"windowed carry-back expected:\n$p")
    assert(!p.contains("Join"), s"forward asof must not build row pairs:\n$p")
  }

  test("q_range_join: bin equi-join, no nested-loop / cartesian plan") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"interval predicate must convert to a bin equi-join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"equi-join on (bin, key) expected:\n$p")
  }

  /** Position deletes (v2 parquet, v3 DVs) apply as a predicate inside
    * the scan's task: no join, no broadcast of a delete set, and no
    * exchange between the file scan and the delete filter, so data rows
    * never shuffle to apply deletes. */
  private def assertDeletesInScan(q: String): Unit = {
    val df = SparkEntry.queries(q)(spark, SF)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    assert(!p.contains("LeftAnti"), s"no anti-join for position deletes:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"no delete set is broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data rows must not shuffle to apply deletes:\n$p")
    val filters = collect(plan) {
      case f: FilterExec if f.condition.toString.contains("deleted_row") => f
    }
    assert(filters.nonEmpty, s"no scan-side delete filter:\n$p")
    filters.foreach { f =>
      assert(f.exists(_.isInstanceOf[FileSourceScanExec]), s"delete filter over no scan:\n$f")
      assert(!f.exists(n => n.isInstanceOf[Exchange] || n.isInstanceOf[QueryStageExec]),
        s"an exchange sits between the scan and its delete filter:\n$f")
    }
  }

  test("q_iceberg_v2: position deletes apply inside the scan, no join") {
    assertDeletesInScan("q_iceberg_v2")
  }

  test("q_iceberg_v3_dv: deletion vectors apply inside the scan, no join") {
    assertDeletesInScan("q_iceberg_v3_dv")
  }

  test("q_iceberg_eq_delete: equality deletes apply as broadcast anti-joins") {
    val p = plan("q_iceberg_eq_delete")
    assert(p.contains("LeftAnti"), s"anti-join for equality deletes:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"small delete set should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"equality columns must be equi-join keys, seq a residual:\n$p")
  }

  test("q_paimon_pk: LSM merge is one partial aggregation, no window") {
    val p = plan("q_paimon_pk")
    // deduplicate merge = max_by per key → ObjectHashAggregate with a
    // partial phase before the key shuffle; a window/sort spelling would
    // shuffle the whole table then sort every partition
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"max_by aggregation expected:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial"),
      s"map-side partial merge expected:\n$p")
    assert(!p.contains("Window"), s"no window pass for the merge:\n$p")
  }

  test("q_token_shards: running sum is two-phase — no whole-table global window") {
    val p = plan("q_token_shards")
    // corpus-sized cumsum partitions by the deterministic id bucket
    // (shuffled once on it); a global doc-ordered window would appear as
    // windowspecdefinition(doc_id#... ASC with no leading partition col
    assert(p.contains("windowspecdefinition(_bkt"),
      s"corpus cumsum must partition by _bkt:\n$p")
    assert(p.contains("hashpartitioning(_bkt"),
      s"corpus should shuffle once on the bucket:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"no whole-corpus global window allowed:\n$p")
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // hive-layout fact (built by q_dir_pruning's fixture) joined to a
    // filtered dim — Spark's DPP should plan a dynamicpruning subquery
    // on the fact scan instead of reading every partition
    SparkEntry.queries("q_dir_pruning")(spark, SF).collect() // build fixture
    val fact = spark.read.parquet(
      s"/tmp/graft_out/${new java.io.File(SF).getName}/orders_by_status")
    import spark.implicits._
    // dim must be file-backed: an inline relation constant-folds its
    // filter into a LocalTableScan, and DPP's selective-predicate check
    // needs a live Filter on the build side
    val dimPath = java.nio.file.Files.createTempDirectory("dpp").toString + "/dim"
    Seq(("F", "final"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(dim, fact("o_orderstatus") === dim("status"))
      .filter(col("label") === "final")
      .agg(count(lit(1)).as("n"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning") ||
      p.contains("dynamicpruningexpression"),
      s"DPP expression expected on the partitioned fact scan:\n$p")
  }

  test("runtime bloom filter prunes fact rows ahead of a selective join") {
    val prevB = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffle-join shape the filter exists for (broadcast joins
    // already prune build-side misses) and let the tiny test tables clear
    // the size gates
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = GraftSession.table(spark, SF, "lineitem")
      val ord = GraftSession.table(spark, SF, "orders")
        .filter(col("o_totalprice") > 300000) // selective build side
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"runtime bloom filter expected on the fact side:\n$p")
    } finally {
      prevB.fold(spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"))(
        v => spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", v))
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      prevT.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        v => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    }
  }
}
