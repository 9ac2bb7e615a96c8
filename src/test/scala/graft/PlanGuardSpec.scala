package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, HigherOrderFunction, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Scrub, Similarity}
import graft.streaming.Events

/** Higher-order-function lambdas are interpreted and get no subexpression
  * elimination, so an expression inside a lambda body runs once per array
  * element. These specs walk every LambdaFunction body of the optimized
  * plans a pipeline operator runs (the plan it returns, every query it
  * executes on the way, the cached plans those read, and a streaming
  * query's last micro-batch) and fail when a body holds a subexpression
  * that reads no lambda variable and is neither an attribute nor a
  * constant (a tokenizer, a kernel call such as minhash_sig), or a
  * higher-order function over a lambda-invariant array — both are
  * per-document work repeated per element. They also fail when a
  * minhash_sig call reads an inlined token set rather than a projected
  * one: a predicate pushed below the projections re-runs the tokenizer
  * and the kernel in each copy. */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every expression of `plan`, its subqueries, children, and the
    * physical plans behind cache reads and adaptive stages. */
  private def expressionsOf(plan: QueryPlan[_]): Seq[Expression] = {
    val inner: Seq[QueryPlan[_]] = plan match {
      case r: InMemoryRelation => Seq(r.cachedPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val nested = plan.children.asInstanceOf[Seq[QueryPlan[_]]] ++
      plan.subqueries.asInstanceOf[Seq[QueryPlan[_]]] ++ inner
    plan.expressions ++ nested.flatMap(expressionsOf)
  }

  /** The largest subexpressions of a lambda body that read no lambda
    * variable and are neither an attribute nor a constant. */
  private def invariant(e: Expression): Seq[Expression] = e match {
    case _: NamedLambdaVariable | _: Attribute => Nil
    case _ if e.foldable => Nil
    case _ if e.find(_.isInstanceOf[NamedLambdaVariable]).isEmpty => Seq(e)
    case _ => e.children.flatMap(invariant)
  }

  /** What is wrong with each lambda body of `plan`, and each minhash_sig
    * call that re-derives its token set instead of reading a projected
    * one (empty when nothing). */
  private def faults(plan: QueryPlan[_]): Seq[String] = {
    val exprs = expressionsOf(plan)
    val lambdaFaults = exprs.flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap { body =>
        invariant(body).map(e => s"lambda-invariant ${e.prettyName} inside a lambda: $body") ++
        body.collect {
          case h: HigherOrderFunction if h.arguments.exists(a =>
              a.find(_.isInstanceOf[NamedLambdaVariable]).isEmpty) =>
            s"lambda-invariant ${h.prettyName} inside a lambda: $body"
        }
      }
    val inlinedSig = exprs.flatMap(_.collect {
      case e if e.prettyName == "minhash_sig" && !e.children.head.isInstanceOf[Attribute] =>
        s"minhash_sig over an inlined token set: ${e.toString.take(300)}"
    })
    (lambdaFaults ++ inlinedSig).distinct
  }

  /** Runs `op`, then checks the optimized plan of every query it executed
    * plus the optimized plan of each frame it returns. */
  private def guard(what: String)(op: => Seq[DataFrame]): Unit = {
    val seen = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val outs = try {
      val dfs = op
      dfs.foreach(_.collect())
      ListenerBusDrain(spark.sparkContext)
      dfs
    } finally spark.listenerManager.unregister(listener)
    val plans = outs.map(_.queryExecution) ++ seen.synchronized(seen.toList)
    val found = plans.flatMap(qe => faults(qe.optimizedPlan)).distinct
    assert(found.isEmpty, s"$what:\n" + found.mkString("\n"))
  }

  /** Runs the streaming frame `build` makes from a (doc_id, ts, text)
    * source over one micro-batch of [[docs]]' rows, then checks the
    * optimized plan of that micro-batch. */
  private def guardStream(what: String)(build: DataFrame => DataFrame): Unit = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = build(input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("noop").outputMode("append").start()
    try {
      input.addData(docs.collect().toSeq.map(r =>
        (r.getLong(0), new Timestamp(100000L), r.getString(1))): _*)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
      val found = faults(plan)
      assert(found.isEmpty, s"$what:\n" + found.mkString("\n"))
    } finally q.stop()
  }

  // repartitioned: a projection straight over a local relation is
  // evaluated by the optimizer and leaves no expressions to inspect
  private lazy val docs = Seq(
    (1L, "Alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha  beta\tgamma delta epsilon zeta eta iota"),
    (3L, "the cat sat on the mat the cat sat on the mat"),
    (4L, "unrelated words that share nothing at all here"),
    (5L, ""), (6L, null)).toDF("doc_id", "text").repartition(2)
  private lazy val ref = Seq((100L, "gamma delta epsilon zeta eta"))
    .toDF("doc_id", "text")

  test("ngramDecontaminate: no lambda re-tokenizes the document") {
    guard("ngramDecontaminate") {
      Seq(Dedup.ngramDecontaminate(docs, ref, "doc_id", "text", n = 5))
    }
  }

  test("contaminationScore: no lambda re-tokenizes the document") {
    guard("contaminationScore") {
      Seq(Dedup.contaminationScore(docs, ref, "doc_id", "text", n = 5))
    }
  }

  test("repetitionBp: no lambda re-tokenizes the document") {
    guard("repetitionBp") {
      Seq(docs.select(col("doc_id"), Scrub.repetitionBp(col("text"), 3)))
    }
  }

  test("ngramJaccardPairs: no lambda re-tokenizes the document") {
    guard("ngramJaccardPairs") {
      Seq(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.1))
    }
  }

  test("tokenChunks: no lambda re-tokenizes the document") {
    guard("tokenChunks")(Seq(Scrub.tokenChunks(docs, "doc_id", "text", 2)))
  }

  test("minhashNearDups: no lambda re-tokenizes the document") {
    guard("minhashNearDups") {
      Seq(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3),
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3,
          collapseExactDups = false))
    }
  }

  test("decontaminateStream (3 reference docs): no lambda tokenizes or minhashes") {
    val refs = Seq((100L, "gamma delta epsilon zeta eta"),
      (101L, "the cat sat on the mat"), (102L, "unrelated words here"))
      .toDF("doc_id", "text").repartition(2)
    guardStream("decontaminateStream, 3 reference docs")(
      Events.decontaminateStream(_, refs, "text", threshold = 0.3))
  }

  test("decontaminateStream (4,097 reference docs): no lambda tokenizes or minhashes") {
    val refs = spark.range(4097).select(col("id").as("doc_id"),
      concat_ws(" ", lit("ref"), col("id").cast("string"), lit("words")).as("text"))
    guardStream("decontaminateStream, 4,097 reference docs")(
      Events.decontaminateStream(_, refs, "text", threshold = 0.3))
  }

  test("nearDedupStream: no lambda tokenizes or minhashes") {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(key, "false")
    try guardStream("nearDedupStream")(
      Events.nearDedupStream(spark, _, threshold = 0.3, watermarkDelaySec = 10,
        voteWindowSec = 5))
    finally spark.conf.set(key, "true")
  }

  test("kmeans: no lambda recomputes a vector's norm per element") {
    val vecs = (1 to 12).map(i =>
      (i.toLong, Seq.tabulate(4)(d => if (d == i % 4) 1.0 + i else 0.1 * d)))
      .toDF("vec_id", "embedding").repartition(2)
    guard("kmeans") {
      val (assigned, centroids) = Similarity.kmeans(vecs, k = 3, iters = 3)
      Seq(assigned, centroids)
    }
  }

  test("the guard itself flags an inlined tokenizer and an invariant aggregate") {
    val words = split(lower(col("text")), " ")
    val inlined = docs.select(transform(sequence(lit(1), size(words)),
      i => element_at(words, i)).as("w"))
    assert(faults(inlined.queryExecution.optimizedPlan).nonEmpty)
    val v = Seq((1L, Seq(3.0, 4.0))).toDF("id", "v").repartition(2)
    val n = sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
    assert(faults(v.select(transform(col("v"), x => x / n))
      .queryExecution.optimizedPlan).nonEmpty)
  }

  test("the guard flags a row-invariant kernel call inside a lambda") {
    // minhash_sig once per band: the banding shape the guard must catch
    val th = docs.select(Dedup.tokenSet(col("text")).as("th")).repartition(2)
    val perBand = th.select(transform(sequence(lit(0), lit(31)), b =>
      xxhash64(b, slice(Dedup.minhashSignatureFromHashes(col("th"), 128),
        b * 4 + 1, lit(4)))).as("bands"))
    assert(faults(perBand.queryExecution.optimizedPlan)
      .exists(_.contains("minhash_sig")))
  }

  test("the guard flags a token set inlined into a pushed-down filter") {
    // exploding a band-key COLUMN makes Spark infer size(bands) > 0 and
    // push it below the projections, inlining tokenizer and kernel there
    val banded = docs.select(Dedup.tokenSet(col("text")).as("th"))
      .withColumn("sig", Dedup.minhashSignatureFromHashes(col("th"), 128))
      .withColumn("bands", Dedup.lshBandKeys(col("sig"), 32, 4))
      .select(explode(col("bands")).as("band"))
    assert(faults(banded.queryExecution.optimizedPlan)
      .exists(_.contains("inlined token set")))
  }
}
