package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, LambdaFunction, Lower, NamedLambdaVariable, RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Scrub, Similarity}

/** Higher-order-function lambdas are interpreted and get no subexpression
  * elimination, so an expression inside a lambda body runs once per array
  * element. These specs walk every LambdaFunction body of the optimized
  * plans a pipeline operator runs (the plan it returns, every query it
  * executes on the way, and the cached plans those read) and fail when a
  * body re-tokenizes text (regexp_replace / split / lower) or holds a
  * higher-order function over a lambda-invariant array — both are
  * per-document work repeated per element. */
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

  /** What is wrong with each lambda body of `plan` (empty when nothing). */
  private def faults(plan: QueryPlan[_]): Seq[String] =
    expressionsOf(plan).flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap { body =>
        body.collect {
          case e @ (_: RegExpReplace | _: StringSplit | _: Lower) =>
            s"${e.prettyName} inside a lambda: $body"
          case h: HigherOrderFunction if h.arguments.exists(a =>
              a.find(_.isInstanceOf[NamedLambdaVariable]).isEmpty) =>
            s"lambda-invariant ${h.prettyName} inside a lambda: $body"
        }
      }.distinct

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
}
