package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.builder` sizes Spark's compiled-class cache
  * (`spark.sql.codegen.cache.maxEntries`) above graft's working set, so
  * a repeated statement is served its generated classes instead of
  * recompiling them with Janino.
  *
  * The conf is static and the cache is JVM-wide: its capacity is fixed
  * the first time Spark's CodeGenerator is used in a JVM, and no later
  * session can change it. So this spec runs in the suite's shared
  * `TestSpark` session, which the builder made; a session built here
  * with another value would not show it. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a working set above Spark's 100-entry default compiles once") {
    // 150 statements that differ only in an inlined literal: Spark
    // writes the constant into the generated source, so each statement
    // compiles classes of its own
    val deck = (1 to 150).map(k => s"SELECT id * 7 + $k AS v FROM range(10)")
    def pass(): Seq[Seq[Long]] = deck.map(spark.sql(_).collect().map(_.getLong(0)).toSeq)
    val c0 = compilations
    val first = pass()
    val c1 = compilations
    assert(c1 - c0 > 100, s"the deck compiled only ${c1 - c0} classes")
    assert(pass() == first)
    assert(compilations - c1 == 0, "the second pass recompiled generated classes")
  }

  test("sys.options reports the cache's cap") {
    val cap = spark.sql("SELECT value FROM sys.options " +
      "WHERE name = 'spark.sql.codegen.cache.maxEntries'").collect().map(_.getString(0))
    assert(cap.toSeq == Seq(GraftSession.CodegenCacheEntries.toString))
  }
}
