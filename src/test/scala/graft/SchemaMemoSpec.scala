package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's parquet schema memo: keys that never alias, a stamp
  * that sees a rewritten directory, and a bounded LRU. */
class SchemaMemoSpec extends AnyFunSuite {
  private val sa = new StructType().add("a", LongType)
  private val sb = new StructType().add("b", StringType)

  /** Returns `s`, counting the calls: a memo hit never evaluates it. */
  private class Infer { var calls = 0; def apply(s: StructType) = { calls += 1; s } }

  test("path lists that concatenate alike keep separate entries") {
    val base = Files.createTempDirectory("memo").toString
    val two = Seq(s"$base/a", s"$base/b")
    val one = Seq(s"$base/a$base/b") // == two.mkString("")
    assert(SchemaMemo.key(two) != SchemaMemo.key(one))
    val memo = new SchemaMemo(8)
    val infer = new Infer
    assert(memo.schema(two)(infer(sa)) == sa)
    assert(memo.schema(one)(infer(sb)) == sb)
    // both entries held: neither caller evicts the other's schema
    assert(memo.schema(two)(infer(sb)) == sa)
    assert(memo.schema(one)(infer(sa)) == sb)
    assert(memo.size == 2 && infer.calls == 2)
  }

  test("a new file in a read directory re-infers its schema") {
    val dir = Files.createTempDirectory("memo")
    val memo = new SchemaMemo(8)
    val infer = new Infer
    memo.schema(Seq(dir.toString))(infer(sa))
    memo.schema(Seq(dir.toString))(infer(sa))
    assert(infer.calls == 1)
    Files.writeString(dir.resolve("part-1.parquet"), "x")
    assert(memo.schema(Seq(dir.toString))(infer(sb)) == sb)
    assert(infer.calls == 2)
  }

  test("the memo holds at most its bound, evicting the least recently used") {
    val base = Files.createTempDirectory("memo").toString
    val Seq(p1, p2, p3) = Seq("t1", "t2", "t3").map(n => Seq(s"$base/$n"))
    val memo = new SchemaMemo(2)
    val infer = new Infer
    memo.schema(p1)(infer(sa))
    memo.schema(p2)(infer(sa))
    memo.schema(p1)(infer(sa)) // hit: p1 is now the most recent
    memo.schema(p3)(infer(sa))
    assert(memo.size == 2 && infer.calls == 3)
    assert(memo.contains(p1) && !memo.contains(p2) && memo.contains(p3))
    memo.schema(p2)(infer(sa)) // evicted: inferred again
    assert(infer.calls == 4)
  }
}
