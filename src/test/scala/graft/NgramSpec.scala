package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Scrub, TextAnalysis}

/** The n-gram operators against plain-Scala string references on the
  * edge cases tokenization gets wrong: NULL, empty and whitespace-only
  * text, leading newlines, mixed case with tabs and runs of spaces, docs
  * of exactly n and n-1 words, and a gram repeated within one doc. */
class NgramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** TextAnalysis.normalize in plain Scala (ASCII inputs: lower, runs of
    * \s to one space, strip spaces at both ends). */
  private def norm(s: String): String =
    s.toLowerCase.replaceAll("\\s+", " ").dropWhile(_ == ' ').reverse
      .dropWhile(_ == ' ').reverse

  /** A doc's word n-grams as strings, in order (none under n words). */
  private def grams(s: String, n: Int): Seq[String] =
    Option(s).map(norm).filter(_.nonEmpty).toSeq.flatMap { t =>
      t.split(" ").toSeq.sliding(n).filter(_.size == n).map(_.mkString(" "))
    }

  private def edgeDocs(n: Int): Seq[(Long, String)] = {
    val w = (1 to n + 1).map(i => s"w$i")
    Seq(
      1L -> null, 2L -> "", 3L -> " \t\n  ",
      4L -> ("\n" + w.take(n).mkString(" ")),               // leading newline
      5L -> w.take(n).map(_.toUpperCase).mkString("\t  "),  // case, tabs, runs
      6L -> w.take(n).mkString(" "),                        // exactly n words
      7L -> w.take(n - 1).mkString(" "),                    // n - 1 words
      8L -> (w.take(n) ++ w.take(n)).mkString(" "),         // a repeated gram
      9L -> (w.drop(1) :+ "tail").mkString(" "),            // one gram shared
      10L -> "nothing shared with the reference set at all here")
  }

  private val refDocs = Seq(
    100L -> null, 101L -> "", 102L -> "   ",
    103L -> "W1 w2 W3 w4 w5 w6", 104L -> "w2\tw3  w4 w5 w6 W7", 105L -> "w1")

  for (n <- Seq(1, 5)) {
    test(s"ngramDecontaminate and contaminationScore match a string reference at n = $n") {
      val corpus = edgeDocs(n)
      val refGrams = refDocs.flatMap(d => grams(d._2, n)).toSet
      val want = corpus.flatMap { case (id, t) =>
        val g = grams(t, n).distinct
        if (g.isEmpty) None
        else Some((id, g.size.toLong, g.count(refGrams).toLong))
      }
      val c = corpus.toDF("doc_id", "text")
      val r = refDocs.toDF("doc_id", "text")
      val flagged = Dedup.ngramDecontaminate(c, r, "doc_id", "text", n = n)
        .as[(Long, Long)].collect().toMap
      assert(flagged === want.filter(_._3 > 0).map(x => x._1 -> x._3).toMap)
      val scored = Dedup.contaminationScore(c, r, "doc_id", "text", n = n)
        .select("doc_id", "n_grams", "n_shared", "score")
        .as[(Long, Long, Long, Double)].collect()
        .map(x => x._1 -> x).toMap
      assert(scored.keySet === want.map(_._1).toSet)
      want.foreach { case (id, ng, ns) =>
        assert(scored(id) === ((id, ng, ns, ns.toDouble / ng)), s"doc $id")
      }
      // the edge rows this spec exists for
      assert(!scored.contains(1L) && !scored.contains(2L) && !scored.contains(3L))
      assert(!scored.contains(7L))
      assert(scored(8L)._2 === n.toLong) // n + 1 windows, n distinct
    }
  }

  test("wordNgrams and repetitionBp match a string reference") {
    val docs = (edgeDocs(3) ++ Seq(11L -> "a b c a b c a b c", 12L -> "x y"))
    val got = docs.toDF("doc_id", "text").repartition(2) // codegen path
      .select(col("doc_id"), TextAnalysis.wordNgrams(col("text"), 3),
        Scrub.repetitionBp(col("text"), 3))
      .as[(Long, Option[Seq[String]], Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    docs.foreach { case (id, t) =>
      val g = grams(t, 3)
      val bp = if (g.isEmpty) 0L else (g.size - g.distinct.size) * 10000L / g.size
      val wantGrams = if (t == null) None else Some(g)
      assert(got(id) === ((wantGrams, bp)), s"doc $id: '$t'")
    }
    assert(got(11L)._2 === 5714L) // 7 grams, 3 distinct
  }

  test("ngramJaccardPairs matches a string reference; blank, short and NULL docs never pair") {
    val docs = edgeDocs(2) ++ Seq(11L -> "", 12L -> null, 13L -> "w1", 14L -> "W2 w3 x")
    val sets = docs.map { case (id, t) => id -> grams(t, 2).toSet }
    val want = (for {
      (a, ga) <- sets; (b, gb) <- sets
      if a < b && (ga & gb).nonEmpty
    } yield (a, b, BigDecimal((ga & gb).size.toDouble / (ga | gb).size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
      n = 2, threshold = 0.0).as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(!got.exists(p => Set(1L, 2L, 3L, 11L, 12L, 13L)(p._1) ||
      Set(1L, 2L, 3L, 11L, 12L, 13L)(p._2)))
  }

  test("word_ngrams: SQL kernel cuts words on spaces and refuses n < 1") {
    val row = spark.sql(
      "SELECT word_ngrams('a  b c', 2), word_ngrams('', 1), word_ngrams('a', 2), " +
        "word_ngrams(CAST(NULL AS STRING), 1)").collect()(0)
    assert(row.getSeq[String](0) === Seq("a b", "b c"))
    assert(row.getSeq[String](1).isEmpty && row.getSeq[String](2).isEmpty)
    assert(row.isNullAt(3))
    intercept[Exception](spark.sql("SELECT word_ngrams('a b', 0)").collect())
  }
}
