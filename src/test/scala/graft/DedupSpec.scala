package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (4L, "entirely different content about spark engines"),
      (5L, "spark engines and different content entirely"), // same token set as 4
      (6L, "completely unrelated text mentioning nothing shared")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest id per normalized text") {
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L, 6L)) // 3 dropped (dup of 1)
  }

  test("exact dedup drops null-id rows instead of emitting an all-null row") {
    import spark.implicits._
    // min_by SKIPS null ordering values: a group whose every id is null
    // previously surfaced as one all-null row (null struct access)
    val d = Seq(
      (java.lang.Long.valueOf(7L), "kept text"),
      (null.asInstanceOf[java.lang.Long], "orphan text"),
      (null.asInstanceOf[java.lang.Long], "orphan text"), // same group, all null
      (null.asInstanceOf[java.lang.Long], "kept text")    // null sibling of 7
    ).toDF("doc_id", "text")
    val kept = Dedup.exact(d, "doc_id", "text").collect()
    assert(kept.length == 1 && kept.head.getLong(0) == 7L)
    assert(kept.forall(!_.anyNull))
  }

  test("blank and null docs are NOT near-dups of each other (J(empty,empty)=0)") {
    import spark.implicits._
    // Catalyst compares NaN LARGER than any value, so a NaN from the
    // 0/0 Jaccard of two empty token sets silently passed ">= threshold"
    // on the SQL verify path — the kernel now defines J(empty,empty)=0
    val d = Seq(
      (1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]),
      (4L, "real text about spark engines"),
      (5L, "real text about spark engines today")).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)), pairs) // blanks never pair
    // and the kernel agrees at the SQL level
    val j = spark.sql(
      "SELECT jaccard_sim(cast(array() as array<bigint>), " +
        "cast(array() as array<bigint>))").collect()(0).getDouble(0)
    assert(j == 0.0)
  }

  test("banded minhash equals exact jaccard pairs (candidate gen is lossless here)") {
    val banded = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5, maxBucket = Int.MaxValue)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5, maxBucket = Int.MaxValue,
        collapseExactDups = true)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(banded == exact)
    assert(collapsed == exact) // rep-collapse path produces identical pairs
    // identical token sets appear with jaccard exactly 1.0; docs 4/5
    // differ by one word ("about" vs "and") => 5 shared of 7 distinct
    assert(banded.contains((1L, 3L, 1.0)))
    assert(banded.contains((4L, 5L, 0.714286)))
  }

  test("length-ratio candidate prefilter never changes results (exact bound)") {
    import spark.implicits._
    // lengths from 2 to ~40 distinct tokens, planted near-dups at both
    // extremes, plus cross-length band-collision bait (shared common
    // tokens) — the prefilter must drop only pairs that the threshold
    // filter would drop anyway
    val d = (Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha gamma"),
      (4L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (5L, ((1 to 38).map(i => s"tok$i") ++ Seq("x1", "x2")).mkString(" ")),
      (6L, ("alpha beta " + (1 to 20).map(i => s"tok$i").mkString(" ")))
    )).toDF("doc_id", "text")
    def run(lf: String) = {
      val prev = sys.props.put("graft.minhash.lenfilter", lf)
      try graft.pipeline.Dedup
        .minhashNearDups(d, "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      finally prev match {
        case Some(v) => sys.props.put("graft.minhash.lenfilter", v)
        case None => sys.props.remove("graft.minhash.lenfilter")
      }
    }
    val on = run("on")
    val off = run("off")
    assert(on == off, s"prefilter changed results: on=$on off=$off")
    assert(on.exists(p => p._1 == 1L && p._2 == 2L)) // sanity: dups found
  }

  test("length-ratio prefilter keeps a nested pair AT the threshold") {
    import spark.implicits._
    // 29 of 35 distinct tokens nested: jaccard_sim gives exactly 29/35 ==
    // t, while t * 35 rounds ABOVE 29 in doubles — a product-form bound
    // would drop the pair the verify filter keeps
    val t = 29.0 / 35
    assert(t * 35 > 29.0 && 29.0 / 35 >= t)
    def text(n: Int) = (1 to n).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, text(29)), (2L, text(35))).toDF("doc_id", "text")
    for (collapse <- Seq(true, false)) {
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = t,
          collapseExactDups = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == Seq((1L, 2L)), s"collapse=$collapse: $pairs")
    }
    val cross = Dedup.crossNearDups(d.filter($"doc_id" === 1L),
        d.filter($"doc_id" === 2L), "doc_id", "text", threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cross == Seq((1L, 2L)), s"cross: $cross")
  }

  test("minhashBucketStats surfaces rows a small cap would drop") {
    val dropped = Dedup.minhashBucketStats(docs, "doc_id", "text",
      numHashes = 128, bands = 32, maxBucket = 1)
    assert(dropped.count() > 0) // docs 1/3 share every band
    assert(dropped.filter(col("dropped") <= 0).count() == 0)
  }

  test("capped banding path (row_number guard) equals the capless path when no bucket overflows") {
    // the q_dedup_minhash_capped gate config: cap engaged (plans the
    // row_number guard + sort-merge band join) but sized above every
    // bucket, so results must be identical to the capless run
    val capped = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5, maxBucket = 100000)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capless = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5, maxBucket = Int.MaxValue)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == capless)
    // and the audit view confirms the gate cap drops nothing at sf0.001
    val sfDocs = spark.read.parquet(s"$SF/documents.parquet")
    assert(Dedup.minhashBucketStats(sfDocs, "doc_id", "text",
      numHashes = 128, bands = 32, maxBucket = 100000).isEmpty)
  }

  test("decontaminate drops corpus docs that near-dup the reference set") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // == eval 1
      (11L, "an entirely original training document"),
      (12L, "benchmark question about spark engines and scale")) // ~ eval 2
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "benchmark question about spark engines and scaling"))
      .toDF("doc_id", "text")
    val flagged = Dedup.crossNearDups(corpus, evalSet, "doc_id", "text",
        threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged.contains((10L, 1L)))
    assert(flagged.contains((12L, 2L))) // 7 shared of 9 distinct = 0.78
    assert(!flagged.exists(_._1 == 11L))
    val clean = Dedup.decontaminate(corpus, evalSet, "doc_id", "text",
        threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(11L))
  }

  test("ngram document-frequency cap drops ubiquitous-token postings only") {
    // cap at 5: tokens present in ALL 6 docs would be excluded — none are,
    // so results must equal the uncapped run; cap at 1 kills every pair.
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5).count()
    val capped5 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5,
      maxDocFreq = 5).count()
    val capped1 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5,
      maxDocFreq = 1).count()
    assert(capped5 == uncapped)
    assert(capped1 == 0)
  }

  test("native minhash_sig equals the built-ins-only formulation") {
    val th = docs.select(Dedup.tokenHashes(
      split(col("text"), " ")).as("th"))
    val diff = th.select(
        Dedup.minhashSignatureFromHashes(col("th"), 64).as("native"),
        Dedup.minhashSignatureFromHashesHof(col("th"), 64).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("native md5_hash32 equals the built-ins-only formulation") {
    val toks = docs.select(explode(split(col("text"), " ")).as("t"))
    val diff = toks.select(
        Dedup.md5Hash32(col("t")).as("native"),
        Dedup.md5Hash32Portable(col("t")).as("portable"))
      .filter(col("native") =!= col("portable")).count()
    assert(diff == 0)
  }

  test("scalar simhash_text kernel == simhash_agg aggregate == 32-column formulation") {
    val scalar = Dedup.simhashPortable32(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashPortable32Agg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = Dedup.simhashPortable32Hof(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalar == agg)
    assert(scalar == hof)
  }

  test("simhash near-dups find single-token edits") {
    import spark.implicits._
    // a 1-of-200-token edit flips few signature bits (the regime simhash
    // exists for); tiny docs would need maxHamming > 3, which the 4-block
    // pigeonhole guard now refuses rather than silently losing recall
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val longDocs = Seq((1L, base), (2L, base.replace("w100 ", "x100 ")),
      (3L, (1 to 200).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPortableNearDups(longDocs, "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the guard itself
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPortableNearDups(longDocs, "doc_id", "text", maxHamming = 8))
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("simhash_text64 kernel == built-ins-only 64-column formulation") {
    val scalar = Dedup.simhashPortable64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hof = Dedup.simhashPortable64Hof(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scalar == hof)
    // both halves are unsigned 32-bit values — the portability invariant
    scalar.values.foreach { case (lo, hi) =>
      assert(lo >= 0L && lo < (1L << 32) && hi >= 0L && hi < (1L << 32))
    }
    // lo half packs the SAME per-token hash as the 32-bit signature
    val sig32 = Dedup.simhashPortable32(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalar.view.mapValues(_._1).toMap == sig32)
  }

  test("64-bit simhash near-dups: same-token-multiset pairs at hamming 0, capped == capless") {
    import spark.implicits._
    // doc 7 permutes doc 1's token MULTISET (simhash votes per occurrence,
    // so word order is irrelevant but counts are not) => hamming exactly 0
    val corpus = docs.unionAll(
      Seq((7L, "dog lazy the over jumps fox brown quick the")).toDF("doc_id", "text"))
    val pairs = Dedup.simhashNearDups64(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 3L, 0))) // identical text
    assert(pairs.contains((1L, 7L, 0))) // permuted multiset
    assert(pairs.contains((3L, 7L, 0)))
    val capped = Dedup.simhashNearDups64(corpus, "doc_id", "text",
        maxHamming = 3, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == pairs)
    // the gate-config audit: cap 100000 drops nothing at sf0.001
    val sfDocs = spark.read.parquet(s"$SF/documents.parquet")
    assert(Dedup.simhashBucketStats(sfDocs, "doc_id", "text",
      maxBucket = 100000).isEmpty)
  }

  test("simhashBucketStats surfaces rows a tiny cap would drop") {
    val dropped = Dedup.simhashBucketStats(docs, "doc_id", "text", maxBucket = 1)
    assert(dropped.count() > 0) // docs 1/3 share every block
    assert(dropped.filter(col("dropped") <= 0).count() == 0)
  }
}
