package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Scrub, Search, Training}

/** Edge cases for the round-5 pipeline ops: URL canonicalization rules,
  * Gopher filter windows, exact n-gram decontamination, stratified
  * sampling quotas, BM25 ranking sanity. */
class PipelineExtraSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canonicalizeUrl: each rule, and rule interaction") {
    val cases = Seq(
      "HTTPS://WWW.Site.com:443/a/?utm_source=x#frag" -> "https://site.com/a",
      "http://site.com:80/a" -> "http://site.com/a",
      "https://site.com:8443/a" -> "https://site.com:8443/a", // non-default kept
      "https://site.com/a?utm_campaign=z" -> "https://site.com/a",
      "https://site.com/a?utm_source=x&id=7" -> "https://site.com/a?id=7",
      "https://site.com/a?id=7&utm_medium=m" -> "https://site.com/a?id=7",
      "https://wwwx.com/a" -> "https://wwwx.com/a", // not a www. prefix
      "https://site.com/" -> "https://site.com",
      // RFC 3986: only scheme+host case-fold; the path keeps its case
      "HTTP://Site.com/CaseSensitive/Path?Q=Mixed" ->
        "http://site.com/CaseSensitive/Path?Q=Mixed")
    val got = cases.map(_._1).toDF("u")
      .select(Scrub.canonicalizeUrl(col("u"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g === e) }
  }

  test("urlDupStats collapses variants onto one canonical key") {
    val docs = Seq(
      (1L, "https://WWW.a.com/x/"), (2L, "https://a.com:443/x#f"),
      (3L, "https://a.com/x?utm_source=s"), (4L, "https://a.com/y"))
      .toDF("doc_id", "url")
    val stats = Scrub.urlDupStats(docs, "doc_id", "url")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats("https://a.com/x") === ((3L, 1L)))
    assert(stats("https://a.com/y") === ((1L, 4L)))
  }

  test("gopherSignals: each window bound flips keep") {
    val docs = Seq(
      (1L, Seq.fill(40)("word").mkString(" ") + " the"),      // passes all
      (2L, Seq.fill(5)("word").mkString(" ") + " the"),       // too short
      (3L, Seq.fill(40)("w").mkString(" ") + " ab the"),      // mean len < 3
      (4L, Seq.fill(40)("word!!!").mkString(" ") + " the"),   // symbols > 10%
      (5L, Seq.fill(40)("word").mkString(" ")))               // no stopwords
      .toDF("doc_id", "text")
    val keep = Scrub.gopherSignals(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keep === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("ngramDecontaminate: planted contamination found, clean docs not") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon suffix"), // shares 5-grams
      (2L, "totally unrelated content with different words here"),
      (3L, "alpha beta gamma delta wrong")) // only 4 shared in a row
      .toDF("doc_id", "text")
    val hits = Dedup.ngramDecontaminate(corpus, ref, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares exactly 1 distinct 5-gram: the only window lying fully
    // inside the shared span (its neighbours take "words" or "suffix",
    // which the reference lacks)
    assert(hits.keySet === Set(1L))
    assert(hits(1L) === 1L) // "alpha beta gamma delta epsilon" only
  }

  test("stratifiedSample: exact quota per stratum, deterministic") {
    val docs = (1L to 100L).map(i => (i, s"text $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val s1 = Training.stratifiedSample(docs, "doc_id", "text", "lang", 10)
    assert(s1.groupBy("lang").count().as[(String, Long)].collect().toMap ===
      Map("en" -> 10L, "de" -> 10L))
    val s2 = Training.stratifiedSample(docs, "doc_id", "text", "lang", 10)
    assert(s1.collect().toSet === s2.collect().toSet)
  }

  test("bm25: a doc saturated with the query term outranks a diluted one") {
    val docs = Seq(
      (1L, "spark spark spark spark"),
      (2L, "spark " + Seq.fill(60)("filler").mkString(" ")),
      (3L, "no relevant terms at all")).toDF("doc_id", "text")
    val scores = Search.bm25(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(scores.keySet === Set(1L, 2L))
    assert(scores(1L) > scores(2L))
  }

  test("unigramNll returns the raw, unrounded score") {
    // a=2, b=2, total=4 → p=0.5 for both terms → nll = ln(2) exactly.
    // Full-precision equality fails if the operator quantizes to 6 dp
    // (ln 2 = 0.6931471805599453, not 0.693147).
    val docs = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val nll = Search.unigramNll(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(nll(1L) === math.log(2.0))
    assert(nll(2L) === math.log(2.0))
  }

  test("dupComponents: transitive closure over paths, cliques and bridges") {
    // component A: a 7-vertex PATH given in worst-case edge order
    // (10-11, 11-12, ... — min label must travel the whole chain);
    // component B: a triangle given with reversed pairs;
    // component C: two cliques joined by one bridge edge
    val edges = Seq(
      (15L, 16L), (13L, 14L), (11L, 12L), (10L, 11L), (12L, 13L), (14L, 15L),
      (22L, 21L), (23L, 22L), (21L, 23L),
      (31L, 32L), (32L, 31L), (41L, 42L), (42L, 41L), (32L, 41L)
    ).toDF("id_a", "id_b")
    val comp = Dedup.dupComponents(edges)
      .as[(Long, Long)].collect().toMap
    (10L to 16L).foreach(v => assert(comp(v) == 10L, s"path vertex $v"))
    (21L to 23L).foreach(v => assert(comp(v) == 21L, s"triangle vertex $v"))
    Seq(31L, 32L, 41L, 42L).foreach(v => assert(comp(v) == 31L, s"bridge vertex $v"))
    assert(comp.size == 14) // every pair participant, nothing else
  }

  test("dupComponents: inputs needing MULTIPLE contraction rounds (the " +
      "first composed round's map ALIASES comp — freeing it would lose " +
      "localCheckpoint blocks that cannot recompute)") {
    // (1,3),(3,2): round 1 leaves two local-minima labels (1 and 2)
    // with a live edge between them, so round 2 sets comp = m — the
    // exact aliasing case; a free of m there crashes the final fold
    val two = Seq((1L, 3L), (3L, 2L)).toDF("id_a", "id_b")
    val compTwo = Dedup.dupComponents(two).as[(Long, Long)].collect().toMap
    assert(compTwo == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // path 1-9-3-8-2: round 1 contracts to the zigzag (1,3),(3,2),
    // round 2 to (1,2), round 3 finishes — three rounds, so the loop
    // also walks the comp-composition (else) branch after the alias
    val three = Seq((1L, 9L), (9L, 3L), (3L, 8L), (8L, 2L))
      .toDF("id_a", "id_b")
    val compThree = Dedup.dupComponents(three).as[(Long, Long)].collect().toMap
    assert(compThree == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("dupComponents frees its intermediate checkpoint blocks: at most " +
      "the RESULT's own checkpoint survives the run (Dataset.unpersist " +
      "is a no-op on localCheckpoint frames — the cleanup is explicit)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a long path forces pointer doubling (several intermediate
    // checkpoints inside contractMap) plus the edge cache
    val n = 64L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.dupComponents(edges)
    assert(comp.count() === n)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // the returned frame's own checkpoint may legitimately survive
    // (callers read it); everything else — per-doubling jumps, per-round
    // contractions, the serialized edge cache — must be freed
    assert(leaked.size <= 1,
      s"${leaked.size} persistent RDDs leaked from dupComponents: $leaked")
  }

  test("dupComponents: contraction rounds do not grow with chain length " +
      "(pointer doubling collapses an in-order path inside one round)") {
    def rounds(n: Long): Int = {
      val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val comp = Dedup.dupComponents(edges)
      val byComp = comp.groupBy("component").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect()
      assert(byComp.toSeq == Seq((1L, n)), s"path of $n nodes: $byComp")
      Dedup.lastCcStats.get.rounds
    }
    // 1 is what the 64-node path takes; a 64x longer chain must not add
    // a round (without the doubling, a round trims only a constant number
    // of nodes off each chain end)
    assert(rounds(64L) == 1)
    assert(rounds(4096L) == 1)
  }

  test("lineDedup: cross-corpus keep-first by (id, idx), blanks pass " +
      "through, all-dropped docs come back empty, order preserved") {
    val docs = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma\n\ndelta"),   // dup at idx 0, blank at 2
      (3L, "shared line"),                     // whole doc is a later dup
      (4L, "gamma\nalpha")                     // both lines seen earlier
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.lineDedup(docs)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha\nshared line\nbeta")
    assert(out(2L) == "gamma\n\ndelta")
    assert(out(3L) == "")
    assert(out(4L) == "")
    assert(out.size == 4)
    // within ONE doc a repeated line also dedups (first occurrence kept)
    val within = graft.pipeline.Dedup.lineDedup(
      Seq((9L, "x\ny\nx")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(within(9L) == "x\ny")
    // string ids work (the URL/UUID case)
    val str = graft.pipeline.Dedup.lineDedup(
      Seq(("a", "l1\nl2"), ("b", "l2\nl3")).toDF("doc_id", "text"))
      .as[(String, String)].collect().toMap
    assert(str("a") == "l1\nl2" && str("b") == "l3")
  }

  test("blocklistHits/Filter: whole-word + phrase matching on normalized " +
      "text, distinct-term counts, filter drops any-hit docs") {
    val docs = Seq(
      (1L, "This CLASS is classy classification!"), // word-boundary only
      (2L, "a bad-phrase appears, twice: bad phrase"), // phrase across punct
      (3L, "class and bad... phrase and class again"), // both terms once each
      (4L, "completely clean text")
    ).toDF("doc_id", "text")
    val hits = graft.pipeline.Scrub
      .blocklistHits(docs, "doc_id", "text", Seq("class", "bad phrase"))
      .select("doc_id", "bad_hits").as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
    val kept = graft.pipeline.Scrub
      .blocklistFilter(docs, "doc_id", "text", Seq("class", "bad phrase"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L))
    // refusals: empty-after-normalization and duplicate terms
    assertThrows[IllegalArgumentException](graft.pipeline.Scrub
      .blocklistHits(docs, "doc_id", "text", Seq("!!!")))
    assertThrows[IllegalArgumentException](graft.pipeline.Scrub
      .blocklistHits(docs, "doc_id", "text", Seq("Bad", "bad!")))
  }

  test("repeatedSpans: keep-first across docs, within-doc repeats, no false hits") {
    // doc 1 owns the span; doc 2 repeats it later (cross-doc);
    // doc 3 repeats its own opening internally (within-doc);
    // doc 4 shares no 3-token span with anyone
    val docs = Seq(
      (1L, "a b c x y z"),
      (2L, "p q a b c r"),
      (3L, "m n o k m n o"),
      (4L, "entirely different words here")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, Int)].collect().toSet
    // doc2 pos 2 = "a b c" (first = doc1 pos 0); doc3 pos 4 = "m n o"
    // (first = doc3 pos 0). Nothing else repeats.
    assert(got == Set((2L, 2), (3L, 4)))
  }

  test("repeatedSpans: leading/internal whitespace canonicalizes before spanning") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "\n  alpha   beta\tgamma  epsilon")
    ).toDF("doc_id", "text")
    // "alpha beta gamma" must match across the messy whitespace
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, Int)].collect().toSet
    assert(got == Set((2L, 0)))
  }

  test("cutRepeatedSpans: overlapping windows merge, first kept, full-cover -> empty") {
    val docs = Seq(
      (1L, "a b c d e x"),            // owns "a b c" and "b c d" (first)
      (2L, "z a b c d w"),            // repeats both: covered idx 1..4 union
      (3L, "m n o p m n o"),          // within-doc: "m n o" recurs at 4
      (4L, "a b c d e x")             // exact copy of doc 1: fully covered
    ).toDF("doc_id", "text")
    val got = Dedup.cutRepeatedSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "a b c d e x")  // first occurrences keep everything
    assert(got(2L) == "z w")          // idx 1-3 ("a b c") U idx 2-4 ("b c d")
    assert(got(3L) == "m n o p")      // tail "m n o" at pos 4 cut (idx 4-6)
    assert(got(4L) == "")             // every 3-window repeats doc 1's
    assert(got.size == 4)             // fully-cut docs still emit a row
  }

  test("keepCanonical keeps one doc per component plus unpaired docs") {
    val docs = (1L to 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // components {1,2,3} and {5,6}; 4, 7, 8 unpaired
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepCanonical(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("canonicalizeUrl: embedded URLs, scheme-aware ports, /? tail") {
    val cases = Seq(
      // an embedded URL in a query param must NOT eat the real host/path
      "https://a.com/redirect?u=http://b.com/x" ->
        "https://a.com/redirect?u=http://b.com/x",
      // :443 on http is a REAL non-default endpoint — keep it
      "http://site.com:443/a" -> "http://site.com:443/a",
      "https://site.com:443/a" -> "https://site.com/a",
      // a path segment that merely contains ":80/" is not a port
      "https://a.com/video/t=12:80/clip" -> "https://a.com/video/t=12:80/clip",
      // dangling "/?" collapses all the way to the bare path
      "https://site.com/a/?" -> "https://site.com/a",
      // near-miss port: :8443 must not suffix-match :443
      "https://site.com:8443/x" -> "https://site.com:8443/x")
    val got = cases.map(_._1).toDF("u")
      .select(Scrub.canonicalizeUrl(col("u"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g === e) }
  }

  test("sampling operators draw independently (salted hashes compose)") {
    val docs = (1L to 2000L).map(i => (i, s"document number $i with text"))
      .toDF("doc_id", "text")
    // the unsalted hashes once made this compose pathologically: every
    // mixturePct survivor fell in hashSplit's train bucket
    val sample = Training.mixturePct(docs, "doc_id", "text", pct = 50)
    val splits = Training.hashSplit(sample, "doc_id", "text")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.getOrElse("val", 0L) > 0, s"val empty: $splits")
    assert(splits.getOrElse("test", 0L) > 0, s"test empty: $splits")
  }

  test("temperatureMix keeps NULL-source docs (null-safe join)") {
    val docs = ((1L to 300L).map(i => (i, s"text $i", "s1")) ++
      (301L to 600L).map(i => (i, s"text $i", null: String)))
      .toDF("doc_id", "text", "source")
    val out = Training.temperatureMix(docs, "doc_id", "text", "source",
      alpha = 1.0, targetFrac = 1.0) // keep-rate 1.0 for every group
    assert(out.count() == 600L, "null-source docs vanished from the mixture")
    assert(out.filter(col("source").isNull).count() == 300L)
  }

  test("redactPii covers the common US phone shapes; dates survive") {
    val cases = Seq(
      "call (555) 123-4567 now" -> "call [PHONE] now",
      "call 123-456-7890 now" -> "call [PHONE] now",
      "call 555 123 4567 now" -> "call [PHONE] now",
      "call +1 555 1234 now" -> "call [PHONE] now",
      // dates and versions must NOT redact
      "deployed 2024-08-15 ok" -> "deployed 2024-08-15 ok",
      "version 1.2.3 ok" -> "version 1.2.3 ok")
    val got = cases.map(_._1).toDF("t")
      .select(Scrub.redactPii(col("t"))).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"got '$g' want '$want'")
    }
  }

  test("null-text docs flow through mixture/packing/stratified/gopher") {
    val docs = Seq((1L, "real text one here", "a"),
      (2L, null: String, "a"), (3L, "real text two here", "a"))
      .toDF("doc_id", "text", "src")
    // pct=100 keeps EVERYTHING including null text (concat(salt, NULL)
    // was NULL and the filter silently dropped it)
    assert(Training.mixturePct(docs, "doc_id", "text", pct = 100)
      .count() == 3L)
    assert(Training.temperatureMix(docs, "doc_id", "text", "src",
      alpha = 1.0, targetFrac = 1.0).count() == 3L)
    // packSequences bins the null-text doc (0 tokens), never bin NULL
    val packed = Training.packSequences(docs, "doc_id", "text",
      tokenBudget = 10, shards = 1)
    assert(packed.count() == 3L && packed.filter(col("bin").isNull).count() == 0)
    // stratifiedSample: null text ranks as md5("") — present, not
    // nulls-first quota theft; with k=3 all three appear
    assert(Training.stratifiedSample(docs, "doc_id", "text", "src", k = 3)
      .count() == 3L)
    // gopher: keep is FALSE (not NULL) so the doc lands in the reject
    // stream and keep+reject = corpus
    val g = Scrub.gopherSignals(docs, "doc_id", "text")
    assert(g.filter(col("keep")).count() +
      g.filter(!col("keep")).count() == 3L)
    // chunking: a blank/null doc emits no phantom empty chunk
    assert(Scrub.tokenChunks(docs, "doc_id", "text", chunkTokens = 1)
      .filter(col("chunk") === "").count() == 0L)
  }

  test("tokenBalancedShards: one NaN id must not collapse the bucketing") {
    val docs = ((1 to 200).map(i => (i.toDouble, s"some text $i")) :+
      ((Double.NaN, "nan id doc"))).toDF("doc_id", "text")
    val shards = Training.tokenBalancedShards(docs, "doc_id", "text",
      shards = 4, buckets = 8)
    assert(shards.count() == 201L)
    // balanced across shards, not piled into one
    val sizes = shards.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.length == 4, s"shards: ${sizes.toSeq}")
    assert(sizes.max < 150, s"collapsed: ${sizes.toSeq}")
  }

  test("Search operators ignore blank documents (no phantom empty token)") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "   "), (3L, ""),
      (4L, "beta gamma")).toDF("doc_id", "text")
    val vocab = Search.topVocab(docs, "text", 10)
      .select("term").as[String].collect().toSet
    assert(!vocab.contains(""), "empty string ranked as a vocabulary term")
    assert(vocab == Set("alpha", "beta", "gamma"))
    val nll = Search.unigramNll(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(nll == Set(1L, 4L), "blank docs must carry no LM score")
    val w = Search.dsirWeights(docs, docs.filter(col("doc_id") === 1L),
      "doc_id", "text")
    assert(w.count() == 4L) // blank docs present with weight 0, not missing
  }

  test("tokenBalancedShards handles string ids without collapsing to one bucket") {
    val docs = (1 to 400).map(i => (f"doc-$i%04d", "w " * (i % 20 + 1)))
      .toDF("doc_id", "text")
    val out = Training.tokenBalancedShards(docs, "doc_id", "text", shards = 4)
    val byShard = out.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byShard.size == 4, s"expected 4 shards, got $byShard")
    val (mn, mx) = (byShard.values.min, byShard.values.max)
    assert(mx <= mn * 2 + 40, s"token mass unbalanced: $byShard")
    intercept[IllegalArgumentException](
      Training.packSequences(docs, "doc_id", "text", tokenBudget = 0))
  }

  test("dedup terminal ops take STRING ids natively (the URL/UUID case)") {
    // the silent-cast class: a blind cast("long") nulled string ids so
    // every edge vanished and keepCanonical kept all duplicates
    val pairs = Seq(("url-b", "url-a"), ("url-c", "url-b"), ("u2", "u1"))
      .toDF("id_a", "id_b")
    val comp = Dedup.dupComponents(pairs).as[(String, String)].collect().toMap
    assert(Seq("url-a", "url-b", "url-c").forall(comp(_) == "url-a"))
    assert(comp("u1") == "u1" && comp("u2") == "u1")
    val docs = Seq("url-a", "url-b", "url-c", "u1", "u2", "lonely")
      .map(u => (u, s"text $u")).toDF("doc_id", "text")
    val kept = Dedup.keepCanonical(docs, pairs, "doc_id")
      .select("doc_id").as[String].collect().toSet
    assert(kept == Set("url-a", "u1", "lonely"))
    val spans = Dedup.repeatedSpans(
      Seq(("d1", "a b c x y z"), ("d2", "p q a b c r")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3).as[(String, Int)].collect().toSet
    assert(spans == Set(("d2", 2)))
    val cut = Dedup.cutRepeatedSpans(
      Seq(("d1", "a b c d e"), ("d2", "z a b c d w")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3).as[(String, String)].collect().toMap
    assert(cut("d1") == "a b c d e" && cut("d2") == "z w")
  }

  test("dedup terminal ops refuse unusable or mixed-class id columns") {
    val doublePairs = Seq((1.5, 2.5)).toDF("id_a", "id_b")
    assertThrows[IllegalArgumentException](Dedup.dupComponents(doublePairs))
    val mixed = Seq((1L, "x")).toDF("id_a", "id_b")
    assertThrows[IllegalArgumentException](Dedup.dupComponents(mixed))
    val strDocs = Seq(("a", "t")).toDF("doc_id", "text")
    val longPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    assertThrows[IllegalArgumentException](
      Dedup.keepCanonical(strDocs, longPairs, "doc_id"))
    assertThrows[IllegalArgumentException](
      Dedup.repeatedSpans(Seq((1.5, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", n = 2))
  }

  test("dsirWeights rank target-like docs above off-target docs") {
    import graft.pipeline.Search
    val raw = Seq(
      (1L, "spark sql query engine plans fast"),
      (2L, "spark sql query engine scales out"),
      (3L, "cat videos funny pets compilation"),
      (4L, "dog videos cute pets montage"),
      (5L, "")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "spark sql engine query optimization"),
      (11L, "distributed sql query planning spark")).toDF("doc_id", "text")
    val w = Search.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L), "every raw doc weighted")
    // target-like docs must outrank the pet videos
    assert(math.min(w(1L), w(2L)) > math.max(w(3L), w(4L)))
    // a doc of grams the target never saw scores negative (raw-typical)
    assert(w(3L) < 0.0 && w(4L) < 0.0)
  }

  test("BPE learns the most frequent pair first and rewrites greedily") {
    import graft.pipeline.Bpe
    // "aaab" x3, "ab" x2: round-1 pairs: (a,a) freq 6, (a,b</w>) 5 …
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", numMerges = 2, minFreq = 1L)
    assert(merges.head.left == "a" && merges.head.right == "a" &&
      merges.head.freq == 6L)
    // greedy left-to-right: "aaab" under (a,a) → ["aa","a","b</w>"], so
    // round 2 pairs are (aa,a)×3, (a,b</w>)×3 from "aaab" + (a,b</w>)×2
    // from "ab" — (a, b</w>) wins at 5
    assert(merges(1) == Bpe.Merge("a", "b</w>", 5L))
    val toks = Bpe.tokenize(docs, "doc_id", "text", merges)
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "aaab" → ["aa","ab</w>"] x3; "ab" → ["ab</w>"] x2
    assert(toks == Map("aa" -> 3L, "ab</w>" -> 5L))
    val vocab = Bpe.vocabulary(docs, "text", merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab == toks)
  }

  test("tokenizeFast matches the HOF tokenize exactly on learned merges") {
    import graft.pipeline.Bpe
    // a corpus rich enough to learn a real rule chain (multi-level
    // merges, repeated chars, words sharing prefixes)
    val docs = Seq(
      (1L, "banana bandana ban banana"),
      (2L, "an ana banana band bandana"),
      (3L, "nab nab banana an band")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", numMerges = 12, minFreq = 1L)
    assert(merges.size >= 8, s"expected a deep rule chain, got $merges")
    def bag(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("doc_id", "token").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val slow = bag(Bpe.tokenize(docs, "doc_id", "text", merges))
    val fast = bag(Bpe.tokenizeFast(docs, "doc_id", "text", merges))
    assert(fast == slow,
      s"rank-based apply must equal sequential replay\n only-fast: " +
        s"${fast -- slow}\n only-slow: ${slow -- fast}")
  }

  test("bigramNll: raw unrounded output, interpolation floor, short docs omitted") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the"), // doc 3: 1 token
      (4L, "rare words here")).toDF("doc_id", "text")
    val out = Search.bigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 has no bigrams — omitted, not scored 0
    assert(out.keySet === Set(1L, 2L, 4L))
    // docs 1-2 contain the 50/50 branch "cat sat|ran" (ctx 2, cnt 1 →
    // P≈0.45) so they score HIGHER than doc 4, whose continuations are
    // all deterministic (c2/ctx = 1 → P≈0.9, the JM ceiling); the
    // symmetric docs 1 and 2 must score identically
    assert(out(1L) > out(4L) && out(2L) > out(4L))
    assert(out(1L) === out(2L))
    // raw double: at least one score must carry precision beyond 6dp
    assert(out.values.exists(v => v != math.rint(v * 1e6) / 1e6))
    // every probability interpolates with the unigram floor: scores finite
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite && v > 0))
  }

  test("deterministicShuffle: a stable permutation, seed-sensitive, no 1-task window") {
    import graft.pipeline.Training
    val docs = (1L to 500L).toDF("doc_id")
    val a = Training.deterministicShuffle(docs, "doc_id", "s1", buckets = 8)
    val ranks = a.select("shuffle_rank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq === (1L to 500L)) // a true permutation
    // input order must not matter
    val b = Training.deterministicShuffle(
      docs.orderBy(org.apache.spark.sql.functions.col("doc_id").desc),
      "doc_id", "s1", buckets = 8)
    assert(a.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
      .toSeq === b.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq)
    // a new seed is a genuinely different epoch order
    val c = Training.deterministicShuffle(docs, "doc_id", "s2", buckets = 8)
    val ra = a.orderBy("doc_id").collect().map(_.getLong(2))
    val rc = c.orderBy("doc_id").collect().map(_.getLong(2))
    assert(ra.zip(rc).count { case (x, y) => x != y } > 400)
    // scale shape: no single-partition window over the full table
    val exec = a.queryExecution.executedPlan.toString
    assert(!exec.contains("SinglePartition") ||
      exec.contains("Exchange hashpartitioning"),
      "full-table single-partition window detected")
  }

  test("upsampleEpochs: integer copies, fractional admission, downsample, default 1.0") {
    import graft.pipeline.Training
    val docs = (1L to 1000L).map(i =>
      (i, if (i % 3 == 0) "hi" else if (i % 3 == 1) "lo" else "other"))
      .toDF("doc_id", "src")
    val up = Training.upsampleEpochs(docs, "doc_id", "src",
      Map("hi" -> 3.0, "lo" -> 0.5))
    val bySrc = up.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("hi") === 3 * 333)             // exact integer epochs
    assert(math.abs(bySrc("lo") - 0.5 * 334) < 60) // ~half admitted
    assert(bySrc("other") === 333)              // missing source = 1.0
    // copy indices are dense 0..n-1 per doc
    val copies = up.filter(org.apache.spark.sql.functions.col("src") === "hi")
      .groupBy("doc_id").count().collect().map(_.getLong(1)).distinct
    assert(copies.toSeq === Seq(3L))
  }

  test("BPE stops at minFreq and survives single-char + empty words") {
    import graft.pipeline.Bpe
    val docs = Seq((1L, "x y z  x")).toDF("doc_id", "text")
    // every word is one symbol ("x</w>"…) — no pairs exist at all
    assert(Bpe.learnMerges(docs, "text", 5).isEmpty)
    val docs2 = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    // (a,b</w>) freq 2 merges; (c,d</w>) freq 1 < minFreq=2 stops the loop
    val m = Bpe.learnMerges(docs2, "text", 5, minFreq = 2L)
    assert(m == Seq(Bpe.Merge("a", "b</w>", 2L)))
  }

  test("tokenizeFast parity on astral characters and string ids") {
    import spark.implicits._
    // an astral (surrogate-pair) char must stay ONE symbol on both paths,
    // and a string id must survive without a numeric cast
    val docs = Seq(("doc-1", "\uD83D\uDE00ab \uD83D\uDE00ab")).toDF("doc_id", "text")
    val merges = graft.pipeline.Bpe.learnMerges(docs, "text", 3, minFreq = 1L)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.getString(1))).sorted.toSeq
    val slow = bag(graft.pipeline.Bpe.tokenize(docs, "doc_id", "text", merges))
    val fast = bag(graft.pipeline.Bpe.tokenizeFast(docs, "doc_id", "text", merges))
    assert(slow == fast)
    assert(slow.forall(_._1 == "doc-1"))
    // no broken surrogate halves anywhere
    assert(fast.forall { case (_, t) =>
      !t.exists(c => Character.isSurrogate(c) &&
        (t.length == 1 || !t.codePoints().allMatch(cp => Character.isValidCodePoint(cp)))) })
  }

  test("packSequences shards string ids by hash instead of crashing") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (s"url-$i", "w " * (i % 7 + 1))).toDF("id", "text")
    val packed = graft.pipeline.Training.packSequences(docs, "id", "text", 10, shards = 4)
    val shards = packed.select("shard").distinct().collect().map(_.getLong(0)).toSet
    assert(shards.size > 1, s"string ids collapsed into one shard: $shards")
    assert(packed.count() == 40)
  }

  test("bm25/tfidf normalize query terms like the corpus tokens") {
    import spark.implicits._
    val docs = Seq((1L, "Paris is large"), (2L, "berlin is small")).toDF("doc_id", "text")
    val scored = graft.pipeline.Search.bm25(docs, "doc_id", "text", Seq("Paris"))
    assert(scored.count() == 1 && scored.collect().head.getLong(0) == 1L)
    val tf = graft.pipeline.Search.tfidf(docs, "doc_id", "text", Seq("BERLIN"))
    assert(tf.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("qualityClassifier separates a planted vocabulary split") {
    import spark.implicits._
    // target docs use one disjoint vocabulary, noise docs another —
    // three gradient iterations must rank every target above every
    // noise doc, with featureless docs pinned at the 0.5 prior
    val docs = ((1L to 20L).map(i =>
        (i, s"curated encyclopedia reference article number$i", true)) ++
      (21L to 40L).map(i =>
        (i, s"spam casino pills clickbait garbage number$i", false)) :+
      ((41L, "", false))).toDF("doc_id", "text", "is_ref")
    val scored = graft.pipeline.Search.qualityClassifier(
      docs, "doc_id", "text", col("is_ref"), dim = 64, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hi = (1L to 20L).map(scored)
    val lo = (21L to 40L).map(scored)
    assert(hi.min > lo.max,
      s"no separation: min(target)=${hi.min} max(noise)=${lo.max}")
    assert(math.abs(scored(41L) - 0.5) < 1e-12, s"empty doc: ${scored(41L)}")
    // reproducible: a second run matches far beyond the gate's 6dp
    // rounding (shuffle merge order may flip float low bits, no more)
    val again = graft.pipeline.Search.qualityClassifier(
      docs, "doc_id", "text", col("is_ref"), dim = 64, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.keySet == again.keySet &&
      scored.forall { case (k, v) => math.abs(again(k) - v) < 1e-9 })
  }

  test("languageClassifier separates planted languages and predicts " +
      "held-out docs") {
    import spark.implicits._
    // three "languages" with disjoint stopword vocabularies; the last
    // doc of each language carries NO label (null) — the classifier
    // trains on the labeled rows and must still classify the unlabeled
    // ones from shared vocabulary. An empty doc scores the uniform 1/3.
    def mk(lang: String, words: String, ids: Range) =
      ids.map(i => (i.toLong, s"$words token$i",
        if (i == ids.last) null else lang))
    val docs = (mk("en", "the quick brown fox jumps over lazy dog", 1 to 12) ++
      mk("de", "der schnelle braune fuchs springt ueber faulen hund", 21 to 32) ++
      mk("fr", "le renard brun rapide saute par dessus chien", 41 to 52) :+
      ((99L, "", null: String))).toDF("doc_id", "text", "lang")
    val probs = graft.pipeline.Search.languageClassifier(
      docs, "doc_id", "text", "lang", dim = 64, iters = 3)
    // full probability rows: K per doc, each row set sums to 1
    val rows = probs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.groupBy(_._1).forall { case (_, g) =>
      g.length == 3 && math.abs(g.map(_._3).sum - 1.0) < 1e-9
    })
    // argmax prediction: every doc (including the UNLABELED tail docs)
    // lands on its planted language
    val pred = rows.groupBy(_._1).map { case (id, g) =>
      id -> g.maxBy(_._3)._2
    }
    ((1L to 12L).map(_ -> "en") ++ (21L to 32L).map(_ -> "de") ++
      (41L to 52L).map(_ -> "fr")).foreach { case (id, want) =>
      assert(pred(id) == want, s"doc $id predicted ${pred(id)}, want $want")
    }
    // featureless doc: exactly uniform, no evidence either way
    val empty = rows.filter(_._1 == 99L).map(_._3)
    assert(empty.forall(p => math.abs(p - 1.0 / 3) < 1e-12), empty.toSeq)
    // reproducible far beyond the gate's 6dp rounding
    val again = graft.pipeline.Search.languageClassifier(
      docs, "doc_id", "text", "lang", dim = 64, iters = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.forall { case (id, l, p) =>
      math.abs(again((id, l)) - p) < 1e-9 })
  }

  /** 40 docs, two disjoint vocabularies, three classes. */
  private def clfFixture = {
    import spark.implicits._
    ((1L to 20L).map(i =>
        (i: java.lang.Long, s"curated encyclopedia reference article number$i", "a")) ++
      (21L to 40L).map(i => (i: java.lang.Long,
        s"spam casino pills clickbait garbage number$i", if (i <= 30) "b" else "c")))
      .toDF("doc_id", "text", "lang")
  }

  /** Plain-Scala batch gradient descent with the SQL oracles' semantics,
    * over rows collected as (doc_id, K-class target or None = unlabeled,
    * bucket ids): features merge per non-null doc_id, every labeled row
    * adds its own error, `n` counts the labeled rows, and iteration 1
    * starts from w = 0. Returns the trained per-doc probabilities. */
  private def referenceClf(rows: Seq[(Option[Long], Option[Array[Double]], Seq[Int])],
                           k: Int, dim: Int, iters: Int,
                           link: Array[Double] => Array[Double]): Option[Long] => Array[Double] = {
    val feats = rows.collect { case (Some(id), _, js) => id -> js }
      .groupMapReduce(_._1)(_._2)(_ ++ _)
      .map { case (id, js) => id -> js.groupMapReduce(identity)(_ => 1L)(_ + _) }
    def f(id: Option[Long]) = id.flatMap(feats.get).getOrElse(Map.empty[Int, Long])
    val labeled = rows.collect { case (id, Some(t), _) => (id, t) }
    val w = Array.ofDim[Double](k, dim)
    def probs(id: Option[Long]) =
      link(Array.tabulate(k)(i => f(id).map { case (j, x) => w(i)(j) * x }.sum))
    for (_ <- 1 to iters) {
      val g = Array.ofDim[Double](k, dim)
      for ((id, t) <- labeled; p = probs(id); (j, x) <- f(id); i <- 0 until k)
        g(i)(j) += (p(i) - t(i)) * x
      for (i <- 0 until k; j <- 0 until dim) w(i)(j) -= 0.5 * (g(i)(j) / labeled.size)
    }
    probs
  }

  /** Both classifiers against [[referenceClf]] within 1e-9: quality
    * scores one row per input row, language K rows per distinct doc_id. */
  private def assertMatchesReference(docs: org.apache.spark.sql.DataFrame,
                                     dim: Int, iters: Int): Unit = {
    def rows(prefix: String) = docs.select(col("doc_id"), col("lang"),
        transform(filter(split(graft.pipeline.TextAnalysis.normalize(col("text")), " "),
          t => length(t) > 0), t =>
          pmod(Dedup.md5Hash32(concat(lit(prefix), t)), lit(dim.toLong)).cast("int")))
      .collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1)),
        Option(r.getSeq[Int](2)).getOrElse(Nil)))
    def close(got: Seq[(Option[Long], String, Double)],
              want: Seq[(Option[Long], String, Double)]) = {
      val (g, e) = (got.sortBy(r => (r._1, r._2)), want.sortBy(r => (r._1, r._2)))
      assert(g.map(r => (r._1, r._2)) == e.map(r => (r._1, r._2)))
      g.zip(e).foreach { case (a, b) =>
        assert(math.abs(a._3 - b._3) < 1e-9, s"dim $dim: $a vs reference $b") }
    }

    val qRows = rows("qc:")
    val qRef = referenceClf(qRows.map { case (id, l, js) =>
        (id, Some(Array(if (l.contains("a")) 1.0 else 0.0)), js) }, 1, dim, iters,
      z => z.map(v => 1.0 / (1.0 + math.exp(-v))))
    val q = Search.qualityClassifier(docs, "doc_id", "text", col("lang") === "a",
      dim = dim, iters = iters)
    close(q.collect().toSeq.map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), "", r.getDouble(1))),
      qRows.map { case (id, _, _) => (id, "", qRef(id)(0)) })
    q.unpersist()

    val lRows = rows("lc:")
    val classes = lRows.flatMap(_._2).distinct.sorted
    val lRef = referenceClf(lRows.map { case (id, l, js) =>
        (id, l.map(c => classes.map(x => if (x == c) 1.0 else 0.0).toArray), js) },
      classes.size, dim, iters, { z =>
        val ez = z.map(v => math.exp(v - z.max)); ez.map(_ / ez.sum) })
    val l = Search.languageClassifier(docs, "doc_id", "text", "lang",
      dim = dim, iters = iters)
    close(l.collect().toSeq.map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1), r.getDouble(2))),
      lRows.map(_._1).distinct.flatMap(id =>
        classes.zip(lRef(id)).map { case (c, p) => (id, c, p) }))
    l.unpersist()
  }

  test("classifiers match a plain-Scala gradient-descent reference on " +
      "both sides of the old 4096-dim literal gate") {
    Seq(300, 5000).foreach(dim => assertMatchesReference(clfFixture, dim, iters = 3))
  }

  test("classifiers keep the oracle semantics for duplicated doc_ids, " +
      "null labels and a null doc_id") {
    import spark.implicits._
    // doc 5 appears twice with different labels (features merge, each row
    // keeps its label and its output row), doc 7 again with a null label,
    // doc 41 is unlabeled, the null doc_id matches no features, doc 42 is
    // empty
    val extra = Seq[(java.lang.Long, String, String)](
      (5L, "casino reference garbage", "b"), (7L, "curated pills", null),
      (41L, "encyclopedia clickbait article", null),
      (null, "spam casino reference", "a"), (42L, "", "c"))
      .toDF("doc_id", "text", "lang")
    assertMatchesReference(clfFixture.union(extra), dim = 64, iters = 3)
  }

  test("a 10^5-dim model keeps the posted plan descriptions small") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // the single weight spelling at every dim must neither print 10^5
    // weights into the plan description posted per query nor become an
    // expression tree (an array literal prints them all: 7.2M chars)
    val longest = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          longest.accumulateAndGet(s.physicalPlanDescription.length, math.max)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val big = Search.qualityClassifier(clfFixture, "doc_id", "text",
        col("lang") === "a", dim = 100000, iters = 2)
      assert(big.count() == 40)
      big.unpersist()
      val lang = Search.languageClassifier(clfFixture, "doc_id", "text", "lang",
        dim = 100000, iters = 2)
      assert(lang.count() == 120)
      lang.unpersist()
    } finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    assert(longest.get > 0 && longest.get < 100000,
      s"plan description of ${longest.get} chars")
  }

  test("classifier iterations cost at most 2 Spark jobs each") {
    def jobs(run: => org.apache.spark.sql.DataFrame): Int =
      TestSpark.jobsOf(run.unpersist())
    def quality(iters: Int) = jobs(Search.qualityClassifier(clfFixture, "doc_id",
      "text", col("lang") === "a", iters = iters))
    def language(iters: Int) = jobs(Search.languageClassifier(clfFixture, "doc_id",
      "text", "lang", iters = iters))
    for ((name, run) <- Seq("quality" -> quality _, "language" -> language _)) {
      val (two, four) = (run(2), run(4))
      assert(two > 0 && four > two, s"$name: $two jobs at iters 2, $four at 4")
      assert(four - two <= 4, s"$name: ${four - two} jobs for 2 more iterations")
    }
  }

  test("canonicalizeUrl: query-only authority and lookalike utm params") {
    import spark.implicits._
    val urls = Seq(
      "https://Site.com:443?Session=AbC",      // no path slash
      "https://a.com/?xutm_source=y&b=1",      // utm-lookalike param name
      "https://a.com/?utm_a=1&utm_b=2&c=3")    // adjacent utm params
      .toDF("u")
    val canon = urls.select(graft.pipeline.Scrub.canonicalizeUrl(col("u")))
      .as[String].collect().toSeq
    assert(canon(0) == "https://site.com?Session=AbC",
      s"query case must survive: ${canon(0)}")
    assert(canon(1) == "https://a.com/?xutm_source=y&b=1",
      s"lookalike param must survive: ${canon(1)}")
    assert(canon(2) == "https://a.com/?c=3", s"adjacent utm: ${canon(2)}")
  }
}
