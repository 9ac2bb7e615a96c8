package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for a training-data pipeline: PII redaction,
  * intra-document repetition scoring (a Gopher-style quality signal), and
  * cross-corpus chunk-level dedup. All pure Column expressions / one-
  * shuffle aggregations — every rule is a regex or integer computation a
  * SQL oracle reproduces exactly.
  */
object Scrub {

  /** PII patterns, applied email -> IP -> phone: email first (an
    * email's digits must not half-match the phone rule), IP before
    * phone (an IPv4 literal must become [IP], not half-match a
    * dot-separated phone). The character classes are deliberately
    * RE2-compatible so any engine can run the same rules. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // Covers the common shapes: "+1 555 1234", "(555) 123-4567",
  // "123-456-7890", "555 123 4567", "555.123.4567" (dot separators —
  // dates/versions don't fit the 1-3 / 3 / 3-4 digit-group shape, and
  // real IPv4 literals are already [IP] by the time this rule runs).
  // Over-matching (e.g. ISBN-like digit runs) errs toward redaction —
  // the safe direction at a trust boundary. Deliberately NOT matched:
  // bare 10-digit runs ("5551234567") — order ids/timestamps collide
  // too often for a trust-boundary default.
  val PhoneRe = "\\+?\\(?[0-9]{1,3}\\)?[-. ][0-9]{3}[-. ]?[0-9]{3,4}([-. ][0-9]{1,4})?"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Replace emails, phone numbers, and IPv4 literals with typed
    * placeholder tags — the redaction pass that runs before a corpus
    * leaves the trust boundary. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Fraction of duplicated word n-grams within the document, in basis
    * points (integer — engine-portable): 0 means all n-grams distinct,
    * 10000 means one n-gram repeated throughout. The canonical
    * boilerplate/repetition quality signal.
    *
    * No CASE guards the division: subexpression elimination looks only
    * at a CASE's first condition, so `grams` inside a when() branch would
    * be cut again there. nullif keeps every `grams` use unconditional
    * (one evaluation per row) and still never divides by zero. */
  def repetitionBp(text: Column, n: Int = 3): Column = {
    val grams = TextAnalysis.wordNgrams(text, n)
    val total = size(grams)
    val dups = total - size(array_distinct(grams))
    coalesce(floor(dups * lit(10000L) / nullif(total, lit(0))), lit(0L))
      .cast("long")
  }

  /** Explode a document into fixed-size token chunks (the unit most
    * training pipelines dedup at below whole-document level): chunk index
    * + its text. Tail tokens short of a full chunk are dropped, so chunk
    * content is position-stable across documents. */
  def tokenChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int): DataFrame = {
    // the zero/negative case silently emitted no rows (null division →
    // empty array), which reads as "no duplicates" downstream
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    // length>0 + coalesce: split("") yields [""], so a blank/null doc
    // otherwise counts 1 "word" and (at chunkTokens=1) emits an
    // empty-string chunk — every blank doc then collapses onto md5("")
    // as one giant phantom duplicate group in chunkDupStats
    // (projected as a column first: read inside the per-chunk lambda, the
    // split would re-tokenize the whole doc once per chunk)
    val words = col("__w")
    val nChunks = floor(size(words) / chunkTokens).cast("int")
    docs.select(col(idCol).as("doc_id"), filter(
        split(TextAnalysis.normalize(coalesce(col(textCol), lit(""))), " "),
        t => length(t) > 0).as("__w"))
      .select(col("doc_id"),
        posexplode(
          when(nChunks > 0, transform(sequence(lit(0), nChunks - 1),
            i => array_join(slice(words, i * chunkTokens + 1, lit(chunkTokens)), " ")))
            .otherwise(array()))
          .as(Seq("chunk_idx", "chunk")))
  }

  /** Cross-corpus chunk dedup audit: chunks appearing in more than one
    * place, keyed by an engine-portable md5 fingerprint — one shuffle on
    * the hash, never on chunk text. */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int = 20): DataFrame =
    tokenChunks(docs, idCol, textCol, chunkTokens)
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_copies") > 1)

  /** URL canonicalization for crawl dedup: the same page crawled as
    * `HTTPS://WWW.Site.com:443/a/?utm_source=x#frag` and
    * `https://site.com/a` must collapse to one key. Rules (each a single
    * engine-portable replace — no backreferences, no lookarounds, so the
    * identical patterns run under Java regex and RE2):
    * lowercase scheme+host ONLY (paths are case-sensitive per RFC 3986 —
    * `/A` and `/a` are different resources) → strip fragment → strip
    * default port (:80/:443) → strip `www.` → strip `utm_*` tracking
    * params → strip trailing slash / dangling `?`. A pure codegen
    * Column — canonicalization never shuffles. */
  def canonicalizeUrl(url: Column): Column = {
    // scheme+host lowercase by reconstruction (no regex case-fold needed):
    // scheme "://" hostport rest, where rest starts at the first "/" after
    // the authority (or is empty)
    val scheme = substring_index(url, "://", 1)
    // everything after the FIRST "://" — substring_index(..., -1) split
    // on the LAST occurrence, so an embedded URL in a query param (a
    // redirect/tracking link, ubiquitous in crawl data) used to delete
    // the real host and path
    val afterScheme = url.substr(length(scheme) + lit(4), length(url))
    // the authority ends at the FIRST of / ? # — `host:443?q=X` has no
    // path slash, and splitting only on "/" would lowercase the
    // case-significant query
    val hostPort = regexp_extract(afterScheme, "^([^/?#]*)", 1)
    val rest = afterScheme.substr(length(hostPort) + 1, length(afterScheme))
    // default port stripped INSIDE the isolated authority, scheme-aware:
    // an anywhere-regex used to fire on path segments and to strip :443
    // from http:// URLs (a real, distinct endpoint)
    val lhost = lower(hostPort)
    val defPort = when(lower(scheme) === "https", lit(":443"))
      .when(lower(scheme) === "http", lit(":80")).otherwise(lit(""))
    val hostNoPort = when(length(defPort) > 0 && lhost.endsWith(defPort),
        lhost.substr(lit(1), length(lhost) - length(defPort)))
      .otherwise(lhost)
    // www. stripped from the ISOLATED host during reconstruction — the
    // old global `://www.` replace fired on URLs embedded in query
    // params (redirect/tracking links), over-merging distinct records
    val hostNoWww = when(hostNoPort.startsWith("www."),
        hostNoPort.substr(lit(5), length(hostNoPort)))
      .otherwise(hostNoPort)
    val caseFixed = when(url.contains("://"),
        concat(lower(scheme), lit("://"), hostNoWww, rest))
      .otherwise(url)
    val noFrag = regexp_replace(caseFixed, "#.*$", "")
    // utm params dropped by splitting the query on & and filtering —
    // the old fixed-pass regex pair could not clear long adjacent runs
    // (8+ utm params left residue that split canonical keys), and a
    // filter has no rescan problem by construction. The anchored
    // `^utm_[a-z]+=` never matches longer names like `xutm_source`.
    val qPos = instr(noFrag, "?")
    val base = when(qPos > 0, noFrag.substr(lit(1), qPos - 1)).otherwise(noFrag)
    val query = when(qPos > 0, noFrag.substr(qPos + 1, length(noFrag)))
      .otherwise(lit(""))
    val kept = filter(split(query, "&"), p => !p.rlike("^utm_[a-z]+="))
    val noUtm = when(qPos === 0 || size(kept) === 0 ||
        (size(kept) === 1 && element_at(kept, 1) === ""), base)
      .otherwise(concat(base, lit("?"), array_join(kept, "&")))
    // (the dangling-? case collapses to `base` above, BEFORE the
    // trailing slash strips, so ".../a/?" lands on ".../a")
    regexp_replace(noUtm, "/$", "")
  }

  /** URL-level dedup audit over canonical keys: how many raw variants
    * collapsed onto each canonical URL, keeping the smallest id — one
    * shuffle on the canonical string (at crawl scale, hash it first the
    * same way chunkDupStats does). Default returns EVERY canonical URL
    * (the full keeper map — what a crawl dedup actually applies);
    * `onlyDups = true` restricts to collapsed groups, the
    * chunkDupStats-shaped audit view. */
  def urlDupStats(docs: DataFrame, idCol: String, urlCol: String,
                  onlyDups: Boolean = false): DataFrame = {
    val stats = docs.select(col(idCol).as("doc_id"),
        canonicalizeUrl(col(urlCol)).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keeper_doc"))
    if (onlyDups) stats.filter(col("n_variants") > 1) else stats
  }

  /** Gopher-style document quality rules (the published heuristic
    * filter family: word-count window, mean-word-length window, symbol
    * ratio, stopword evidence), quantized to integers so every engine
    * derives identical verdicts. Returns per-doc signals + the composite
    * `keep`. Pure narrow map — the filter fuses into the scan. */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 30, maxWords: Int = 5000,
                    minMeanLenX100: Int = 300, maxMeanLenX100: Int = 1000,
                    maxSymbolBp: Int = 1000): DataFrame = {
    // filter the split() phantom: a blank doc is 0 words, not 1 — the
    // invariant TextAnalysis.tokenCountWs documents (a third hand-rolled
    // tokenization here was the copy that got it wrong). coalesce: NULL
    // text scored keep=NULL, so the doc vanished from filter(keep) AND
    // filter(!keep) — breaking keep+reject = corpus accounting; as ""
    // it scores like a blank doc and lands in the reject stream.
    val text = coalesce(col(textCol), lit(""))
    val words = filter(split(TextAnalysis.normalize(text), " "),
      w => w =!= "")
    val wc = size(words)
    val meanLenX100 = when(wc === 0, lit(0L)).otherwise(
      floor(aggregate(words, lit(0L),
        (acc, w) => acc + length(w)) * 100 / wc)).cast("long")
    val symbolBp = floor((length(text) -
      length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
      * lit(10000L) / greatest(length(text), lit(1))).cast("long")
    val stopHits = size(filter(words, w => w.isin(TextAnalysis.EnStopwords: _*)))
    docs.select(col(idCol).as("doc_id"),
        wc.cast("long").as("word_count"), meanLenX100.as("mean_len_x100"),
        symbolBp.as("symbol_bp"), stopHits.cast("long").as("stop_hits"))
      .withColumn("keep",
        col("word_count").between(minWords, maxWords) &&
          col("mean_len_x100").between(minMeanLenX100, maxMeanLenX100) &&
          col("symbol_bp") <= maxSymbolBp &&
          col("stop_hits") > 0)
  }

  /** Blocklist matching — the C4 recipe's "bad words" page filter
    * (arXiv:1910.10683 §2.2 drops any page containing a word from a
    * public blocklist). Terms match on NORMALIZED text (lowercased,
    * punctuation collapsed to spaces) as whole-word sequences, so
    * "class" never matches inside "classification" but the phrase
    * "bad phrase" matches across punctuation. Adds `bad_hits` = the
    * number of DISTINCT blocklist terms present.
    *
    * Scale shape: single-word terms go through ONE exploded-token
    * broadcast join (a 100k-word list is a broadcast table, and the
    * corpus shuffles only (id, matched-term) survivors into the count);
    * multi-word phrases — real blocklists carry few — match as
    * padded-substring containment in one codegen'd expression chain
    * (bounded at 500 phrases: beyond that the expression tree itself
    * becomes the problem; refuse loudly rather than plan a megabyte). */
  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Locale.ROOT: the default-locale toLowerCase diverges from Spark's
    // locale-independent lower() (tr_TR: "FILTER" -> "fılter", the
    // dotless ı then strips to a never-matching phrase) — terms
    // would silently stop matching, the exact silent-wrong class this
    // filter exists to prevent
    val norm = terms.map(t =>
      t.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", " ").trim)
    require(norm.forall(_.nonEmpty),
      s"blocklist terms must contain letters/digits: ${terms.mkString(", ")}")
    require(norm.distinct.size == norm.size,
      "blocklist terms collapse to duplicates after normalization: " +
        norm.diff(norm.distinct).distinct.mkString(", "))
    val (phrases, words) = norm.partition(_.contains(' '))
    require(phrases.size <= 500,
      s"${phrases.size} multi-word phrases — the containment expression " +
        "chain is bounded at 500; split the list or reduce phrases")
    val normCol = trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "))
    val wordHits =
      if (words.isEmpty) null
      else docs.select(col(idCol).as("__id"),
          explode(split(normCol, " ")).as("__w"))
        .join(broadcast(words.toDF("__t")), col("__w") === col("__t"))
        .groupBy("__id")
        .agg(count_distinct(col("__t")).as("__word_hits"))
    val padded = concat(lit(" "), normCol, lit(" "))
    val phraseHits =
      if (phrases.isEmpty) lit(0L)
      else phrases.map(p =>
        when(padded.contains(s" $p "), 1L).otherwise(0L)).reduce(_ + _)
    val withPhrase = docs.withColumn("__phrase_hits", phraseHits)
    val joined =
      if (wordHits == null) withPhrase.withColumn("__word_hits", lit(0L))
      else withPhrase.join(wordHits,
        withPhrase(idCol) === wordHits("__id"), "left").drop("__id")
    joined
      .withColumn("bad_hits",
        coalesce(col("__word_hits"), lit(0L)) + col("__phrase_hits"))
      .drop("__word_hits", "__phrase_hits")
  }

  /** Drop every document containing ANY blocklist term (the C4 rule).
    * Use [[blocklistHits]] directly to threshold or inspect instead. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame =
    blocklistHits(docs, idCol, textCol, terms)
      .filter(col("bad_hits") === 0).drop("bad_hits")
}
