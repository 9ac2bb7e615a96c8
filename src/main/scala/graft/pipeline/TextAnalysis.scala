package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All operators are pure Catalyst expressions (codegen-friendly, no UDFs,
  * no shuffles) so they run as a narrow map over the 100 TB corpus and
  * compose with pushdown/pruning.
  */
object TextAnalysis {

  /** Normalize: lowercase, collapse whitespace, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    // split("") yields one empty element — an empty/whitespace-only doc
    // must count 0 tokens, not 1 (packing budgets, length filters)
    when(length(normalize(text)) === 0, 0)
      .otherwise(size(split(normalize(text), " ")))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * punctuation marks — a cheap proxy for subword tokenizers. */
  def tokenCountBpe(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Stopword ratio for quality scoring. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val words = split(normalize(text), " ")
    val hits = size(filter(words, w => w.isin(stopwords: _*)))
    when(size(words) > 0, hits.cast("double") / size(words)).otherwise(lit(0.0))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
        .cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: rewards mid-length docs, low
    * punctuation noise, presence of stopwords (fluent prose). */
  def qualityScore(text: Column): Column = {
    // NULL text scores like EMPTY text: without the coalesce,
    // least(null, 1.0) SKIPS the null (Spark least semantics) and a
    // missing document's length term scores a perfect 1.0 — a null doc
    // outscored real prose and sailed past quality floors
    val t = coalesce(text, lit(""))
    val lenScore = least(length(t).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(t)
    val stop = stopwordRatio(t)
    lenScore * 0.4 + (lit(1.0) - punct) * 0.3 + least(stop * 5, lit(1.0)) * 0.3
  }

  /** qualityScore quantized to basis points (integer) — engine-portable
    * (floor is exact on doubles; round() half-cases are not). */
  def qualityScoreBp(text: Column): Column =
    floor(qualityScore(text) * 10000).cast("long")

  /** Language-ID by stopword evidence: count hits from per-language
    * stopword lists, argmax with a deterministic tie-break order.
    * (n-gram heuristic; real models plug in the same shape.) */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  def langScore(text: Column, words: Seq[String]): Column = {
    val toks = split(normalize(text), " ")
    size(filter(toks, w => w.isin(words: _*)))
  }

  def languageId(text: Column): Column = {
    val scores = LangStopwords.map { case (l, ws) => (l, langScore(text, ws)) }
    // argmax as a nested CASE: first-listed language wins ties; 'und' when
    // no stopword evidence at all.
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val cases = scores.foldLeft(when(maxScore === 0, lit("und"))) {
      case (acc, (l, s)) => acc.when(s === maxScore, lit(l))
    }
    cases.otherwise(lit("und"))
  }

  /** Deterministic document fingerprint: md5 of normalized text.
    * (Karp-Rabin rolling hash variant in RollingHash.scala for windows.) */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Word n-grams as an array column (shingles for dedup): each gram is
    * n consecutive words of the normalized text joined by one space. A
    * doc with fewer than n words (empty and whitespace-only docs
    * included) has no grams; NULL text gives NULL.
    *
    * The text is normalized ONCE and cut by the native `word_ngrams`
    * kernel (graft.functions.WordNgramsExpr), not by a transform over
    * positions slicing split(normalize(text)): higher-order-function
    * lambdas are interpreted and get no subexpression elimination, so a
    * split referenced in the lambda body runs once per position. Every
    * lambda-invariant expression a lambda needs must reach it as a
    * projected column or as a HOF argument, never inside the body. */
  def wordNgrams(text: Column, n: Int): Column =
    call_function("word_ngrams", normalize(text), lit(n))
}
