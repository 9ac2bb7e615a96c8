package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer induction — the SentencePiece unigram role
  * (Kudo 2018, "Subword Regularization", arXiv:1804.10959) as a corpus
  * job, re-shaped for exact cross-engine verifiability: hard-EM
  * (Viterbi) instead of full forward-backward, with every model
  * quantity carried as an INTEGER so the induced vocabulary is a pure
  * function of the corpus on any engine.
  *
  * Shape (the BPE/k-means plan family):
  *  - the corpus collapses to the DISTINCT-WORD frequency table first
  *    (piece statistics depend on word shapes × counts only — a 100 TB
  *    corpus becomes a vocabulary-sized working set that still
  *    distributes);
  *  - the candidate inventory (all substrings of length <= maxPieceLen
  *    with corpus count >= minCount, plus all single chars for
  *    coverage) is vocab-scale by construction and BROADCASTS, like
  *    k-means centroids and the BPE merge list;
  *  - each EM iteration is ONE narrow distributed pass (per-word
  *    Viterbi against the broadcast cost table) plus ONE (piece, count)
  *    aggregation; only the inventory crosses the driver.
  *
  * Determinism contract (what the DuckDB oracle replays exactly):
  *  - piece cost = round((ln T - ln c) * 1e6)::long * 32
  *                 + (maxPieceLen - len(piece))
  *    — integer costs; the length term prefers longer pieces (and thus
  *    fewer pieces per word) on log-cost ties;
  *  - Viterbi DP keys encode the backpointer:
  *    key = (cum + cost) * 16 + start, minimized per position — exact
  *    integer argmin, ties broken toward the smaller start. maxWordLen
  *    must stay < 16 for the encoding (enforced);
  *  - words longer than maxWordLen are excluded from training; words
  *    that lose segmentability when a piece's count drops to zero are
  *    skipped that iteration (both engines identically).
  */
object UnigramLm {

  case class Params(maxPieceLen: Int = 4, maxWordLen: Int = 12,
                    minCount: Long = 2L, iterations: Int = 2,
                    vocabSize: Int = 60) {
    require(maxWordLen < 16, "maxWordLen must stay < 16 (DP key encoding)")
    require(maxPieceLen >= 1 && maxPieceLen <= maxWordLen)
    require(iterations >= 1)
  }

  /** Distinct-word frequency table over normalized text. */
  def wordFreq(docs: DataFrame, textCol: String, p: Params): DataFrame =
    docs.select(explode(split(TextAnalysis.normalize(col(textCol)), " "))
        .as("word"))
      .filter(length(col("word")).between(1, p.maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed inventory: corpus occurrence counts of every substring of
    * length 1..maxPieceLen (per-position occurrences, frequency-
    * weighted); pieces below minCount drop unless single-char. */
  def seedCounts(words: DataFrame, p: Params): DataFrame =
    words.select(explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
              s -> transform(
                sequence(1, least(${p.maxPieceLen}, length(word) - s + 1)),
                l -> substring(word, s, l))))""")).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("c"))
      .filter(col("c") >= p.minCount || length(col("piece")) === 1)

  private val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  /** Integer piece costs from an inventory snapshot — ONE float
    * evaluation order (ln T - ln c), rounded at 1e-6, then the
    * length-preference tiebreak in the low 5 bits' headroom. */
  private def costsOf(inv: Map[String, Long], p: Params)
      : Map[String, Long] = {
    val t = inv.values.sum.toDouble
    val lnT = math.log(t)
    inv.map { case (piece, c) =>
      piece -> (math.round((lnT - math.log(c.toDouble)) * 1e6) * 32L +
        (p.maxPieceLen - piece.length))
    }
  }

  /** Viterbi segmentation under integer costs; None when some position
    * is unreachable (a needed piece left the inventory). Shared by
    * training and [[segment]] — one implementation, zero drift. */
  private[pipeline] def viterbi(word: String, cost: String => Long,
                                has: String => Boolean,
                                maxPieceLen: Int): Option[Seq[String]] = {
    // CODE POINTS, not UTF-16 units: Spark length()/substring() and
    // DuckDB len()/substr() both count code points — indexing UTF-16
    // here would diverge on non-BMP text AND let positions past 15
    // overflow the 4-bit backpointer encoding
    val cps = word.codePoints().toArray
    val L = cps.length
    def sub(s: Int, e: Int): String = new String(cps, s, e - s)
    val NoKey = Long.MaxValue
    val cum = new Array[Long](L + 1)
    val back = new Array[Int](L + 1)
    java.util.Arrays.fill(back, -1)
    back(0) = 0
    var pos = 1
    while (pos <= L) {
      var bestKey = NoKey
      var start = math.max(0, pos - maxPieceLen)
      while (start < pos) {
        if (start == 0 || back(start) >= 0) {
          val piece = sub(start, pos)
          if (has(piece)) {
            val key = (cum(start) + cost(piece)) * 16L + start
            if (key < bestKey) bestKey = key
          }
        }
        start += 1
      }
      if (bestKey != NoKey) {
        cum(pos) = bestKey / 16; back(pos) = (bestKey % 16).toInt
      } else back(pos) = -1
      pos += 1
    }
    if (L == 0 || back(L) < 0) None
    else {
      var at = L
      val pieces = scala.collection.mutable.ArrayBuffer[String]()
      while (at > 0) {
        val s = back(at)
        pieces += sub(s, at)
        at = s
      }
      Some(pieces.reverse.toSeq)
    }
  }

  /** Induce the vocabulary: seed counts, then `iterations` rounds of
    * Viterbi re-segmentation + re-count. Returns (piece, cnt), the top
    * vocabSize by (cnt desc, piece asc).
    *
    * Driver bound: the whole candidate inventory is collected to the
    * driver (and broadcast back as the cost table) before any
    * `vocabSize` cut. Its size is the number of distinct substrings of
    * length <= maxPieceLen with corpus count >= minCount, plus the single
    * chars: at most min(distinct words x Σ_{l<=maxPieceLen}
    * (maxWordLen - l + 1), alphabet^maxPieceLen) — 42 per distinct word
    * at the defaults, and ~2.6M for a 40-letter alphabet, but far more
    * for a large-alphabet (CJK) corpus or a raised maxPieceLen. A
    * collected row is a few tens of bytes, so tens of millions of
    * candidates exceed `spark.driver.maxResultSize` (1 GB by default)
    * and the job aborts with a SparkException; below that, a driver
    * heap too small for the map and its broadcast copy fails with
    * OutOfMemoryError. Raise minCount (or lower maxPieceLen) to shrink
    * the inventory. */
  def induce(docs: DataFrame, textCol: String,
             p: Params = Params()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFreq(docs, textCol, p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // vocab-scale collect (bounded by minCount; the k-means-centroid
      // contract — the inventory IS the model being trained). Size bound
      // and failure mode: see the docstring above
      var inv: Map[String, Long] = seedCounts(words, p)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      var iter = 0
      while (iter < p.iterations && inv.nonEmpty) {
        val costsB = spark.sparkContext.broadcast(costsOf(inv, p))
        val maxPiece = p.maxPieceLen
        val counts = words.as[(String, Long)].flatMap { case (word, freq) =>
          val costs = costsB.value
          viterbi(word, costs, costs.contains, maxPiece)
            .toSeq.flatten.map(piece => (piece, freq))
        }.toDF("piece", "freq")
          .groupBy("piece").agg(sum("freq").as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        costsB.destroy()
        inv = counts // zero-count pieces drop by absence
        iter += 1
      }
      // tie-break by UTF-8 BYTES: DuckDB's ORDER BY compares binary
      // UTF-8 (== code-point order) while Scala String ordering is
      // UTF-16, which sorts supplementary chars before U+E000..U+FFFF
      inv.toSeq.sortBy { case (piece, c) => (-c, piece) }(
          Ordering.Tuple2(Ordering.Long, utf8Ordering))
        .take(p.vocabSize)
        .toDF("piece", "cnt")
    } finally words.unpersist()
  }

  /** Segment a corpus column with an induced vocabulary (uniform piece
    * weight per surviving count — the same Viterbi, so training-time
    * and inference-time tokenizations agree). Unsegmentable or
    * overlong words pass through whole (the SentencePiece UNK role). */
  def segment(docs: DataFrame, textCol: String, vocab: Map[String, Long],
              p: Params = Params()): DataFrame = {
    val spark = docs.sparkSession
    val costsB = spark.sparkContext.broadcast(costsOf(vocab, p))
    docs.withColumn("pieces",
        udfSegment(costsB, p.maxPieceLen, p.maxWordLen)(
          split(TextAnalysis.normalize(col(textCol)), " ")))
  }

  // A compact deterministic segmentation kernel for [[segment]]: HOF
  // lambdas get no subexpression elimination and a vocab-scale map
  // literal would bloat the plan, so the broadcast+function shape wins.
  private def udfSegment(
      costsB: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
      maxPiece: Int, maxWord: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { words: Seq[String] =>
      val costs = costsB.value
      // split(normalize(NULL)) stays NULL and reference-typed UDF
      // inputs are NOT auto-null-guarded — a null text row must yield
      // no pieces, not an executor NPE
      val safe = if (words == null) Seq.empty[String] else words
      safe.flatMap { w =>
        if (w.isEmpty) Nil
        // code-point count, matching the training-side length filter
        else if (w.codePointCount(0, w.length) > maxWord) Seq(w)
        else viterbi(w, costs, costs.contains, maxPiece).getOrElse(Seq(w))
      }
    }
}
