package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import org.apache.spark.storage.StorageLevel

/** Lexical relevance scoring over a document corpus: TF-IDF and BM25 —
  * the retrieval half of a training-data pipeline (mining domain
  * documents by keyword, weighting corpus mixtures by topical relevance,
  * building weak labels for quality classifiers).
  *
  * Scale shape: query terms are filtered out of the token stream BEFORE
  * anything shuffles (a handful of terms survive per document, not the
  * document), document lengths are a narrow codegen map, and the corpus
  * statistics (N, avgdl, per-term df) are metadata-scale aggregates that
  * broadcast. Nothing here is quadratic and nothing shuffles text other
  * than the matched terms themselves (bounded by |query| distinct
  * values). Formulas are pure double arithmetic with a fixed evaluation
  * order, so a SQL oracle reproduces them bit-for-bit.
  */
object Search {

  /** normalize → whitespace split with the empty-string phantom dropped:
    * split("") yields [""], and a blank document must contribute ZERO
    * tokens (TextAnalysis.tokenCountWs documents the same invariant) —
    * without this, "" ranks as a real vocabulary term with freq =
    * #blank-docs, and blank docs get finite LM scores instead of none. */
  private def toksOf(c: Column): Column =
    filter(split(TextAnalysis.normalize(c), " "), t => length(t) > 0)

  /** Per-document BM25 score against a bag of query terms.
    * Okapi BM25: sum over matched terms of
    * `idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` with
    * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`.
    * Returns (id, score) for documents matching at least one term.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = toksOf(col(textCol))
    // tokens are normalize()-lowercased — query terms must be too, or an
    // uppercase term silently matches nothing
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT).trim)
      .filter(_.nonEmpty)

    // narrow map: per-doc length + per-term tf for query terms only.
    // The term filter runs INSIDE the token array (array-level filter
    // before the explode), so the generate emits only query-term hits —
    // a handful of rows per matching doc — instead of fanning every
    // document out token-wise and filtering the exploded stream
    val withLen = docs.select(col(idCol).as("doc_id"),
      size(toks).as("dl"), toks.as("toks"))
    val tf = withLen
      .select(col("doc_id"), col("dl"),
        explode(filter(col("toks"), t => t.isin(qTerms: _*))).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

    // corpus statistics: one aggregate each, broadcast back
    val stats = withLen.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val df_ = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))

    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * tfNorm).as("term_score"))
      .groupBy("doc_id").agg(sum("term_score").as("score"))
  }

  /** Top-k vocabulary induction: the seed step of tokenizer training
    * (word-level counts feeding BPE/unigram trainers) and the basis of
    * frequency-based filters. One map-side-combinable count aggregation
    * over the corpus, a distributed top-k (TakeOrderedAndProject — no
    * global sort of the vocabulary), then ranks assigned over just the
    * k survivors (the only single-partition step touches k rows, not
    * the corpus). Ties break lexicographically. */
  def topVocab(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(toksOf(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(k)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term")))
        .cast("long"))
  }

  /** Unigram-LM negative-log-likelihood scoring — the perplexity-proxy
    * quality signal (the CCNet/CC-filtering recipe scores documents by a
    * language model's perplexity; the unigram model is its shuffle-only
    * degenerate case and the same plan shape a KenLM scorer plugs into):
    * `p(t) = count(t)/total` over the corpus itself, per-doc score
    * `mean(-ln p(t))`. Low = stereotypical corpus text, high = unusual.
    * Two aggregations (term counts, per-doc means) + one hash join on
    * the vocabulary — no broadcast of anything corpus-sized; the token
    * stream shuffles once, exactly like vocabulary induction. */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // terms travel as 64-bit xxhash keys: no term string leaves this
    // operator (the output is (doc_id, nll)), so the vocabulary shuffle
    // and the model join move 8-byte longs — counts and scores are
    // identical to the string-keyed form short of a 2^64-keyspace
    // collision (the dsirWeights posture; the 6dp gate would catch one)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(transform(toksOf(col(textCol)), t => xxhash64(t))).as("th"))
    val counts = toks.groupBy("th").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val probs = counts.crossJoin(broadcast(total))
      .select(col("th"), (col("cnt").cast("double") / col("total")).as("p"))
    // raw double out — rounding is a GATE convention (SURVEY §5), not an
    // operator one; a consumer thresholding on nll gets full precision.
    toks.join(probs, "th")
      .groupBy("doc_id")
      .agg((sum(-log(col("p"))) / count(lit(1))).as("nll"))
  }

  /** Bigram-LM negative-log-likelihood scoring — one model order up from
    * [[unigramNll]], the closer perplexity proxy to CCNet's KenLM filter
    * (CCNet, Wenzek et al. 2020, arXiv:1911.00359 §4.3 scores with a
    * 5-gram LM; the plan shape here is the general n-gram one). Jelinek-
    * Mercer interpolation keeps every probability positive when scoring
    * the training corpus itself:
    * `P(w2|w1) = λ·c(w1 w2)/c(w1 ·) + (1-λ)·c(w2)/total`,
    * per-doc score `mean(-ln P)` over its bigrams; docs with fewer than
    * two tokens carry no bigram evidence and are omitted.
    *
    * Distribution: bigrams build with array HOFs on the token array
    * (narrow, no window); model fitting is two gram aggregations (the
    * context total derives FROM the bigram table, no third corpus pass);
    * scoring is one hash join from the doc gram stream to the model.
    * Corpus totals broadcast (metadata-scale); nothing corpus-sized
    * broadcasts, the token/gram streams shuffle once each — the same
    * posture as [[dsirWeights]]. */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
                lambda: Double = 0.9): DataFrame = {
    // grams travel as 64-bit xxhash keys (unigramNll/dsirWeights
    // posture): the output is (doc_id, nll2) — no term string leaves
    // the operator — so the three model joins and both gram shuffles
    // carry longs; counts, probabilities and scores are identical to
    // the string-keyed form short of a 2^64-keyspace collision
    val toksArr = docs.select(col(idCol).as("doc_id"),
      transform(toksOf(col(textCol)), t => xxhash64(t)).as("toks"))
    val bigrams = toksArr
      .select(col("doc_id"), explode(expr(
        """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |  (t, i) -> struct(t AS w1, toks[i + 1] AS w2))""".stripMargin))
        .as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
    val ctx = c2.groupBy("w1").agg(sum("cnt2").as("ctx"))
    val uni = toksArr.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt1"))
    val total = uni.agg(sum("cnt1").as("total"))
    val model = c2.join(ctx, "w1")
      .join(uni.withColumnRenamed("term", "w2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        (lit(lambda) * col("cnt2").cast("double") / col("ctx") +
          lit(1.0 - lambda) * col("cnt1").cast("double") / col("total"))
          .as("p"))
    // raw double out — rounding is a GATE convention (SURVEY §5)
    bigrams.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg((sum(-log(col("p"))) / count(lit(1))).as("nll2"))
  }

  /** DSIR-style importance weights (the "Data Selection for Language
    * Models via Importance Resampling" recipe, Xie et al. 2023,
    * arXiv:2302.03169): fit unigram+bigram bag-of-ngrams models over a
    * TARGET corpus (what you want more of) and the RAW corpus, then
    * weight each raw document by its log-likelihood ratio
    * `Σ_g ln(p_target(g) / p_raw(g))` over its gram occurrences, with
    * add-one smoothing on the union vocabulary. High weight = reads
    * like target; sampling raw ∝ softmax(weight) is the paper's
    * importance resampling step ([[Training.temperatureMix]] /
    * stratified sampling compose downstream).
    *
    * The paper hashes grams into a fixed SMALL bucket count (10^4-10^5)
    * so the model fits one machine, paying real collisions; distributed,
    * the gram-count table IS the model — it shuffles like any vocabulary
    * aggregate ([[topVocab]]). Grams travel as 64-bit xxhash keys rather
    * than strings (unigram = xxhash64(tok), bigram = xxhash64(tok, nxt)):
    * counts, ratios and therefore weights are identical to the
    * string-keyed form unless two realized grams collide in a 2^64
    * keyspace (~1e-8 at 10^9 distinct grams — the [[Dedup.tokenSet]]
    * posture, and the 6dp gate would catch a hit), while the two
    * vocabulary shuffles and the ratio join move 8-byte longs instead of
    * gram strings and never sort. Plan: two gram aggregations + a
    * full-outer vocab join, corpus totals broadcast (metadata-scale),
    * one shuffled-hash join from the raw gram stream to the per-gram
    * ratios, one per-doc sum. Bigrams hash with array HOFs (zip_with on
    * the token array) — narrow, no window, no shuffle of anything but
    * gram keys and counts. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    // unigram + bigram HASH stream; zip_with pads with null, the case
    // guard drops the padded tail instead of emitting a corrupt gram.
    // xxhash64(x, y) (two-column form) keys bigrams without ever
    // materializing the concatenated gram string.
    def grams(df: DataFrame, keep: Seq[Column]): DataFrame = df
      .withColumn("__toks", toksOf(col(textCol)))
      .withColumn("__grams", concat(
        expr("transform(__toks, t -> xxhash64(t))"), expr(
        """filter(
             zip_with(__toks, slice(__toks, 2, size(__toks)),
               (x, y) -> case when y is null then null
                         else xxhash64(x, y) end),
             g -> g is not null)""")))
      .select(keep :+ explode(col("__grams")).as("gram"): _*)
    // the per-doc gram stream feeds BOTH the raw model counts and the
    // final weight join — one tokenize pass over the raw corpus, not two
    val rawGrams = grams(raw, Seq(col(idCol).as("doc_id")))
    // hint gate: the vocab/ratio build sides are bounded above by the
    // gram streams, which are bounded by the input bytes — hint only
    // when the OPTIMIZER-ESTIMATED input (file-size-derived for scans)
    // spread over the session's shuffle partitions stays under ~64 MB
    // per build task (the Dedup.dupComponents hinted() posture: at
    // cluster scale the gate fails closed and the planner's spill-safe
    // sort-merge join stands)
    val hintOk = {
      val parts = raw.sparkSession.sessionState.conf.numShufflePartitions
      val est = raw.queryExecution.optimizedPlan.stats.sizeInBytes +
        target.queryExecution.optimizedPlan.stats.sizeInBytes
      est <= BigInt(parts) * (64L << 20)
    }
    val tc = grams(target, Nil).groupBy("gram").agg(count(lit(1)).as("tcnt"))
    val rc = rawGrams.groupBy("gram").agg(count(lit(1)).as("rcnt"))
    // both gram-keyed joins should execute shuffled-hash, not
    // sort-merge: neither side's order is reused downstream, so SMJ
    // would pay two corpus-vocabulary sorts of 64-bit gram keys per
    // join for nothing. The hint is now GATED on the scans' estimated
    // input bytes (r16 advisor: a ShuffledHashJoin build side cannot
    // spill, and these build sides are corpus-vocabulary-sized — the
    // previous unconditional hints could OOM a 100 TB vocabulary where
    // SMJ degrades gracefully). AQE's maxShuffledHashJoinLocalMapThreshold
    // rewrite cannot replace the hint here: these joins sit on top of
    // the count AGGREGATIONS (they reuse the gram exchange), so the
    // join's children are never bare shuffle stages with map statistics
    // — measured r17: the rewrite never fires at any threshold.
    def sh(df: DataFrame) = if (hintOk) df.hint("shuffle_hash") else df
    val vocab = tc.join(sh(rc), Seq("gram"), "full_outer")
      .na.fill(0L, Seq("tcnt", "rcnt"))
    val totals = vocab.agg(sum("tcnt").as("tt"), sum("rcnt").as("rt"),
      count(lit(1)).as("v"))
    val llr = vocab.crossJoin(broadcast(totals)).select(col("gram"),
      (log((col("tcnt") + 1.0) / (col("tt") + col("v"))) -
        log((col("rcnt") + 1.0) / (col("rt") + col("v")))).as("llr"))
    val weights = rawGrams
      .join(sh(llr), "gram")
      .groupBy("doc_id").agg(sum("llr").as("weight"))
    // grams-free documents weight 0 (empty ratio sum), not missing.
    // The attach join takes the same gated hint: its build side (one
    // 16-byte row per doc with grams) is bounded by the gate too, and
    // neither side's sort order is used downstream.
    raw.select(col(idCol).as("doc_id")).distinct()
      .join(sh(weights), Seq("doc_id"), "left")
      .na.fill(0.0, Seq("weight"))
  }

  /** One row of the classifiers' training frame: a distinct doc_id (null
    * is one group, as in SQL GROUP BY), its md5-bucketed token counts
    * merged over every input row carrying it (`js` ascending with their
    * counts `xs` — the oracles' `feats` CTE; empty for the null doc_id,
    * which no feature join matches) and the label of every input row
    * carrying it (`ys`, one entry per row, null labels dropped). */
  private final case class Doc(id: Any, js: Array[Int], xs: Array[Long], ys: Seq[Any])

  /** The training frame, `j = md5_32(prefix + token) mod dim`: ONE
    * groupBy(doc_id) over per-row bucket arrays — no (doc_id, j)-keyed
    * exchange, no label join — persisted by the caller. */
  private def docFrame(docs: DataFrame, idCol: String, textCol: String,
                       prefix: String, dim: Int, label: Column): RDD[Doc] = {
    val js = transform(toksOf(col(textCol)), t =>
      pmod(Dedup.md5Hash32(concat(lit(prefix), t)), lit(dim.toLong)).cast("int"))
    docs.select(col(idCol).as("doc_id"), label.as("y"),
        when(col(idCol).isNotNull, js).as("js"))
      .groupBy("doc_id")
      .agg(flatten(collect_list("js")), collect_list("y"))
      .rdd.map { r =>
        val (js, xs) = r.getSeq[Int](1).groupMapReduce(identity)(_ => 1L)(_ + _)
          .toArray.sorted.unzip
        Doc(r.get(0), js, xs, r.getSeq[Any](2))
      }
  }

  /** Materializes the persisted frame and returns (n, distinct labels):
    * `n` counts the labeled input rows. */
  private def labelStats(frame: RDD[Doc]): (Double, Set[Any]) = {
    val (n, labels) = frame.aggregate((0L, Set.empty[Any]))(
      (a, d) => (a._1 + d.ys.size, a._2 ++ d.ys),
      (a, b) => (a._1 + b._1, a._2 ++ b._2))
    (n.toDouble, labels)
  }

  /** A doc's K class probabilities: `link` applied to the per-class dot
    * products `z_i = Σ_j w(i·dim + j) · x_j` (ascending j). */
  private def probs(d: Doc, w: Array[Double], k: Int, dim: Int,
                    link: Array[Double] => Array[Double]): Array[Double] = {
    val z = new Array[Double](k)
    for (i <- 0 until k; t <- d.js.indices) z(i) += w(i * dim + d.js(t)) * d.xs(t)
    link(z)
  }

  /** Batch gradient descent over the persisted frame: `iters` steps of
    * `w -= lr · (g / n)` with `g_(i,j) = Σ (p_i - target(y, i)) · x_j`
    * over every (label, feature) pair of every doc — the oracles'
    * per-term products, summed in another order. Each iteration is ONE
    * Spark job: a treeAggregate of dense K×dim partial sums over the
    * cached frame, combined in a tree (MLlib's logistic-regression
    * shape; K×dim doubles per task) — no query plan, no shuffle, no
    * join. The K×dim weights have one spelling at every dim: an array
    * in the task closure, which Spark ships once per job in the
    * broadcast task binary (8 bytes a weight; nothing in any plan).
    * Iteration 1 takes the closed form: w = 0 makes p exactly `link(0)`
    * (0.5 or 1/K), so no dot product runs. Returns the weights, class i
    * at offset i·dim. */
  private def train(frame: RDD[Doc], n: Double, k: Int, dim: Int,
                    iters: Int, lr: Double, link: Array[Double] => Array[Double],
                    target: (Any, Int) => Double): Array[Double] = {
    var w = new Array[Double](k * dim)
    val p0 = link(new Array[Double](k))
    for (it <- 1 to iters) {
      val cur = w
      val g = frame.treeAggregate(new Array[Double](k * dim))(
        (acc, d) => {
          val p = if (it == 1) p0 else probs(d, cur, k, dim, link)
          for (y <- d.ys; i <- 0 until k) {
            val e = p(i) - target(y, i)
            for (t <- d.js.indices) acc(i * dim + d.js(t)) += e * d.xs(t)
          }
          acc
        },
        (a, b) => { for (i <- a.indices) a(i) += b(i); a })
      w = Array.tabulate(k * dim)(i => cur(i) - lr * (g(i) / n))
    }
    w
  }

  /** The scored rows as a DataFrame, PERSISTED and materialized — the
    * classifiers' caller-unpersist contract: evaluated while the
    * training frame is still cached. Materialized by a pass over every
    * partition: count() would add an exchange, one more job under AQE. */
  private def materialized(spark: SparkSession, rows: RDD[Row],
                           schema: StructType): DataFrame = {
    val p = spark.createDataFrame(rows, schema).persist()
    p.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))
    p
  }

  /** fastText-style QUALITY CLASSIFIER scoring — the CCNet/GPT-3 recipe
    * for quality filtering: a linear classifier over hashed token
    * features, trained to separate a high-quality reference slice
    * (`isTarget`; null counts as false) from the rest of the crawl, then
    * scoring every document with `sigmoid(w·x)`. Training is batch
    * logistic regression with a FIXED, deterministic iteration count.
    *
    * Plan: one groupBy(doc_id) builds the per-doc training frame
    * ([[docFrame]]), persisted; one pass materializes it and returns `n`
    * (every input row counts); each iteration is one Spark job over the
    * frame ([[train]]); scoring is one more pass. No join, no broadcast
    * join, no plan that grows with `dim`.
    *
    * Features are md5-bucketed token counts (portable hash, SURVEY §5),
    * so a SQL oracle re-derives the exact weights by unrolling the same
    * iterations; every float expression keeps the oracle's operations
    * (`1/(1+exp(-z))`, sums divided by n after summing) for cross-engine
    * reproducibility up to summation order.
    *
    * Returns (doc_id, quality_score), one row per INPUT row: a duplicated
    * doc_id scores from its merged features once per row, and a doc with
    * no tokens scores sigmoid(0) = 0.5 (no evidence either way).
    *
    * Caching contract: the frame is persisted ONLY for training and
    * scoring and released before return. The returned frame is the
    * scored result PERSISTED and materialized while the frame is still
    * cached, so the call costs ONE corpus pass no matter when or how
    * often the caller evaluates it — `unpersist()` it when done (the
    * Dedup contract). Persist, not localCheckpoint: checkpoint blocks
    * are unreplicated and lineage-cut, so one lost executor would make
    * the result permanently unevaluable; a persisted frame falls back to
    * recompute. */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, dim: Int = 64, iters: Int = 3,
                        lr: Double = 0.5): DataFrame = {
    require(dim > 0 && iters > 0, "qualityClassifier: dim and iters must be positive")
    val frame = docFrame(docs, idCol, textCol, "qc:", dim,
      when(coalesce(isTarget, lit(false)), 1.0).otherwise(0.0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, _) = labelStats(frame)
      val sigmoid = (z: Array[Double]) => Array(1.0 / (1.0 + StrictMath.exp(-z(0))))
      val w = train(frame, n, 1, dim, iters, lr, sigmoid,
        (y, _) => y.asInstanceOf[Double])
      val scored = frame.flatMap { d =>
        val p = probs(d, w, 1, dim, sigmoid)(0)
        d.ys.map(_ => Row(d.id, p))
      }
      materialized(docs.sparkSession, scored, new StructType()
        .add("doc_id", docs.schema(idCol).dataType).add("quality_score", DoubleType))
    } finally frame.unpersist()
  }

  /** Multi-class LANGUAGE classifier — the trainable upgrade of the
    * heuristic n-gram langId (fastText's langid role, softmax over
    * hashed token features): batch softmax regression with a FIXED,
    * deterministic iteration count, trained on the rows whose
    * `labelCol` is non-null and scoring EVERY document.
    *
    * [[qualityClassifier]]'s plan with K classes: the frame's
    * materializing pass returns both `n` (the labeled rows) and the
    * class list (`labelCol`'s sorted distinct values — a label
    * enumeration, metadata-scale by definition); each iteration is one
    * Spark job whose partial sums are K×dim doubles. Unlabeled docs sit
    * in the frame with no labels and add nothing to any gradient.
    *
    * Softmax is the max-subtracted stable form `exp(z-m)/Σexp(z-m)`
    * (`m` is an exact per-doc max, so cross-engine reproducibility
    * holds and a long doc's z cannot overflow `exp`). Features are
    * md5-bucketed token counts (portable hash, SURVEY §5), so a SQL
    * oracle re-derives the exact weights by unrolling the iterations —
    * the q_quality_clf posture.
    *
    * Returns (doc_id, lang, p): the FULL per-class probability row set
    * for every distinct doc_id — K rows per doc. Probabilities, not
    * argmax, because a discrete prediction is float-tie-unstable across
    * engines and because thresholding/abstention policies (CCNet keeps
    * a doc only above a confidence floor) are caller decisions; argmax
    * is a one-line `max_by(lang, p)` downstream. A doc with no tokens
    * (or none seen in training) scores the uniform 1/K — no evidence
    * either way. Like [[qualityClassifier]], the result is persisted and
    * materialized while the frame is cached: one corpus pass total;
    * `unpersist()` it when done. */
  def languageClassifier(docs: DataFrame, idCol: String, textCol: String,
                         labelCol: String, dim: Int = 64, iters: Int = 3,
                         lr: Double = 0.5): DataFrame = {
    require(dim > 0 && iters > 0,
      "languageClassifier: dim and iters must be positive")
    val frame = docFrame(docs, idCol, textCol, "lc:", dim,
      col(labelCol).cast("string")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, classes) = labelStats(frame)
      val labels = classes.toSeq.map(_.toString).sorted
      require(labels.length >= 2,
        s"languageClassifier needs >= 2 classes (got $labels)")
      val k = labels.length
      val softmax = (z: Array[Double]) => {
        val m = z.max // exact per-doc max
        val ez = z.map(v => StrictMath.exp(v - m))
        val tot = ez.sum
        ez.map(_ / tot)
      }
      val w = train(frame, n, k, dim, iters, lr, softmax,
        (y, i) => if (y == labels(i)) 1.0 else 0.0)
      val scored = frame.flatMap { d =>
        labels.zip(probs(d, w, k, dim, softmax)).map { case (l, p) => Row(d.id, l, p) }
      }
      materialized(docs.sparkSession, scored, new StructType()
        .add("doc_id", docs.schema(idCol).dataType).add("lang", StringType)
        .add("p", DoubleType))
    } finally frame.unpersist()
  }

  /** Classic TF-IDF weight per (doc, term) for the given terms:
    * `tf * ln(N / df)` — the simpler sibling kept for pipelines that
    * expect it (BM25 is the default). */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            terms: Seq[String]): DataFrame = {
    val toks = toksOf(col(textCol))
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT).trim)
      .filter(_.nonEmpty)
    // array-level term filter before the explode (the bm25 shape):
    // only query-term hits ever generate rows
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(filter(toks, t => t.isin(qTerms: _*))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val df_ = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
    tf.join(broadcast(df_), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("weight"))
  }
}
