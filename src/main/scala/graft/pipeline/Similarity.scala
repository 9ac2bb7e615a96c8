package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an `array<float>` embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against a linear scan of the corpus; no shuffle of the big side, a
  * single top-k-per-query aggregation after. Scale path: random-hyperplane
  * LSH buckets so each query only scores one bucket's worth of candidates.
  */
object Similarity {

  /** Cosine similarity — the native fused-loop Catalyst expression
    * (graft.functions.CosineSimilarity, registered by GraftExtensions).
    * One pass per pair instead of three higher-order-function walks;
    * bit-identical to [[cosineHof]]. */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Reference formulation from Spark built-ins only (aggregate/zip_with)
    * — used when the session lacks GraftExtensions, and as the equality
    * oracle for the native kernel in ScalaTest. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x))

  /** Brute-force top-k cosine neighbors for each query id.
    * `queries` is small (broadcast); `corpus` streams — the join is a
    * BroadcastNestedLoopJoin over the scan, then one shuffle for the
    * per-query top-k window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")), col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        round(cosine(col(s"q.$vecCol"), col(s"c.$vecCol")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact all-pairs cosine >= threshold, distributed via triangle block
    * partitioning — the scale-correct EXACT formulation (what a low
    * threshold like 0.4 fundamentally requires: LSH cannot reach recall 1
    * when pairs sit barely above noise). Each vector is replicated to the
    * `numBlocks` block-pairs it participates in, so no task ever holds the
    * whole corpus and no broadcast of the big side happens; O(N^2) compute
    * is spread evenly over numBlocks*(numBlocks+1)/2 buckets. Replication
    * factor = numBlocks (choose ~sqrt(parallelism)). */
  def blockedAllPairs(corpus: DataFrame, threshold: Double, numBlocks: Int = 8,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val rep = graft.GraftSession.balanced(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(numBlocks)).cast("int"))
      .withColumn("pj", explode(sequence(lit(0), lit(numBlocks - 1))))
      .withColumn("bkey", // packed long, not a string (join-key cost)
        least(col("blk"), col("pj")).cast("long") * numBlocks +
          greatest(col("blk"), col("pj")))
    // same-block pairs are present in every bucket the block touches; score
    // them only in the diagonal bucket (pj == blk) to avoid duplicates.
    val pairs = rep.as("a").join(rep.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
          (col("a.blk") =!= col("b.blk") || col("a.pj") === col("a.blk")))
      .withColumn("cs_raw", cosine(col("a.v"), col("b.v")))
      .filter(col("cs_raw") >= threshold)
    pairs.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
      round(col("cs_raw"), 6).as("cos_sim"))
  }

  /** `df` projected to `keep` plus `vec` unit-normalized as `out` — ONE
    * definition shared by the PQ quantizer and the kmeans trainer (they
    * must agree on the vector space; two private copies had to be kept in
    * sync by hand).
    *
    * The vector (`__v`) and its norm (`__n`) are projected as COLUMNS
    * before the per-element transform, so the lambda reads an attribute:
    * HOF lambdas are interpreted with no subexpression elimination, and a
    * norm spelled inside `x => x / n` was re-aggregated for every element
    * — O(dim^2) per vector. Each alias is read twice downstream, so
    * CollapseProject keeps the projections (it inlines a non-cheap alias
    * only when it is read once). */
  private def normed(df: DataFrame, keep: Seq[Column], vec: Column,
                     out: String): DataFrame = {
    val kept = df.select(keep :+ vec.as("__v"): _*)
    val names = kept.columns.init.toSeq.map(col)
    val n = col("__n")
    // zero-norm guard: an all-zero embedding (padding/empty-doc artifact)
    // divided by 0 is a NaN vector, and NaN sorts GREATEST in Spark —
    // one such vector poisoned a kmeans centroid to all-NaN and then
    // absorbed the whole corpus into that cluster. A zero vector stays
    // zero (cosine 0 to everything — neutral), mirroring quantizeInt8's
    // explicit zero-vector handling.
    kept.select(names ++ Seq(col("__v"), sqrt(aggregate(col("__v"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))).as("__n")): _*)
      .select(names :+
        when(n === 0.0, transform(col("__v"), x => lit(0.0)))
          .otherwise(transform(col("__v"), x => x.cast("double") / n)).as(out): _*)
  }

  /** Random-hyperplane signature: `bits` sign bits packed into a long.
    * Deterministic pseudo-hyperplanes derived from xxhash64(table, bit,
    * dim) — reproducible across runs with no stored model. `table` selects
    * an independent hash family for multi-table LSH. */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, table: Int = 0): Column = {
    // a dim mismatch would null out every projection (zip_with pads with
    // nulls), collapse all signatures to 0L, and silently turn LSH into
    // an N^2 join — refuse per row instead
    // isNull is load-bearing: for a NULL vector `size(vec) =!= dim` is
    // null, the when() fell through, every projection went null and every
    // bit resolved 0 — ALL null-vector rows collapsed into bucket 0 of
    // every table, the exact quadratic mega-bucket this guard refuses
    val checked = when(vec.isNull || size(vec) =!= dim,
      raise_error(concat(lit(s"hyperplaneSignature: dim $dim does not " +
        "match embedding length "),
        coalesce(size(vec).cast("string"), lit("NULL")))))
      // null/NaN ELEMENTS collapse the same way a null vector did: every
      // projection nulls (or NaNs, and NaN >= 0 is true), so all such
      // rows share one signature in EVERY table — the quadratic
      // mega-bucket again, just one level down. Refuse them too.
      .when(exists(vec, x => x.isNull || isnan(x.cast("double"))),
        raise_error(lit("hyperplaneSignature: embedding contains " +
          "null/NaN elements — clean or filter the vector column first")))
      .otherwise(vec)
    val bitCols = (0 until bits).map { b =>
      // pseudo-random +-1 weights per (table, bit, dimension). The
      // weights are DATA-INDEPENDENT, so they are evaluated ONCE on the
      // driver (the same foldable xxhash64 expression — signatures are
      // bit-identical to the per-row form) and embedded as a literal
      // array: the old in-lambda hash ran ~dim*bits*tables xxhash64
      // calls PER CORPUS ROW inside interpreted HOFs (the
      // Dedup.tokenHashes lesson, one level up).
      val signs: Seq[Double] = (0 until dim).map { i =>
        import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
        val h = new XxHash64(Seq(Literal(table), Literal(b), Literal(i)))
          .eval(null).asInstanceOf[Long]
        if (h % 2 == 0) 1.0 else -1.0
      }
      val proj = aggregate(
        zip_with(checked, org.apache.spark.sql.functions.typedlit(signs),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All (table, bucket-key) pairs for multi-table LSH as an array column:
    * OR-amplification — a pair is a candidate if it collides in ANY table.
    * Recall for cosine s with T tables of b bits: 1-(1-p^b)^T, p = 1 -
    * acos(s)/pi. E.g. s=0.95, b=8, T=12 => recall ~0.999. */
  def lshTableKeys(vec: Column, dim: Int, bits: Int, tables: Int): Column =
    // packed LONG keys ((table << bits) | signature): the candidate join
    // processes ~10x the pair count, and long keys beat strings on hash,
    // compare, and wire size (the Dedup.lshBandKeys lesson)
    array((0 until tables).map { t =>
      lit(t.toLong << bits).bitwiseOR(hyperplaneSignature(vec, dim, bits, t))
    }: _*)

  /** LSH-bucketed ANN, multi-table: candidates = vectors colliding with
    * the query in ANY of `tables` buckets; exact cosine + top-k rerank on
    * the (deduplicated) candidates. Candidate set ~ T*N/2^bits per query
    * instead of N — the 100 TB path. Recall is a tunable (bits, tables)
    * trade verified in ScalaTest against bruteForceTopK. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              bits: Int = 8, tables: Int = 12, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val c = graft.GraftSession.balanced(
        corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")))
      .withColumn("bucket", explode(lshTableKeys(col("cvec"), dim, bits, tables)))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("bucket", explode(lshTableKeys(col("qvec"), dim, bits, tables)))
    // a pair may collide in several tables: pair-dedup as a map-side-
    // combinable groupBy rather than dropDuplicates over rows carrying
    // two full embedding vectors — the duplicate collisions combine
    // BEFORE the exchange. The vectors ride as GROUPING keys, not
    // first() aggregates: an (qid, cid) pair always carries the same
    // two vectors, so the groups are unchanged, but first(array) has no
    // fixed-width buffer and forced the whole pair-dedup into
    // SortAggregate (full sort of the candidate stream, the largest
    // table in this plan); key-only grouping plans as HashAggregate.
    // PRECONDITION (r17, from the r16 advisor): ids must uniquely
    // determine vectors — duplicate ids carrying DIFFERENT embeddings
    // would emit one scored row per distinct (id pair, vector pair)
    // where the old first(vec) spelling collapsed them arbitrarily.
    // Duplicate-id corpora are malformed for every op in this file
    // (bruteForceTopK would emit duplicate neighbors too); dedup ids
    // upstream ([[Dedup.exact]]) before indexing.
    val cand = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid", "qvec", "cvec")
      .agg(count(lit(1)).as("__collisions"))
    val scored = cand.select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
      round(cosine(col("qvec"), col("cvec")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-flat approximate nearest neighbors: a coarse quantizer assigns
    * every corpus vector to its nearest of `nCells` centroids; each query
    * probes only the `nProbe` nearest cells and reranks exactly. This is
    * the inverted-file index shape (FAISS IVF-Flat); the centroid set here
    * is a deterministic hash-sample of the corpus — swap in k-means
    * centroids for tighter cells without touching the plan. Cost per
    * query: ~nProbe/nCells of the corpus instead of all of it. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[DataFrame] = None): DataFrame = {
    // untrained path reads the corpus twice (centroid sample + assign) —
    // cache it for the call; trained path scans once, no cache needed
    val c = {
      val base = graft.GraftSession.balanced(
        corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")))
      if (centroids.isEmpty)
        base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base
    }
    // centroids: trained (kmeans output (cluster, cvec)) when provided,
    // else a deterministic pseudo-random sample (hash-order, first N).
    // Trained cells are tighter: on clustered data nProbe=1 already
    // reaches high recall (asserted in SimilaritySpec).
    val cents = centroids
      .map(_.select(col("cluster").cast("long").as("cent_id"),
        col("cvec").as("cent_vec")))
      // cell labels are dense LONGS from the sample order — reusing the
      // caller's id negated it for tie-breaks, which crashes under ANSI
      // for string ids (the keyNorm class); the window is over the
      // nCells-row LIMITED sample, not the corpus
      .getOrElse(c.withColumn("hk", xxhash64(col("cid")))
        .orderBy("hk").limit(nCells)
        .withColumn("cent_id",
          row_number().over(Window.orderBy("hk")).cast("long"))
        .select(col("cent_id"), col("cvec").as("cent_vec")))
    // cell argmax / top-nProbe via partial aggregation, NOT a row_number
    // window: the map side reduces each vector's nCells candidate rows
    // before the exchange, so the shuffle carries one row per vector
    // instead of sorting the N × nCells crossJoin (the kmeans round-6
    // fix, applied to the index build). first(vec) is deterministic —
    // every candidate row of a vector carries the identical payload.
    val assigned = c.crossJoin(broadcast(cents))
      .withColumn("cs", cosine(col("cvec"), col("cent_vec")))
      .groupBy("cid")
      .agg(first(col("cvec")).as("cvec"),
        max_by(col("cent_id"),
          struct(col("cs"), (-col("cent_id")).as("nc"))).as("cell"))
      .select(col("cid"), col("cvec"), col("cell"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("cs", cosine(col("qvec"), col("cent_vec")))
      .groupBy("qid")
      .agg(first(col("qvec")).as("qvec"),
        slice(sort_array(collect_list(struct((-col("cs")).as("ncs"),
          col("cent_id")))), 1, nProbe).as("top"))
      .select(col("qid"), col("qvec"),
        explode(col("top")).as("t"))
      .select(col("qid"), col("qvec"), col("t.cent_id").as("cell"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val result = probes.join(assigned, "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cos_sim"))
      // no pair-dedup needed: each corpus vector is argmax-assigned to
      // exactly ONE cell and probes are distinct (qid, cell) rows, so
      // the join emits each (qid, cid) at most once — the former
      // dropDuplicates was a full extra shuffle over the largest
      // intermediate for nothing (pqTopK's identical join omits it)
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= k)
    if (centroids.isEmpty) {
      // |queries| x k rows — materialize, then release the corpus cache
      val out = result.localCheckpoint()
      c.unpersist()
      out
    } else result
  }

  /** IVF-PQ approximate nearest neighbors — the memory-scale ANN shape
    * (FAISS IVFPQ): vectors are unit-normalized, coarse-quantized into
    * `nCells` inverted lists (as [[ivfTopK]]), and product-quantized —
    * `m` subvectors, each encoded as its nearest of `ksub` codebook
    * centroids, so a stored vector is m CODES (bytes) instead of dim
    * floats (dim=768, m=8: 8 B vs 3 KB — the reason PQ exists at 100 TB).
    * Queries probe `nProbe` cells, score candidates with the ADC lookup
    * (sum of per-subspace query·centroid dots ≈ cosine on unit vectors),
    * keep the top k*refine by ADC, and rerank THOSE exactly. Codebooks
    * are deterministic hash-samples (metadata-scale, broadcast); swap in
    * k-means for tighter cells without touching the plan. Recall vs
    * bruteForceTopK is gated in SimilaritySpec on planted clusters. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 8, ksub: Int = 16, nCells: Int = 16, nProbe: Int = 3,
             refine: Int = 4, idCol: String = "vec_id",
             vecCol: String = "embedding",
             centroids: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val spark = corpus.sparkSession
    // the normed corpus feeds the codebook collect, the centroid sample,
    // the cells and codes aggregations, and the exact rerank — persist
    // for the call (kmeans caches the identical shape for this reason)
    val c0 = graft.GraftSession.balanced(
      normed(corpus, Seq(col(idCol).as("cid")), col(vecCol), "cvec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q0 = normed(queries, Seq(col(idCol).as("qid")), col(vecCol), "qvec")

    // coarse quantizer (kmeans-trained when provided) + PQ codebooks:
    // deterministic hash-samples otherwise
    val cents = centroids
      .map(_.select(col("cluster").cast("long").as("cent_id"),
        col("cvec").as("cent_vec")))
      // dense LONG cell labels from the sample order (see ivfTopK note)
      .getOrElse(c0.withColumn("hk", xxhash64(col("cid"))).orderBy("hk")
        .limit(nCells)
        .withColumn("cent_id",
          row_number().over(Window.orderBy("hk")).cast("long"))
        .select(col("cent_id"), col("cvec").as("cent_vec")))
    val cbRows = c0.withColumn("hk", xxhash64(col("cid"), lit(1))).orderBy("hk")
      .limit(ksub).select("cvec").collect() // ksub vectors: metadata-scale
      .map(_.getSeq[Double](0)).toSeq
    val cb = for { mm <- 0 until m; j <- cbRows.indices }
      yield (mm, j, cbRows(j).slice(mm * subDim, (mm + 1) * subDim))
    import spark.implicits._
    val cbDf = cb.toDF("m", "j", "csub")

    // corpus index: IVF cell + m PQ codes per vector. Argmax/argmin go
    // through partial-aggregating max_by/min_by (one exchanged row per
    // group), not row_number windows over the crossJoin — the kmeans
    // round-6 fix applied to both index-build passes.
    val cells = c0.crossJoin(broadcast(cents))
      .withColumn("cs", cosine(col("cvec"), col("cent_vec")))
      .groupBy("cid")
      .agg(max_by(col("cent_id"),
        struct(col("cs"), (-col("cent_id")).as("nc"))).as("cell"))
    val codes = c0.withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("sub", expr(s"slice(cvec, m * $subDim + 1, $subDim)"))
      .join(broadcast(cbDf), "m")
      .withColumn("d2", aggregate(zip_with(col("sub"), col("csub"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))
      .groupBy("cid", "m")
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("j"))
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("m"), col("j")))).as("mc"))
      .select(col("cid"), transform(col("mc"), e => e.getField("j")).as("codes"))
    val index = cells.join(codes, "cid")

    // query side: probed cells + ADC lookup table (qid, m, j) -> dot
    val probes = q0.crossJoin(broadcast(cents))
      .withColumn("cs", cosine(col("qvec"), col("cent_vec")))
      .groupBy("qid")
      .agg(slice(sort_array(collect_list(struct((-col("cs")).as("ncs"),
        col("cent_id")))), 1, nProbe).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.cent_id").as("cell"))
    val lut = q0.crossJoin(broadcast(cbDf))
      .withColumn("qsub", expr(s"slice(qvec, m * $subDim + 1, $subDim)"))
      .withColumn("qdot", aggregate(zip_with(col("qsub"), col("csub"),
        (x, y) => x * y), lit(0.0), (a, x) => a + x))
      .select(col("qid").as("lqid"), col("m").as("lm"), col("j").as("lj"),
        col("qdot"))

    // ADC scoring of probed candidates, top k*refine per query
    val adcW = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    val shortlist = probes.join(index, "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        posexplode(col("codes")).as(Seq("pm", "code")))
      .join(broadcast(lut), col("qid") === col("lqid") &&
        col("pm") === col("lm") && col("code") === col("lj"))
      .groupBy("qid", "cid").agg(sum("qdot").as("adc"))
      .withColumn("rn", row_number().over(adcW))
      .filter(col("rn") <= k * refine)
      .select("qid", "cid")

    // exact rerank of the shortlist only
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val result = shortlist
      .join(q0, "qid").join(c0, "cid")
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= k)
      .localCheckpoint() // |queries| x k rows; then release the cache
    c0.unpersist()
    result
  }

  /** Embedding near-duplicate pairs via multi-table LSH: a pair is a
    * candidate if it shares a bucket in any table; exact cosine verifies.
    * The near-dup regime (threshold >= ~0.9, where vectors are
    * minor-variant copies) is where sign-bit collision probability is high
    * enough for recall ~1 — for LOW thresholds use blockedAllPairs, which
    * is exact by construction. */
  def embeddingNearDups(corpus: DataFrame, threshold: Double, dim: Int,
                        bits: Int = 8, tables: Int = 12,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val withSig = graft.GraftSession.balanced(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("bucket", explode(lshTableKeys(col("v"), dim, bits, tables)))
    withSig.as("a").join(withSig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      // pair-dedup as a map-side-combinable groupBy, not dropDuplicates
      // over rows carrying two full vectors: multi-table collisions
      // combine BEFORE the heaviest exchange in the op
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.v")).as("va"), first(col("b.v")).as("vb"))
      .withColumn("cs_raw", cosine(col("va"), col("vb")))
      .filter(col("cs_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cs_raw"), 6).as("cos_sim"))
  }

  /** Deterministic Lloyd k-means over an embedding column, expressed as
    * DataFrame ops end-to-end: init = hash-sampled centroids (no RNG, no
    * stored model), each iteration is one broadcast-join assignment pass
    * (argmax cosine over unit-normalized vectors) plus one groupBy
    * average — O(iters) jobs, corpus never collected, centroids stay
    * metadata-scale (k × dim). The clustering primitive of the curation
    * story (topic buckets, mixture balancing) AND the centroid trainer
    * [[ivfTopK]]/[[pqTopK]] note they can swap in. Returns (assignments
    * as (id, cluster, cos_to_centroid), centroids as (cluster, vec)). */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 3,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the normalized corpus is read every iteration (assign + means) and
    // twice more by callers that self-join the assignment — persist it
    // for the iterations instead of re-scanning + re-normalizing;
    // N × dim doubles, spills to disk when bigger than memory
    val c0 = graft.GraftSession.balanced(
      normed(corpus, Seq(col(idCol).as("id")), col(vecCol), "v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // centroids live driver-side between iterations — k × dim doubles,
    // metadata-scale by definition (every k-means driver does this); the
    // per-iteration literal also keeps lineage flat across iterations
    var centRows: Seq[(Int, Seq[Double])] =
      c0.withColumn("hk", xxhash64(col("id"))).orderBy("hk").limit(k)
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
        .zipWithIndex.map { case (v, i) => (i, v) }
    // argmax centroid per vector via partial-aggregating max_by — the
    // map side reduces each vector's k candidate rows to ONE before the
    // exchange, so the shuffle carries N scalar rows, not the N × k
    // vector-payload rows a row_number window would sort. Ties break to
    // the lowest cluster id (struct order: max cs, then max -cluster),
    // matching the deterministic window this replaced.
    def assign(): DataFrame = {
      val best = c0.crossJoin(broadcast(centRows.toDF("cluster", "cvec")))
        .withColumn("cs", cosine(col("v"), col("cvec")))
        .groupBy("id")
        .agg(max_by(struct(col("cluster"), col("cs")),
          struct(col("cs"), (-col("cluster")).as("nc"))).as("best"))
        .select(col("id"), col("best.cluster").as("cluster"),
          round(col("best.cs"), 6).as("cos_to_centroid"))
      c0.join(best, "id")
        .select(col("id"), col("v"), col("cluster"), col("cos_to_centroid"))
    }
    var assigned = assign()
    var it = 1
    while (it < iters) {
      // new centroid = normalized mean of members; empty clusters keep
      // their previous centroid
      val dm = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cluster", "d").agg(avg("x").as("mx"))
        .groupBy("cluster")
        .agg(sort_array(collect_list(struct(col("d"), col("mx")))).as("dm"))
      val means = normed(dm, Seq(col("cluster")),
          transform(col("dm"), e => e.getField("mx")), "cvec")
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      centRows = centRows.map { case (c, prev) => (c, means.getOrElse(c, prev)) }
      assigned = assign()
      it += 1
    }
    // materialize the final assignment ONCE, then drop the corpus cache:
    // callers (semanticDups' self-join, IVF builds) act on it repeatedly,
    // and without this the whole crossJoin+argmax lineage re-runs per
    // consumer. Persist the RETURNED projection (not the wide frame):
    // unpersist() only releases a cache entry whose plan sameResult-
    // matches the receiver, so persisting the wide frame and returning a
    // projection made every caller's assigned.unpersist() a SILENT NO-OP
    // — each kmeans call pinned an N x (dim+2)-double cache forever.
    // The projection is also smaller (no vector column cached).
    val out = assigned.select("id", "cluster", "cos_to_centroid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    c0.unpersist()
    (out, centRows.toDF("cluster", "cvec"))
  }

  /** Regime-switching near-dup front door. The two implementations divide
    * on one rule, now an explicit dispatch instead of caller folklore:
    *
    *  - `threshold >= highCosCutoff` (default 0.85): the near-dup regime —
    *    vectors are minor-variant copies, sign-bit collision probability
    *    is high, and multi-table hyperplane LSH prunes candidates with
    *    recall ~1 (gated on planted clusters in SimilaritySpec). This is
    *    the 100 TB path: candidate count is bucket-bounded, not O(N^2).
    *  - below the cutoff: pairs sit too close to the noise floor for
    *    sign-bit LSH to reach recall 1, so only the exact triangle-blocked
    *    all-pairs is correct. Its O(N^2) compute is inherent to the ask
    *    (exact low-threshold all-pairs); at 100 TB raise the threshold,
    *    sample, or accept the quadratic bill knowingly.
    *
    * At the boundary the rule prefers LSH (the recall claim holds from
    * ~0.85 up for the default 8-bit x 12-table family). */
  def nearDupsAuto(corpus: DataFrame, threshold: Double, dim: Int,
                   highCosCutoff: Double = 0.85,
                   bits: Int = 8, tables: Int = 12, numBlocks: Int = 8,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    if (threshold >= highCosCutoff)
      embeddingNearDups(corpus, threshold, dim, bits, tables, idCol, vecCol)
    else
      blockedAllPairs(corpus, threshold, numBlocks, idCol, vecCol)

  /** Persist a trained coarse quantizer so the index is trained ONCE and
    * reused across sessions and queries — the operational shape of a
    * 100 TB embedding store (training touches the corpus; every later
    * query should only touch centroids + its probed cells). The index is
    * a centroids parquet (k × dim doubles — KBs) plus a params JSON;
    * both travel with the data directory like the view/stats catalogs. */
  def saveIvfIndex(centroids: DataFrame, dir: String,
                   params: Map[String, String] = Map.empty): Unit = {
    val spark = centroids.sparkSession
    centroids.select(col("cluster").cast("long").as("cluster"), col("cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.createObjectNode()
    params.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    val p = new org.apache.hadoop.fs.Path(dir, "index.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir, ".index.json.tmp")
    val os = fs.create(tmp, true)
    try os.write(mapper.writeValueAsBytes(n)) finally os.close()
    if (fs.exists(p)) fs.delete(p, false)
    // unchecked rename once left OLD params beside NEW centroids; the
    // remaining delete->rename window is covered by loadIvfIndex's
    // fallback to the complete .tmp file
    require(fs.rename(tmp, p), s"ivf index.json rename failed under $dir")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, Map[String, String]) = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val p0 = new org.apache.hadoop.fs.Path(dir, "index.json")
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a writer that crashed between delete and rename leaves only the
    // COMPLETE tmp file (single-shot write) — fall back to it
    val p = if (fs.exists(p0)) p0
      else new org.apache.hadoop.fs.Path(dir, ".index.json.tmp")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val node = try mapper.readTree(in.readAllBytes()) finally in.close()
    import scala.jdk.CollectionConverters._
    val params = node.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    (cents, params)
  }

  /** SemDedup-style semantic dedup: k-means clusters as the blocking
    * structure, exact cosine pairs only WITHIN a cluster — the published
    * recipe for embedding-level dedup at corpus scale (cluster first,
    * compare inside clusters). Candidate work drops from N² to
    * Σ|cluster|²; pairs straddling a cluster boundary are the documented
    * recall trade the recipe accepts (raise k for tighter cells, or use
    * [[nearDupsAuto]] when exactness is required). The cluster id rides
    * the same shuffle the pair join needs anyway, so the whole op is the
    * trainer + ONE hash join on (cluster, id). */
  def semanticDups(corpus: DataFrame, threshold: Double, k: Int,
                   iters: Int = 3, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val (assigned, _) = kmeans(corpus, k, iters, idCol, vecCol)
    val withVec = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(assigned.select("id", "cluster"), "id")
    val dups = withVec.as("a").join(withVec.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("cs", cosine(col("a.vec"), col("b.vec")))
      .filter(col("cs") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cs"), 6).as("cos_sim"))
      // materialize while the kmeans assignment cache is alive, then
      // release it — the terminal op must not pin a corpus-scale cache
      // entry per call in a long-lived session
      .localCheckpoint()
    assigned.unpersist()
    dups
  }

  /** Symmetric per-vector int8 quantization: the 4x memory cut that makes
    * a 100 TB float32 embedding store a 25 TB one (the standard serving
    * layout; PQ in [[pqTopK]] is the more aggressive sibling). Each
    * vector gets one scale `s = max|x|/127` and codes
    * `floor(x/s + 0.5)` in [-127, 127] — floor(+0.5) instead of round()
    * because round's half-even/half-up behavior differs across engines
    * and this formula does not. Zero vectors quantize to zero codes.
    * Pure narrow map: no shuffle, fuses into the scan. The emitted
    * `scale_q` is the scale in fixed-point (2^20) so the oracle compares
    * integers, not doubles. */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val s = array_max(transform(v, x => abs(x))) / lit(127.0)
    embeddings.select(col(idCol),
        v.as("v"), s.as("s"))
      .select(col(idCol),
        floor(col("s") * lit(1048576L)).cast("long").as("scale_q"),
        when(col("s") === 0.0, transform(col("v"), _ => lit(0).cast("int")))
          .otherwise(transform(col("v"),
            x => floor(x / col("s") + lit(0.5)).cast("int")))
          .as("codes"))
  }

  /** Greedy k-center (farthest-first traversal) over the embedding
    * column — DIVERSITY / CORESET sampling for training-data curation:
    * pick k maximally-spread exemplars (the classic 2-approximation to
    * the k-center objective; "farthest point sampling"). Deterministic:
    * starts from the smallest id, each step selects the point
    * maximizing the SQUARED euclidean distance to the selected set
    * (ties → smallest id), so a SQL oracle replays the same k steps
    * exactly.
    *
    * Scale shape: the selected set lives on the driver (k × dim
    * doubles — the classifier-family traffic contract) and each step
    * is ONE distributed aggregation over the corpus (a max of a
    * (dist, -id, vec) struct, partial-aggregated map-side) — k passes
    * total, no shuffle of the data, no pairwise matrix. Each pass
    * recomputes the min-distance over all selected centers (O(k·dim)
    * per row at step k — stateless and deterministic; fine for the
    * tens-of-exemplars regime this exists for).
    *
    * Returns (step 1..k, idCol, radius2): radius2 is the squared
    * coverage radius AT selection time — the distance of the chosen
    * point to the previously-selected set (0 for step 1), monotone
    * non-increasing, the audit signal that selection is spreading. */
  def kCenterGreedy(corpus: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"kCenterGreedy: k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // normalize the driver-crossing types ONCE in the aggregation: ids
    // to long, vectors to array<double> — so int ids and array<double>
    // embeddings work instead of ClassCastException-ing at collect
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(corpus.schema(idCol).dataType),
      s"kCenterGreedy: id column '$idCol' must be an integral type, " +
        s"got ${corpus.schema(idCol).dataType.simpleString}")
    val idL = col(idCol).cast("long")
    val vecD = col(vecCol).cast("array<double>")
    val first = corpus
      .agg(min(idL).as("id"), min_by(vecD, idL).as("v")).collect()(0)
    require(!first.isNullAt(0), "kCenterGreedy: empty corpus")
    val selected = scala.collection.mutable.ArrayBuffer[
      (Long, Seq[Double], Double)]((first.getLong(0),
        first.getSeq[Double](1), 0.0))
    def dist2To(center: Seq[Double]): Column =
      aggregate(zip_with(vecD, typedLit(center),
        (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, t) => acc + t)
    while (selected.size < k) {
      val minD = selected.map(s => dist2To(s._2)).reduce(least(_, _))
      val r = corpus
        .agg(max(struct(minD.as("d"), (-idL).as("negid"),
          vecD.as("v"))).as("m"))
        .select(col("m.d"), col("m.negid"), col("m.v")).collect()(0)
      // max distance 0 with selections pending means every remaining
      // point coincides with a selected center — the tie-break would
      // silently RESELECT an already-selected id; refuse instead
      require(r.getDouble(0) > 0.0,
        s"kCenterGreedy: k=$k exceeds the number of DISTINCT embedding " +
          s"points (farthest remaining distance is 0 after " +
          s"${selected.size} selections) — lower k or dedup the corpus")
      selected += ((-r.getLong(1), r.getSeq[Double](2), r.getDouble(0)))
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("step", idCol, "radius2")
  }

  /** Top principal component of the embedding column by FIXED-iteration
    * power method over the centered second moment — the PCA-whitening /
    * dominant-direction primitive of an embedding curation pipeline
    * (outlier axes, dimensionality triage, ABTT-style top-component
    * removal).
    *
    * One distributed aggregation per iteration; only `dim` doubles cross
    * the driver each way per iteration (the quality-classifier traffic
    * contract), and the corpus never materializes a Gram matrix — the
    * centering is applied ALGEBRAICALLY (w = Σ s·x − (Σ s)·μ with
    * s = x·v − μ·v), so each pass streams the raw vectors. Deterministic:
    * v₀ = e₀ and a fixed iteration count, which is what lets a SQL oracle
    * unroll the SAME iterations (the q_lang_clf pattern). dim is bound by
    * driver memory and per-row expression width (hundreds are fine; a
    * 100 TB corpus pays iters+2 scans regardless of row count).
    *
    * Returns (unit component vector, lazy projections frame
    * (idCol, pca_proj) where pca_proj = (x − μ)·v). */
  def pcaPowerIteration(corpus: DataFrame, iters: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding")
      : (Array[Double], DataFrame) = {
    val (comps, proj) = pcaTopK(corpus, 1, iters, idCol, vecCol)
    (comps.head, proj.withColumnRenamed("pca_proj_1", "pca_proj"))
  }

  /** Top-K principal components by power iteration WITH DEFLATION —
    * the k>1 upgrade [[pcaPowerIteration]] delegates to (the
    * ABTT/top-component-removal recipe needs several components, not
    * one). Component j runs the same fixed-iteration power method on
    * the covariance deflated by the previously recovered pairs:
    * C'v = Cv − Σ_j λ_j (v_j·v) v_j, with λ_j taken as the norm of
    * component j's final un-normalized iterate (= the Rayleigh
    * quotient at convergence; with FIXED iterations it is merely a
    * deterministic closed form both engines replay — the oracle
    * unrolls the identical algebra, so gate exactness never depends
    * on convergence). Start vectors are e_{j mod dim}. Traffic
    * contract unchanged: one distributed aggregation per iteration,
    * k·iters passes total, dim doubles each way, no Gram matrix.
    *
    * Returns (components, lazy projections frame (idCol,
    * pca_proj_1..k) where pca_proj_j = (x − μ)·v_j). */
  def pcaTopK(corpus: DataFrame, k: Int, iters: Int = 3,
              idCol: String = "vec_id",
              vecCol: String = "embedding")
      : (Seq[Array[Double]], DataFrame) = {
    require(iters >= 1, s"pca: iters must be >= 1, got $iters")
    require(k >= 1, s"pca: k must be >= 1, got $k")
    val first = corpus.select(size(col(vecCol)).as("n")).limit(1).collect()
    require(first.nonEmpty, "pca: empty corpus")
    val dim = first(0).getInt(0)
    // one leading pass: per-dimension means + ragged-width refusal
    // get() (null out-of-bounds), not apply(): a ragged row must reach
    // the min/max width REFUSAL below, not throw an ANSI index error
    // from inside the same aggregate
    val meanCols = Seq(min(size(col(vecCol))).as("mn"),
      max(size(col(vecCol))).as("mx")) ++ (0 until dim).map(i =>
      avg(get(col(vecCol), lit(i)).cast("double")).as(s"m$i"))
    val meanAgg = corpus.agg(meanCols.head, meanCols.tail: _*).collect()(0)
    require(meanAgg.getInt(0) == dim && meanAgg.getInt(1) == dim,
      s"pca: ragged embedding widths [${meanAgg.getInt(0)}, " +
        s"${meanAgg.getInt(1)}] — expected uniform $dim")
    val mu = Array.tabulate(dim)(i => meanAgg.getDouble(2 + i))
    def sExpr(vec: Array[Double]): Column = {
      val muDotV = mu.zip(vec).map { case (a, b) => a * b }.sum
      aggregate(zip_with(col(vecCol), typedLit(vec.toSeq),
        (x, vi) => x.cast("double") * vi), lit(0.0),
        (acc, x) => acc + x) - lit(muDotV)
    }
    val comps = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val lams = scala.collection.mutable.ArrayBuffer[Double]()
    for (j <- 0 until k) {
      var v = Array.tabulate(dim)(i => if (i == j % dim) 1.0 else 0.0)
      var lam = 0.0
      for (_ <- 1 to iters) {
        val aggCols = Seq(sum(col("_s")).as("ssum")) ++ (0 until dim).map(
          i => sum(col("_s") * col(vecCol)(i).cast("double")).as(s"w$i"))
        val r = corpus.withColumn("_s", sExpr(v))
          .agg(aggCols.head, aggCols.tail: _*).collect()(0)
        val ssum = r.getDouble(0)
        val w = Array.tabulate(dim)(i => r.getDouble(1 + i) - ssum * mu(i))
        // deflate against every recovered component (driver-side dim·j
        // arithmetic — no extra distributed pass)
        comps.zip(lams).foreach { case (vj, lj) =>
          var d = 0.0
          var i = 0
          while (i < dim) { d += vj(i) * v(i); i += 1 }
          i = 0
          while (i < dim) { w(i) -= lj * d * vj(i); i += 1 }
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        require(nrm > 0,
          s"pca: zero deflated covariance along component ${j + 1}'s " +
            "start direction (constant data, or k exceeds the rank?)")
        lam = nrm
        v = w.map(_ / nrm)
      }
      comps += v
      lams += lam
    }
    val projCols = comps.toSeq.zipWithIndex.map { case (vec, j) =>
      sExpr(vec).as(s"pca_proj_${j + 1}") }
    (comps.toSeq, corpus.select(col(idCol) +: projCols: _*))
  }
}
