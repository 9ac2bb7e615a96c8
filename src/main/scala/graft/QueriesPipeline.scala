package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Bpe, Dedup, Scrub, Search, Similarity, TextAnalysis, Training, UnigramLm}
import graft.streaming.Events

/** §2.4 + §2.5 coverage: LLM-pipeline operators and stream semantics,
  * each with a DuckDB oracle (exact all-pairs/SQL re-derivations at
  * sf0.01 scale; the Spark side uses the scalable formulation).
  */
object QueriesPipeline {
  import GraftSession.{table => T}

  // DuckDB-side normalized text, identical to TextAnalysis.normalize
  private val NORM = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  val queries: Map[String, QueriesRelational.Q] = Map(
    "q_dedup_exact" -> ((s, d) => {
      // construct a corpus with planted exact dups (docs ∪ shifted copy)
      val docs = T(s, d, "documents").select("doc_id", "text")
      val dupped = docs.unionAll(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactDupStats(dupped, "doc_id", "text")
        .select(col("keeper_id"), col("copies"))
    }),

    "q_dedup_minhash" -> ((s, d) =>
      // REAL banded-LSH configuration: 32 bands x 4 rows => per-pair miss
      // probability at jaccard=0.8 is (1-0.8^4)^32 ~ 5e-8, so the banding
      // path hash-matches the exact all-pairs Jaccard oracle.
      Dedup.minhashNearDups(T(s, d, "documents"), "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.8,
        maxBucket = Int.MaxValue)), // cap off => exact; audit via minhashBucketStats

    "q_dedup_minhash_capped" -> ((s, d) =>
      // Same banding, with the maxBucket skew guard ENGAGED — this plans
      // the row_number cap + sort-merge band join (the 100 TB
      // configuration; Dedup.scala:99), distinct from q_dedup_minhash's
      // capless broadcast path. The cap is far above any sf0.01 bucket
      // (DedupSpec asserts minhashBucketStats drops nothing), so the
      // exact all-pairs Jaccard oracle still holds.
      Dedup.minhashNearDups(T(s, d, "documents"), "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.8,
        maxBucket = 100000)),

    "q_decontaminate" -> ((s, d) => {
      // eval set = docs with id < 50; corpus = the rest. Output: corpus
      // docs that near-dup an eval doc (what decontamination would drop),
      // with the exact cross-set Jaccard as the oracle.
      val all = T(s, d, "documents")
      Dedup.crossNearDups(
        all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50),
        "doc_id", "text", threshold = 0.8, maxBucket = 100000)
    }),

    "q_ngram_decontam" -> ((s, d) => {
      // EXACT n-gram overlap decontamination (GPT-3 appendix-C recipe),
      // same corpus/reference split as q_decontaminate: flag corpus docs
      // sharing any 5-gram with the eval set, counting distinct hits.
      val all = T(s, d, "documents")
      Dedup.ngramDecontaminate(
        all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50),
        "doc_id", "text", n = 5)
    }),

    "q_contamination" -> ((s, d) => {
      // graded contamination: fraction of each corpus doc's distinct
      // 5-grams found in the eval set (same split as q_ngram_decontam);
      // raw score from the operator, rounding is gate-only
      val all = T(s, d, "documents")
      Dedup.contaminationScore(
          all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("score"), 6).as("score"))
    }),

    "q_dedup_simhash" -> ((s, d) =>
      // SCALE configuration: 64-bit two-half signature, 4 x 16-bit blocks
      // (262,144 buckets — keyspace grows with signature entropy, unlike
      // the 32-bit form's 1,024-bucket ceiling), capless here so the block
      // self-join stays broadcastable at gate SF.
      Dedup.simhashNearDups64(T(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucket = Int.MaxValue)),

    "q_dedup_simhash_capped" -> ((s, d) =>
      // Same blocking with the per-bucket skew guard ENGAGED (plans the
      // row_number cap — the 100 TB configuration). The cap is far above
      // any sf0.01 bucket (DedupSpec asserts simhashBucketStats drops
      // nothing), so the exact hamming oracle still holds.
      Dedup.simhashNearDups64(T(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucket = 100000)),

    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(T(s, d, "documents"), "doc_id", "text",
        n = 1, threshold = 0.95)),

    "q_embed_neardup" -> ((s, d) =>
      // Through the regime dispatcher: threshold 0.4 is far below the
      // high-cosine cutoff (this corpus has no high-cos cluster structure,
      // so LSH cannot reach recall 1 here), so nearDupsAuto selects the
      // exact triangle-blocked all-pairs — bounded replication, NO corpus
      // broadcast. The LSH branch of the same dispatcher is gated in
      // ScalaTest on planted high-cosine data, its honest operating
      // regime (SimilaritySpec).
      Similarity.nearDupsAuto(T(s, d, "embeddings"), threshold = 0.4,
        dim = 64, numBlocks = 8)),

    "q_ann_bruteforce" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    }),

    // ANN recall gates: the approximate methods (LSH / IVF-flat /
    // IVF-PQ) run on a PLANTED clustered corpus derived
    // deterministically from the embeddings table (vector i = center
    // (i % 32) + 0.1 x own vector — both engines can construct it), the
    // regime where approximate NN has an honest contract. The gate rows
    // are the EXACT brute-force top-5 (DuckDB recomputes them from the
    // same planted corpus — a real data check), plus recall_ok = "the
    // approximate method's top-5 hit >= 90% of the exact top-5 across
    // all 20 queries" (a deterministic distributed computation the
    // oracle asserts as literal TRUE; below-threshold recall flips
    // every row's hash). This graduates SimilaritySpec's spec-only
    // recall assertions to driver-gated ones.
    "q_ann_lsh" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      annRecallGate(p, Similarity.lshTopK(p,
        p.filter(col("vec_id") < 20), k = 5, dim = 64))
    }),

    "q_ann_ivf" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      annRecallGate(p, Similarity.ivfTopK(p,
        p.filter(col("vec_id") < 20), k = 5, nCells = 16, nProbe = 4))
    }),

    "q_ann_ivfpq" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      annRecallGate(p, Similarity.pqTopK(p,
        p.filter(col("vec_id") < 20), k = 5, dim = 64,
        m = 8, ksub = 16, nCells = 16, nProbe = 4, refine = 4))
    }),

    // k-means (deterministic Lloyd) gated on CLUSTER COHERENCE: every
    // planted ground-truth cluster (label = id % 32) must land WHOLE in
    // one of the k=8 learned cells. The per-label member counts are
    // DuckDB-recomputed from the table; coherent_ok is the distributed
    // assertion (any split label flips every row's hash).
    "q_kmeans" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      val (assigned, _) = Similarity.kmeans(p, k = 8, iters = 3)
      val perLabel = assigned
        .select((col("id") % 32).as("label"), col("cluster"))
        .groupBy("label")
        .agg(count(lit(1)).as("members"),
          count_distinct(col("cluster")).as("cells"))
      val coherent = perLabel
        .agg((max(col("cells")) === 1L).as("coherent_ok"))
      perLabel.select(col("label"), col("members"))
        .crossJoin(broadcast(coherent))
    }),

    // SemDedup-style semantic dedup gated against the EXACT pair set
    // (blockedAllPairs — itself the gated row-74 operator): the gate
    // rows are the exact threshold pairs (DuckDB re-derives them from
    // the planted corpus), recall_ok asserts the cell-blocked pass
    // found >= 95% of them, and no_invented asserts it produced ZERO
    // pairs outside the exact set (its precision contract). Threshold
    // 0.9 sits in the planted corpus's dead zone (within-cluster pairs
    // >= 0.986, cross-cluster <= 0.385) so boundary float noise cannot
    // flip membership.
    "q_semdedup" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      val exact = Similarity.blockedAllPairs(p, threshold = 0.9,
        numBlocks = 8)
      val sem = Similarity.semanticDups(p, threshold = 0.9, k = 8)
      val hits = exact.select("id_a", "id_b")
        .join(sem.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("nh"))
      val invented = sem.select("id_a", "id_b")
        .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("ni"))
      val nExact = exact.agg(count(lit(1)).as("ne"))
      val flags = hits.crossJoin(invented).crossJoin(nExact)
        .select((col("nh") >= col("ne") * 0.95).as("recall_ok"),
          (col("ni") === 0L).as("no_invented"))
      exact.select("id_a", "id_b", "cos_sim").crossJoin(broadcast(flags))
    }),

    // Multi-table hyperplane-LSH near-dup detection in its honest
    // regime (threshold 0.9 >= the 0.85 high-cos cutoff, so the
    // nearDupsAuto dispatcher routes HERE — the complement of
    // q_embed_neardup's exact-branch gate): gate rows are the same
    // 3,660 exact pairs as q_semdedup, recall_ok asserts the LSH pass
    // found >= 99% of them, no_invented asserts the exact-cosine
    // rerank admitted nothing outside the set.
    "q_neardup_lsh" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      val exact = Similarity.blockedAllPairs(p, threshold = 0.9,
        numBlocks = 8)
      val lsh = Similarity.nearDupsAuto(p, threshold = 0.9, dim = 64)
      val hits = exact.select("id_a", "id_b")
        .join(lsh.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("nh"))
      val invented = lsh.select("id_a", "id_b")
        .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("ni"))
      val nExact = exact.agg(count(lit(1)).as("ne"))
      val flags = hits.crossJoin(invented).crossJoin(nExact)
        .select((col("nh") >= col("ne") * 0.99).as("recall_ok"),
          (col("ni") === 0L).as("no_invented"))
      exact.select("id_a", "id_b", "cos_sim").crossJoin(broadcast(flags))
    }),

    // Persistent ANN index e2e: train k-means centroids on the planted
    // corpus, SAVE the index, LOAD it back, and query IVF at nProbe=1
    // through the loaded centroids — the train-once/query-many shape.
    // Same exact-top-5 + recall_ok gate rows as the other ANN gates.
    "q_ann_index" -> ((s, d) => {
      val p = plantedAnnCorpus(T(s, d, "embeddings"))
      val (_, cents) = Similarity.kmeans(p, k = 16, iters = 3)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_gate_ivf").toString
      Similarity.saveIvfIndex(cents, dir,
        Map("nCells" -> "16", "metric" -> "cosine"))
      val (loaded, params) = Similarity.loadIvfIndex(s, dir)
      require(params("nCells") == "16" && params("metric") == "cosine",
        s"reloaded index params drifted: $params")
      annRecallGate(p, Similarity.ivfTopK(p,
        p.filter(col("vec_id") < 20), k = 5,
        nCells = 16, nProbe = 1, centroids = Some(loaded)))
    }),

    // Top principal component by 3 unrolled power iterations from e0 —
    // the oracle replays the SAME iterations in SQL over unnested
    // (vec_id, i, v) triples (the q_lang_clf fixed-iteration pattern);
    // projections round to 6dp so sum-order float noise cannot flip
    // the hash.
    "q_pca_project" -> ((s, d) => {
      val (_, proj) = Similarity.pcaPowerIteration(
        T(s, d, "embeddings"), iters = 3)
      proj.select(col("vec_id"), round(col("pca_proj"), 6).as("proj"))
    }),

    // Top-2 PCA by DEFLATION (pcaTopK): component 2 power-iterates the
    // covariance deflated by (lam1, v1) — the oracle unrolls the same
    // three iterations per component including the deflation algebra
    // (lam1 = the norm of component 1's final un-normalized iterate,
    // start vectors e0/e1), so the gate is exact arithmetic replay,
    // not a convergence claim.
    "q_pca_topk" -> ((s, d) => {
      val (_, proj) = Similarity.pcaTopK(
        T(s, d, "embeddings"), k = 2, iters = 3)
      proj.select(col("vec_id"),
        round(col("pca_proj_1"), 6).as("proj1"),
        round(col("pca_proj_2"), 6).as("proj2"))
    }),

    // Greedy k-center diversity sampling (farthest-first traversal —
    // the coreset/exemplar-selection op of embedding curation): fully
    // deterministic (min-id start, max-dist2 with min-id tie-break), so
    // the oracle unrolls the same 6 selections in SQL (materialized
    // CTEs; radius2 at 4dp absorbs sum-order float noise).
    "q_kcenter" -> ((s, d) =>
      Similarity.kCenterGreedy(T(s, d, "embeddings"), k = 6)
        .select(col("step"), col("vec_id"),
          round(col("radius2"), 4).as("radius2"))),

    "q_lang_id" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),

    "q_text_quality" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextAnalysis.qualityScoreBp(col("text")).as("quality_bp"))),

    "q_token_count" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))),

    "q_fingerprint" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    "q_exif" -> ((s, d) => {
      // EXIF extraction gate (ref contrib/format-image): JPEGs are
      // SYNTHESIZED per doc with tag values derived from doc_id
      // arithmetic both engines share, spliced via Exif.withExif (the
      // writer twin), then parsed back by the hand-rolled APP1/TIFF-IFD
      // walk — so the PARSER is the thing under test and the oracle is
      // pure SQL arithmetic. Template JPEG body built once driver-side
      // (~300 bytes, broadcast in the closure).
      import org.apache.spark.sql.types._
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val template = bos.toByteArray
      val docs = T(s, d, "documents").select("doc_id")
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = true)))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(outSchema)
      val media = docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val jpeg = graft.pipeline.Exif.withExif(template,
            make = s"GraftCam-${id % 5}", model = s"M${id % 7}",
            orientation = ((id % 8) + 1).toInt,
            datetime = f"2024:01:15 10:${id % 60}%02d:${(id * 7) % 60}%02d",
            latDMS = (id % 90, id % 60, (id * 3) % 60),
            latRef = if (id % 2 == 0) "N" else "S",
            lonDMS = (id % 180, (id * 5) % 60, (id * 11) % 60),
            lonRef = if (id % 3 == 0) "E" else "W")
          org.apache.spark.sql.Row(id, jpeg)
        }
      }(enc).toDF("doc_id", "payload")
      graft.pipeline.Exif.exifMetadata(media)
        .select(col("doc_id"), col("exif_make"), col("exif_model"),
          col("exif_orientation").cast("long").as("exif_orientation"),
          col("exif_datetime"), col("exif_gps_lat"), col("exif_gps_lon"))
    }),

    "q_hash_split" -> ((s, d) =>
      Training.hashSplit(T(s, d, "documents"), "doc_id", "text",
        trainPct = 80, valPct = 10)),

    "q_mixture" -> ((s, d) =>
      Training.mixturePct(T(s, d, "documents"), "doc_id", "text", pct = 30)
        .select("doc_id")),

    "q_seq_packing" -> ((s, d) =>
      Training.packingStats(
        Training.packSequences(T(s, d, "documents"), "doc_id", "text",
          tokenBudget = 2048, shards = 8))),

    "q_redact" -> ((s, d) => {
      // PII synthesized from doc_id with arithmetic both engines share,
      // so the REDACTION RULES (Scrub.redactPii) are the thing under test
      val contact = concat(lit("reach user"), col("doc_id"),
        lit(" at user"), col("doc_id"), lit("@mail.com or 10."),
        pmod(col("doc_id"), lit(256)), lit(".0.1 or +1 555 "),
        (pmod(col("doc_id"), lit(9000)) + 1000), lit(" done"))
      T(s, d, "documents").select(col("doc_id"),
        Scrub.redactPii(contact).as("redacted"))
    }),

    "q_repetition" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        Scrub.repetitionBp(col("text"), 3).as("rep_bp"))),

    "q_chunk_dedup" -> ((s, d) => {
      // planted duplicates (docs ∪ shifted copy) so every 20-token chunk
      // provably recurs — the machinery, not corpus luck, is under test
      val docs = T(s, d, "documents").select("doc_id", "text")
      val dupped = docs.unionAll(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Scrub.chunkDupStats(dupped, "doc_id", "text", chunkTokens = 20)
    }),

    // ---- C4-recipe corpus hygiene: line-level dedup + blocklist ----
    // Lines synthesized deterministically (every " table " becomes a
    // newline — both engines replace left-to-right non-overlapping),
    // then planted duplicates (docs ∪ shifted copy) guarantee every
    // line of the copy is a later occurrence; the oracle re-derives
    // keep-first with RAW LINE STRINGS through a window, so an
    // xxhash64 collision in the engine would fail the gate
    "q_line_dedup" -> ((s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " table ", "\n").as("text"))
      val dupped = docs.unionAll(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.lineDedup(dupped)
    }),

    "q_blocklist" -> ((s, d) =>
      Scrub.blocklistHits(T(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", Seq("vector", "hash", "slow query"))
        .select(col("doc_id"), col("bad_hits"))),

    "q_bm25" -> ((s, d) =>
      Search.bm25(T(s, d, "documents"), "doc_id", "text",
        terms = Seq("spark", "query", "window"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))),

    // ---- exact repeated-substring detection (Lee et al. 2022 role):
    // every 8-token span occurring >1x corpus-wide, non-first
    // occurrences out. Spark shuffles 64-bit span HASHES; the oracle
    // re-derives with raw span STRINGS via a window — a hash collision
    // would fail the gate ----
    "q_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(T(s, d, "documents"), "doc_id", "text", n = 8)
        .groupBy("doc_id").agg(count(lit(1)).as("n_repeats"),
          sum("pos").as("pos_sum"))),

    // ---- the cut: duplicate spans actually REMOVED from the text,
    // whole reconstructed strings compared against the oracle's
    // token-level anti-join rebuild ----
    "q_cut_spans" -> ((s, d) =>
      Dedup.cutRepeatedSpans(T(s, d, "documents"), "doc_id", "text", n = 8)),

    // ---- connected components over a pair list: edges chain each
    // customer's orders CONSECUTIVELY (a path graph, worst case for
    // label propagation — components emerge only transitively, which is
    // exactly what the op must prove; dedup-cluster cliques are the
    // easy case). The oracle re-derives the expected components
    // relationally: a customer's path connects all their orders, so
    // component = min orderkey per customer ----
    "q_dup_components" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = T(s, d, "orders").select("o_orderkey", "o_custkey")
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val edges = o.withColumn("nxt", lead("o_orderkey", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("o_orderkey").as("id_a"), col("nxt").as("id_b"))
      Dedup.dupComponents(edges)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
    }),

    "q_dedup_canonical" -> ((s, d) => {
      // keepCanonical = docs minus non-canonical component members;
      // single-order customers never appear in a pair and must survive
      import org.apache.spark.sql.expressions.Window
      val o = T(s, d, "orders").select("o_orderkey", "o_custkey")
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val edges = o.withColumn("nxt", lead("o_orderkey", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("o_orderkey").as("id_a"), col("nxt").as("id_b"))
      Dedup.keepCanonical(o, edges, "o_orderkey")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
    }),

    "q_stratified_sample" -> ((s, d) =>
      Training.stratifiedSample(T(s, d, "documents"), "doc_id", "text",
        strataCol = "lang", k = 40)),

    // ---- persistent incremental MinHash index (Dedup.minhashIndexAppend):
    // the corpus lands in TWO appends against a fresh index, and the
    // union of per-append pair sets must equal the exact all-pairs
    // Jaccard oracle — the partition property as a full DuckDB gate
    // (capless so banding recall is exact at the 0.8 threshold) ----
    "q_dedup_incremental" -> ((s, d) => {
      val dir = s"/tmp/graft_out/${new java.io.File(d).getName}/mh_index_gate"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = T(s, d, "documents")
      val mid = 250L
      val r1 = Dedup.minhashIndexAppend(docs.filter(col("doc_id") < mid),
        "doc_id", "text", dir, maxBucket = Int.MaxValue)
      val r2 = Dedup.minhashIndexAppend(docs.filter(col("doc_id") >= mid),
        "doc_id", "text", dir, maxBucket = Int.MaxValue)
      r1.unionByName(r2)
    }),

    // ---- persistent incremental SIMHASH index (Dedup.simhashIndexAppend,
    // the minhash index's twin): two appends against a fresh index, the
    // union of per-append pair sets == the exact simhash oracle (capless;
    // recall exact at hamming <= 3 by 4-block pigeonhole) ----
    "q_simhash_incremental" -> ((s, d) => {
      val dir = s"/tmp/graft_out/${new java.io.File(d).getName}/sh_index_gate"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = T(s, d, "documents")
      val mid = 250L
      val r1 = Dedup.simhashIndexAppend(docs.filter(col("doc_id") < mid),
        "doc_id", "text", dir, maxBucket = Int.MaxValue)
      val r2 = Dedup.simhashIndexAppend(docs.filter(col("doc_id") >= mid),
        "doc_id", "text", dir, maxBucket = Int.MaxValue)
      r1.unionByName(r2)
    }),

    // ---- token-balanced sharding: dataloader shards of ~equal TOKEN
    // mass, contiguous in doc_id order; running sum is the two-phase
    // recipe (no whole-table Window.orderBy — plan-audited). The oracle
    // is the closed form over DuckDB's window cumsum ----
    "q_token_shards" -> ((s, d) =>
      Training.tokenBalancedShards(T(s, d, "documents"), "doc_id", "text",
        shards = 8)),

    "q_url_dedup" -> ((s, d) => {
      // raw URLs synthesized from columns both engines share, exercising
      // every canonicalization rule (case, www, default port, fragment,
      // utm params, trailing slash); the oracle states the INTENDED
      // canonical form directly, so the rules are tested against intent,
      // not against a re-run of themselves.
      val variant = pmod(col("doc_id"), lit(4))
      val raw = concat(lit("HTTPS://WWW."), col("source"),
        lit(".example.com:443/docs/"), pmod(col("doc_id"), lit(500)),
        when(variant === 0,
            concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(500))))
          .when(variant === 1, lit("#section2"))
          .when(variant === 2, lit("/"))
          .otherwise(lit("")))
      Scrub.urlDupStats(
        T(s, d, "documents").withColumn("url", raw), "doc_id", "url")
    }),

    "q_gopher_filter" -> ((s, d) =>
      Scrub.gopherSignals(T(s, d, "documents"), "doc_id", "text")),

    "q_vocab_topk" -> ((s, d) =>
      Search.topVocab(T(s, d, "documents"), "text", k = 30)),

    "q_unigram_ppl" -> ((s, d) =>
      // the operator returns the raw double; rounding is gate-only
      Search.unigramNll(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("nll"), 6).as("nll"))),

    "q_bigram_ppl" -> ((s, d) =>
      // interpolated bigram LM (CCNet's perplexity filter, one order up
      // from q_unigram_ppl); raw double out, rounding gate-only
      Search.bigramNll(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("nll2"), 6).as("nll2"))),

    // ---- DSIR importance weights (arXiv:2302.03169): raw = all docs,
    // target = the src0 slice; weight = Σ ln(p_target/p_raw) over the
    // doc's unigram+bigram stream, add-one smoothed. Rounding is
    // gate-only (SURVEY §5) ----
    "q_dsir" -> ((s, d) =>
      Search.dsirWeights(T(s, d, "documents"),
          T(s, d, "documents").filter(col("source") === "src0"),
          "doc_id", "text")
        .select(col("doc_id"), round(col("weight"), 6).as("dsir_w"))),

    // ---- Quality-classifier scoring (CCNet/GPT-3 quality filter):
    // hashed-ngram logistic regression, 3 deterministic batch-gradient
    // iterations, target = the src0 slice; exact-weight oracle unrolls
    // the same iterations in SQL. Rounding is gate-only (SURVEY §5) ----
    "q_quality_clf" -> ((s, d) =>
      Search.qualityClassifier(T(s, d, "documents"), "doc_id", "text",
          col("source") === "src0")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q_score"))),

    // ---- Multi-class LANGUAGE classifier (fastText-langid role):
    // hashed-token softmax regression, 3 deterministic batch-gradient
    // iterations trained on the `lang` labels, per-class probability
    // rows out; exact-weight oracle unrolls the same iterations
    // K-generically (classes are data, only iterations unroll) ----
    "q_lang_clf" -> ((s, d) =>
      Search.languageClassifier(T(s, d, "documents"), "doc_id", "text",
          "lang")
        .select(col("doc_id"), col("lang"), round(col("p"), 6).as("p"))),

    // ---- BPE round-1 pair statistics (arXiv:1508.07909): the corpus
    // adjacent-symbol-pair frequencies the first merge maximizes — the
    // full loop is iterative (spec-verified, PipelineExtraSpec); this
    // gates its distributed counting core against SQL ----
    "q_bpe_pairs" -> ((s, d) =>
      Bpe.pairCounts(T(s, d, "documents"), "text")
        .orderBy(col("pair_freq").desc, col("left"), col("right"))
        .limit(30)),

    // ---- unigram-LM tokenizer induction (SentencePiece role,
    // arXiv:1804.10959) as exactly-verifiable hard-EM: integer Viterbi
    // costs (round(ln*1e6)*32 + length tiebreak), backpointer encoded
    // in the DP key's low 4 bits so the argmin is exact on both
    // engines; the oracle unrolls DP positions, backtrace steps, AND
    // both EM iterations (the q_lang_clf pattern at DP depth) ----
    "q_unigram_lm" -> ((s, d) =>
      UnigramLm.induce(T(s, d, "documents"), "text")),

    "q_temperature_mix" -> ((s, d) =>
      Training.temperatureMix(T(s, d, "documents"), "doc_id", "text",
        sourceCol = "source", alpha = 0.5, targetFrac = 0.4)),

    // ---- deterministic corpus shuffle: reproducible global permutation
    // via the portable md5 key through the two-phase numbering (no
    // single-partition window); oracle re-derives the same permutation
    // with a plain window ----
    "q_det_shuffle" -> ((s, d) =>
      Training.deterministicShuffle(
        T(s, d, "documents").select("doc_id"), "doc_id", seed = "epoch1")
        .select(col("doc_id"), col("shuffle_key"), col("shuffle_rank"))),

    // ---- epoch-aware upsampling (multi-epoch mixture): per-source copy
    // counts with deterministic fractional admission ----
    "q_upsample" -> ((s, d) =>
      Training.upsampleEpochs(
        T(s, d, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 2.5, "zh" -> 0.4, "de" -> 1.0))
        .select(col("doc_id"), col("lang"), col("copy"))),

    "q_embed_quantize" -> ((s, d) =>
      // codes stringified for the gate (the repo-wide convention for
      // array outputs — the comparator hashes scalars)
      Similarity.quantizeInt8(T(s, d, "embeddings"))
        .select(col("vec_id"), col("scale_q"),
          concat_ws(",", col("codes")).as("codes_str"))),

    "q_window_tumbling" -> ((s, d) =>
      Events.tumblingAgg(T(s, d, "events"), 300)),

    "q_sessionize" -> ((s, d) =>
      Events.sessionize(T(s, d, "events"), 1800)))

  // 64-bit two-half simhash: exact all-pairs re-derivation. h1/h2 are the
  // positional parses of md5 hex chars 1-8 / 9-16 — both halves stay in
  // [0, 2^32) so xor/bit_count need no sign handling.
  private val SIMHASH_ORACLE = s"""
    WITH d AS (SELECT doc_id, $NORM AS norm FROM documents),
    toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d),
    th AS (SELECT doc_id, ${md5hex32("tok", 0)} AS h1, ${md5hex32("tok", 8)} AS h2
      FROM toks),
    bits AS (SELECT doc_id, b,
        sum(CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
        sum(CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s2
      FROM th CROSS JOIN (SELECT unnest(range(0,32)) AS b) GROUP BY 1, 2),
    sig AS (SELECT doc_id,
        sum(CASE WHEN s1 > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS lo,
        sum(CASE WHEN s2 > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS hi
      FROM bits GROUP BY 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INT AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""

  /** Deterministic CLUSTERED corpus for the ANN recall gates: vector i
    * becomes center(i % 32) + 0.1 x its own vector, where the centers
    * are the first 32 embeddings. 32 tight well-separated clusters of
    * ~16 members — the corpus shape approximate NN methods contract
    * for; trivially re-derivable in SQL (the oracle builds the same). */
  private def plantedAnnCorpus(e: DataFrame): DataFrame = {
    val centers = e.filter(col("vec_id") < 32)
      .select(col("vec_id").as("c"), col("embedding").as("cvec"))
    e.select(col("vec_id"), (col("vec_id") % 32).as("c"), col("embedding"))
      .join(broadcast(centers), "c")
      .select(col("vec_id"),
        zip_with(col("cvec"), col("embedding"),
          (a, b) => a.cast("double") + lit(0.1) * b.cast("double"))
          .as("embedding"))
  }

  /** Gate rows for an ANN method: the EXACT top-5 per query (the part
    * DuckDB re-derives) + recall_ok = approx hit >= 90% of the 100
    * exact (query, neighbor) pairs. Lazy end to end: the recall scalar
    * crosses as a broadcast 1-row frame, no driver collect. */
  private def annRecallGate(planted: DataFrame, approx: DataFrame)
      : DataFrame = {
    val exact = Similarity.bruteForceTopK(
      planted, planted.filter(col("vec_id") < 20), k = 5)
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
    val recOk = hits.agg((count(lit(1)) >= 90L).as("recall_ok"))
    exact.select("query_id", "neighbor_id", "cos_sim", "rank")
      .crossJoin(broadcast(recOk))
  }

  /** Shared oracle for the three ANN recall gates: exact top-5 on the
    * planted corpus + literal TRUE for the recall assertion. */
  private val annRecallOracle = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x FROM embeddings),
    planted AS MATERIALIZED (
      SELECT e.vec_id, e.i, c.x + 0.1 * e.x AS x
      FROM e JOIN e c ON c.vec_id = e.vec_id % 32 AND c.i = e.i),
    norms AS MATERIALIZED (
      SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM planted GROUP BY 1),
    scored AS MATERIALIZED (
      SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
        round(sum(q.x * p.x) / (any_value(nq.nrm) * any_value(np.nrm)), 6) AS cos_sim
      FROM planted q
      JOIN planted p ON q.vec_id < 20 AND p.vec_id != q.vec_id AND q.i = p.i
      JOIN norms nq ON nq.vec_id = q.vec_id
      JOIN norms np ON np.vec_id = p.vec_id
      GROUP BY q.vec_id, p.vec_id)
    SELECT query_id, neighbor_id, cos_sim, rank, TRUE AS recall_ok FROM (
      SELECT query_id, neighbor_id, cos_sim,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5"""

  /** Shared oracle for the planted-pair gates (q_semdedup,
    * q_neardup_lsh): the exact threshold-0.9 pair set + literal TRUE
    * recall/precision flags. */
  private lazy val plantedPairsOracle = """
      WITH e AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS x FROM embeddings),
      planted AS MATERIALIZED (
        SELECT e.vec_id, e.i, c.x + 0.1 * e.x AS x
        FROM e JOIN e c ON c.vec_id = e.vec_id % 32 AND c.i = e.i),
      norms AS MATERIALIZED (
        SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM planted GROUP BY 1),
      pairs AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          sum(a.x * b.x) / (any_value(na.nrm) * any_value(nb.nrm)) AS cs
        FROM planted a
        JOIN planted b ON a.vec_id < b.vec_id AND a.i = b.i
        JOIN norms na ON na.vec_id = a.vec_id
        JOIN norms nb ON nb.vec_id = b.vec_id
        GROUP BY a.vec_id, b.vec_id)
      SELECT id_a, id_b, round(cs, 6) AS cos_sim,
             TRUE AS recall_ok, TRUE AS no_invented
      FROM pairs WHERE cs >= 0.9"""

  private def jaccardOracle(threshold: String) = s"""
    WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split($NORM, ' '))) AS g FROM documents),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
      FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT ia AS id_a, ib AS id_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
    WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= $threshold"""

  // md5-derived 32-bit hash of an expression, positionally parsed from hex
  // chars off+1..off+8 — the engine-portable hash also used by the simhash
  // oracle (off=0 for the lo half, off=8 for the hi half).
  private def md5hex32(e: String, off: Int) =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr(md5($e),${off + i},1))-1)*${1L << ((8 - i) * 4)}")
      .mkString("(", " + ", ")")

  private def md5h32(e: String) = md5hex32(e, 0)

  // Unigram-LM induction replayed in SQL: Viterbi DP positions and the
  // backtrace unroll (bounded by maxWordLen=12), EM iterations unroll
  // (2); every model quantity is an integer — piece cost
  // round((ln T - ln c)*1e6)::BIGINT*32 + (4-len), DP key
  // (cum+cost)*16+start — so the per-position argmin and therefore the
  // whole induced vocabulary match UnigramLm.scala bit-exactly.
  private def unigramLmOracle: String = {
    val P = 4; val W = 12 // UnigramLm.Params defaults
    def iteration(it: Int, inv: String): String = {
      def dp(n: Int) = s"dp${it}_$n"
      val dpCtes = (1 to W).map { n =>
        val priors = (math.max(0, n - P) until n).map { q =>
          if (q == 0) "SELECT word, 0::BIGINT AS cum, 0 AS pos FROM wf"
          else s"SELECT word, key // 16 AS cum, $q AS pos FROM ${dp(q)}"
        }.mkString(" UNION ALL ")
        s"""${dp(n)} AS MATERIALIZED (
          SELECT l.word, min((p.cum + l.cost) * 16 + l.st) AS key
          FROM lat$it l JOIN ($priors) p
            ON p.word = l.word AND p.pos = l.st
          WHERE l.fin = $n GROUP BY 1)"""
      }
      val dpall = (1 to W)
        .map(n => s"SELECT word, $n AS pos, key FROM ${dp(n)}")
        .mkString(" UNION ALL ")
      val btCtes = (0 until W).map { k =>
        val src = if (k == 0)
          s"""SELECT w.word, w.freq, len(w.word) AS pos, d.key
            FROM wf w JOIN dpall$it d
              ON d.word = w.word AND d.pos = len(w.word)"""
        else
          s"""SELECT s.word, s.freq, s.nxt AS pos, d.key
            FROM seg${it}_${k - 1} s JOIN dpall$it d
              ON d.word = s.word AND d.pos = s.nxt
            WHERE s.nxt > 0"""
        s"""bt${it}_$k AS ($src),
          seg${it}_$k AS MATERIALIZED (
            SELECT word, freq,
                   substr(word, (key % 16)::INT + 1, pos - (key % 16)::INT) AS piece,
                   (key % 16)::INT AS nxt
            FROM bt${it}_$k)"""
      }
      val pieces = (0 until W)
        .map(k => s"SELECT word, freq, piece FROM seg${it}_$k")
        .mkString(" UNION ALL ")
      s"""t${it - 1} AS (SELECT sum(c)::DOUBLE AS t FROM $inv),
      cost${it - 1} AS (SELECT piece,
          round((ln(t) - ln(c::DOUBLE)) * 1e6)::BIGINT * 32
            + ($P - len(piece)) AS cost
        FROM $inv, t${it - 1}),
      lat$it AS MATERIALIZED (
        SELECT x.word, x.st, x.fin, c.cost
        FROM (SELECT w.word, s.s - 1 AS st, s.s + l.l - 1 AS fin,
                     substr(w.word, s.s, l.l) AS piece
              FROM wf w,
                   unnest(generate_series(1, len(w.word))) AS s(s),
                   unnest(generate_series(1, $P)) AS l(l)
              WHERE s.s + l.l - 1 <= len(w.word)) x
        JOIN cost${it - 1} c ON x.piece = c.piece),
      ${dpCtes.mkString(",\n")},
      dpall$it AS MATERIALIZED ($dpall),
      ${btCtes.mkString(",\n")},
      inv$it AS (
        SELECT piece, sum(freq)::BIGINT AS c
        FROM ($pieces) u GROUP BY 1)"""
    }
    s"""
    WITH wf AS MATERIALIZED (
      -- MATERIALIZED keeps the documents scan at ONE parquet open; the
      -- DP/backtrace CTEs reference wf ~50x and an inlined view would
      -- multiply file handles past the harness fd limit
      SELECT word, count(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split($NORM, ' ')) AS word FROM documents) w0
      WHERE len(word) BETWEEN 1 AND $W GROUP BY 1),
    seed AS (
      SELECT substr(w.word, s.s, l.l) AS piece, sum(w.freq)::BIGINT AS c
      FROM wf w,
           unnest(generate_series(1, len(w.word))) AS s(s),
           unnest(generate_series(1, $P)) AS l(l)
      WHERE s.s + l.l - 1 <= len(w.word)
      GROUP BY 1),
    inv0 AS (SELECT piece, c FROM seed WHERE c >= 2 OR len(piece) = 1),
    ${iteration(1, "inv0")},
    ${iteration(2, "inv1")}
    SELECT piece, c AS cnt FROM inv2
    ORDER BY cnt DESC, piece LIMIT 60"""
  }

  val oracle: Map[String, String] = Map(
    "q_redact" -> s"""
      WITH c AS (SELECT doc_id,
          'reach user' || doc_id || ' at user' || doc_id ||
          '@mail.com or 10.' || (doc_id % 256) || '.0.1 or +1 555 ' ||
          (doc_id % 9000 + 1000) || ' done' AS contact
        FROM documents)
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(contact,
          '${Scrub.EmailRe}', '[EMAIL]', 'g'),
          '${Scrub.Ipv4Re}', '[IP]', 'g'),
          '${Scrub.PhoneRe}', '[PHONE]', 'g') AS redacted
      FROM c""",
    "q_repetition" -> s"""
      WITH t AS (SELECT doc_id, string_split($NORM, ' ') AS w FROM documents),
      g AS (SELECT doc_id, CASE WHEN len(w) >= 3
          THEN list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
          ELSE [array_to_string(w, ' ')] END AS grams FROM t)
      SELECT doc_id, CASE WHEN len(grams) > 0
        THEN floor((len(grams) - len(list_distinct(grams))) * 10000.0 / len(grams))::BIGINT
        ELSE 0 END AS rep_bp
      FROM g""",
    "q_chunk_dedup" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents),
      t AS (SELECT doc_id, string_split($NORM, ' ') AS w FROM corpus),
      chunks AS (SELECT doc_id, unnest(list_transform(range(0, len(w) // 20),
          i -> array_to_string(w[i*20+1 : i*20+20], ' '))) AS chunk
        FROM t WHERE len(w) >= 20)
      SELECT md5(chunk) AS chunk_hash, count(*) AS n_copies,
             min(doc_id) AS keeper_doc
      FROM chunks GROUP BY 1 HAVING count(*) > 1""",
    "q_hash_split" -> s"""
      WITH m AS (SELECT doc_id, ${md5h32("'split:' || text")} % 100 AS bucket FROM documents)
      SELECT doc_id, bucket,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM m""",
    "q_mixture" -> s"""
      SELECT doc_id FROM (SELECT doc_id, ${md5h32("'mix:' || text")} % 100 AS bucket
        FROM documents) WHERE bucket < 30""",
    "q_seq_packing" -> s"""
      WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
          len(string_split($NORM, ' ')) AS n_tokens FROM documents),
      c AS (SELECT doc_id, shard, n_tokens,
          sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      SELECT shard, floor((cum - n_tokens) / 2048.0)::BIGINT AS bin,
        count(*) AS n_docs, sum(n_tokens)::BIGINT AS bin_tokens
      FROM c GROUP BY 1, 2""",
    "q_dedup_exact" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents)
      SELECT min(doc_id) AS keeper_id, count(*) AS copies
      FROM (SELECT doc_id, $NORM AS norm FROM corpus)
      GROUP BY norm HAVING count(*) > 1""",
    "q_dedup_minhash" -> jaccardOracle("0.8"),
    "q_dedup_incremental" -> jaccardOracle("0.8"),
    "q_dedup_minhash_capped" -> jaccardOracle("0.8"),
    "q_decontaminate" -> s"""
      WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split($NORM, ' '))) AS g
                    FROM documents),
      sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        FROM toks a JOIN toks b ON a.g = b.g
        WHERE a.doc_id >= 50 AND b.doc_id < 50 GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b,
             round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
      FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
      WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.8""",
    "q_dedup_simhash" -> SIMHASH_ORACLE,
    "q_simhash_incremental" -> SIMHASH_ORACLE,
    "q_dedup_simhash_capped" -> SIMHASH_ORACLE,
    // joins on the raw 5-gram STRINGS where the Spark side joins on
    // 64-bit xxhash64 keys over each gram's 5 words — a hash
    // false-positive would fail the gate
    "q_ngram_decontam" -> s"""
      WITH t AS (SELECT doc_id, string_split($NORM, ' ') AS w FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')))) AS ng
            FROM t WHERE len(w) >= 5),
      ref AS (SELECT DISTINCT ng FROM g WHERE doc_id < 50)
      SELECT g.doc_id, count(*) AS n_shared
      FROM g JOIN ref USING (ng) WHERE g.doc_id >= 50 GROUP BY 1""",
    "q_contamination" -> s"""
      WITH t AS (SELECT doc_id, string_split($NORM, ' ') AS w FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')))) AS ng
            FROM t WHERE len(w) >= 5),
      ref AS (SELECT DISTINCT ng FROM g WHERE doc_id < 50)
      SELECT g.doc_id, count(*) AS n_grams,
        count(ref.ng)::BIGINT AS n_shared,
        round(count(ref.ng)::DOUBLE / count(*), 6) AS score
      FROM g LEFT JOIN ref ON g.ng = ref.ng
      WHERE g.doc_id >= 50 GROUP BY 1""",
    "q_line_dedup" -> """
      WITH corpus AS (
        SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, ' table ', chr(10)) FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM corpus),
      lines AS (SELECT doc_id, unnest(range(1, len(a)+1)) AS i,
                       unnest(a) AS line FROM ls),
      ranked AS (SELECT doc_id, i, line,
          row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn
        FROM lines WHERE trim(line) <> ''),
      kept AS (
        SELECT doc_id, i, line FROM ranked WHERE rn = 1
        UNION ALL
        SELECT doc_id, i, line FROM lines WHERE trim(line) = ''),
      rebuilt AS (SELECT doc_id,
          string_agg(line, chr(10) ORDER BY i) AS text
        FROM kept GROUP BY doc_id)
      SELECT c.doc_id, coalesce(r.text, '') AS text
      FROM (SELECT DISTINCT doc_id FROM corpus) c
      LEFT JOIN rebuilt r USING (doc_id)""",

    "q_blocklist" -> """
      WITH p AS (SELECT doc_id,
          ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS pad
        FROM documents)
      SELECT doc_id,
        (CASE WHEN position(' vector ' IN pad) > 0 THEN 1 ELSE 0 END
       + CASE WHEN position(' hash ' IN pad) > 0 THEN 1 ELSE 0 END
       + CASE WHEN position(' slow query ' IN pad) > 0 THEN 1 ELSE 0 END)::BIGINT AS bad_hits
      FROM p""",

    "q_bm25" -> s"""
      WITH d AS (SELECT doc_id,
                        len(list_filter(string_split($NORM, ' '), x -> x <> '')) AS dl,
                        list_filter(string_split($NORM, ' '), x -> x <> '') AS w
                 FROM documents),
      tf AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
      tf2 AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM tf
              WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2, 3),
      stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM d),
      dfx AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf2 GROUP BY 1)
      SELECT doc_id, round(sum(
          ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
          tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
            (sum_dl::DOUBLE / n_docs)))), 6) AS score
      FROM tf2 JOIN dfx USING (term) CROSS JOIN stats GROUP BY 1""",
    "q_repeated_spans" -> """
      WITH toks AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
        FROM documents
      ), spans AS (
        SELECT doc_id, gs AS pos, array_to_string(t[gs+1:gs+8], ' ') AS span
        FROM toks, UNNEST(range(0, greatest(len(t) - 7, 0))) AS u(gs)
      ), marked AS (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
          count(*) OVER (PARTITION BY span) AS c
        FROM spans)
      SELECT doc_id, count(*)::BIGINT AS n_repeats, sum(pos)::BIGINT AS pos_sum
      FROM marked WHERE c > 1 AND rn > 1 GROUP BY 1""",
    "q_cut_spans" -> """
      WITH toks AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
        FROM documents
      ), spans AS (
        SELECT doc_id, gs AS pos, array_to_string(t[gs+1:gs+8], ' ') AS span
        FROM toks, UNNEST(range(0, greatest(len(t) - 7, 0))) AS u(gs)
      ), marked AS (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
          count(*) OVER (PARTITION BY span) AS c
        FROM spans
      ), reps AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
      cover AS (SELECT DISTINCT doc_id, pos + o AS idx
                FROM reps, UNNEST(range(0, 8)) AS v(o)),
      tokpos AS (
        SELECT doc_id, t[i+1] AS tok, i AS idx
        FROM toks, UNNEST(range(0, len(t))) AS v(i)
      ), kept AS (
        SELECT tp.doc_id, tp.tok, tp.idx FROM tokpos tp
        ANTI JOIN cover c ON tp.doc_id = c.doc_id AND tp.idx = c.idx
      ), rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cut
        FROM kept GROUP BY 1)
      SELECT toks.doc_id, coalesce(r.cut, '') AS text
      FROM toks LEFT JOIN rebuilt r USING (doc_id)""",
    "q_dup_components" -> """
      SELECT min(o_orderkey)::BIGINT AS component,
             count(*)::BIGINT AS n_members
      FROM orders GROUP BY o_custkey HAVING count(*) > 1""",
    "q_dedup_canonical" -> """
      SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS key_sum
      FROM orders WHERE o_orderkey IN (
        SELECT min(o_orderkey) FROM orders GROUP BY o_custkey)""",
    "q_stratified_sample" -> """
      SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)::BIGINT AS rk
        FROM documents) WHERE rk <= 40""",
    "q_token_shards" -> s"""
      WITH t AS (SELECT doc_id,
                   (CASE WHEN $NORM = '' THEN 0
                         ELSE len(string_split($NORM, ' ')) END)::BIGINT AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
              sum(n_tokens) OVER () AS total
            FROM t)
      SELECT doc_id, n_tokens,
             least(floor(before / floor((total + 7) / 8)), 7)::BIGINT AS shard
      FROM c""",
    "q_url_dedup" -> """
      WITH u AS (SELECT doc_id,
          'https://' || source || '.example.com/docs/' || (doc_id % 500) ||
          CASE WHEN doc_id % 4 = 0 THEN '?id=' || (doc_id % 500) ELSE '' END AS canon
        FROM documents)
      SELECT canon AS canon_url, count(*)::BIGINT AS n_variants,
             min(doc_id) AS keeper_doc
      FROM u GROUP BY 1""",
    "q_gopher_filter" -> s"""
      WITH t AS (SELECT doc_id, text,
                   list_filter(string_split($NORM, ' '), x -> x <> '') AS w
                 FROM documents),
      m AS (SELECT doc_id,
          len(w)::BIGINT AS wc,
          (CASE WHEN len(w) = 0 THEN 0 ELSE
            list_sum(list_transform(w, x -> length(x))) * 100 // len(w) END)::BIGINT AS mlen,
          ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
            * 10000 // greatest(length(text), 1))::BIGINT AS sym,
          len(list_filter(w, x -> x IN ('the','a','an','of','and','to','in','is','it','that')))::BIGINT AS stop
        FROM t)
      SELECT doc_id, wc AS word_count, mlen AS mean_len_x100, sym AS symbol_bp,
             stop AS stop_hits,
             (wc BETWEEN 30 AND 5000 AND mlen BETWEEN 300 AND 1000
              AND sym <= 1000 AND stop > 0) AS keep
      FROM m""",
    "q_ngram_jaccard" -> jaccardOracle("0.95"),
    "q_embed_neardup" -> """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
        AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4""",
    "q_ann_lsh" -> annRecallOracle,
    "q_ann_ivf" -> annRecallOracle,
    "q_ann_ivfpq" -> annRecallOracle,
    "q_ann_index" -> annRecallOracle,

    "q_kmeans" -> """
      SELECT vec_id % 32 AS label, count(*) AS members,
             TRUE AS coherent_ok
      FROM embeddings GROUP BY 1""",

    "q_neardup_lsh" -> plantedPairsOracle,
    "q_semdedup" -> plantedPairsOracle,

    "q_ann_bruteforce" -> """
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
            / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
               * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
          row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5""",
    "q_pca_project" -> """
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings),
      m AS (SELECT i, avg(x) AS mu FROM e GROUP BY i),
      c AS (SELECT vec_id, e.i, x - mu AS v FROM e JOIN m USING (i)),
      s1 AS (SELECT vec_id, sum(CASE WHEN i = 1 THEN v ELSE 0 END) AS s
             FROM c GROUP BY vec_id),
      w1 AS (SELECT i, sum(c.v * s1.s) AS w
             FROM c JOIN s1 USING (vec_id) GROUP BY i),
      v1 AS (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w1) AS v FROM w1),
      s2 AS (SELECT vec_id, sum(c.v * v1.v) AS s
             FROM c JOIN v1 USING (i) GROUP BY vec_id),
      w2 AS (SELECT i, sum(c.v * s2.s) AS w
             FROM c JOIN s2 USING (vec_id) GROUP BY i),
      v2 AS (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w2) AS v FROM w2),
      s3 AS (SELECT vec_id, sum(c.v * v2.v) AS s
             FROM c JOIN v2 USING (i) GROUP BY vec_id),
      w3 AS (SELECT i, sum(c.v * s3.s) AS w
             FROM c JOIN s3 USING (vec_id) GROUP BY i),
      v3 AS (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w3) AS v FROM w3)
      SELECT vec_id, round(sum(c.v * v3.v), 6) AS proj
      FROM c JOIN v3 USING (i) GROUP BY vec_id""",
    "q_pca_topk" -> """
      WITH e AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings),
      m AS MATERIALIZED (SELECT i, avg(x) AS mu FROM e GROUP BY i),
      c AS MATERIALIZED (SELECT vec_id, e.i, x - mu AS v FROM e JOIN m USING (i)),
      s1 AS MATERIALIZED (SELECT vec_id, sum(CASE WHEN i = 1 THEN v ELSE 0 END) AS s
             FROM c GROUP BY vec_id),
      w1 AS MATERIALIZED (SELECT i, sum(c.v * s1.s) AS w
             FROM c JOIN s1 USING (vec_id) GROUP BY i),
      v1 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w1) AS v FROM w1),
      s2 AS MATERIALIZED (SELECT vec_id, sum(c.v * v1.v) AS s
             FROM c JOIN v1 USING (i) GROUP BY vec_id),
      w2 AS MATERIALIZED (SELECT i, sum(c.v * s2.s) AS w
             FROM c JOIN s2 USING (vec_id) GROUP BY i),
      v2 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w2) AS v FROM w2),
      s3 AS MATERIALIZED (SELECT vec_id, sum(c.v * v2.v) AS s
             FROM c JOIN v2 USING (i) GROUP BY vec_id),
      w3 AS MATERIALIZED (SELECT i, sum(c.v * s3.s) AS w
             FROM c JOIN s3 USING (vec_id) GROUP BY i),
      v3 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM w3) AS v FROM w3),
      l1 AS MATERIALIZED (SELECT sqrt(sum(w*w)) AS lam FROM w3),
      t1 AS MATERIALIZED (SELECT vec_id, sum(CASE WHEN i = 2 THEN v ELSE 0 END) AS s
             FROM c GROUP BY vec_id),
      y1r AS MATERIALIZED (SELECT i, sum(c.v * t1.s) AS w
              FROM c JOIN t1 USING (vec_id) GROUP BY i),
      d1 AS MATERIALIZED (SELECT sum(CASE WHEN i = 2 THEN v ELSE 0 END) AS d FROM v3),
      y1 AS MATERIALIZED (SELECT y1r.i,
               w - (SELECT lam FROM l1) * (SELECT d FROM d1) * v3.v AS w
             FROM y1r JOIN v3 ON y1r.i = v3.i),
      u1 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM y1) AS v FROM y1),
      t2 AS MATERIALIZED (SELECT vec_id, sum(c.v * u1.v) AS s
             FROM c JOIN u1 USING (i) GROUP BY vec_id),
      y2r AS MATERIALIZED (SELECT i, sum(c.v * t2.s) AS w
              FROM c JOIN t2 USING (vec_id) GROUP BY i),
      d2 AS MATERIALIZED (SELECT sum(v3.v * u1.v) AS d FROM v3 JOIN u1 USING (i)),
      y2 AS MATERIALIZED (SELECT y2r.i,
               w - (SELECT lam FROM l1) * (SELECT d FROM d2) * v3.v AS w
             FROM y2r JOIN v3 ON y2r.i = v3.i),
      u2 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM y2) AS v FROM y2),
      t3 AS MATERIALIZED (SELECT vec_id, sum(c.v * u2.v) AS s
             FROM c JOIN u2 USING (i) GROUP BY vec_id),
      y3r AS MATERIALIZED (SELECT i, sum(c.v * t3.s) AS w
              FROM c JOIN t3 USING (vec_id) GROUP BY i),
      d3 AS MATERIALIZED (SELECT sum(v3.v * u2.v) AS d FROM v3 JOIN u2 USING (i)),
      y3 AS MATERIALIZED (SELECT y3r.i,
               w - (SELECT lam FROM l1) * (SELECT d FROM d3) * v3.v AS w
             FROM y3r JOIN v3 ON y3r.i = v3.i),
      u3 AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w*w)) FROM y3) AS v FROM y3),
      pr1 AS MATERIALIZED (SELECT vec_id, sum(c.v * v3.v) AS p
              FROM c JOIN v3 USING (i) GROUP BY vec_id),
      pr2 AS MATERIALIZED (SELECT vec_id, sum(c.v * u3.v) AS p
              FROM c JOIN u3 USING (i) GROUP BY vec_id)
      SELECT vec_id, round(pr1.p, 6) AS proj1, round(pr2.p, 6) AS proj2
      FROM pr1 JOIN pr2 USING (vec_id)""",
    "q_kcenter" -> """
      WITH e AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings),
      p1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM e),
      c1 AS MATERIALIZED (SELECT i, x FROM e WHERE vec_id = (SELECT id FROM p1)),
      d1 AS MATERIALIZED (
        SELECT e.vec_id, sum((e.x - c1.x)*(e.x - c1.x)) AS d
        FROM e JOIN c1 USING (i) GROUP BY e.vec_id),
      p2 AS MATERIALIZED (SELECT vec_id AS id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
      c2 AS MATERIALIZED (SELECT i, x FROM e WHERE vec_id = (SELECT id FROM p2)),
      d2 AS MATERIALIZED (
        SELECT d1.vec_id, least(d1.d, n.d) AS d
        FROM d1 JOIN (SELECT e.vec_id, sum((e.x - c2.x)*(e.x - c2.x)) AS d
                      FROM e JOIN c2 USING (i) GROUP BY e.vec_id) n USING (vec_id)),
      p3 AS MATERIALIZED (SELECT vec_id AS id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
      c3 AS MATERIALIZED (SELECT i, x FROM e WHERE vec_id = (SELECT id FROM p3)),
      d3 AS MATERIALIZED (
        SELECT d2.vec_id, least(d2.d, n.d) AS d
        FROM d2 JOIN (SELECT e.vec_id, sum((e.x - c3.x)*(e.x - c3.x)) AS d
                      FROM e JOIN c3 USING (i) GROUP BY e.vec_id) n USING (vec_id)),
      p4 AS MATERIALIZED (SELECT vec_id AS id, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
      c4 AS MATERIALIZED (SELECT i, x FROM e WHERE vec_id = (SELECT id FROM p4)),
      d4 AS MATERIALIZED (
        SELECT d3.vec_id, least(d3.d, n.d) AS d
        FROM d3 JOIN (SELECT e.vec_id, sum((e.x - c4.x)*(e.x - c4.x)) AS d
                      FROM e JOIN c4 USING (i) GROUP BY e.vec_id) n USING (vec_id)),
      p5 AS MATERIALIZED (SELECT vec_id AS id, d FROM d4 ORDER BY d DESC, vec_id LIMIT 1),
      c5 AS MATERIALIZED (SELECT i, x FROM e WHERE vec_id = (SELECT id FROM p5)),
      d5 AS MATERIALIZED (
        SELECT d4.vec_id, least(d4.d, n.d) AS d
        FROM d4 JOIN (SELECT e.vec_id, sum((e.x - c5.x)*(e.x - c5.x)) AS d
                      FROM e JOIN c5 USING (i) GROUP BY e.vec_id) n USING (vec_id)),
      p6 AS MATERIALIZED (SELECT vec_id AS id, d FROM d5 ORDER BY d DESC, vec_id LIMIT 1)
      SELECT 1 AS step, (SELECT id FROM p1) AS vec_id, 0.0::DOUBLE AS radius2
      UNION ALL SELECT 2, (SELECT id FROM p2), round((SELECT d FROM p2), 4)
      UNION ALL SELECT 3, (SELECT id FROM p3), round((SELECT d FROM p3), 4)
      UNION ALL SELECT 4, (SELECT id FROM p4), round((SELECT d FROM p4), 4)
      UNION ALL SELECT 5, (SELECT id FROM p5), round((SELECT d FROM p5), 4)
      UNION ALL SELECT 6, (SELECT id FROM p6), round((SELECT d FROM p6), 4)""",
    "q_lang_id" -> s"""
      WITH t AS (SELECT doc_id, string_split($NORM, ' ') AS w FROM documents),
      sc AS (SELECT doc_id,
        len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS s_en,
        len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(w, x -> x IN ('el','la','de','y','es'))) AS s_es,
        len(list_filter(w, x -> x IN ('le','la','de','et','est'))) AS s_fr
        FROM t)
      SELECT doc_id, CASE
        WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
        WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        ELSE 'fr' END AS lang_pred FROM sc""",
    "q_text_quality" -> s"""
      WITH t AS (SELECT doc_id, text, $NORM AS norm FROM documents),
      m AS (SELECT doc_id, text,
        CASE WHEN length(text) > 0 THEN
          (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE / length(text)
        ELSE 0.0 END AS punct,
        CASE WHEN len(string_split(norm, ' ')) > 0 THEN
          len(list_filter(string_split(norm, ' '),
              x -> x IN ('the','a','an','of','and','to','in','is','it','that')))::DOUBLE
            / len(string_split(norm, ' '))
        ELSE 0.0 END AS stop
        FROM t)
      SELECT doc_id, round(punct, 6) AS punct_ratio, round(stop, 6) AS stopword_ratio,
        floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
          + (1.0 - punct) * 0.3 + least(stop * 5, 1.0) * 0.3) * 10000)::BIGINT AS quality_bp
      FROM m""",
    "q_token_count" -> s"""
      SELECT doc_id,
        CASE WHEN $NORM = '' THEN 0
             ELSE len(string_split($NORM, ' ')) END AS n_ws_tokens,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens
      FROM documents""",
    "q_fingerprint" -> s"SELECT doc_id, md5($NORM) AS fp FROM documents",
    "q_exif" -> """
      SELECT doc_id,
        'GraftCam-' || (doc_id % 5)::VARCHAR AS exif_make,
        'M' || (doc_id % 7)::VARCHAR AS exif_model,
        (doc_id % 8) + 1 AS exif_orientation,
        printf('2024:01:15 10:%02d:%02d', doc_id % 60, (doc_id * 7) % 60) AS exif_datetime,
        (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
          ((doc_id % 90) + (doc_id % 60) / 60.0 + ((doc_id * 3) % 60) / 3600.0) AS exif_gps_lat,
        (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END) *
          ((doc_id % 180) + ((doc_id * 5) % 60) / 60.0 + ((doc_id * 11) % 60) / 3600.0) AS exif_gps_lon
      FROM documents""",
    "q_vocab_topk" -> s"""
      WITH c AS (SELECT unnest(list_filter(string_split($NORM, ' '), x -> x <> '')) AS term FROM documents),
      f AS (SELECT term, count(*) AS freq FROM c GROUP BY 1),
      r AS (SELECT term, freq,
              row_number() OVER (ORDER BY freq DESC, term)::BIGINT AS rank FROM f)
      SELECT term, freq, rank FROM r WHERE rank <= 30""",
    "q_embed_quantize" -> """
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      s AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM v)
      SELECT vec_id, floor(s * 1048576)::BIGINT AS scale_q,
        array_to_string(CASE WHEN s = 0 THEN list_transform(v, x -> 0::INT)
             ELSE list_transform(v, x -> floor(x / s + 0.5)::INT) END, ',') AS codes_str
      FROM s""",
    "q_unigram_ppl" -> s"""
      WITH toks AS (SELECT doc_id,
                    unnest(list_filter(string_split($NORM, ' '), x -> x <> '')) AS term
                    FROM documents),
      c AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
      t AS (SELECT sum(cnt)::BIGINT AS total FROM c),
      p AS (SELECT term, cnt::DOUBLE / total AS p FROM c CROSS JOIN t)
      SELECT doc_id, round(sum(-ln(p)) / count(*), 6) AS nll
      FROM toks JOIN p USING (term) GROUP BY 1""",
    "q_bigram_ppl" -> s"""
      WITH toks AS (SELECT doc_id,
                    list_filter(string_split($NORM, ' '), x -> x <> '') AS toks
                    FROM documents),
      bg AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
               SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 1),
                   i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS g
               FROM toks)),
      c2 AS (SELECT w1, w2, count(*)::BIGINT AS cnt2 FROM bg GROUP BY 1, 2),
      ctx AS (SELECT w1, sum(cnt2)::BIGINT AS ctx FROM c2 GROUP BY 1),
      c1 AS (SELECT t.term, count(*)::BIGINT AS cnt1
             FROM (SELECT unnest(toks) AS term FROM toks) t GROUP BY 1),
      tot AS (SELECT sum(cnt1)::BIGINT AS total FROM c1),
      model AS (SELECT w1, w2,
          0.9::DOUBLE * cnt2 / ctx
            + (1.0::DOUBLE - 0.9::DOUBLE) * cnt1 / total AS p
        FROM c2 JOIN ctx USING (w1) JOIN c1 ON c1.term = c2.w2 CROSS JOIN tot)
      SELECT doc_id, round(sum(-ln(p)) / count(*), 6) AS nll2
      FROM bg JOIN model USING (w1, w2) GROUP BY 1""",
    "q_dsir" -> s"""
      WITH toks AS (SELECT doc_id,
                    list_filter(string_split($NORM, ' '), x -> x <> '') AS toks
                    FROM documents),
      grams AS (SELECT doc_id, unnest(list_concat(toks,
          list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1]))) AS gram
        FROM toks),
      tgt AS (SELECT gram, count(*)::BIGINT AS tcnt FROM grams
              WHERE doc_id IN (SELECT doc_id FROM documents
                               WHERE source = 'src0')
              GROUP BY 1),
      rawc AS (SELECT gram, count(*)::BIGINT AS rcnt FROM grams GROUP BY 1),
      v AS (SELECT coalesce(t.gram, r.gram) AS gram,
              coalesce(tcnt, 0) AS tcnt, coalesce(rcnt, 0) AS rcnt
            FROM tgt t FULL JOIN rawc r ON t.gram = r.gram),
      tot AS (SELECT sum(tcnt)::BIGINT AS tt, sum(rcnt)::BIGINT AS rt,
                count(*)::BIGINT AS vv FROM v),
      llr AS (SELECT gram, ln((tcnt + 1.0) / (tt + vv))
                         - ln((rcnt + 1.0) / (rt + vv)) AS llr
              FROM v CROSS JOIN tot),
      w AS (SELECT doc_id, sum(llr) AS w FROM grams JOIN llr USING (gram)
            GROUP BY 1)
      SELECT d.doc_id, round(coalesce(w.w, 0), 6) AS dsir_w
      FROM documents d LEFT JOIN w USING (doc_id)""",
    "q_lang_clf" -> s"""
      WITH classes AS (SELECT DISTINCT lang FROM documents
                       WHERE lang IS NOT NULL),
      kk AS (SELECT count(*)::DOUBLE AS kk FROM classes),
      toks AS (SELECT doc_id,
             unnest(list_filter(string_split($NORM, ' '), x -> x <> '')) AS tok
           FROM documents),
      feats AS (SELECT doc_id, ${md5h32("'lc:' || tok")} % 64 AS j,
                  count(*)::BIGINT AS x
                FROM toks GROUP BY 1, 2),
      lab AS (SELECT doc_id, lang AS y_lang FROM documents
              WHERE lang IS NOT NULL),
      n AS (SELECT count(*)::DOUBLE AS n FROM lab),
      -- iteration 1: w0 = 0 so p = 1/K for every (featured doc, class)
      e1 AS (SELECT l.doc_id, c.lang,
               (SELECT 1.0/kk FROM kk)
                 - CASE WHEN l.y_lang = c.lang THEN 1.0 ELSE 0.0 END AS e
             FROM lab l CROSS JOIN classes c),
      g1 AS (SELECT e.lang, f.j, sum(e.e * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN e1 e USING (doc_id) GROUP BY 1, 2),
      w1 AS (SELECT lang, j, 0.0 - 0.5 * g AS w FROM g1),
      -- iteration 2
      z2 AS (SELECT f.doc_id, w.lang, sum(w.w * f.x) AS z
             FROM feats f JOIN w1 w USING (j) GROUP BY 1, 2),
      m2 AS (SELECT doc_id, max(z) AS m FROM z2 GROUP BY 1),
      x2 AS (SELECT z.doc_id, z.lang, exp(z.z - m.m) AS ez
             FROM z2 z JOIN m2 m USING (doc_id)),
      s2 AS (SELECT doc_id, sum(ez) AS s FROM x2 GROUP BY 1),
      p2 AS (SELECT x.doc_id, x.lang, x.ez / s.s AS p
             FROM x2 x JOIN s2 s USING (doc_id)),
      e2 AS (SELECT l.doc_id, p.lang,
               p.p - CASE WHEN l.y_lang = p.lang THEN 1.0 ELSE 0.0 END AS e
             FROM lab l JOIN p2 p USING (doc_id)),
      g2 AS (SELECT e.lang, f.j, sum(e.e * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN e2 e USING (doc_id) GROUP BY 1, 2),
      w2 AS (SELECT w1.lang, w1.j, w1.w - 0.5 * coalesce(g2.g, 0) AS w
             FROM w1 LEFT JOIN g2 USING (lang, j)),
      -- iteration 3
      z3 AS (SELECT f.doc_id, w.lang, sum(w.w * f.x) AS z
             FROM feats f JOIN w2 w USING (j) GROUP BY 1, 2),
      m3 AS (SELECT doc_id, max(z) AS m FROM z3 GROUP BY 1),
      x3 AS (SELECT z.doc_id, z.lang, exp(z.z - m.m) AS ez
             FROM z3 z JOIN m3 m USING (doc_id)),
      s3 AS (SELECT doc_id, sum(ez) AS s FROM x3 GROUP BY 1),
      p3 AS (SELECT x.doc_id, x.lang, x.ez / s.s AS p
             FROM x3 x JOIN s3 s USING (doc_id)),
      e3 AS (SELECT l.doc_id, p.lang,
               p.p - CASE WHEN l.y_lang = p.lang THEN 1.0 ELSE 0.0 END AS e
             FROM lab l JOIN p3 p USING (doc_id)),
      g3 AS (SELECT e.lang, f.j, sum(e.e * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN e3 e USING (doc_id) GROUP BY 1, 2),
      w3 AS (SELECT w2.lang, w2.j, w2.w - 0.5 * coalesce(g3.g, 0) AS w
             FROM w2 LEFT JOIN g3 USING (lang, j)),
      -- final scoring pass with the trained weights
      zf AS (SELECT f.doc_id, w.lang, sum(w.w * f.x) AS z
             FROM feats f JOIN w3 w USING (j) GROUP BY 1, 2),
      mf AS (SELECT doc_id, max(z) AS m FROM zf GROUP BY 1),
      xf AS (SELECT z.doc_id, z.lang, exp(z.z - m.m) AS ez
             FROM zf z JOIN mf m USING (doc_id)),
      sf AS (SELECT doc_id, sum(ez) AS s FROM xf GROUP BY 1),
      pf AS (SELECT x.doc_id, x.lang, x.ez / s.s AS p
             FROM xf x JOIN sf s USING (doc_id))
      SELECT d.doc_id, c.lang,
             round(coalesce(pf.p, 1.0/(SELECT kk FROM kk)), 6) AS p
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN classes c
      LEFT JOIN pf ON pf.doc_id = d.doc_id AND pf.lang = c.lang""",
    "q_quality_clf" -> s"""
      WITH toks AS (SELECT doc_id,
             unnest(list_filter(string_split($NORM, ' '), x -> x <> '')) AS tok
           FROM documents),
      feats AS (SELECT doc_id, ${md5h32("'qc:' || tok")} % 64 AS j,
                  count(*)::BIGINT AS x
                FROM toks GROUP BY 1, 2),
      lab AS (SELECT doc_id,
                CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
              FROM documents),
      n AS (SELECT count(*)::DOUBLE AS n FROM documents),
      -- iteration 1: w0 = 0 so sigmoid(z) = 0.5 for every doc
      g1 AS (SELECT f.j, sum((0.5 - l.y) * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN lab l USING (doc_id) GROUP BY f.j),
      w1 AS (SELECT j, 0.0 - 0.5 * g AS w FROM g1),
      -- iteration 2
      z2 AS (SELECT f.doc_id, sum(w.w * f.x) AS z
             FROM feats f JOIN w1 w USING (j) GROUP BY 1),
      e2 AS (SELECT l.doc_id,
               1.0 / (1.0 + exp(-coalesce(z.z, 0))) - l.y AS e
             FROM lab l LEFT JOIN z2 z USING (doc_id)),
      g2 AS (SELECT f.j, sum(e.e * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN e2 e USING (doc_id) GROUP BY f.j),
      w2 AS (SELECT w1.j, w1.w - 0.5 * coalesce(g2.g, 0) AS w
             FROM w1 LEFT JOIN g2 USING (j)),
      -- iteration 3
      z3 AS (SELECT f.doc_id, sum(w.w * f.x) AS z
             FROM feats f JOIN w2 w USING (j) GROUP BY 1),
      e3 AS (SELECT l.doc_id,
               1.0 / (1.0 + exp(-coalesce(z.z, 0))) - l.y AS e
             FROM lab l LEFT JOIN z3 z USING (doc_id)),
      g3 AS (SELECT f.j, sum(e.e * f.x) / (SELECT n FROM n) AS g
             FROM feats f JOIN e3 e USING (doc_id) GROUP BY f.j),
      w3 AS (SELECT w2.j, w2.w - 0.5 * coalesce(g3.g, 0) AS w
             FROM w2 LEFT JOIN g3 USING (j)),
      zf AS (SELECT f.doc_id, sum(w.w * f.x) AS z
             FROM feats f JOIN w3 w USING (j) GROUP BY 1)
      SELECT l.doc_id,
             round(1.0 / (1.0 + exp(-coalesce(z.z, 0))), 6) AS q_score
      FROM lab l LEFT JOIN zf z USING (doc_id)""",
    "q_unigram_lm" -> unigramLmOracle,
    "q_bpe_pairs" -> s"""
      WITH words AS (SELECT unnest(string_split($NORM, ' ')) AS word
                     FROM documents),
      wf AS (SELECT word, count(*)::BIGINT AS freq FROM words
             WHERE len(word) > 0 GROUP BY 1),
      syms AS (SELECT freq, list_transform(string_split(word, ''),
                 (c, i) -> CASE WHEN i = len(string_split(word, ''))
                           THEN c || '</w>' ELSE c END) AS s
               FROM wf),
      pairs AS (SELECT s[i] AS l, s[i+1] AS r, freq
                FROM syms, unnest(generate_series(1, len(s) - 1)) AS t(i)),
      agg AS (SELECT l AS "left", r AS "right",
                sum(freq)::BIGINT AS pair_freq FROM pairs GROUP BY 1, 2)
      SELECT "left", "right", pair_freq FROM agg
      ORDER BY pair_freq DESC, "left", "right" LIMIT 30""",
    "q_temperature_mix" -> s"""
      WITH s AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1),
      t AS (SELECT sum(n_s)::BIGINT AS n_total, sum(pow(n_s, 0.5)) AS sum_pow FROM s),
      r AS (SELECT source, least(10000, floor(pow(n_s, 0.5) / sum_pow
              * (0.4 * n_total) * 10000.0 / n_s))::BIGINT AS rate_bp
            FROM s CROSS JOIN t)
      SELECT d.doc_id, d.source, r.rate_bp
      FROM documents d JOIN r USING (source)
      WHERE ${md5h32("'tmix:' || text")} % 10000 < r.rate_bp""",
    "q_det_shuffle" -> s"""
      SELECT doc_id,
             ${md5h32("'epoch1 ' || doc_id::VARCHAR")}::BIGINT AS shuffle_key,
             row_number() OVER (
               ORDER BY ${md5h32("'epoch1 ' || doc_id::VARCHAR")}, doc_id
             )::BIGINT AS shuffle_rank
      FROM documents""",
    "q_upsample" -> s"""
      WITH d AS (SELECT doc_id, lang,
          CASE lang WHEN 'en' THEN 25000 WHEN 'zh' THEN 4000
                    WHEN 'de' THEN 10000 ELSE 10000 END AS bp
        FROM documents),
      c AS (SELECT doc_id, lang,
          (bp // 10000) + CASE WHEN
            ${md5h32("doc_id::VARCHAR || ' ' || lang")} % 10000 < bp % 10000
            THEN 1 ELSE 0 END AS n
        FROM d)
      SELECT doc_id, lang, unnest(range(n))::INT AS copy
      FROM c WHERE n > 0""",
    "q_window_tumbling" -> """
      SELECT (epoch_ns(ts) // 1000000000) // 300 AS window_id, event_type,
        count(*) AS n_events, sum(floor(value * 16384.0))::BIGINT AS sum_value_q
      FROM events GROUP BY 1, 2""",
    "q_sessionize" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec, value,
          ts FROM events),
      marked AS (SELECT user_id, event_id, sec, value, ts,
        CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessed AS (SELECT user_id, sec, value,
        (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sess_seq
        FROM marked)
      SELECT user_id, sess_seq, count(*) AS n_events, min(sec) AS start_sec,
        max(sec) AS end_sec, sum(floor(value * 16384.0))::BIGINT AS sum_value_q
      FROM sessed GROUP BY user_id, sess_seq""")
}
