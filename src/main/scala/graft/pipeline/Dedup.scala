package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Deduplication operators designed for the 100 TB regime.
  *
  * Shape of every near-dup variant: narrow map (shingle/sketch) →
  * explode to (bucketKey, doc) → shuffle once on bucketKey →
  * within-bucket candidate pairs → exact verification on candidates.
  * Never an all-pairs cartesian; skew is bounded by a per-bucket cap.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id doc per normalized-text hash, as
    * ONE map-side-combinable aggregation — min_by(full row, id) reduces
    * each map partition to a single candidate per hash before the
    * shuffle, so a 10^8-copy boilerplate page at 100 TB combines on the
    * mappers instead of pinning one reducer (a row_number window gets
    * no partial agg and no AQE skew split; the previous agg+semi-join
    * spelling shuffled the corpus twice for the same answer). Fully
    * duplicated rows (same id, same text — a re-emitted crawl record)
    * collapse for free; among same-id copies whose OTHER columns differ
    * the survivor is unspecified. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = xxhash64(TextAnalysis.normalize(col(textCol)))
    // null-id rows drop up front: min_by SKIPS null ordering values, so
    // a group whose every id is null would otherwise emit one all-null
    // row (null struct access) where the previous agg+semi-join
    // spelling — min(id) null, join misses — emitted nothing.
    val hashed = docs.filter(col(idCol).isNotNull).withColumn("__g_ch", h)
    // output keeps the INPUT schema — the old spelling leaked the
    // internal content_hash column into every caller's schema (and
    // silently collided with a real column of that name)
    val cols = docs.columns
    hashed.groupBy(col("__g_ch"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__keep"))
      .select(cols.map(c => col(s"__keep.$c").as(c)): _*)
  }

  /** Number of duplicate docs that exact() would drop, per content hash —
    * the audit view of exact dedup. */
  def exactDupStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("content_hash", xxhash64(TextAnalysis.normalize(col(textCol))))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("copies"), min(col(idCol)).as("keeper_id"))
      .filter(col("copies") > 1)

  /** 32-bit base hash per shingle, computed ONCE per token. All k minhash
    * functions derive from this array with a multiply-add — the expensive
    * string hashing never repeats (round-1 recomputed it k times and paid
    * 65s of an 80s bench for it). */
  def tokenHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL)))

  /** MinHash signature as an array<bigint> column over a precomputed
    * token-hash array: k Carter-Wegman functions (a_i*h + b_i) mod p
    * (p = smallest prime > 2^32 — the modulus MUST be smaller than the
    * a_i*h range or the mod never engages and every "function" collapses
    * to argmin(h), the round-1 bug), min per function. Resolves to the
    * native one-pass kernel (MinhashSignatureExpr via GraftExtensions). */
  def minhashSignatureFromHashes(tokenHash: Column, k: Int): Column =
    call_function("minhash_sig", tokenHash, lit(k))

  /** Built-ins-only formulation (k array passes through HOF machinery) —
    * the equality oracle for the native kernel. */
  def minhashSignatureFromHashesHof(tokenHash: Column, k: Int): Column = {
    val p = graft.functions.MinhashKernel.P
    val mins = graft.functions.MinhashKernel.coeffs(k).toSeq.map { case (a, b) =>
      // empty token array: the kernel leaves its Long.MaxValue sentinel;
      // array_min of an empty array is null — coalesce keeps the two
      // formulations bit-identical on empty docs too
      coalesce(
        array_min(transform(tokenHash, h => pmod(h * lit(a) + lit(b), lit(p)))),
        lit(Long.MaxValue))
    }
    array(mins: _*)
  }

  /** Back-compat form taking raw shingles (hashes once internally). */
  def minhashSignature(shingles: Column, k: Int): Column =
    minhashSignatureFromHashes(tokenHashes(shingles), k)

  /** LSH band keys as LONGs: signature split into `bands` rows of
    * `rowsPerBand`, each band hashed (band index mixed in) to one 64-bit
    * bucket key — long join/agg keys beat string keys on the candidate
    * join, which processes ~10x the pair count. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** (id, th): the doc as a SORTED array of 32-bit-in-long token hashes.
    * Token strings are hashed HERE and never used again — banding derives
    * signatures from `th` and the verify join intersects `th` pairs with
    * the long-array jaccard kernel (two-pointer merge over the pre-sorted
    * arrays). Nothing string-typed ever shuffles: a hashed token costs 8
    * bytes on the wire vs ~20 for the avg word string, and the verify
    * kernel runs allocation-free. (Hash collisions folding two tokens:
    * ~1e-8 at 1M distinct tokens in a 64-bit-hash world — the gate would
    * catch any 6dp jaccard shift.) */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.GraftSession.balanced(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), array_sort(tokenHashes(
        // length>0: split("") yields [""] — without the filter an
        // empty/whitespace-only/null doc carries the phantom token set
        // {hash("")} instead of {}, pairing blank docs at jaccard 1.0
        // (and decontaminate would drop every blank corpus doc on one
        // blank reference doc). Same phantom Search.toksOf filters.
        filter(array_distinct(split(TextAnalysis.normalize(col("text")), " ")),
          t => length(t) > 0))).as("th"))

  /** (band, id) relation after banding + the per-band skew cap. Shuffles
    * only (band, id) pairs — token-hash arrays never ride the band explode. */
  private def bandedIds(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, bands: Int, maxBucket: Int): DataFrame =
    bandedIdsFrom(tokenized(docs, idCol, textCol), numHashes, bands, maxBucket)

  private def bandedIdsFrom(toks: DataFrame, numHashes: Int, bands: Int,
                            maxBucket: Int,
                            carryLen: Boolean = false): DataFrame = {
    // bands > numHashes would make rowsPerBand 0 (every band one global
    // bucket: an N^2 join); a non-divisor silently ignores trailing
    // signature entries and changes the documented recall math
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    // emit ONLY (band, id): every consumer selects exactly that pair, and
    // carrying the full band-key array through the explode (and the
    // capped path's row_number exchange) duplicated O(bands) longs per
    // exploded row — dead weight on the heaviest shuffle in the file.
    // (carryLen adds ONE int — the distinct-token count — so the
    // candidate join can run the exact length-ratio prefilter; see
    // minhashNearDups.)
    val outCols =
      if (carryLen) Seq("band", "id", "len") else Seq("band", "id")
    val banded = toks
      .withColumn("sig", minhashSignatureFromHashes(col("th"), numHashes))
      .select(Seq(col("id")) ++
        (if (carryLen) Seq(size(col("th")).as("len")) else Nil) :+
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"): _*)
      .select(outCols.head, outCols.tail: _*)
    if (maxBucket == Int.MaxValue) banded // cap off: keep the band self-join broadcastable
    else {
      // skew guard — audit via minhashBucketStats. The row_number window
      // costs an exchange+sort on band AND flips the self-join to
      // sort-merge, so it is only planned when a cap is actually set.
      val bucketW = Window.partitionBy("band").orderBy("id")
      banded.withColumn("bn", row_number().over(bucketW))
        .filter(col("bn") <= maxBucket)
        .select(outCols.head, outCols.tail: _*)
    }
  }

  /** Per-band bucket audit for the skew cap: rows dropped by `maxBucket`
    * are invisible to minhashNearDups, so surface them here — any row in
    * this result means recall loss that must be tuned away (bigger cap) or
    * accepted explicitly. */
  def minhashBucketStats(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 128, bands: Int = 32,
                         maxBucket: Int = 4096): DataFrame =
    bandedIds(docs, idCol, textCol, numHashes, bands, Int.MaxValue)
      .select("band", "id")
      .groupBy("band").agg(count(lit(1)).as("bucket_size"))
      .withColumn("dropped", greatest(col("bucket_size") - maxBucket, lit(0)))
      .filter(col("dropped") > 0)

  /** MinHash+LSH candidate pairs (idA < idB), verified with EXACT word-set
    * Jaccard, filtered at `threshold`. Scale path: the band explode and
    * bucket self-join carry only (band, id); token arrays are hash-joined
    * back for the candidate pairs only. Bucket size capped to bound
    * worst-case pair fan-out (audit the cap with minhashBucketStats).
    *
    * Default 128 hashes / 32 bands of 4: at jaccard = 0.8 the per-pair
    * miss probability is (1 - 0.8^4)^32 ≈ 5e-8 — recall is effectively 1
    * at the threshold, not just above it. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.8,
                      maxBucket: Int = 4096,
                      collapseExactDups: Boolean = true): DataFrame = {
    // Empty/NULL token sets can never truthfully near-dup (no content
    // evidence) and must not reach pair generation: the collapse path's
    // setkey would otherwise glue every blank AND null-text doc into one
    // "identical set" group (xxhash64 of a null array equals xxhash64 of
    // an empty one) and emit them all as jaccard-1 pairs. size(null) is
    // null, so the filter drops null-th docs too.
    val toks = tokenized(docs, idCol, textCol).filter(size(col("th")) > 0)
    // EXACT length-ratio prefilter on candidate pairs (guide §3.2 —
    // reduce the join's output before the expensive downstream):
    // jaccard(A, B) = |A∩B|/|A∪B| <= min(|A|,|B|)/max(|A|,|B|), so a
    // pair whose distinct-token counts differ by more than the
    // threshold ratio can NEVER verify — drop it inside the band
    // self-join, before the pair-dedup exchange and the token-array
    // attach joins. Costs one int riding the band explode; removes no
    // true pair (the bound is implied by the threshold filter), so
    // declared results are unchanged. Measured at sf1: 53.8M -> 41.2M
    // join rows, 19.4M -> 12.8M verify pairs (OPTIMIZATION_r17.md).
    val lenPre = threshold > 0
    def candCond(extra: Column): Column =
      if (lenPre) extra && lenRatioOk(threshold) else extra
    if (!collapseExactDups) {
      // Lean path: band all docs directly — for corpora with few exact
      // copies, where the collapse machinery (4 extra exchanges + 2
      // expansion joins) outweighs its 40% join-row reduction. On the
      // bench corpus (21% exact dups) the two are within ~1s; the
      // dominant cost either way is the ~100M-row candidate join that
      // pair density forces (~270s CPU across 32 cores).
      val bucketed =
        bandedIdsFrom(toks, numHashes, bands, maxBucket, carryLen = lenPre)
      val cand = bucketed.as("a").join(bucketed.as("b"),
          candCond(col("a.band") === col("b.band") && col("a.id") < col("b.id")))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("n_bands"))
        .select("id_a", "id_b")
      val pairs = cand
        .join(toks.as("ta"), col("id_a") === col("ta.id"))
        .join(toks.as("tb"), col("id_b") === col("tb.id"))
        .select(col("id_a"), col("id_b"),
          col("ta.th").as("toks_a"), col("tb.th").as("toks_b"))
      return verifyJaccard(pairs, threshold)
    }
    // Collapse identical token sets first (for corpora DOMINATED by exact
    // copies, where band-join work is QUADRATIC in cluster size):
    // banding + verification run once per unique set; doc pairs expand
    // back afterwards. Within-group pairs have jaccard exactly 1.
    //
    // HONEST BOUND on the expansion: the maxBucket cap bounds the
    // BAND-JOIN work, but the final pair EXPANSION is inherently
    // C(cluster, 2) in exact-copy cluster size — listing all pairs of a
    // 10^6-copy page IS ~5*10^11 output rows no matter the plan. When
    // the pair list itself is the bottleneck, the linear-output tools
    // are [[dupComponents]] / [[dedupCanonical]] (cluster -> canonical
    // mapping) or [[exact]] first (drop exact copies before banding).
    // The balanced() wrappers are exchange-reuse points: keyed feeds four
    // references and reps two -- each computes once, not once per branch.
    // (setkey = hash of the sorted token-hash array -- same token SET <=>
    // same key, modulo the 64-bit collision odds documented on tokenized)
    val keyed = graft.GraftSession.balanced(
      toks.withColumn("setkey", xxhash64(col("th"))))
    val members = keyed.select("setkey", "id")
    // reps = one (setkey, min id, th) row per distinct token set, with
    // FIXED-WIDTH aggregation state (r16 verdict item 1, settled by the
    // r17 A/B in OPTIMIZATION_r17.md): group on setkey alone — min(long)
    // under a long key is the map-side-combinable HashAggregate with an
    // 8-byte buffer — and re-attach th by joining `keyed` back on setkey
    // (both sides partition by setkey, so the aggregation's exchange is
    // shared; the build side is the aggregated (setkey, mid) pair
    // table, 16 bytes/row). The r16 spelling carried th as a GROUPING
    // key (groupBy(setkey, th)): that removed the pre-r16 first(array)
    // SortAggregates but made every hash-map key carry the doc's whole
    // token array — A/B alternating in one JVM: sf1 cpu 139.5/131.6/
    // 123.9 s and wall 7.28/7.69/6.92 s for widekey/first/join — the
    // join spelling wins on both, at both SFs. (Equal ids on two rows
    // of one set group would emit duplicate reps — doc ids are unique
    // by the contract every op in this file shares.)
    // No shuffle_hash hint: the session's AQE
    // maxShuffledHashJoinLocalMapThreshold makes the SMJ->SHJ rewrite at
    // runtime from measured partition sizes (spill-safe at 100 TB where a
    // hint would pin an unspillable build).
    val repIds = keyed.groupBy("setkey").agg(min("id").as("__mid"))
    val reps = graft.GraftSession.balanced(
      keyed.join(repIds, "setkey")
        .filter(col("id") === col("__mid"))
        .select("setkey", "id", "th"))
    // (A first-band-wins inline filter was tried here to avoid this agg
    // exchange — carrying both band-key arrays through the join and
    // zip_with-matching per emitted row cost MORE than the exchange; the
    // map-side-combinable groupBy stays.)
    val bucketed = bandedIdsFrom(reps.select("id", "th"), numHashes, bands,
      maxBucket, carryLen = lenPre)
    val cand = bucketed.as("a").join(bucketed.as("b"),
        candCond(col("a.band") === col("b.band") && col("a.id") < col("b.id")))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands")) // pair-dedup with map-side combine
      .select("id_a", "id_b")
    val repToks = reps.select("setkey", "id", "th")
    val verified = cand
      .join(repToks.as("ta"), col("id_a") === col("ta.id"))
      .join(repToks.as("tb"), col("id_b") === col("tb.id"))
      .withColumn("jac_raw",
        call_function("jaccard_sim", col("ta.th"), col("tb.th")))
      .filter(col("jac_raw") >= threshold)
      .select(col("ta.setkey").as("ka"), col("tb.setkey").as("kb"),
        round(col("jac_raw"), 6).as("jaccard"))
    val cross = verified
      .join(members.as("ma"), col("ka") === col("ma.setkey"))
      .join(members.as("mb"), col("kb") === col("mb.setkey"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("jaccard"))
    val within = members.as("x").join(members.as("y"),
        col("x.setkey") === col("y.setkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionAll(within)
  }

  /** Cross-corpus near-dup pairs: which docs in `corpus` near-duplicate a
    * doc in `reference`? The decontamination primitive — a training set
    * must not contain eval/benchmark content — and the incremental-ingest
    * primitive (new batch vs existing lake). Bipartite banded join: both
    * sides band independently (the cap guards each side), candidates are
    * (corpus, reference) band collisions, verification is the exact
    * hashed-token Jaccard. Never compares corpus docs to each other —
    * work scales with corpus x reference BAND density, not |corpus|^2. */
  def crossNearDups(corpus: DataFrame, reference: DataFrame,
                    idCol: String, textCol: String,
                    numHashes: Int = 128, bands: Int = 32,
                    threshold: Double = 0.8,
                    maxBucket: Int = 4096): DataFrame = {
    // blank/null token sets must not reach pair generation (the
    // minhashNearDups invariant): every empty th shares the kernel's
    // sentinel signature and every NULL th shares each band's bare
    // xxhash64(b) key, so unfiltered blanks collide corpus x reference
    // in ALL bands — wasted candidate joins, and at threshold 0.0 even
    // emitted pairs the batch op would never produce
    val ta = tokenized(corpus, idCol, textCol).filter(size(col("th")) > 0)
    val tb = tokenized(reference, idCol, textCol).filter(size(col("th")) > 0)
    // same EXACT length-ratio prefilter as minhashNearDups: a candidate
    // whose distinct-token counts differ beyond the threshold ratio
    // cannot verify — dropped inside the band join, before the
    // pair-dedup exchange and both token-array attach joins
    val lenPre = threshold > 0
    val ba = bandedIdsFrom(ta, numHashes, bands, maxBucket, carryLen = lenPre)
    val bb = bandedIdsFrom(tb, numHashes, bands, maxBucket, carryLen = lenPre)
    val baseCond = col("a.band") === col("b.band")
    val cond = if (lenPre) baseCond && lenRatioOk(threshold) else baseCond
    val cand = ba.as("a").join(bb.as("b"), cond)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .select("id_a", "id_b")
    cand
      .join(ta.as("xa"), col("id_a") === col("xa.id"))
      .join(tb.as("xb"), col("id_b") === col("xb.id"))
      .withColumn("jac_raw", call_function("jaccard_sim", col("xa.th"), col("xb.th")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jaccard"))
  }

  /** Persistent incremental MinHash index — the daily-crawl dedup shape
    * at 100 TB: each new batch compares against everything indexed so
    * far WITHOUT re-reading, re-tokenizing, or re-banding the
    * accumulated corpus. The index stores only metadata-scale columns —
    * `bands/` (band key, id) for candidate generation and `sigs/`
    * (id, sorted 64-bit token hashes) for exact hashed-token Jaccard
    * verification; raw text never enters the index, so its footprint is
    * ~8 bytes per distinct token and nothing string-typed ever joins.
    *
    * Per batch the work is (new x total) BAND density, never
    * |total|^2 and never a rescan of old text: candidates come from
    * joining the batch's band rows against the accumulated band table.
    * The per-band skew cap applies AT QUERY TIME over that accumulated
    * table (the identical row_number window the batch path plans), so
    * emitted pairs across successive appends partition the capped
    * full-batch result exactly — including bands that only exceed the
    * cap across appends (spec-asserted equivalence with minhashNearDups
    * over the union, capped and capless). The capped equivalence
    * assumes append order tracks id order (the log-append case: each
    * batch's ids exceed the indexed ones); a LATER batch with SMALLER
    * ids can displace already-compared rows from the cap window, and
    * then earlier appends may have emitted pairs the one-shot capped
    * run would not (a superset, never a miss). Capless appends are
    * exactly equivalent regardless of id order.
    *
    * Returns dup pairs (id_a, id_b, jaccard) with the NEW doc on at
    * least one side, then appends the batch to the index. `_params.json`
    * pins (numHashes, bands) at first append; later appends refuse a
    * mismatch (signatures from different families never compare). Ids
    * must be fresh per batch (caller's contract, as with any append). */
  def minhashIndexAppend(docs: DataFrame, idCol: String, textCol: String,
                         indexDir: String,
                         numHashes: Int = 128, bands: Int = 32,
                         threshold: Double = 0.8,
                         maxBucket: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = new org.apache.hadoop.fs.Path(indexDir, "_params.json")
    def validatePin(): Unit = {
      val in = fs.open(paramsPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      // has() guards: a FOREIGN params file (e.g. a simhash index dir)
      // must hit the clear refusal, not NPE on a missing key
      require(node.has("numHashes") && node.has("bands") &&
        node.get("numHashes").asInt == numHashes &&
        node.get("bands").asInt == bands,
        s"minhash index $indexDir was built with numHashes=" +
          s"${Option(node.get("numHashes")).map(_.asText).getOrElse("?")}/" +
          s"bands=${Option(node.get("bands")).map(_.asText).getOrElse("?")}; " +
          s"got $numHashes/$bands — signatures are incomparable across families")
    }
    val exists = fs.exists(paramsPath)
    if (exists) validatePin()
    // blank/null token sets stay OUT of the index (the minhashNearDups
    // invariant): stored junk (band,id) rows would re-join every future
    // batch's blanks forever, and at threshold 0.0 break the index's
    // spec-asserted equivalence with the batch op
    val toksNew = tokenized(docs, idCol, textCol)
      .filter(size(col("th")) > 0).localCheckpoint()
    // the index stores UNCAPPED (band, id) rows; the per-band skew cap
    // is applied at query time over the ACCUMULATED table (old ∪ new,
    // row_number by id — the identical window the batch path plans), so
    // per-append results stay EXACTLY the capped batch run's partition:
    // a band that grows past maxBucket across appends truncates here
    // the same way it would in one shot
    val bNew = bandedIdsFrom(toksNew, numHashes, bands, Int.MaxValue)
      .select("band", "id").localCheckpoint()
    // committed batches only: data lands in per-batch subdirectories and
    // a batch exists once a committed batch-list names it — a crash
    // mid-append leaves orphan dirs that no reader ever lists, never a
    // bands/sigs mismatch that silently eats future pairs
    val (listVersion, committed) = readBatchList(fs, indexDir)
    val newMarked = bNew.withColumn("is_new", lit(true))
    val bAll0 = if (committed.nonEmpty)
      spark.read.parquet(committed.map(b => s"$indexDir/bands/$b"): _*)
        .withColumn("is_new", lit(false)).unionByName(newMarked)
    else newMarked
    val bAll = (if (maxBucket == Int.MaxValue) bAll0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band").orderBy("id")
      bAll0.withColumn("bn", row_number().over(w))
        .filter(col("bn") <= maxBucket).drop("bn")
    }).localCheckpoint()
    // candidates: (capped new side) x (capped accumulated) — work is
    // new x total band density; pairs normalized (least, greatest) so
    // orientation matches the batch path, distinct dedups the double
    // count of new-new collisions
    val cand = bAll.filter(col("is_new")).as("a")
      .join(bAll.as("b"),
        col("a.band") === col("b.band") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // either side of a cross pair may be the indexed doc — both lookups
    // go against the union; the union's new half is the checkpointed
    // toksNew, so nothing re-tokenizes
    val sigs = if (committed.nonEmpty)
      spark.read.parquet(committed.map(b => s"$indexDir/sigs/$b"): _*)
        .unionByName(toksNew)
    else toksNew
    val pairs = cand
      .join(sigs.as("xa"), col("id_a") === col("xa.id"))
      .join(sigs.as("xb"), col("id_b") === col("xb.id"))
      .withColumn("jac_raw",
        call_function("jaccard_sim", col("xa.th"), col("xb.th")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jaccard"))
      .localCheckpoint() // materialize BEFORE the index mutates below
    // commit protocol: write the batch's data dirs, then the params pin
    // (first append), then the batch list via tmp+rename — the rename is
    // the single commit point
    val batchId = java.util.UUID.randomUUID().toString
    bNew.write.mode("overwrite").parquet(s"$indexDir/bands/$batchId")
    toksNew.write.mode("overwrite").parquet(s"$indexDir/sigs/$batchId")
    if (!exists) {
      // put-if-absent: two first appenders with DIFFERENT families both
      // read exists=false — an overwrite here let the loser silently
      // repin the family and mix incomparable band rows forever. The
      // loser now validates against the winner's pin and refuses loudly
      // BEFORE its batch commits.
      if (!publishIfAbsent(fs, paramsPath,
          s"""{"numHashes":$numHashes,"bands":$bands}""")) validatePin()
    }
    // batch-list commit: versioned put-if-absent via [[commitIndexBatch]]
    // (atomic full-content publish — the old read-modify-write over one
    // batches.json lost updates between concurrent appenders, silently
    // dropping the loser's band/sig rows from the index forever). A
    // losing writer re-reads the winner's list and retries at the next
    // version, so every committed batch survives any interleaving.
    // (Concurrent appends are index-safe; the PAIRS a run emits still
    // only cover batches committed before it began — run appends
    // serially when cross-batch pair completeness matters.)
    commitIndexBatch(fs, indexDir, batchId, listVersion, committed, "minhash")
    pairs
  }

  /** Publish `json` at `dst` iff absent, with the FULL content visible
    * atomically — never a torn/empty file at the destination:
    *
    *  - local filesystems: write a tmp file, then PUBLISH via
    *    Files.createLink (link(2) is an atomic no-replace — the one
    *    POSIX primitive that both refuses an existing target and makes
    *    complete content visible in one step)
    *  - other filesystems: write a tmp file, then a NO-REPLACE rename
    *    (atomic full-content publish on HDFS; Hadoop's rename contract
    *    fails on an existing destination). The old claim-then-write
    *    (create(dst, false) then write) had an UNBOUNDED torn window: a
    *    GC-stalled writer's empty claim could be skipped by a reader's
    *    retry-then-fallback and its batch orphaned forever.
    *
    * Returns false when dst already existed (the caller lost the race). */
  private def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                              dst: org.apache.hadoop.fs.Path,
                              json: String): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s".${java.util.UUID.randomUUID()}.tmp")
    val os = fs.create(tmp, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    val won =
      if (Option(fs.getScheme).contains("file")) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        // non-local: exists+rename is CHECK-THEN-ACT — atomic on HDFS
        // (rename fails on an existing dst) but NOT on object stores
        // (copy+delete; two "winners" possible, last PUT survives). A
        // READBACK verify closes that hole under read-after-write
        // consistency: only the writer whose bytes actually survived
        // claims the win; the other retries at the next version, so no
        // committed batch ever silently drops off the list.
        val renamed = !fs.exists(dst) && fs.rename(tmp, dst)
        renamed && {
          val in = fs.open(dst)
          val back =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          back == json
        }
      }
    // on a successful rename the tmp is consumed; delete is a no-op then
    fs.delete(tmp, false)
    won
  }

  /** Commit `batchId` onto the index's versioned batch list — shared by
    * the minhash and simhash indexes. The list content is published
    * atomically-if-absent via [[publishIfAbsent]]; a losing writer
    * re-reads the winner's list and retries above it. */
  private def commitIndexBatch(fs: org.apache.hadoop.fs.FileSystem,
                               indexDir: String, batchId: String,
                               listVersion0: Long, committed0: Seq[String],
                               what: String): Unit = {
    val listsDir = new org.apache.hadoop.fs.Path(indexDir, "batchlists")
    fs.mkdirs(listsDir)
    var ver = listVersion0
    var cur = committed0
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 50,
        s"$what index batch-list commit: gave up after 50 conflicts at $indexDir")
      val listJson = (cur :+ batchId)
        .map(b => "\"" + b + "\"").mkString("{\"batches\":[", ",", "]}")
      val dst = new org.apache.hadoop.fs.Path(listsDir, f"${ver + 1}%010d.json")
      val won = publishIfAbsent(fs, dst, listJson)
      if (won) done = true
      else {
        val (v2, c2) = readBatchList(fs, indexDir)
        ver = v2
        cur = c2
      }
    }
  }

  /** Highest committed batch list: (version, batch ids). Version 0 =
    * nothing committed; a legacy single `batches.json` (pre-versioning
    * indexes) reads as version 0 so the first versioned commit lands at
    * 1 and supersedes it. */
  private def readBatchList(fs: org.apache.hadoop.fs.FileSystem,
                            indexDir: String): (Long, Seq[String]) = {
    def parse(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      import scala.jdk.CollectionConverters._
      node.get("batches").elements.asScala.map(_.asText).toSeq
    }
    val dir = new org.apache.hadoop.fs.Path(indexDir, "batchlists")
    val versions =
      if (fs.exists(dir))
        fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(_.matches("\\d{10}\\.json")).map(_.dropRight(5).toLong)
      else Nil
    if (versions.nonEmpty) {
      // a writer that crashed between create and write leaves a
      // truncated highest version: ITS batch never committed, so the
      // correct state is the next parseable list down. The returned
      // version is still the MAX SEEN, so the next commit claims a
      // version above the corpse instead of colliding with it forever.
      // An unparseable HIGHEST version gets one short retry first:
      // commits publish full content atomically (link/no-replace
      // rename), so a torn head can only come from a LEGACY
      // claim-then-write index or an object store without atomic
      // rename — the retry covers a briefly-torn live writer there.
      val sorted = versions.sorted.reverse
      def tryParse(v: Long) =
        try Some(parse(new org.apache.hadoop.fs.Path(dir, f"$v%010d.json")))
        catch { case _: Exception => None }
      val headParsed = tryParse(sorted.head).orElse {
        Thread.sleep(200)
        tryParse(sorted.head)
      }
      val parsed = headParsed.orElse(
        sorted.iterator.drop(1).flatMap(tryParse).nextOption())
      (sorted.head, parsed.getOrElse(Nil))
    } else {
      val legacy = new org.apache.hadoop.fs.Path(indexDir, "batches.json")
      if (fs.exists(legacy)) (0L, parse(legacy)) else (0L, Nil)
    }
  }

  /** Persistent incremental SIMHASH index — [[minhashIndexAppend]]'s
    * twin for the 64-bit simhash family (the daily-crawl shape: append
    * today's batch, get back every near-dup pair touching it, old and
    * new). The index stores per-batch SIGNATURE rows only (id, sig_lo,
    * sig_hi) — blocks are a shift/mask explode, recomputed per append,
    * unlike minhash bands which are expensive to rebuild. The per-block
    * skew cap is applied at query time over the ACCUMULATED signature
    * set, so per-append results stay exactly the capped batch run's
    * partition. Same versioned put-if-absent batch-list commit protocol
    * (crash-orphan dirs are invisible; concurrent appenders retry). */
  def simhashIndexAppend(docs: DataFrame, idCol: String, textCol: String,
                         indexDir: String, maxHamming: Int = 3,
                         maxBucket: Int = 4096): DataFrame = {
    require(maxHamming <= 3,
      s"4-block pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = new org.apache.hadoop.fs.Path(indexDir, "_params.json")
    def validatePin(): Unit = {
      val in = fs.open(paramsPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      require(node.has("algo") && node.get("algo").asText == "simhash64",
        s"index $indexDir holds '${Option(node.get("algo")).map(_.asText)
          .getOrElse("?")}' signatures, not simhash64 — incomparable")
    }
    val exists = fs.exists(paramsPath)
    if (exists) validatePin()
    val sigsNew = graft.GraftSession.balanced(
      simhashPortable64(docs, idCol, textCol)).localCheckpoint()
    val (listVersion, committed) = readBatchList(fs, indexDir)
    val marked = sigsNew.withColumn("is_new", lit(true))
    val sigsAll = if (committed.nonEmpty)
      spark.read.parquet(committed.map(b => s"$indexDir/sigs/$b"): _*)
        .withColumn("is_new", lit(false)).unionByName(marked)
    else marked
    // blocks carry sig halves + is_new through the explode; the cap sees
    // old ∪ new, identical to the one-shot capped run
    val bAll = simhashBlocks64(sigsAll, maxBucket).localCheckpoint()
    val pairs = bAll.filter(col("is_new")).as("a")
      .join(bAll.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        // orient the signature halves with the normalized pair
        when(col("a.id") < col("b.id"), col("a.sig_lo"))
          .otherwise(col("b.sig_lo")).as("lo_a"),
        when(col("a.id") < col("b.id"), col("a.sig_hi"))
          .otherwise(col("b.sig_hi")).as("hi_a"),
        when(col("a.id") < col("b.id"), col("b.sig_lo"))
          .otherwise(col("a.sig_lo")).as("lo_b"),
        when(col("a.id") < col("b.id"), col("b.sig_hi"))
          .otherwise(col("a.sig_hi")).as("hi_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
         bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .localCheckpoint() // materialize BEFORE the index mutates below
    val batchId = java.util.UUID.randomUUID().toString
    sigsNew.write.mode("overwrite").parquet(s"$indexDir/sigs/$batchId")
    if (!exists) {
      // put-if-absent + validate-on-loss, as in minhashIndexAppend: a
      // stale exists flag must never let a racing first appender repin
      if (!publishIfAbsent(fs, paramsPath,
          """{"algo":"simhash64","blocks":4}""")) validatePin()
    }
    commitIndexBatch(fs, indexDir, batchId, listVersion, committed, "simhash")
    pairs
  }

  /** Drop every corpus doc that near-duplicates the reference set (the
    * decontaminated training corpus). The banding parameters and the
    * skew cap are EXPOSED: eval hygiene is the one place a silent
    * cap-induced recall loss is unacceptable — a caller protecting a
    * benchmark should raise (or effectively disable) `maxBucket` and
    * accept the skewed-bucket cost, and can tighten banding for
    * higher-recall candidate generation. Defaults match
    * [[crossNearDups]]. */
  def decontaminate(corpus: DataFrame, reference: DataFrame,
                    idCol: String, textCol: String,
                    threshold: Double = 0.8,
                    numHashes: Int = 128, bands: Int = 32,
                    maxBucket: Int = 4096): DataFrame = {
    val contaminated = crossNearDups(corpus, reference, idCol, textCol,
        numHashes = numHashes, bands = bands, threshold = threshold,
        maxBucket = maxBucket)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** (doc_id, gh): each doc's DISTINCT n-gram 64-bit hashes — the one
    * definition both the boolean and the scored decontamination share
    * (they must never diverge on tokenization or hash width). The hash
    * is xxhash64 over the n token columns directly: no n-gram STRING is
    * ever materialized (the previous form built every gram with
    * slice+array_join, re-split it to validate its width, and md5'd it —
    * three string passes per position, measured ~2x this whole
    * operator's CPU), and the 64-bit keyspace strictly tightens the old
    * 60-bit md5-prefix collision odds. The join downstream is
    * hash-on-hash either way; the gate's oracle re-derives from gram
    * strings, so a collision would fail the gate, not hide. Docs with
    * fewer than n tokens emit nothing (the oracle's len(w) >= n guard),
    * and an EMPTY/NULL doc emits nothing at ANY n: split("") yields the
    * phantom [""] token, which the first-token length guard drops (the
    * same invariant the old length(gram) > 0 filter enforced at n = 1).
    *
    * The word array is projected as a COLUMN (`__w`) before the explode,
    * so the per-position lambda reads an attribute. Higher-order-function
    * lambdas are interpreted and get no subexpression elimination: with
    * split(normalize(text)) inlined there, every doc was re-normalized n
    * times per position — 5 x (L-4) whole-document passes at n = 5, the
    * costliest step of the benchmark's curate pass (2.2 of 5.1 executor
    * cpu-s, 4-core host, local[2]). (`__w` is read more than once, so
    * CollapseProject keeps the projection; PlanGuardSpec holds it.) */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val words = col("__w")
    val cnt = size(words)
    val ghs = when(cnt >= n && length(element_at(words, 1)) > 0,
      array_distinct(transform(sequence(lit(0), cnt - n),
        i => xxhash64((0 until n).map(k =>
          element_at(words, i + lit(k + 1))): _*))))
      .otherwise(expr("array()").cast("array<bigint>"))
    graft.GraftSession.balanced( // fan-out stage: never run on one split
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"),
        split(TextAnalysis.normalize(col("text")), " ").as("__w"))
      .select(col("doc_id"), explode(ghs).as("gh"))
  }

  /** EXACT n-gram overlap decontamination (the published eval-hygiene
    * recipe: flag a training doc if any length-n token window also
    * appears anywhere in the reference/benchmark set — the GPT-3
    * appendix-C "13-gram" method; MinHash-based [[crossNearDups]] is the
    * fuzzy sibling). Returns (doc_id, n_shared) per contaminated corpus
    * doc: how many of its distinct n-grams hit the reference set.
    *
    * Scale shape: n-grams leave the scan as 64-bit xxhash64 keys
    * (hashed straight over the n token columns — see [[gramHashes]]; the
    * oracle re-derives from the gram STRINGS, not hash parity, so a
    * planted collision fails the gate rather than hides), deduplicated
    * per doc map-side; the reference side collapses to DISTINCT hashes
    * (eval sets are tiny next to the corpus, but nothing here assumes
    * it: the join is hash-on-hash either way). At 2^64 keyspace a false
    * hash hit needs ~10^9 distinct n-grams before it has noticeable
    * odds. */
  def ngramDecontaminate(corpus: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    def grams(df: DataFrame) = gramHashes(df, idCol, textCol, n)
    val refGrams = grams(reference).select("gh").distinct()
    grams(corpus).join(refGrams, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document CONTAMINATION SCORE — the graded sibling of
    * [[ngramDecontaminate]] (which flags any overlap): the fraction of a
    * doc's DISTINCT n-grams that appear anywhere in the reference set.
    * Scoring gives curation a dial instead of a tripwire: drop at
    * score ≥ 0.8 (near-verbatim benchmark copies), down-weight the
    * middle, keep the tail. Returns (doc_id, n_grams, n_shared, score)
    * for every corpus doc long enough to emit an n-gram; zero-overlap
    * docs score 0.0 (unlike the boolean form, which omits them).
    *
    * Same scale shape as the boolean form: grams leave the scan as
    * 64-bit xxhash64 keys deduplicated per doc map-side (the
    * [[gramHashes]] posture — the oracle re-derives from gram strings),
    * the reference collapses to distinct hashes, and ONE hash-on-hash
    * LEFT join feeds a count/sum aggregation — text never shuffles. */
  def contaminationScore(corpus: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    def grams(df: DataFrame) = gramHashes(df, idCol, textCol, n)
    val refGrams = grams(reference).select("gh").distinct()
      .withColumn("__hit", lit(1L))
    grams(corpus).join(refGrams, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("score", col("n_shared") / col("n_grams"))
  }

  /** 60-bit engine-portable content hash: the first 15 hex chars of md5,
    * parsed as an unsigned value (fits a signed 64-bit long, so the same
    * number is reproducible in any SQL engine without unsigned types). */
  def md5Hash60(e: Column): Column =
    conv(substring(md5(e), 1, 15), 16, 10).cast("long")

  /** The exact length-ratio bound `least(len)/greatest(len) >= t` on a
    * candidate join's `a`/`b` sides. Spelled as the division, not as
    * `least >= t * greatest`: for a nested pair, jaccard_sim computes the
    * very same `|A|/|B|` double, so a pair AT the threshold passes both
    * (at 29/35 the product form rounds `t * 35` above 29 and would drop
    * it). */
  private def lenRatioOk(threshold: Double): Column =
    least(col("a.len"), col("b.len")).cast("double") /
      greatest(col("a.len"), col("b.len")) >= lit(threshold)

  /** Exact Jaccard over the token sets of candidate pairs (native
    * jaccard_sim kernel). The threshold filter uses the UNROUNDED value
    * (matching a SQL oracle's WHERE); the output column is rounded for
    * engine-portable comparison. */
  private def verifyJaccard(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("jac_raw",
        call_function("jaccard_sim", col("toks_a"), col("toks_b")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jaccard"))

  /** 64-bit SimHash over word tokens: sign-sum of per-token hash bits as
    * ONE custom aggregate (simhash_agg via GraftExtensions) — one shuffle
    * on doc id, map-side combinable vote vectors. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        explode(split(TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy("id")
      .agg(call_function("simhash_agg", col("h"), lit(64)).as("simhash"))

  /** Engine-portable 32-bit token hash: the first 8 hex chars of md5,
    * parsed positionally — chosen because any SQL oracle (DuckDB,
    * Trino, ...) can reproduce it exactly, unlike xxhash64. Resolves to
    * the native Md5Hash32Expr (one digest per value) registered by
    * GraftExtensions; [[md5Hash32Portable]] is the built-ins-only
    * formulation, kept as the equality oracle for the kernel. */
  def md5Hash32(tok: Column): Column = call_function("md5_hash32", tok)

  def md5Hash32Portable(tok: Column): Column = {
    val hex = md5(tok)
    (1 to 8).map { i =>
      (locate_hex(substring(hex, i, 1)) * lit(1L << ((8 - i) * 4)))
    }.reduce(_ + _)
  }
  private def locate_hex(c: Column): Column =
    (locate_in(c, "0123456789abcdef") - 1).cast("long")
  private def locate_in(sub: Column, s: String): Column =
    org.apache.spark.sql.functions.call_function("position", sub, lit(s))

  /** 32-bit portable SimHash (md5-derived token hash), computed as a
    * ONE-PASS scalar kernel per document (simhash_text): SimHash is a
    * per-doc function, so the explode → shuffle → aggregate formulation
    * pays a 200x row blow-up and an exchange for nothing. The aggregate
    * ([[simhashPortable32Agg]]) and the 32-column HOF formulation
    * ([[simhashPortable32Hof]]) remain as equality oracles. */
  def simhashPortable32(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), call_function("simhash_text",
        TextAnalysis.normalize(col("text")), lit(32)).as("sig"))

  /** The distributed-aggregate formulation (custom simhash_agg
    * TypedImperativeAggregate over exploded tokens) — the shape to use
    * when tokens arrive ALREADY exploded (e.g. a token-level relation),
    * and the equality oracle for the scalar kernel. */
  def simhashPortable32Agg(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        explode(split(TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .withColumn("h", md5Hash32(col("tok")))
      .groupBy("id")
      .agg(call_function("simhash_agg", col("h"), lit(32)).as("sig"))

  /** Built-ins-only formulation (32 conditional-sum aggregate columns +
    * packing) — the equality oracle for the simhash_agg aggregate. */
  def simhashPortable32Hof(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        explode(split(TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .withColumn("h", md5Hash32(col("tok")))
    val bitCols = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = toks.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 32).foldLeft(lit(0L)) { (acc, b) =>
      acc.bitwiseOR(when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
    }
    agg.select(col("id"), sig.as("sig"))
  }

  /** Near-dup pairs on the portable 32-bit simhash, blocked on 4 x 8-bit
    * sub-keys (pigeonhole: hamming<=3 pairs share >=1 intact block),
    * verified with the true hamming distance.
    *
    * SMALL-CORPUS variant: 8-bit blocks give at most 4*256 = 1,024
    * buckets, so the block self-join does ~4N^2/256 comparisons —
    * quadratic with a small constant. Use [[simhashNearDups64]] (16-bit
    * blocks over a 64-bit signature, 262,144 buckets, skew cap) for
    * anything beyond ~10^5 docs. */
  def simhashPortableNearDups(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    // pigeonhole bound of 4-block blocking: a pair differing in all four
    // blocks (hamming >= 4) may never share a bucket — silently lost
    // recall, so refuse like simhashNearDups64 does
    require(maxHamming <= 3,
      s"4-block simhash blocking guarantees recall only for maxHamming <= 3, got $maxHamming")
    // balanced(): AQE coalesces the tiny-bytes signature agg to ONE
    // partition, serializing the (much larger) block join + hamming
    // verification behind it; an explicit round-robin keeps 32-way.
    val sigs = graft.GraftSession.balanced(simhashPortable32(docs, idCol, textCol))
    // per-block skew cap — see simhashNearDups
    val blocks0 = sigs.withColumn("blk", explode(array(
      (0 until 4).map(i => concat_ws("_", lit(i),
        shiftright(col("sig"), i * 8).bitwiseAND(0xFFL))): _*)))
    val blocks =
      if (maxBucket == Int.MaxValue) blocks0
      else blocks0.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("blk").orderBy("id")))
        .filter(col("__rn") <= maxBucket).drop("__rn")
    val pairs = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.sig")).as("sh_a"), first(col("b.sig")).as("sh_b"))
    pairs.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit portable SimHash as two 32-bit halves (sig_lo, sig_hi), both
    * parsed from ONE md5 digest per token inside the one-pass
    * simhash_text64 kernel. Two halves rather than a packed signed long
    * keep every signature value in [0, 2^32): the blocking keys, xor and
    * bit_count downstream are plain positive arithmetic any SQL oracle
    * reproduces without sign-bit contortions. */
  def simhashPortable64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), call_function("simhash_text64",
        TextAnalysis.normalize(col("text"))).as("s"))
      .select(col("id"), col("s").getItem(0).as("sig_lo"),
        col("s").getItem(1).as("sig_hi"))

  /** Built-ins-only 64-bit formulation (64 conditional-sum aggregate
    * columns over exploded tokens) — the equality oracle for the
    * simhash_text64 kernel. The hi half parses md5 hex chars 9-16 the way
    * md5Hash32Portable parses chars 1-8. */
  def simhashPortable64Hof(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        explode(split(TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .withColumn("h1", md5Hash32Portable(col("tok")))
      .withColumn("h2", md5Hash32HiPortable(col("tok")))
    val bitCols = (0 until 32).flatMap { b => Seq(
      sum(when(shiftright(col("h1"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"a$b"),
      sum(when(shiftright(col("h2"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    }
    val agg = toks.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    def pack(pfx: String): Column = (0 until 32).foldLeft(lit(0L)) { (acc, b) =>
      acc.bitwiseOR(when(col(s"$pfx$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
    }
    agg.select(col("id"), pack("a").as("sig_lo"), pack("b").as("sig_hi"))
  }

  /** md5 hex chars 9-16 parsed positionally — the hi-half sibling of
    * [[md5Hash32Portable]]. */
  def md5Hash32HiPortable(tok: Column): Column = {
    val hex = md5(tok)
    (9 to 16).map { i =>
      (locate_hex(substring(hex, i, 1)) * lit(1L << ((16 - i) * 4)))
    }.reduce(_ + _)
  }

  /** (id, sig_lo, sig_hi, blk) after 4 x 16-bit blocking and the optional
    * per-bucket skew cap. Key is a LONG (blockIdx << 16 | bits): long
    * join keys, nothing string-typed on the wire. Pigeonhole over 4
    * blocks: a pair within hamming <= 3 leaves >= 1 block untouched, so
    * recall at maxHamming <= 3 is exact. 16-bit blocks give 4 * 65,536 =
    * 262,144 buckets — bucket population tracks signature entropy, where
    * the 32-bit form's 8-bit blocks cap at 1,024 buckets and force
    * ~N^2/256 comparisons at scale. */
  private def simhashBlocks64(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val blocks = sigs.withColumn("blk", explode(array(
      (0 until 4).map { i =>
        val half = if (i < 2) col("sig_lo") else col("sig_hi")
        shiftright(half, (i % 2) * 16).bitwiseAND(lit(0xFFFFL)) + lit(i.toLong << 16)
      }: _*)))
    if (maxBucket == Int.MaxValue) blocks // cap off: block self-join stays broadcastable
    else {
      // skew guard, mirroring the minhash banding cap (Dedup.scala
      // bandedIdsFrom): rows past the cap are invisible to the join —
      // audit with simhashBucketStats. Only planned when a cap is set.
      val w = Window.partitionBy("blk").orderBy("id")
      blocks.withColumn("bn", row_number().over(w))
        .filter(col("bn") <= maxBucket).drop("bn")
    }
  }

  /** SCALE variant of simhash near-dup: 64-bit two-half signature,
    * 4 x 16-bit blocking, optional per-bucket cap, exact hamming verify.
    * Pair-dedup runs as a map-side-combinable groupBy (first(sig) rides
    * along) rather than dropDuplicates over wide rows. */
  def simhashNearDups64(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3,
      s"4-block pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sigs = graft.GraftSession.balanced(simhashPortable64(docs, idCol, textCol))
    val blocks = simhashBlocks64(sigs, maxBucket)
      .select("blk", "id", "sig_lo", "sig_hi")
    val pairs = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.sig_lo")).as("lo_a"), first(col("a.sig_hi")).as("hi_a"),
        first(col("b.sig_lo")).as("lo_b"), first(col("b.sig_hi")).as("hi_b"))
    pairs.withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
         bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Per-block bucket audit for [[simhashNearDups64]]'s skew cap — any
    * row here is recall loss that must be tuned away (bigger cap) or
    * accepted explicitly. Mirrors [[minhashBucketStats]]. */
  def simhashBucketStats(docs: DataFrame, idCol: String, textCol: String,
                         maxBucket: Int = 4096): DataFrame =
    simhashBlocks64(
        graft.GraftSession.balanced(simhashPortable64(docs, idCol, textCol)),
        Int.MaxValue)
      .groupBy("blk").agg(count(lit(1)).as("bucket_size"))
      .withColumn("dropped", greatest(col("bucket_size") - maxBucket, lit(0)))
      .filter(col("dropped") > 0)

  /** SimHash near-dup pairs: block on the 4 x 16-bit sub-keys (a pair
    * within hamming distance <=3 shares at least one sub-key), then verify
    * true hamming distance <= maxHamming. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    // pigeonhole bound of 4-block blocking: a pair differing in all four
    // blocks (hamming >= 4) may never share a bucket — silently lost
    // recall, so refuse like simhashNearDups64 does
    require(maxHamming <= 3,
      s"4-block simhash blocking guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sigs = graft.GraftSession.balanced(simhash(docs, idCol, textCol))
    // per-block skew cap (the simhashNearDups64 invariant): a mass
    // duplicate — including blank docs, whose identical signature shares
    // all 4 block keys — must not make the block self-join quadratic
    val blocks0 = sigs.withColumn("blk", explode(array(
      (0 until 4).map(i => concat_ws("_", lit(i),
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL))): _*)))
    val blocks =
      if (maxBucket == Int.MaxValue) blocks0
      else blocks0.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("blk").orderBy("id")))
        .filter(col("__rn") <= maxBucket).drop("__rn")
    val pairs = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.simhash")).as("sh_a"),
        first(col("b.simhash")).as("sh_b"))
    pairs.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram (word) Jaccard for all pairs sharing >=1 shingle, via an
    * inverted-index join — the scalable form of "all-pairs similarity":
    * |A∩B| from a groupBy on (pair), |A|,|B| joined in, never a cartesian. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 1, threshold: Double = 0.5,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val toks = graft.GraftSession.balanced(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      // docs shorter than n words (empty ones included) have no grams,
      // so they share no posting: blank docs never pair at jaccard 1.0
      .select(col("id"),
        array_distinct(TextAnalysis.wordNgrams(col("text"), n)).as("g"))
    val sizes = toks.select(col("id"), size(col("g")).as("sz"))
    val inv0 = toks.select(col("id"), explode(col("g")).as("g"))
    // Document-frequency cap: postings for ubiquitous shingles (stopwords)
    // blow the self-join up quadratically at scale; dropping them loses
    // only intersection counts that the Jaccard threshold would have
    // rejected anyway WHEN the cap is chosen >= the corpus near-dup
    // cluster size. Default off (exact); enable for the 100 TB run.
    val inv =
      if (maxDocFreq == Int.MaxValue) inv0
      else {
        val df_ = inv0.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("g")
        inv0.join(df_, "g")
      }
    val inter = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("jac_raw", col("inter").cast("double") /
        (col("sa.sz") + col("sb.sz") - col("inter")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jaccard"))
  }

  /** Connected components over a duplicate-pair edge list — the step
    * that turns near-dup PAIRS (minhash/simhash/embedding output) into
    * droppable duplicate CLUSTERS with one canonical member each; no
    * dedup pipeline can actually delete rows without it. Returns
    * (id, component) for every id appearing in a pair, component = the
    * MIN id reachable from it.
    *
    * Algorithm: min-label CONTRACTION with in-round POINTER DOUBLING
    * (the star-contraction + shortcutting family — Kiveris et al's
    * "Connected Components in MapReduce and Beyond" cousin, re-shaped
    * for DataFrames). Each round builds m(x) = min(closed neighborhood
    * of x) — because every round starts from identity labels on its
    * contracted graph, this needs no label join at all, just one
    * partial-aggregating groupBy(dst).min(src) — then pointer-DOUBLES
    * m to idempotence (m := m o m until stable; m is monotone
    * decreasing so the functional graph is acyclic and log2(longest
    * chain) doublings suffice — 1 for near-clique dedup clusters,
    * ~log2(L) for L-node chains), then CONTRACTS the graph: edges
    * remap to (m(src), m(dst)), self-loops drop, duplicates merge.
    * The component minimum always maps to itself, so it survives every
    * contraction as the component's representative; remaining rounds
    * only resolve LOCAL minima (a vertex below all its neighbors but
    * above the component min), so the contracted graph collapses in
    * 1-3 rounds. Per-round mappings compose on the SHRINKING
    * representative space, and ONE full-size join at the end folds the
    * composition back onto the round-1 labels.
    *
    * Why this shape and not label propagation over the full edge set
    * every round (the previous implementation): propagation pays
    * ~3 full-edge-table joins PER ROUND for O(log diameter) rounds
    * (measured 8 rounds x ~3 s at sf1); contraction touches the full
    * edge table in round 1 and the final fold only, and the doubling
    * self-joins run on the smaller NODE table. Measured at sf1:
    * 26.9 s -> 12.9 s, one round. (Contraction WITHOUT the doubling is
    * a trap: identity labels reset reach every round, so chains shrink
    * by a constant per round — measured 20 linear rounds on the
    * per-customer order paths.) Each materialization is a
    * localCheckpoint — REQUIRED for iterative DataFrame algorithms:
    * persist() caches data but leaves the LOGICAL plan growing per
    * round, so Catalyst analysis goes exponential and melts the driver
    * by round ~10 — and then re-wrapped WITHOUT inherited size stats
    * (PlanShim.freshStats): localCheckpoint preserves the child plan's
    * sizeInBytes, join estimates MULTIPLY child sizes, and the carried
    * estimate grows exponentially in round count until the driver
    * burns minutes in BigInteger.multiply just planning (observed
    * live). Shuffle partitions re-size to the LIVE edge count each
    * round. Drill has no graph surface; this is pipeline completeness
    * for the dedup family (GraphFrames' connectedComponents role,
    * DataFrame-native). */
  /** Diagnostics from the most recent [[dupComponents]] run on this JVM:
    * rounds executed, per-round wall seconds, bidirectional edge count,
    * and the shuffle-partition count the run sized itself to (round 1's
    * sizing; later rounds re-size to the contracted edge count). Bench
    * instrumentation (the sf1 tier emits it so a slow run is
    * attributable to round count vs per-round cost), not an API. */
  case class CcStats(rounds: Int, roundWallSec: Seq[Double],
                     edges: Long, shufflePartitions: Int)
  @volatile var lastCcStats: Option[CcStats] = None

  def dupComponents(pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b", maxRounds: Int = 20): DataFrame = {
    val (at, bt) = (pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
    require(idClass(at) == idClass(bt),
      s"pair id columns must share a type class: $aCol is $at, $bCol is $bt")
    val spark = pairs.sparkSession
    val edges = pairs.select(idNorm(at, col(aCol)).as("src"),
      idNorm(bt, col(bCol)).as("dst"))
    // bi is scanned several times in round 1 (nodes, nmin, remap): store
    // it SERIALIZED (2 longs/row compress well) — the deserialized
    // default held ~8x the heap and showed up as GC-driven round-wall
    // spikes in the r8 sf1 artifact.
    val bi = edges
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // Per-round cost here is round-count x fixed job overhead, not data
    // volume: size the per-round shuffles to the LIVE edge table instead
    // of the session default, re-sized as contraction shrinks it. The
    // count materializes the serialized edge cache. Conf restored on exit.
    val nEdges = bi.count()
    val defaultParts = spark.sessionState.conf.numShufflePartitions
    // 500k edges/partition (r17; was 125k): the loop's tables are 16-byte
    // rows, so a task still holds only ~8 MB — and the r17 A/B
    // (OPTIMIZATION_r17.md) showed the doubling loop 1.5-2x faster at 8
    // partitions than 24 on the sf1 shape (per-round wall is task/stage
    // overhead, not compute). defaultParts still caps it, so
    // cluster-scale inputs keep the session's parallelism.
    def partsFor(n: Long): Int = math.max(1, math.min(defaultParts,
      math.ceil(n / 500000.0).toInt))
    val nParts = partsFor(nEdges)
    val prevParts = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    // partitions are hand-sized to the edge table: AQE's post-shuffle
    // coalescing re-plans every round's tiny exchanges for no benefit —
    // its advisory sizing interacted with the loop as round-wall
    // variance in the r8 artifact. Pin it off for the loop, restore on
    // exit.
    //
    // MULTI-TENANCY caveat (documented, not guarded): these are
    // SESSION-scoped confs — a concurrent query on the SAME SparkSession
    // plans its shuffles under the loop's sizing for the loop's
    // duration. Run dupComponents on its own session
    // (spark.newSession()) when sharing a long-lived session with other
    // work; per-frame repartition() cannot replace the pin because the
    // window/agg exchanges inside each round read the session conf.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // AQE itself is pinned OFF for the loop when the edge table is small
    // enough that per-round overhead dominates (r17 probe: 8.3s -> 5.4s
    // on the sf1 shape from this alone — every doubling otherwise pays
    // an adaptive re-planning pass for a join whose sizing partsFor
    // already fixed). SCALE-GATED, not unconditional: above ~50M edges
    // (~800 MB of packed longs) AQE stays on for its runtime skew-join
    // splitting — a hot label in a billion-edge graph is exactly the
    // case the guard exists for. Restored on exit like the other pins.
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.getOption(aqeKey)
    if (nEdges <= 50000000L) spark.conf.set(aqeKey, "false")
    // Every join in this loop is a narrow (long, long) table against a
    // (long, long) table whose stats freshStats has deliberately reset —
    // Catalyst therefore plans SORT-MERGE, paying two 3M-row sorts per
    // pointer doubling (measured 2.3x the loop wall at the sf1 shape; see
    // OPTIMIZATION_r16.md). A shuffled-hash hint drops the sorts. The
    // hint is gated on bounded per-partition build size so a future
    // billion-node run with a small session parallelism degrades to the
    // spill-safe SMJ instead of OOMing the build: partsFor targets 500k
    // edges/partition until defaultParts caps it, so the build side only
    // outgrows memory when nodes/defaultParts does — the 8M-row bound is
    // ~128 MB of packed longs per task, inside any sane executor.
    def hinted(df: DataFrame, n: Long, parts: Int): DataFrame =
      if (n / math.max(parts, 1) <= 8000000L) df.hint("shuffle_hash") else df
    val wall = scala.collection.mutable.ArrayBuffer[Double]()
    var round = 0
    var result: DataFrame = null
    try {
      // one contraction mapping over a bidirectional edge set whose
      // vertices carry IDENTITY labels: m(x) = min(closed nbhd of x),
      // pointer-jumped once (m := m o m). Materialized.
      // m(x) = min(closed nbhd of x), then POINTER-DOUBLED to
      // idempotence: m := m o m until no label changes. m is monotone
      // decreasing (m(x) <= x), so the functional graph is acyclic and
      // doubling reaches the fixpoint in log2(longest chain) steps —
      // near-clique dedup graphs need 1 doubling, an L-node path needs
      // ~log2(L). Without the doubling loop a contraction round only
      // trims a CONSTANT number of nodes off each chain end (identity
      // labels reset the reach every round — measured 20 linear rounds
      // on the per-customer order paths), with it chains collapse in
      // ONE round. Each doubling is a self-join of the NODE table (the
      // cheapest shape here — (long, long) rows, smaller than the edge
      // table) and the convergence count rides the checkpointed result
      // as a cached scan, not an extra join. Every materialization
      // drops inherited stats (PlanShim.freshStats) or the
      // round-over-round join-size products grow exponentially and
      // PLANNING melts the driver in BigInteger math.
      def contractMap(e: DataFrame, n: Long): DataFrame = {
        import org.apache.spark.sql.graftshim.PlanShim.freshStats
        val parts = partsFor(n)
        // e is BIDIRECTIONAL, so every node appears as dst — the node
        // set needs no separate distinct() and no join: the one
        // partial-aggregating groupBy yields the full closed-nbhd min
        var m = freshStats(e
          .groupBy(col("dst").as("id")).agg(min(col("src")).as("nmin"))
          .select(col("id"), least(col("nmin"), col("id")).as("label"))
          .localCheckpoint())
        var changed = 1L
        var doublings = 0
        while (changed > 0 && doublings < 64) {
          // LAZY checkpoint: the changed-count below is the materializing
          // job (persist is storage-level-lazy — the first pass stores the
          // blocks), so each doubling runs ONE job instead of an eager
          // checkpoint job plus a count job over the cached result
          val jumped = freshStats(m.as("x")
            .join(hinted(m.select(col("id").as("lid"),
                col("label").as("llabel")), n, parts).as("y"),
              col("x.label") === col("y.lid"), "left")
            .select(col("x.id").as("id"), col("x.label").as("old"),
              coalesce(col("y.llabel"), col("x.label")).as("label"))
            .localCheckpoint(eager = false))
          changed = jumped.filter(col("label") =!= col("old")).count()
          PlanShim.unpersistCheckpoint(m) // jumped is materialized
          m = jumped.select("id", "label")
          doublings += 1
        }
        // 64 doublings covers chains of 2^64 nodes — unreachable; this
        // is a refusal-not-silent-wrong guard, same as maxRounds
        require(changed == 0,
          "dupComponents: pointer doubling did not reach a fixpoint " +
            "in 64 steps — mapping would be non-idempotent")
        m
      }
      // contract e through m: self-loops drop, parallel edges merge
      // (the m sides carry the same shuffled-hash gate as the doubling).
      // LAZY checkpoint: every call site counts the result immediately —
      // that count is the materializing job, saving an eager-checkpoint
      // pass of the join per round. Callers must not free the inputs
      // until after that count has run.
      def remap(e: DataFrame, m: DataFrame, n: Long): DataFrame = {
        val parts = partsFor(n)
        e.join(hinted(m.select(col("id").as("__s"), col("label").as("ms")),
              n, parts),
            col("src") === col("__s"))
          .join(hinted(m.select(col("id").as("__d"), col("label").as("md")),
              n, parts),
            col("dst") === col("__d"))
          .filter(col("ms") =!= col("md"))
          .select(col("ms").as("src"), col("md").as("dst"))
          .distinct()
          .localCheckpoint(eager = false)
          .transform(org.apache.spark.sql.graftshim.PlanShim.freshStats)
      }

      var t0 = System.nanoTime()
      val m1 = contractMap(bi, nEdges)   // the one full-size round
      var live = remap(bi, m1, nEdges)
      var liveEdges = live.count()
      round = 1
      wall += (System.nanoTime() - t0) / 1e9
      // composition of rounds 2.. on the representative space (small and
      // shrinking); null = identity
      var comp: DataFrame = null
      while (liveEdges > 0 && round < maxRounds) {
        t0 = System.nanoTime()
        spark.conf.set("spark.sql.shuffle.partitions",
          partsFor(liveEdges).toString)
        val m = contractMap(live, liveEdges)
        comp =
          if (comp == null) m
          else {
            val c = comp.as("a")
              .join(hinted(m.select(col("id").as("mid"),
                  col("label").as("mlabel")), liveEdges,
                  partsFor(liveEdges)).as("b"),
                col("a.label") === col("mid"), "left")
              .select(col("a.id").as("id"),
                coalesce(col("mlabel"), col("a.label")).as("label"))
              .localCheckpoint()
              .transform(org.apache.spark.sql.graftshim.PlanShim.freshStats)
            // free the superseded composition's checkpoint blocks for
            // real: Dataset.unpersist is a NO-OP on localCheckpoint
            // frames (not CacheManager-registered) — c is materialized
            PlanShim.unpersistCheckpoint(comp)
            c
          }
        val nextLive = remap(live, m, liveEdges)
        // remap's checkpoint is LAZY: this count materializes it, and it
        // must run BEFORE the inputs' checkpoint blocks are freed below
        // (a localCheckpoint frame cannot recompute lost blocks)
        liveEdges = nextLive.count()
        PlanShim.unpersistCheckpoint(live)
        // on the first composed round comp ALIASES m (the null branch
        // above) — freeing m there would free comp's own checkpoint
        // blocks, and localCheckpoint frames cannot recompute: the next
        // comp scan (or the final fold) would die with a lost-block
        // error on any input needing >1 contraction round
        if (!(comp eq m)) PlanShim.unpersistCheckpoint(m)
        live = nextLive
        round += 1
        wall += (System.nanoTime() - t0) / 1e9
      }
      // a silent partial result here would carry non-minimal labels into
      // keepCanonical and KEEP duplicate docs with no signal — refuse
      // loudly instead (raise maxRounds; contraction quarters chain
      // length per round, so 20 covers astronomically long chains)
      require(liveEdges == 0,
        s"dupComponents did not converge within maxRounds=$maxRounds " +
          s"($liveEdges contracted edges remain) — labels would be non-minimal")
      PlanShim.unpersistCheckpoint(live)
      // fold the composed contraction back onto the round-1 labels: the
      // ONE full-size join that replaces a full-size pass per round —
      // re-sized to the FULL table (the loop left the conf at the last
      // contracted round's sizing, often 1 partition)
      spark.conf.set("spark.sql.shuffle.partitions", nParts.toString)
      result =
        if (comp == null) m1
        else {
          val r = m1.as("a")
            .join(hinted(comp, nEdges, nParts).as("b"),
              col("a.label") === col("b.id"), "left")
            .select(col("a.id").as("id"),
              coalesce(col("b.label"), col("a.label")).as("label"))
            .localCheckpoint()
          PlanShim.unpersistCheckpoint(comp); PlanShim.unpersistCheckpoint(m1)
          r
        }
    } finally {
      // result is a materialized localCheckpoint by here — dropping the
      // edge cache cannot recompute anything the result still needs
      bi.unpersist()
      prevParts match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
      prevCoalesce match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
      lastCcStats = Some(CcStats(round, wall.toSeq, nEdges, nParts))
    }
    result.select(col("id"), col("label").as("component"))
  }

  /** Exact repeated-SUBSTRING detection — the document-internal sibling
    * of whole/chunk dedup (the "Deduplicating Training Data Makes
    * Language Models Better" recipe: duplicate n-token spans inflate
    * memorization even when no whole document repeats). Finds every
    * n-token span occurring more than once ACROSS the corpus and returns
    * the non-first occurrences as (doc_id, pos) — keep-first semantics,
    * first = lexicographic min (doc_id, pos). Whitespace tokens,
    * positions 0-based.
    *
    * Scale shape: one explode to (len−n+1) spans per doc, spans shuffle
    * as 64-bit HASHES (never strings — the -joined token window
    * hashes map-side), first-occurrence via a partial-aggregating
    * min(struct) groupBy, repeats via one hash join. No self-join, no
    * quadratic anything; the gate's oracle re-derives with raw span
    * STRINGS, so a hash collision would fail the gate. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 2, s"span length must be >= 2, got $n")
    // collapse-then-trim-then-split: plain trim strips only 0x20, so a
    // leading newline would otherwise produce a phantom empty token
    val toks = docs
      .select(idNorm(docs.schema(idCol).dataType, col(idCol)).as("doc_id"),
        split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ").as("t"))
      .filter(size(col("t")) >= n)
    val spans = graft.GraftSession.balanced(toks)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - n)).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        xxhash64(concat_ws("\u0001",
          slice(col("t"), col("pos") + 1, lit(n)))).as("h"))
    val firsts = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    spans.join(firsts, "h")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
  }

  /** Remove the repeated spans found by [[repeatedSpans]] from the text
    * (keep-first): every token covered by a non-first duplicate n-token
    * window is dropped, overlapping windows union naturally, and the doc
    * comes back whitespace-canonical (single-spaced; a fully-covered doc
    * becomes the empty string, it does not disappear). Per-doc work is
    * one HOF filter over tokens × repeat positions — repeat lists ride a
    * collect_list bounded by doc length, nothing corpus-sized
    * concentrates anywhere. */
  def cutRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val ivs = repeatedSpans(docs, idCol, textCol, n)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list("pos")).as("ps"))
    val canonical = docs.select(idNorm(docs.schema(idCol).dataType, col(idCol)).as("doc_id"),
      split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ").as("t"))
    canonical.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ps").isNull, concat_ws(" ", col("t")))
          .otherwise(concat_ws(" ",
            filter(col("t"), (_, i) =>
              !exists(col("ps"), p => p <= i && i < p + n))))
          .as("text"))
  }

  /** Deduplicate by near-dup CLUSTERS: keep the min-id member of every
    * component plus every doc that appears in no pair — the terminal
    * step of the pair-producing ops above. One LEFT ANTI join against
    * the non-canonical member list. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val docDt = docs.schema(idCol).dataType
    require(idClass(docDt) == idClass(pairs.schema(aCol).dataType),
      s"doc id column $idCol (${docDt}) and pair id column $aCol " +
        s"(${pairs.schema(aCol).dataType}) must share a type class")
    val drops = dupComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component")).select("id")
    docs.join(drops, idNorm(docDt, docs(idCol)) === drops("id"), "left_anti")
  }

  /** Caller-supplied doc-id columns: integral types cast EXACTLY to
    * long; strings (URLs / UUIDs — the common-crawl id shape) stay
    * native — min-label propagation and hash joins are type-generic, so
    * exactness beats hashing them to long (a 64-bit hash collision
    * would silently merge unrelated docs). Anything else refuses
    * loudly: a blind cast("long") here once nulled string ids, so every
    * edge vanished and keepCanonical kept all duplicates — the same
    * silent-cast class TemporalJoins.requireSameKeyType documents. */
  /** LINE-level exact dedup across the corpus, keep-first — the C4
    * recipe (arXiv:1910.10683 §2.2 deduplicates repeated lines across
    * the dataset, keeping one occurrence): boilerplate lines (nav bars,
    * cookie banners, license headers) repeat across millions of pages
    * and inflate memorization below the whole-document level that
    * [[exactDedup]] sees. Every NON-BLANK line keeps only its first
    * occurrence — ordered by (id, line index), portable to any engine —
    * and documents reassemble from their surviving lines in original
    * order (a document can shrink to ""; it never disappears). Blank
    * lines are format scaffolding, not content: they pass through
    * untouched rather than corpus-deduping to a single survivor.
    *
    * Scale shape: the dedup groupBy shuffles 64-bit xxhash64 line
    * hashes, never line strings (the oracle re-derives with raw
    * strings, so a planted collision would fail the gate); line text
    * crosses the wire only in the per-document reassembly, which
    * shuffles each surviving line exactly once. Returns (id, text). */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val dt = docs.schema(idCol).dataType
    idClass(dt) // refuse unusable id types loudly
    val lines = docs.select(idNorm(dt, col(idCol)).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("idx", "line")))
    val content = lines.filter(trim(col("line")) =!= "")
    val hashed = content.select(col("doc_id"), col("idx"),
      xxhash64(col("line")).as("h"))
    val firsts = hashed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val keptContent = hashed.join(firsts, "h")
      .filter(struct(col("doc_id"), col("idx")) === col("f"))
      .select("doc_id", "idx")
    val keptAll = lines.join(keptContent, Seq("doc_id", "idx"), "left_semi")
      .unionByName(lines.filter(trim(col("line")) === ""))
    val rebuilt = keptAll.groupBy("doc_id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("text"))
    // a document whose every line was a later duplicate has no surviving
    // rows — it must come back as "" rather than vanish from the corpus
    docs.select(idNorm(dt, col(idCol)).as("doc_id")).distinct()
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  private def idClass(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "integral"
    case StringType => "string"
    case other => throw new IllegalArgumentException(
      s"id column must be integral or string, got $other")
  }

  private def idNorm(dt: DataType, c: Column): Column =
    if (idClass(dt) == "integral") c.cast("long") else c
}
