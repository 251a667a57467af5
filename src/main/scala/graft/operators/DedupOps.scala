package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.functions.HashFunctions.{signatureSimilarity, simhashBands}
import graft.functions.HashExpressions._

/** Near-duplicate detection suite — the LLM-training-pipeline dedup family
  * generalizing the reference's exact dedup
  * (/root/reference/preprocessing.py:344-346, SURVEY.md §2.3 D1).
  *
  * Four independent detectors, each shaped for a 1000-executor cluster:
  *   - MinHash + LSH:   shingle → signature → band bucket-join. Cost is
  *     O(n·shingles) map-side + one shuffle on (band, hash); candidate pairs
  *     only ever meet inside a bucket, never O(n²).
  *   - SimHash:         60-bit fingerprint + 4×15-bit band blocking;
  *     Hamming ≤ 3 neighbors guaranteed found (pigeonhole over 4 bands).
  *     Band width is the scaling knob: 8-bit byte bands only cut random
  *     candidate collisions 256× (the 10× probe spent 392 s on ~20M
  *     spurious candidates from 50k docs); 15-bit bands cut 32768×, so
  *     candidate volume tracks genuine duplicates, not n²/2^bandBits.
  *   - n-gram Jaccard:  inverted-index blocking on uncommon token 3-grams
  *     (doc-frequency ≤ maxDf kills the quadratic hot-ngram buckets — the
  *     "stop-ngram" trick), exact Jaccard on the survivors.
  *   - Embedding cosine: exact all-pairs at fixture scale; the LSH-bucketed
  *     scale path is SimilarityOps.lshCosinePairs (query dedup_embed_lsh).
  *
  * All hashing is oracle-reproducible integer arithmetic (HashFunctions), so
  * every stage — signatures, buckets, pair scores — hash-matches DuckDB.
  */
object DedupOps {

  val MinhashK = 32
  val LshBands = 8
  val LshRows = 4
  val ShingleN = 5

  /** Production guard for the PAIR-emission faces: a bucket with m members
    * emits C(m,2) candidate pairs, so one viral duplicate group (boilerplate
    * page, cookie banner, empty template) with m in the millions would emit
    * ~m²/2 rows at 100 TB before any similarity filter ran. Buckets above
    * this cap are deterministically truncated to their `HotBucketCap`
    * LOWEST doc ids before pairing, bounding per-bucket emission at
    * C(cap, 2) ≈ 8.4M rows; every fixture/bench bucket sits well below the
    * cap (measured max occupancy — sf0.01: minhash 43 / simhash 30; sf0.1:
    * minhash 457 / simhash 222; DedupOpsSpec pins the report empty), so the
    * capped and uncapped faces are bit-identical on the oracle board, and a
    * future fixture regen that pushed a bucket past the cap would show up
    * as an oracle hash mismatch plus a non-empty report, never silently.
    * The CLUSTER faces stay
    * uncapped by design: single-linkage needs every verified edge, and
    * their output and propagation cost are linear in corpus size, not in
    * pair count. Truncation is observable, not silent — see
    * `bucketTruncationReport`.
    */
  val HotBucketCap = 4096

  /** Keep each (band, key) bucket's `cap` lowest ids. The row_number
    * sort folds into the sort the pair self-join needs anyway (same
    * (band, key) prefix), so the cap costs no extra exchange. Shared by
    * the minhash/simhash pair faces (doc_id) and the embedding-LSH pair
    * face (vec_id — SimilarityOps.lshCosinePairs).
    */
  private[operators] def capHotBuckets(buckets: DataFrame, keyCol: String,
                                       cap: Int,
                                       idCol: String = "doc_id"): DataFrame =
    if (cap == Int.MaxValue) buckets
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col(keyCol)).orderBy(col(idCol))
      buckets.withColumn("bkt_rk", row_number().over(w))
        .filter(col("bkt_rk") <= cap).drop("bkt_rk")
    }

  /** Diagnostic twin of the cap: the buckets the pair faces truncated —
    * (tier, band, bucket_key, n_docs, kept). Empty whenever the cap is not
    * binding (the fixture/bench regime); a dedup deployment runs it next to
    * a capped pairs job so truncation is a reported fact, not a silent one.
    */
  def bucketTruncationReport(docs: DataFrame, idCol: String, textCol: String,
                             cap: Int = HotBucketCap): DataFrame = {
    def over(buckets: DataFrame, keyCol: String, tier: String): DataFrame =
      buckets.groupBy(col("band"), col(keyCol).as("bucket_key"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > cap)
        .select(lit(tier).as("tier"), col("band"), col("bucket_key"),
          col("n_docs"), lit(cap).as("kept"))
    val mh = minhashSignatures(docs, textCol)
      .select(col(idCol).as("doc_id"),
        posexplode(col("bands")).as(Seq("band", "band_hash")))
    val sh = simhashFingerprints(docs, textCol)
      .select(col(idCol).as("doc_id"),
        posexplode(simhashBands(col("simhash"), 4, SimhashBandBits))
          .as(Seq("band", "band_val")))
    over(mh, "band_hash", "minhash").unionByName(over(sh, "band_val", "simhash"))
  }

  /** Round bound for cluster label propagation. Sized ABOVE the measured
    * fixture convergence depth (with pointer jumping the deepest case is
    * the sf0.1 simhash chain at 10 rounds; sf0.01 converges in ≤6 —
    * pinned by spec) so the shipped cluster queries emit true
    * single-linkage components, while the early-stop in
    * propagateLabelsTracked means unused headroom costs nothing; on deeper
    * corpora the bound caps the shuffle count and the convergence report
    * makes any residual under-merge observable.
    */
  val ClusterRounds = 12

  /** Per-doc MinHash signature + LSH band hashes over hashed char 5-shingles
    * of the normalized text. Docs with no shingles (shorter than n after
    * normalization) are dropped — they are trivial duplicates handled by
    * exact dedup. Only hash *sets* flow through the plan; shingle strings are
    * never materialized (one codepoint split per doc total).
    */
  def minhashSignatures(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("sh_hashes", shingleHashSet(normalized(col(textCol)), ShingleN))
      .filter(size(col("sh_hashes")) > 0)
      .withColumn("sig", minhashSig(col("sh_hashes"), MinhashK))
      .withColumn("bands", lshBands(col("sig"), LshBands, LshRows))

  /** MinHash/LSH candidate pairs with estimated + exact Jaccard.
    * One explode + one self-equi-join on (band, band_hash): the shuffle keys
    * are fixed-width longs, so this co-partitions cleanly at any scale.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   minEstJaccard: Double = 0.5,
                   maxBucket: Int = HotBucketCap): DataFrame =
    // persist: the signature subtree feeds the bucket explode AND both join
    // sides; without the barrier Catalyst re-inlines (and re-evaluates) the
    // interpreted HOF hashing once per consumer. At warehouse scale this
    // intermediate would be a written signatures table instead.
    minhashPairsOfSigs(graft.Caching.track(minhashSignatures(docs, textCol)
        .select(col(idCol).as("doc_id"), col("sh_hashes"), col("sig"),
          col("bands"))),
      minEstJaccard, maxBucket)

  private[graft] def minhashPairsOfSigs(sigs: DataFrame,
                                        minEstJaccard: Double,
                                        maxBucket: Int): DataFrame = {
    val buckets = capHotBuckets(sigs.select(
      col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "band_hash"))),
      "band_hash", maxBucket)
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh_hashes").as("sh_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh_hashes").as("sh_b"),
        col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard", signatureSimilarity(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 4).as("est_jaccard"),
        round(jaccardLongK(col("sh_a"), col("sh_b")), 4).as("jaccard"))
  }

  /** Cross-query registry of the corpus SIGNATURE tables — the minhash
    * (doc_id, sh_hashes, sig, bands) and simhash (doc_id, simhash, bands)
    * frames. "At warehouse scale this intermediate would be a written
    * signatures table" (the comment above) IS the stored-index contract:
    * built once per corpus version, probed by the pair faces, the cluster
    * builds, and the contraction gauge — each was re-hashing the corpus
    * per invocation. Keyed corpus fingerprint × tier.
    */
  private val sigCache = graft.Caching.Registry[DataFrame]("dedup.sigs")

  private[operators] def corpusMinhashSigs(spark: SparkSession,
                                           dir: String): DataFrame =
    sigCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|minhash") {
      graft.Caching.materialize(minhashSignatures(Tables.documents(spark, dir), "text")
        .select(col("doc_id"), col("sh_hashes"), col("sig"), col("bands")))
    }

  private[operators] def corpusBandedFps(spark: SparkSession,
                                         dir: String): DataFrame =
    sigCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|simhash") {
      graft.Caching.materialize(simhashFingerprints(Tables.documents(spark, dir), "text")
        .select(col("doc_id"), col("simhash"),
          simhashBands(col("simhash"), 4, SimhashBandBits).as("bands")))
    }

  /** Query: MinHash/LSH near-dup pairs over the documents fixture
    * (registry-shared signature table).
    */
  def minhashDupPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOfSigs(corpusMinhashSigs(spark, dir),
      minEstJaccard = 0.5, maxBucket = HotBucketCap)

  /** Per-doc 32-bit SimHash fingerprints (term-frequency weighted). Token
    * hashing is the fused one-pass kernel — no token strings materialize.
    */
  val SimhashWidth = 60
  val SimhashBandBits = 15

  def simhashFingerprints(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("tok_hashes", tokenHashesK(normalized(col(textCol))))
      .filter(size(col("tok_hashes")) > 0)
      .withColumn("simhash", simhashK(col("tok_hashes"), SimhashWidth))

  /** SimHash near-dup pairs: 15-bit band blocking then exact Hamming ≤
    * maxDist. Finds ALL pairs at Hamming ≤ 3 (4 bands, pigeonhole); one
    * shuffle on the (band, value) key, and random band collisions are
    * 2^15-rare so the candidate set tracks genuine near-dups.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3,
                   maxBucket: Int = HotBucketCap): DataFrame =
    simhashPairsOfFps(bandedFps(docs, idCol, textCol), maxDist, maxBucket)

  /** Persisted (doc_id, simhash, bands) staging frame — shared by the pair
    * and cluster paths so the corpus tokenizes and fingerprints once.
    */
  private[graft] def bandedFps(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    graft.Caching.track(simhashFingerprints(docs, textCol)
      .select(col(idCol).as("doc_id"), col("simhash"),
        simhashBands(col("simhash"), 4, SimhashBandBits).as("bands")))

  private[graft] def simhashPairsOfFps(fps: DataFrame, maxDist: Int,
                                maxBucket: Int): DataFrame = {
    val buckets = capHotBuckets(fps.select(
      col("doc_id"), col("simhash"),
      posexplode(col("bands")).as(Seq("band", "band_val"))),
      "band_val", maxBucket)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE the dedup exchange: the hamming test needs only the
      // join row itself, so random band collisions die map-side instead of
      // shuffling into the distinct (same final set either way)
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Query: SimHash near-dup pairs over the documents fixture
    * (registry-shared fingerprint table).
    */
  def simhashDupPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOfFps(corpusBandedFps(spark, dir), maxDist = 3,
      maxBucket = HotBucketCap)

  /** Exact n-gram Jaccard near-dups with inverted-index blocking: candidate
    * pairs share ≥1 token 3-gram whose doc-frequency ≤ maxDf (rare-feature
    * blocking — common n-grams would create quadratic buckets and add no
    * discrimination). Grams live only as polynomial hashes of the token-hash
    * windows (WindowHashSet kernel) — the gram strings are never built, and
    * the inverted index joins on fixed-width longs.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxDf: Int = 10,
                        minJaccard: Double = 0.5): DataFrame =
    ngramJaccardOfSets(graft.Caching.track(docs
        .select(col(idCol).as("doc_id"),
          windowHashSet(tokenHashesK(normalized(col(textCol))), n).as("grams"))
        .filter(size(col("grams")) > 0)),
      maxDf, minJaccard)

  /** The (doc_id, grams) token-n-gram hash-set table — the same "written
    * signatures table" contract as the minhash/simhash frames, shared by
    * the Jaccard AND containment faces (identical derivation). Registry
    * per (corpus version, n).
    */
  private[operators] def corpusGramSets(spark: SparkSession, dir: String,
                                        n: Int = 3): DataFrame =
    sigCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|grams$n") {
      graft.Caching.materialize(Tables.documents(spark, dir)
        .select(col("doc_id"),
          windowHashSet(tokenHashesK(normalized(col("text"))), n).as("grams"))
        .filter(size(col("grams")) > 0))
    }

  private[operators] def ngramJaccardOfSets(grams: DataFrame, maxDf: Int,
                                            minJaccard: Double): DataFrame = {
    val inverted = grams.select(col("doc_id"), explode(col("grams")).as("gram"))
    val rare = inverted.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    val postings = inverted.join(rare, "gram")
    // candidacy needs ≥2 shared rare grams: one shared rare gram is mostly
    // coincidence and exploding those pairs dominated the runtime (the
    // aggregate also replaces a distinct — same shuffle, more pruning)
    val cands = postings.as("a")
      .join(postings.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= 2)
    cands
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("g_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("g_b")), "doc_b")
      .withColumn("jaccard", jaccardLongK(col("g_a"), col("g_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Upper clamp on the corpus-relative n-gram df cap: the rare-gram
    * posting self-join emits up to df² rows per gram, so an UNclamped
    * n/500 cap would let one at-the-cap gram emit (n/500)² rows at 100 TB
    * — the same C(m,2) hazard class the pair faces' HotBucketCap guards.
    * The clamp bounds per-gram emission at ~10⁶ rows; duplicate groups
    * whose multiplicity exceeds the clamp push all their grams' df past
    * the cap and fall out of THIS tier (exactly like any ubiquitous gram)
    * — they are the minhash/simhash tiers' territory, which find them via
    * banded signatures at linear cost. Both fixture scales resolve to
    * maxDf = 10, far under the clamp, so the oracle board is unaffected.
    */
  val MaxNgramDf = 1000

  /** Query: token-3-gram Jaccard near-dup pairs over the documents fixture.
    * The df cap scales with corpus size (max(10, n/500), clamped to
    * MaxNgramDf): a FIXED cap stops finding anything once duplicate
    * multiplicity exceeds it — every gram of a 20×-duplicated doc has
    * df ≥ 20 (found by the 10× scale probe) — while an UNclamped one
    * re-opens the quadratic posting join (see MaxNgramDf).
    */
  def ngramDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxDf = math.max(10L, math.min(MaxNgramDf.toLong, docs.count() / 500L)).toInt
    ngramJaccardOfSets(corpusGramSets(spark, dir), maxDf, minJaccard = 0.5)
  }

  /** Near-duplicate CLUSTERS via bounded-round single-linkage label
    * propagation over the LSH buckets: each doc starts labeled with its own
    * id; each round every bucket takes the min label of its members and
    * members adopt the min over their buckets. Pair OUTPUT is quadratic in
    * duplicate multiplicity (the 10× scale probe produced 12M pairs from 50k
    * docs); the cluster view is linear and is what a dedup ACTION consumes
    * (keep = one representative per cluster).
    */
  def minhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      rounds: Int = ClusterRounds): DataFrame = {
    val buckets = minhashSignatures(docs, textCol)
      .select(col(idCol).as("doc_id"),
        posexplode(col("bands")).as(Seq("band", "band_hash")))
    propagateLabels(buckets, rounds)
  }

  /** Should the cluster faces run their duplicate-contraction pre-pass?
    * Contraction (group key-equal rows, pair only class reps, map labels
    * back) costs an extra aggregate and two join-backs over the corpus; it
    * pays only when the duplicate-pair mass it collapses — Σ C(m,2) over
    * the key's equality classes — is comparable to the corpus itself (the
    * viral-multiplicity regime the guard exists for). This decides with
    * ONE cheap aggregate over the already-cached signature frame: pairs >
    * max(1024, n/4). At fixture scale (sf0.1: 8 duplicate texts, 0
    * duplicate vectors) the mass is ~zero, so the queries keep the direct
    * r9-shaped build and its medians; the multiplicity-100 probes cross
    * the threshold immediately and keep the contraction win. Either path
    * produces IDENTICAL labels (spec-pinned) — this is a cost decision,
    * never a semantics one.
    */
  private[graft] def contractionPays(keyed: DataFrame,
                                     keyCol: String): Boolean = {
    val r = keyed.groupBy(col(keyCol)).agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(col("m")), lit(0L)).cast("long").as("n"),
        // m·(m−1) is even, so the double division is exact (up to 2^53 —
        // class sizes past 9e7 would saturate the decision long before
        // precision matters)
        coalesce(sum((col("m") * (col("m") - 1L)) / 2L), lit(0.0))
          .cast("long").as("dup_pairs"))
      .collect()(0)
    r.getLong(1) > math.max(1024L, r.getLong(0) / 4L)
  }

  /** SimHash sibling of minhashClusters. Unlike a 32-bit minhash band hash,
    * a byte band is NOT a near-dup criterion on its own — 256 values per
    * band means every bucket chains transitively at corpus scale (the 10×
    * scale probe collapsed 50k docs into ONE cluster through raw byte-band
    * buckets) — so propagation runs over hamming-VERIFIED pair edges: each
    * surviving pair is its own 2-member bucket, keyed by the pair. Pair
    * volume stays quadratic in duplicate multiplicity (the documented
    * simhash pair-path property); the cluster output is linear and docs
    * without a verified partner keep their own label.
    */
  def simhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      rounds: Int = ClusterRounds, maxDist: Int = 3,
                      contract: Option[Boolean] = None): DataFrame =
    simhashClustersOfFps(bandedFps(docs, idCol, textCol), rounds, maxDist,
      contract)

  private[graft] def simhashClustersOfFps(fps: DataFrame,
                                          rounds: Int, maxDist: Int,
                                          contract: Option[Boolean]): DataFrame = {
    // Fingerprint-equal docs CONTRACT to one node before pairing (r10):
    // equal 60-bit fps share every band and sit at hamming 0, so class
    // members are guaranteed mutual edges — a viral group of m
    // byte-near-identical docs (which simhash maps to one fp) would
    // otherwise materialize C(m,2) verified edges into the cluster graph.
    // After contraction, edge volume is quadratic in DISTINCT fingerprints
    // per bucket, never in docs. Labels are unchanged: the class rep is the
    // class min, cross-class edges depend only on the fps, so propagation
    // over the contracted graph reaches the same component minima
    // (DedupOpsSpec pins label equality against the uncontracted build).
    // Edges between distinct fps stay UNCAPPED: single-linkage
    // connectivity needs every verified edge — a capped bucket would
    // orphan its overflow docs into singleton labels.
    //
    // The pre-pass only runs when its duplicate-pair mass pays for the
    // class materialization + two join-backs (`contractionPays` — r11:
    // the near-duplicate-free fixture regime takes the direct build and
    // its r9 medians; adversarial multiplicity contracts as before).
    // `contract` forces a path for spec-level equality pinning.
    if (!contract.getOrElse(contractionPays(fps, "simhash"))) {
      val edges = simhashPairsOfFps(fps, maxDist, Int.MaxValue)
        .select(col("doc_a"), col("doc_b"))
      propagateEdges(edges, rounds)
        .join(fps.select(col("doc_id")), Seq("doc_id"), "right")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    } else {
      val classes = graft.Caching.track(fps.groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("rep"), first(col("bands")).as("bands")))
      val reps = classes.select(col("rep").as("doc_id"), col("simhash"), col("bands"))
      val edges = simhashPairsOfFps(reps, maxDist, Int.MaxValue)
        .select(col("doc_a"), col("doc_b"))
      propagateEdges(edges, rounds)
        .select(col("doc_id").as("rep"), col("label"))
        .join(classes.select(col("simhash"), col("rep")), Seq("rep"), "right")
        .join(fps.select(col("doc_id"), col("simhash")), Seq("simhash"))
        .select(col("doc_id"), coalesce(col("label"), col("rep")).as("label"))
    }
  }

  /** Query: hamming-verified SimHash duplicate-cluster profile — the
    * simhash tier's dedup-ACTION view, like minhashClusterProfile.
    */
  def simhashClusterProfile(spark: SparkSession, dir: String): DataFrame =
    simhashClustersOfFps(corpusBandedFps(spark, dir), ClusterRounds,
        maxDist = 3, contract = None)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
      .filter(col("n_docs") > 1)

  /** Bounded-round single-linkage: min-label flows bucket→member→bucket,
    * then POINTER-JUMPS — each round ends with `label(v) ← label(label(v))`
    * (the map-reduce connected-components doubling step), making
    * convergence logarithmic in chain depth instead of linear. On
    * ID-ordered chains the covered depth doubles per round (a 600-deep
    * path converges in 6 rounds); on adversarially SHUFFLED ids the
    * contraction is weaker (~1.6× per round — label regions merge along
    * the region graph, and pointer depth is not the limiter) but still
    * geometric, so rounds grow as log of chain depth either way. Plain
    * hop-per-round propagation stalled outright on the sf0.1 simhash
    * fixture: one near-dup chain ~500 docs deep needs 10 jump-rounds,
    * which sets the ClusterRounds = 12 bound.
    *
    * Each round's labels are materialized as a PLAN-INDEPENDENT RDD-backed
    * frame (persisted RDD + `createDataFrame`), and the superseded round's
    * blocks are freed immediately — at most two label frames of executor
    * storage at any time. The lineage break matters: a CacheManager
    * `unpersist` of the previous round is non-cascading, which CLEARS the
    * buffers of any dependent cached plan — with plan-chained rounds that
    * wiped the just-built round every iteration and each round recomputed
    * the whole chain from raw text (measured quadratic blowup: 17 s for 8
    * rounds over a 1 025-edge graph). An RDD unpersist invalidates nothing.
    *
    * Convergence is observable, not silent: labels only ever DECREASE
    * (min-propagation; the jump target label(label(v)) ≤ label(v) by the
    * same invariant), so the exact decimal(38,0) label sum is a strictly
    * monotone progress measure — an unchanged sum ⟺ fixed point. The loop
    * stops one round after the fixed point, and the returned
    * `roundsUsed`/`converged` tell a dedup ACTION consumer whether the
    * clustering converged or hit the bound with labels still moving
    * (under-merge). The oracle unrolls the same rounds; early-stop cannot
    * diverge from the full unroll because rounds past the fixed point are
    * no-ops (bucket-min, member-min, and the jump are all identities there).
    *
    * `roundsUsed` counts MATERIALIZED rounds only: the round-0 contraction
    * seeds labels at one lazy merge step that fuses into round 1's plan, so
    * the total number of merge steps applied is roundsUsed + 1. Consumers
    * comparing against the oracle's unroll depth (or the DEPLOY.md round
    * counts) should read it that way.
    */
  final case class Propagation(labels: DataFrame, roundsUsed: Int,
                               converged: Boolean)

  /** One pointer-jump step: label(v) ← label(label(v)). */
  private def jump(lab: DataFrame): DataFrame =
    lab.join(lab.select(col("doc_id").as("label"), col("label").as("ll")),
        Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("ll"), col("label")).as("label"))

  /** Graph size (rows of the bucket/edge frame) under which the
    * propagation rounds run as a LOCAL simulation of the identical round
    * algebra instead of distributed jobs. A round is join + aggregate +
    * jump-join + materialize + sum action — ~0.6 s of pure stage/barrier
    * overhead per round on local[32] regardless of data volume, and each
    * serial barrier is a landing slot for a sweep neighbor's major-GC
    * pause (the r14 `dedup_simhash_clusters` 6.9-24.8 s spread over a
    * 1 025-edge graph: ~6 s of its 7 s was NINE rounds of overhead).
    * The local path replays the SAME step + pointer-jump + sum-fixed-point
    * loop over collected arrays, so `roundsUsed`/`converged`/labels are
    * bit-identical at ANY round bound — including intentional under-merge
    * at binding bounds (spec-pinned local == distributed). At the
    * threshold the collected graph is ≤ ~16 MB of longs on the driver —
    * the same bounded-output class as the report sinks; past it (the
    * 100 TB regime) the distributed loop runs exactly as before.
    */
  val LocalGraphMaxRows = 1000000L

  /** The local replay reads ids as raw longs (`Row.getLong` after cast) and
    * takes numeric min — a non-integral id column would silently read 0 for
    * uncastable values (collapsing every node into one label), and string
    * ids would diverge from the distributed path's lexicographic min. Guard:
    * only integral-typed graphs take the local branch; anything else falls
    * through to the distributed loop, whose algebra is type-generic.
    */
  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  private[graft] def propagateLabelsTracked(
      bucketsIn: DataFrame, maxRounds: Int,
      localMaxRows: Long = LocalGraphMaxRows): Propagation = {
    val buckets = graft.Caching.track(bucketsIn)
    val nRows = buckets.count() // also materializes the tracked frame once
    val localSafe = Seq("doc_id", "band", "band_hash")
      .forall(c => integralType(buckets.schema(c).dataType))
    if (nRows <= localMaxRows && localSafe) {
      val rows = buckets
        .select(col("doc_id").cast("long"), col("band").cast("long"),
          col("band_hash").cast("long"))
        .collect().map { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
            "null id/band in propagation graph")
          (r.getLong(0), (r.getLong(1), r.getLong(2)))
        }
      val byBucket = rows.groupBy(_._2) // (band, hash) -> members
        .map { case (k, v) => k -> v.map(_._1) }
      val byDoc = rows.groupBy(_._1).map { case (d, v) => d -> v.map(_._2) }
      val step = (lab: java.util.HashMap[Long, Long]) => {
        val bmin = byBucket.map { case (k, members) =>
          k -> members.iterator.map(lab.get).min
        }
        val out = new java.util.HashMap[Long, Long]
        byDoc.foreach { case (d, bks) =>
          out.put(d, bks.iterator.map(bmin).min)
        }
        out
      }
      localPropagateLoop(buckets.sparkSession,
        buckets.schema("doc_id").dataType, byDoc.keys, step, maxRounds)
    } else {
      val step = (labels: DataFrame) => {
        val bucketMin = buckets.join(labels, "doc_id")
          .groupBy("band", "band_hash")
          .agg(min(col("label")).as("bucket_label"))
        buckets.join(bucketMin, Seq("band", "band_hash"))
          .groupBy("doc_id")
          .agg(min(col("bucket_label")).as("label"))
      }
      propagateLoop(buckets.select(col("doc_id")).distinct(), step, maxRounds)
    }
  }

  /** The shared local replica of `propagateLoop`: identical round
    * structure (lazy round-0 contraction via `step` of the identity
    * labels, then per materialized round step → pointer jump → label-sum
    * fixed-point test, stopping one round past the fixed point or at the
    * bound). `idType` is the graph frame's id dtype so the returned
    * frame's schema matches the distributed path's exactly.
    */
  private def localPropagateLoop(spark: SparkSession,
                                 idType: org.apache.spark.sql.types.DataType,
                                 ids: Iterable[Long],
                                 step: java.util.HashMap[Long, Long] =>
                                   java.util.HashMap[Long, Long],
                                 maxRounds: Int): Propagation = {
    def jumpL(lab: java.util.HashMap[Long, Long]) = {
      val out = new java.util.HashMap[Long, Long](lab.size)
      lab.forEach { (v, l) =>
        val ll = lab.get(l)
        out.put(v, if (lab.containsKey(l)) ll else l)
      }
      out
    }
    val id0 = new java.util.HashMap[Long, Long]
    ids.foreach(v => id0.put(v, v))
    var labels = step(id0)
    var used = 0
    var converged = false
    var prevSum: BigInt = null
    while (used < maxRounds && !converged) {
      val next = jumpL(step(labels))
      var s = BigInt(0)
      next.forEach((_, l) => s += l)
      val curSum: BigInt = if (next.isEmpty) null else s
      labels = next
      used += 1
      converged = curSum == null ||
        (prevSum != null && curSum == prevSum)
      prevSum = curSum
    }
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    labels.forEach((v, l) => out += ((v, l)))
    val df = out.toSeq.toDF("doc_id", "label")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("label").cast(idType).as("label"))
    Propagation(df, used, converged)
  }

  /** Edge-specialized twin of propagateLabelsTracked for graphs that arrive
    * as verified PAIR edges (the simhash and embedding cluster paths). For a
    * 2-member bucket, bucket-min → member-min collapses algebraically to one
    * neighbor-min — memberMin(v) = min(label(v), min over v's neighbors) —
    * so each round runs ONE join + ONE aggregate instead of two of each,
    * and the adjacency (with self-loops, so a doc's own label is in its
    * min) is pre-partitioned on the probe key once: per round only the
    * label frame shuffles into the join. Round-r labels are IDENTICAL to
    * the bucket formulation's (pinned by spec), so the oracle's unrolled
    * bucket CTEs verify this path unchanged.
    */
  private[graft] def propagateEdgesTracked(
      edgesIn: DataFrame, maxRounds: Int,
      localMaxRows: Long = LocalGraphMaxRows): Propagation = {
    val edges = graft.Caching.track(edgesIn)
    val nEdges = edges.count() // also materializes the tracked frame once
    val localSafe = Seq("doc_a", "doc_b")
      .forall(c => integralType(edges.schema(c).dataType))
    if (nEdges <= localMaxRows && localSafe) {
      val pairs = edges
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect().map { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1),
            "null id in propagation edge")
          (r.getLong(0), r.getLong(1))
        }
      // undirected adjacency; the self-loop is implicit (min with own label)
      val adjL = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
        .map { case (u, vs) => u -> vs.map(_._2) }
      val nodes = adjL.keySet
      val step = (lab: java.util.HashMap[Long, Long]) => {
        val out = new java.util.HashMap[Long, Long](lab.size)
        nodes.foreach { u =>
          var m = lab.get(u)
          adjL(u).foreach { v => val l = lab.get(v); if (l < m) m = l }
          out.put(u, m)
        }
        out
      }
      localPropagateLoop(edges.sparkSession,
        edges.schema("doc_a").dataType, nodes, step, maxRounds)
    } else propagateEdgesDistributed(edges, maxRounds)
  }

  private def propagateEdgesDistributed(edges: DataFrame,
                                        maxRounds: Int): Propagation = {
    val ids = edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id")))
      .distinct()
    val adj = graft.Caching.track(
      edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(edges.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .union(ids.select(col("doc_id").as("u"), col("doc_id").as("v")))
        .repartition(col("v")))
    val step = (labels: DataFrame) =>
      adj.join(labels.select(col("doc_id").as("v"), col("label")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("label")).as("label"))
    propagateLoop(ids, step, maxRounds)
  }

  /** Shared round loop: `step` computes the next member-min label frame from
    * the current one; the loop pointer-jumps, lineage-breaks, and
    * early-stops at the exact fixed point (see the Propagation scaladoc).
    */
  private def propagateLoop(ids: DataFrame, step: DataFrame => DataFrame,
                            maxRounds: Int): Propagation = {
    val spark = ids.sparkSession
    // Round-0 contraction: seed labels at one `step` of the identity labels
    // (bucket-min / neighbor-min) instead of self. The seeding is LAZY — it
    // fuses into round 1's plan, so the first materialized round starts a
    // full merge step ahead at zero extra jobs; each saved round is a whole
    // join+agg+materialize job, the dominant cost of the deep-chain cluster
    // queries. The fixed point (component min) is unchanged, so the oracle's
    // bucket-CTE unroll and the bucket-vs-edge equivalence both still hold.
    var labels = step(ids.withColumn("label", col("doc_id")))
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    var used = 0
    var converged = false
    var prevSum: java.math.BigDecimal = null
    while (used < maxRounds && !converged) {
      val memberMin = step(labels)
      // pointer jump: follow the label one more step. Every label value is
      // itself a doc_id in the bucket domain, so the lookup is a self
      // equi-join (left join + coalesce keeps the algebra total). A second
      // jump per round was measured to NOT cut rounds on adversarially
      // ordered ids (region merging, not pointer depth, is the limiter) —
      // it only added joins, so one jump it is.
      val jumped = jump(memberMin)
      val rdd = jumped.rdd
      // serialized blocks, not deserialized Rows: a round frame is two
      // long columns, but as Row objects it is ~5 heap objects per row
      // that every major GC re-scans for the rest of the loop — serialized
      // storage keeps the live-object count flat across rounds (the
      // propagation family's GC-variance lever, r15)
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val next = spark.createDataFrame(rdd, jumped.schema)
      // the one action per round: materializes the round AND measures
      // progress via the exact label sum (decimal(38,0) — 1e12 ids × 1e12
      // docs overflows a Long)
      val curSum = next
        .agg(sum(col("label").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(rdd)
      labels = next
      used += 1
      converged = curSum == null || // empty input: nothing to propagate
        (prevSum != null && curSum.compareTo(prevSum) == 0)
      prevSum = curSum
    }
    prevRdd.foreach(graft.Caching.registerRdd)
    Propagation(labels, used, converged)
  }

  private[operators] def propagateLabels(bucketsIn: DataFrame,
                                         rounds: Int): DataFrame =
    propagateLabelsTracked(bucketsIn, rounds).labels

  private[graft] def propagateEdges(edgesIn: DataFrame,
                                    rounds: Int): DataFrame =
    propagateEdgesTracked(edgesIn, rounds).labels

  /** The stored MinHash index of a corpus — the build-once half of
    * incremental dedup: (old_id, sh_hashes, sig, bands), written once and
    * band-probed by every subsequent batch. At 100 TB this is a bucketed
    * warehouse table keyed by the band hashes; here it is the
    * registry-persisted frame of `storedIndex`, exported as an `Artifacts`
    * parquet for the oracle.
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashSignatures(docs, textCol)
      .select(col(idCol).as("old_id"), col("sh_hashes"), col("sig"), col("bands"))

  /** Incremental near-dup detection — the index+delta shape a 100 TB corpus
    * actually runs: `index` is the pre-built minhashIndex table (built once,
    * stored bucketed by (band, hash)); each new batch computes its own
    * signatures and band-joins against the index only — the historical
    * corpus is never re-paired or re-signed. Returns, per new doc, its best
    * indexed near-match at `minJaccard` (estimated from signature
    * agreement, exact Jaccard on the shingle sets).
    */
  def incrementalDupCheck(index: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String,
                          minJaccard: Double = 0.5): DataFrame = {
    val idx = graft.Caching.track(index
      .select(col("old_id"), col("sh_hashes").as("sh_old"),
        col("sig").as("sig_old"), col("bands")))
    val neu = graft.Caching.track(minhashSignatures(batch, textCol)
      .select(col(idCol).as("new_id"), col("sh_hashes").as("sh_new"),
        col("sig").as("sig_new"), col("bands")))
    val idxBuckets = idx.select(col("old_id"),
      posexplode(col("bands")).as(Seq("band", "band_hash")))
    val newBuckets = neu.select(col("new_id"),
      posexplode(col("bands")).as(Seq("band", "band_hash")))
    val cands = newBuckets.join(idxBuckets, Seq("band", "band_hash"))
      .select(col("new_id"), col("old_id")).distinct()
    val scored = cands
      .join(neu.select(col("new_id"), col("sh_new"), col("sig_new")), "new_id")
      .join(idx.select(col("old_id"), col("sh_old"), col("sig_old")), "old_id")
      .withColumn("est", signatureSimilarity(col("sig_new"), col("sig_old")))
      .withColumn("jac", jaccardLongK(col("sh_new"), col("sh_old")))
      .filter(col("jac") >= minJaccard)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("new_id"))
      .orderBy(col("jac").desc, col("old_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("new_id"), col("old_id").as("dup_of"),
        round(col("est"), 4).as("est_jaccard"), round(col("jac"), 4).as("jaccard"))
  }

  /** Query: the last decile of doc ids arrives as the "new batch" against
    * the first 90% as the indexed corpus — new docs flagged with their best
    * indexed near-match. The cut is a metadata boundary (floor of
    * 0.9 · max id — a real ingest has a watermark; an exact percentile
    * would cost a full sort for nothing), and the probe runs against the
    * registry-persisted index (build-once/probe-many, `storedIndex`).
    * floor() explicitly: a bare long cast truncates in Spark but ROUNDS in
    * DuckDB.
    */
  def incrementalDupProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (stored, cut) = storedIndex(spark, dir)
    incrementalDupCheck(stored, docs.filter(col("doc_id") > cut),
      "doc_id", "text")
  }

  /** The shared build-once half of BOTH incremental faces
    * (`dedup_incremental` and the `dedup_index_flags` ingest-flag face): the
    * first 90% of doc ids indexed and persisted once per corpus version —
    * build-once/probe-many is the design contract (the index is a stored
    * table), so four faces (ingest gate, five-stage gate, and their
    * realistic twins) probe it per corpus without re-running the signature
    * scan. Returns (stored index, cut); the index also exports via the
    * Artifacts seam for the oracle, on hits as on builds.
    */
  private val indexCache = graft.Caching.Registry[(DataFrame, Long)]("dedup.index")

  def clearIndexCache(): Unit = { indexCache.clear(); indexBucketsCache.clear() }

  private[graft] def storedIndex(spark: SparkSession,
                                 dir: String): (DataFrame, Long) = {
    val (index, cut) = indexCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val docs = Tables.documents(spark, dir)
      val cut = docs
        .agg(floor(max(col("doc_id")) * 0.9).cast("long"))
        .collect()(0).getLong(0)
      (graft.Caching.materialize(
        minhashIndex(docs.filter(col("doc_id") <= cut), "doc_id", "text")), cut)
    }
    graft.Artifacts.save("dedup_index")(index)
    (index, cut)
  }

  /** The stored index's DISTINCT (band, band_hash) bucket table — the
    * probe side of every ingest-time band join (`indexDupBatch`,
    * `dedup_index_flags`, the 3/5-stage ingest gates and their realistic
    * twins). In production this IS the index's physical layout (DEPLOY:
    * the MinHash table is bucketed/sorted by (band, band_hash)), so the
    * distinct is a property of the stored table, not per-probe work —
    * through r18 each consumer face re-ran the posexplode + distinct
    * exchange over the ~90% corpus index on every invocation (guide §2.4:
    * an `Exchange` repeated for data that is already laid out as needed).
    * Registry-persisted beside the index itself, same key.
    */
  private val indexBucketsCache = graft.Caching.Registry[DataFrame]("dedup.indexbuckets")

  private[graft] def storedIndexBuckets(spark: SparkSession,
                                        dir: String): DataFrame =
    indexBucketsCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val (stored, _) = storedIndex(spark, dir)
      graft.Caching.materialize(stored
        .select(posexplode(col("bands")).as(Seq("band", "band_hash")))
        .distinct())
    }

  /** Query: duplicate-cluster profile — clusters with >1 member, their size
    * and representative (min id), over the documents fixture.
    */
  def minhashClusterProfile(spark: SparkSession, dir: String): DataFrame =
    minhashLabels(spark, dir)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
      .filter(col("n_docs") > 1)

  /** Cross-query registry of the fixture corpus' minhash cluster labels —
    * three query faces (`dedup_minhash_clusters`, `dedup_keep_best`,
    * `sample_split_safe`) consume the SAME deterministic label build, so
    * it follows the fit-registry pattern (TopicModelOps): persisted
    * (doc_id, label) rows keyed by dir, materialized eagerly so inner
    * scoped frames can release, cleared at harness teardown. The frame is
    * two fixed-width columns per doc — assignment-table-sized, the same
    * class as the cached KMeans assignments.
    */
  private val labelCache = graft.Caching.Registry[DataFrame]("dedup.labels")

  def clearLabelCache(): Unit = { labelCache.clear(); sigCache.clear() }

  private[operators] def minhashLabels(spark: SparkSession,
                                       dir: String): DataFrame =
    labelCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      // bucket explode over the registry-shared signature table — the
      // label build and the pair face hash the corpus once between them
      graft.Caching.materialize(propagateLabels(
        corpusMinhashSigs(spark, dir).select(col("doc_id"),
          posexplode(col("bands")).as(Seq("band", "band_hash"))),
        ClusterRounds))
    }

  /** Canonical-document selection: given cluster labels and a per-doc
    * score, pick the keeper of each cluster — the highest score, ties to
    * the smallest id. Detection tells you WHAT is duplicated; this decides
    * what survives, by QUALITY rather than the keep-first convention
    * (arrival order is an accident of crawl scheduling; the reference keeps
    * first only because pandas drop_duplicates does,
    * /root/reference/preprocessing.py:201-204).
    *
    * Shape: two aggregates and a join, all keyed on the label — one
    * partitioning reused end-to-end, partial aggs map-side. Deliberately
    * NOT a single `max_by(id, struct(score, -id))`: scores are coarse
    * (ties are the common case) and cross-engine struct-comparison
    * semantics are not contractual, while max/filter/min is exact algebra
    * any oracle reproduces.
    *
    * Returns (label, n_docs, best_score, keep_id) per cluster.
    */
  def keepBest(labels: DataFrame, scored: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val joined = labels.join(scored, idCol)
    val best = joined.groupBy(col("label")).agg(
      count(lit(1)).as("n_docs"), max(col(scoreCol)).as("best_score"))
    joined.join(best, "label")
      .filter(col(scoreCol) === col("best_score"))
      .groupBy(col("label"), col("n_docs"), col("best_score"))
      .agg(min(col(idCol)).as("keep_id"))
  }

  /** Query: per multi-member MinHash cluster, the quality-selected keeper
    * and how many near-dups it displaces.
    */
  def keepBestProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = minhashLabels(spark, dir)
    val scored = docs.select(col("doc_id"),
      TextAnalysisOps.qualityScoreCol(col("text")).as("q"))
    keepBest(labels, scored, "doc_id", "q")
      .filter(col("n_docs") > 1)
      .select(col("label").as("cluster_rep"), col("n_docs"), col("keep_id"),
        round(col("best_score"), 2).as("best_quality"),
        (col("n_docs") - 1).as("n_removed"))
  }

  /** Embedding-cosine near-duplicates: exact all-pairs cosine ≥ threshold.
    * Quadratic by design — correct at fixture scale and the verification
    * baseline for the LSH path (SimilarityOps.lshCosinePairs), which is the
    * 100 TB route.
    */
  def embeddingDupPairs(embs: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double = 0.95): DataFrame = {
    // Pre-normalize once per row so each of the O(n²) pairs costs exactly one
    // codegen'd dot product (the HOF cosine would evaluate interpreted and
    // recompute both norms per pair: ~50× slower at bench scale).
    val e = graft.Caching.track(embs.select(col(idCol).as("vec_id"),
      unitVector(asDouble(col(vecCol))).as("nv"), col("label")))
    e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", dotK(col("a.nv"), col("b.nv")))
      .filter(col("cos") >= minCosine)
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 4).as("cos"),
        (col("a.label") === col("b.label")).cast("int").as("same_label"))
  }

  /** Query: embedding near-dup pairs over the embeddings fixture. The
    * fixture vectors are near-orthogonal (max pairwise cosine ≈ 0.55), so the
    * fixture threshold is 0.4; real corpora use ≥ 0.9.
    */
  def embeddingDups(spark: SparkSession, dir: String): DataFrame =
    embeddingDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      minCosine = 0.4)
}
