package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.asDouble
import graft.functions.HashExpressions._

/** Approximate-nearest-neighbor similarity search over an embedding column —
  * the generalization of the reference's "rank documents by similarity to a
  * topic centroid" surface (/root/reference/BERTopic_Analysis.py:574-617,
  * SURVEY.md §2.9 M14).
  *
  * Two tiers:
  *   - bruteForceTopK: exact top-k cosine. The query side is tiny and
  *     broadcast; the corpus streams through one codegen'd dot product per
  *     (query, vector) pair. O(|Q|·n) — the correctness baseline, and the
  *     right plan whenever |Q| is small (centroid scoring, eval probes).
  *   - lshTopK: random-hyperplane LSH band values (planeBands), multiprobed
  *     for recall; only bucket-mates are scored. At 100 TB the band columns
  *     become a pre-materialized index table and the bucket join is the only
  *     shuffle. Per-query candidate volume ≈ nProbe · B · n / 2^b, so the
  *     band width b is the scaling knob (same as the simhash tier): hold
  *     b ≳ log2(B·n / targetCandidates) as the corpus grows and candidate
  *     sets stay ~constant per query.
  *
  * Band-config math (sign-agreement probability p = 1 − θ/π for a pair at
  * angle θ): a pair shares a b-bit band with prob. p^b, any of B bands with
  * 1 − (1 − p^b)^B; random pairs (p ≈ ½) collide at ≈ B/2^b. The dedup tier
  * (16 bands × 12 bits) finds cos ≥ 0.9 near-dups (p ≈ .857) with ~94%
  * recall at a 16/4096 ≈ 0.4% random-collision floor; the ANN tier
  * (12 bands × 10 bits, Hamming ≤ 2 multiprobe) holds recall at the
  * fixture's much harder cos ≈ 0.4–0.6 operating point (θ ≈ 60°, p ≈ .67 —
  * near-orthogonal vectors, so ANY sub-quadratic index trades recall;
  * measured frontier in DEPLOY.md). All arithmetic (unit vectors,
  * ordered-fold dots, 3-round-LCG hyperplanes) is bit-reproducible in the
  * DuckDB oracle.
  */
object SimilarityOps {

  /** Embedding near-dup tier: wide bands, no probing — sized for true
    * near-duplicates (cos ≥ 0.9). Band WIDTH is the corpus-size knob
    * (exactly like the simhash tier's band bits and the n-gram tier's df
    * cap): the random-collision floor is ≈ DedupBands · n / 2^bits
    * candidates per doc, so bits grows as log2(n) to pin per-doc candidate
    * volume — candidate totals then scale linearly with the corpus, and
    * recall at the operating point degrades gracefully (exact copies
    * always share all bands; cos 0.95 pairs collide at ≥ 96% even at
    * bits = 16).
    */
  val DedupBands = 16

  /** Default width at fixture scale; the dedup faces scale it with
    * dedupBandBits, and their oracles render the same formula over the
    * row count they read (SparkEntry.bandBitsSql).
    */
  val DedupBandBits = 12

  /** log2-scaled band width targeting ~10 random-collision candidates per
    * doc: smallest bits with 2^bits ≥ DedupBands · n / 10, clamped to
    * [10, 30].
    */
  def dedupBandBits(n: Long): Int = {
    val target = math.max(1.0, DedupBands.toDouble * n / 10.0)
    val b = math.ceil(math.log(target) / math.log(2.0)).toInt
    math.min(30, math.max(10, b))
  }

  /** ANN tier: narrower bands + Hamming ≤ 2 multiprobe on the query side —
    * sized for moderate-similarity top-k on near-orthogonal corpora.
    */
  val AnnBands = 12
  val AnnBandBits = 10

  /** IVF tier operating point, shared by the queries AND their oracle SQL
    * (both render from these constants, so turning the knob cannot desync
    * the two sides). Chosen from the RecallProbe sweep (curve in DEPLOY.md,
    * r10): at EQUAL scan cost, more lists strictly win (32/8 beats 16/4,
    * 32/16 beats 16/8 at both sf0.01 and sf0.1), so lists doubled and the
    * probe count buys the recall knee — recall@10 mean 0.50 → 0.84
    * (min 0.30 → 0.50) for ~2.2× the scanned fraction, on the fixture's
    * adversarial near-orthogonal corpus where recall is lift-limited for
    * any sub-quadratic index. RecallBandSpec pins the floors this point
    * buys; nProbe stays the deployment's recall/cost dial (the committed
    * curve is the evidence for turning it).
    */
  val IvfLists = 32
  val IvfProbe = 16

  /** Multiprobe flip masks: every XOR mask of Hamming weight ≤ 2 within an
    * AnnBandBits-wide band (1 + 10 + 45 = 56 probes per band).
    */
  val AnnFlips: Seq[Long] =
    Seq(0L) ++
      (0 until AnnBandBits).map(i => 1L << i) ++
      (for {
        i <- 0 until AnnBandBits
        k <- (i + 1) until AnnBandBits
      } yield (1L << i) | (1L << k))

  /** Corpus with unit vectors (norm computed once per row). */
  private[graft] def unitCorpus(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), unitVector(asDouble(col("embedding"))).as("nv"),
      col("label"))

  /** Exact cosine top-k with the UNROUNDED cosine kept — for consumers
    * whose downstream math needs the bit-exact value (e.g. MMR).
    */
  def bruteForceTopKUnrounded(corpus: DataFrame, queries: DataFrame,
                              k: Int): DataFrame = {
    val scored = queries.select(col("vec_id").as("query_id"), col("nv").as("qv"))
      .join(corpus.select(col("vec_id"), col("nv")),
        col("query_id") =!= col("vec_id"))
      .withColumn("cos", dotK(col("qv"), col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Exact cosine top-k for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteForceTopKUnrounded(corpus, queries, k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("cos"))

  /** Query: exact top-10 neighbors for the first 5 vectors. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.Caching.track(unitCorpus(Tables.embeddings(spark, dir)))
    bruteForceTopK(corpus, corpus.filter(col("vec_id") < 5), 10)
  }

  /** Banded-sketch column for the LSH index: `bands` = array of `bands`
    * Long band values, each packing `bits` hyperplane sign bits.
    */
  def withBands(corpus: DataFrame, bands: Int, bits: Int): DataFrame =
    corpus.withColumn("bands", planeBands(col("nv"), bands, bits))

  /** LSH-bucketed approximate top-k: the query side probes every band value
    * within Hamming ≤ 2 of its own (56 probes per band — multiprobe trades
    * map-side probe rows, which are free, for recall that would otherwise
    * need 56× more bands in the index); candidates share ≥1 probed bucket,
    * then exact cosine re-rank on the (small) candidate set.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cbuckets = corpus.select(col("vec_id"),
      posexplode(col("bands")).as(Seq("band", "band_val")))
    val qprobes = queries
      .select(col("vec_id").as("query_id"),
        posexplode(col("bands")).as(Seq("band", "band_val")))
      .withColumn("flip", explode(typedLit(AnnFlips)))
      .select(col("query_id"), col("band"),
        col("band_val").bitwiseXOR(col("flip")).as("band_val"))
    // distinct over ids only — deduping rows that carry the 64-dim vectors
    // would hash the arrays themselves; vectors re-attach after the dedup
    val cands = qprobes
      .join(cbuckets, Seq("band", "band_val"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cands
      .join(queries.select(col("vec_id").as("query_id"), col("nv").as("qv")),
        "query_id")
      .join(corpus.select(col("vec_id"), col("nv")), "vec_id")
      .withColumn("cos", dotK(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Stored-index registry for the BANDED corpora — the (vec_id, nv,
    * label, bands) frame both LSH tiers probe, persisted per (corpus,
    * tier). The band columns are "a pre-materialized index table" at
    * 100 TB by this file's own contract (built once per corpus version,
    * probed by every ANN/dedup face), yet each face re-ran the
    * 192-hyperplane sketch scan per invocation.
    */
  private val bandsCache = graft.Caching.Registry[DataFrame]("sim.bands")

  private def bandedCorpus(spark: SparkSession, dir: String, tier: String,
                           bands: Int, bitsOf: DataFrame => Int): DataFrame =
    bandsCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|$tier") {
      val embs = Tables.embeddings(spark, dir)
      val df = withBands(unitCorpus(embs), bands, bitsOf(embs)).persist()
      df.count() // materialize before the building query's scope ends
      df
    }

  /** Query: LSH ANN top-3 for the first 50 vectors. */
  def lshAnn(spark: SparkSession, dir: String): DataFrame = {
    val corpus = bandedCorpus(spark, dir, "ann", AnnBands, _ => AnnBandBits)
    lshTopK(corpus, corpus.filter(col("vec_id") < 50), 3)
  }

  /** Query: recall@10 of the LSH-ANN tier against the exact brute-force
    * answer on the probe query set — the quality gauge an ANN deployment
    * ships alongside its index parameters (recorded in the output: bands ×
    * bits here; nprobe/nlists for the IVF tier). Both sides are
    * deterministic, so the recall itself sits under the exact oracle.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val corpus = bandedCorpus(spark, dir, "ann", AnnBands, _ => AnnBandBits)
    val queries = corpus.filter(col("vec_id") < 5)
    recallAtK(bruteForceTopK(corpus, queries, 10), lshTopK(corpus, queries, 10))
      .withColumn("index_cfg",
        concat_ws("x", lit(AnnBands), lit(AnnBandBits)))
  }

  /** Per-query recall@k of an approximate top-k against the exact one —
    * (query_id, n_brute, n_hits, recall). Both sides carry
    * (query_id, vec_id); every recall gauge (LSH, IVF, balanced IVF, RAG,
    * drift tiers) reports through this one join.
    */
  private[graft] def recallAtK(brute: DataFrame, ann: DataFrame): DataFrame =
    brute.select(col("query_id"), col("vec_id"))
      .join(ann.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_brute"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("recall", round(col("n_hits") / col("n_brute"), 4))

  /** Query: recall@10 of the IVF tier against the exact brute-force answer
    * on the probe query set — the IVF twin of `annRecall`, so BOTH index
    * tiers ship a recall gauge next to their knobs (nLists/nProbe here;
    * bands × bits for LSH). The quantizer artifacts export as in `ivfAnn`
    * (same seeded fit ⇒ identical tables), and the oracle re-derives the
    * probe ranking, in-list re-rank, and recall from them exactly.
    */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, indexed, cents) = ivfWorld(spark, dir)
    val queries = corpus.filter(col("vec_id") < 5)
    graft.Artifacts.save("ivf_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("ivf_centroids")(cents)
    recallAtK(bruteForceTopK(corpus, queries, 10),
        ivfProbe(indexed, cents, queries, k = 10, nProbe = IvfProbe))
      .withColumn("index_cfg", concat_ws("/", lit(IvfLists), lit(IvfProbe)))
  }

  /** Stored-index registry for the balanced worlds — (corpus, indexed,
    * centroids, residual count, operating point), all persisted. The
    * balanced index is a STORED table in production (built once per
    * corpus version, probed many times — the `indexmaint.worlds` /
    * `retrieval.ragindex` contract), and the twin's skew makes the build
    * expensive BY DESIGN (~30 split rounds at sf0.1: the fair-share loop
    * doing its job on the planted family); re-fitting it per probe run
    * measured 51 s/run on the r18 board — a cost no deployment pays
    * twice. Keyed by corpus fingerprint, so each corpus flavor gets its
    * own entry.
    */
  private val balancedCache =
    graft.Caching.Registry[(DataFrame, DataFrame, DataFrame, Long, (Int, Int))]("sim.balanced")

  def clearBalancedCache(): Unit =
    Seq(balancedCache, ivfWorldCache, bandsCache).foreach(_.clear())

  /** Stored-index registry for the PLAIN IVF world — (unit corpus,
    * assignments, centroids), all persisted. Same contract as
    * `balancedCache` / `indexmaint.worlds` / `retrieval.ragindex`: the
    * IVF index is a stored table in production (built once per corpus
    * version, probed many times), yet four probe faces (`sim_ivf_ann`,
    * `sim_ivf_recall`, `sim_hard_negatives`, `sim_eval_rank`) were each
    * re-running the seeded KMeans fit + assignment scan per invocation —
    * a cost no deployment pays per query (r18; the drift/incremental/
    * balanced/RAG tiers already rode registries). The fit is seeded, so
    * every consumer sees the identical index the Artifacts export pins.
    */
  private val ivfWorldCache =
    graft.Caching.Registry[(DataFrame, DataFrame, DataFrame)]("sim.ivfworld")

  private[operators] def ivfWorld(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    ivfWorldCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val corpus = graft.Caching.materialize(unitCorpus(Tables.embeddings(spark, dir)))
      val (indexed0, cents0) = ivfIndex(corpus, nLists = IvfLists)
      (corpus, graft.Caching.materialize(indexed0), graft.Caching.materialize(cents0))
    }

  private def balancedWorlds(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Long, (Int, Int)) = {
    val worlds = balancedCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val corpus = graft.Caching.materialize(unitCorpus(Tables.embeddings(spark, dir)))
      val (indexed0, cents0, residual) =
        ivfIndexBalancedReport(corpus, nLists = IvfLists)
      val indexed = graft.Caching.materialize(indexed0)
      val cents = graft.Caching.materialize(cents0)
      val nListsAfter = cents.count().toInt
      val nProbeScaled = math.max(1,
        math.round(IvfProbe.toDouble * nListsAfter / IvfLists).toInt)
      (corpus, indexed, cents, residual.length.toLong,
        (nListsAfter, nProbeScaled))
    }
    val (_, indexed, cents, _, _) = worlds
    graft.Artifacts.save("ivf_bal_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("ivf_bal_centroids")(cents)
    worlds
  }

  /** Query: recall@10 of the BALANCED IVF tier at the nProbe-scaled
    * operating point. `ivfRecall`'s twin with the hot-list guard applied:
    * the guard splits oversized lists (the sf0.01 embeddings naturally
    * hold a >2×-fair-share list at 32 lists, so this exercises a REAL
    * split, not a planted one), and the probe scales nProbe with the
    * post-split list count so the same corpus FRACTION is probed — the
    * deployment recipe DEPLOY's dense-skew table prescribes (fixed nProbe
    * over more lists probes a smaller fraction and silently costs
    * recall). `n_residual` carries the give-up indicator from
    * ivfIndexBalancedReport, re-derived by the oracle as the count of
    * persisted lists still above the fair-share cap. The operating point
    * is data-dependent (the twin's planted dup family forces more splits),
    * so the oracle derives it from the exported centroid table's row
    * count rather than from a constant.
    */
  def ivfRecallBalanced(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, indexed, cents, nResidual, (nListsAfter, nProbeScaled)) =
      balancedWorlds(spark, dir)
    val queries = corpus.filter(col("vec_id") < 5)
    recallAtK(bruteForceTopK(corpus, queries, 10),
        ivfProbe(indexed, cents, queries, k = 10, nProbe = nProbeScaled))
      .withColumn("index_cfg",
        concat_ws("/", lit(nListsAfter), lit(nProbeScaled)))
      .withColumn("n_residual", lit(nResidual))
  }

  /** IVF (inverted-file) index: a seeded KMeans coarse quantizer assigns
    * every corpus vector to its nearest centroid's list; queries probe the
    * `nProbe` nearest lists and re-rank exactly. The second ANN tier next to
    * lshTopK: at 100 TB the lists are a bucketed/partitioned table keyed by
    * list id, the centroid table is a broadcast of `nLists` rows, and each
    * query scans ~n·nProbe/nLists vectors instead of n.
    * Returns (indexed corpus with `list`, centroid table (list, centroid)).
    */
  def ivfIndex(corpus: DataFrame, nLists: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = corpus.withColumn("v", array_to_vector(col("nv")))
    val km = new KMeans().setK(nLists).setSeed(TopicModelOps.Seed)
      .setFeaturesCol("v").setPredictionCol("list").fit(vecs)
    val indexed = km.transform(vecs).drop("v")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = km.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("list", "centroid")
    (indexed, cents)
  }

  /** Hot-list guard for the IVF tier: re-fit after splitting any list
    * whose occupancy exceeds `maxShare` fair shares (2× by default). A
    * clustered embedding mass (boilerplate pages, one template family —
    * the dense twin of the heavycluster text regime) pulls one centroid
    * onto itself and that list inherits the whole mass; every query that
    * probes it then scans a corpus-fraction, not a 1/nLists share, and
    * probe cost degrades SILENTLY (recall stays fine — the scan is merely
    * huge). The guard re-clusters each oversized list into its own
    * sub-lists (one extra bounded KMeans per hot list, fit only on that
    * list's vectors), retires the split centroid, and appends the
    * sub-centroids — downstream probe code is unchanged because the index
    * contract is just (indexed.list, cents). One split pass bounds the
    * worst list at ~maxShare·n/nLists for any single planted mass; a
    * warehouse build would iterate to a fixpoint, which this loop does
    * (at most `BalanceRounds` passes, each only touching still-oversized
    * lists).
    */
  val BalanceRounds = 3

  def ivfIndexBalanced(corpus: DataFrame, nLists: Int,
                       maxShare: Double = 2.0): (DataFrame, DataFrame) = {
    val (indexed, cents, _) = ivfIndexBalancedReport(corpus, nLists, maxShare)
    (indexed, cents)
  }

  /** `ivfIndexBalanced` plus the RESIDUAL oversized lists — (list, size)
    * pairs still over the cap when the bounded loop exits. Without this
    * the caller cannot distinguish "balanced" from "gave up" (an
    * identical-vector mass KMeans cannot split exits after BalanceRounds
    * looking exactly like success). A list whose sub-fit produced NO size
    * reduction (one child inherits the parent's full count — the
    * unsplittable signature) is also excluded from later rounds, so the
    * loop never re-fits a provably unsplittable mass.
    */
  def ivfIndexBalancedReport(corpus: DataFrame, nLists: Int,
                             maxShare: Double = 2.0)
      : (DataFrame, DataFrame, Array[(Int, Long)]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    var (indexed, cents) = ivfIndex(corpus, nLists)
    val n = corpus.count()
    val fair = math.max(1.0, n.toDouble / nLists)
    val cap = math.ceil(maxShare * fair).toLong
    var nextList = nLists
    var round = 0
    def findOversized(): Array[(Int, Long)] = indexed
      .groupBy("list").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > cap)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // child list -> its parent's pre-split size: a child matching it did
    // not reduce, i.e. the parent mass was unsplittable
    var parentSize = Map.empty[Int, Long]
    val unsplittable = scala.collection.mutable.Set.empty[Int]
    var residual = findOversized()
    var oversized = residual
    while (oversized.nonEmpty && round < BalanceRounds) {
      // cache the pre-split assignment: every sub-fit filters it, and the
      // split loop is bounded by the (driver-held) oversized list set
      indexed = graft.Caching.track(indexed)
      var out = indexed.filter(!col("list")
        .isin(oversized.map(_._1.asInstanceOf[Any]): _*))
      var newCents = cents.filter(!col("list")
        .isin(oversized.map(_._1.asInstanceOf[Any]): _*))
      for ((l, sz) <- oversized.sortBy(_._1)) {
        val sub = indexed.filter(col("list") === l).drop("list")
          .withColumn("v", array_to_vector(col("nv")))
        val k = math.max(2, math.ceil(sz.toDouble / fair).toInt)
        val km = new KMeans().setK(k).setSeed(TopicModelOps.Seed + l + 1)
          .setFeaturesCol("v").setPredictionCol("sub").fit(sub)
        val base = nextList
        out = out.unionByName(km.transform(sub).drop("v")
          .withColumn("list", col("sub") + base).drop("sub"))
        newCents = newCents.unionByName(km.clusterCenters.zipWithIndex
          .map { case (c, i) => (base + i, c.toArray.toSeq) }.toSeq
          .toDF("list", "centroid"))
        parentSize ++= (base until base + k).map(_ -> sz)
        nextList += k
      }
      indexed = out
      cents = newCents
      round += 1
      residual = findOversized()
      residual.foreach { case (l, sz) =>
        if (parentSize.get(l).contains(sz)) unsplittable += l
      }
      oversized = residual.filterNot(t => unsplittable.contains(t._1))
    }
    (indexed, cents, residual)
  }

  /** IVF-probed approximate top-k: each query scores only the vectors in its
    * `nProbe` nearest lists (by centroid dot product on unit vectors), then
    * exact cosine re-rank — identical output shape to lshTopK/bruteForceTopK.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = IvfLists, nProbe: Int = IvfProbe): DataFrame = {
    val (indexed, cents) = ivfIndex(corpus, nLists)
    ivfProbe(indexed, cents, queries, k, nProbe)
  }

  /** The relational half of the IVF search (everything downstream of the
    * quantizer fit): probe the `nProbe` nearest lists, exact re-rank inside
    * them. Split out so the oracle can verify it from the persisted index.
    */
  def ivfProbe(indexed: DataFrame, cents: DataFrame, queries: DataFrame,
               k: Int, nProbe: Int): DataFrame = {
    val probed = probeAssignments(cents, queries, nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probed
      .join(indexed.select(col("vec_id"), col("nv"), col("list")), "list")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dotK(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** The probe half of the IVF search on its own — (query_id, qv, list) for
    * each query's `nProbe` nearest lists. Shared by `ivfProbe` and the
    * RecallProbe cost gauge (which joins it against list sizes to measure
    * the fraction of the corpus a probe setting actually scans).
    */
  private[graft] def probeAssignments(cents: DataFrame, queries: DataFrame,
                                      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdot").desc, col("list"))
    queries.select(col("vec_id").as("query_id"), col("nv").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dotK(col("qv"), col("centroid")))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qv"), col("list"))
  }

  /** Query: IVF ANN top-3 for the first 50 vectors. The quantizer fit stays
    * rows-only territory, but its artifacts (centroid table + list
    * assignments) export for the oracle, which re-runs the probe ranking and
    * the in-list exact re-rank bit-identically (unit vectors and ordered-fold
    * dots are exact in DuckDB; BruteVsIvfSpec pins recall on top).
    */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, indexed, cents) = ivfWorld(spark, dir)
    graft.Artifacts.save("ivf_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("ivf_centroids")(cents)
    ivfProbe(indexed, cents, corpus.filter(col("vec_id") < 50), k = 3,
      nProbe = IvfProbe)
  }

  /** Hard-negative mining for contrastive training: each query's top-k
    * most-similar vectors whose LABEL differs — near neighbors from the
    * wrong class are exactly the negatives an embedding model learns most
    * from (in-batch random negatives are too easy). Rides the IVF probe
    * path unchanged: probe the nProbe nearest lists, drop same-label rows
    * BEFORE the exact re-rank, top-k per query. Same scale story as
    * `sim_ivf_ann` — the label filter only shrinks the re-rank set.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, indexed, cents) = ivfWorld(spark, dir)
    graft.Artifacts.save("ivf_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("ivf_centroids")(cents)
    val queries = corpus.filter(col("vec_id") < 50)
    val probed = probeAssignments(cents, queries, IvfProbe)
      .join(queries.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), "query_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probed
      .join(indexed.select(col("vec_id"), col("nv"), col("label"),
        col("list")), "list")
      .filter(col("label") =!= col("qlabel"))
      .withColumn("cos", dotK(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("label").as("neg_label"), round(col("cos"), 4).as("cos"))
  }

  /** LSH-bucketed near-duplicate pairs: candidates share ≥1 sketch band,
    * survivors keep exact cosine ≥ minCosine. The scale path for embedding
    * dedup (DedupOps.embeddingDupPairs is the quadratic verification
    * baseline): the only shuffle is the (band, band_val) self-equi-join on
    * fixed-width keys. With 12-bit bands the random-collision floor is
    * B/2^b ≈ 0.4% of pairs and TRUE near-dups (cos ≥ 0.9, the real dedup
    * operating point — the fixture's 0.4 threshold sits at θ ≈ 66° where
    * band agreement is inherently weak) collide with ~94% probability, so
    * candidate volume tracks genuine duplicates plus that floor, and at
    * 100 TB the band columns are a pre-materialized index with b grown as
    * log2(n) to pin the floor (`dedupBandBits`).
    * `corpus` needs (vec_id, nv, label, bands) — see withBands.
    */
  def lshCosinePairs(corpus: DataFrame, minCosine: Double,
                     maxBucket: Int = DedupOps.HotBucketCap): DataFrame = {
    // Same production guard as the minhash/simhash pair faces: a band
    // bucket holding m identical (or merely band-colliding) vectors emits
    // C(m,2) candidate rows, so the PAIR query caps each (band, value)
    // bucket at its `maxBucket` lowest vec_ids before the self-join —
    // bounded emission under adversarial multiplicity, truncation
    // observable via `bucketTruncationReport`. The CLUSTER path passes
    // Int.MaxValue: single-linkage needs every verified edge, and its
    // vector-equal contraction already collapses the viral-duplicate case.
    val buckets = DedupOps.capHotBuckets(
      corpus.select(col("vec_id"),
        posexplode(col("bands")).as(Seq("band", "band_val"))),
      "band_val", maxBucket, idCol = "vec_id")
    // dedup candidate ids before re-attaching vectors (hashing 64-dim arrays
    // through the distinct would dominate the exchange)
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(corpus.select(col("vec_id").as("vec_a"), col("nv").as("nv_a"),
        col("label").as("label_a")), "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"), col("nv").as("nv_b"),
        col("label").as("label_b")), "vec_b")
      .withColumn("cos", dotK(col("nv_a"), col("nv_b")))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"),
        (col("label_a") === col("label_b")).cast("int").as("same_label"))
  }

  /** Bucket size above which `anchorCosinePairs` switches a (band, value)
    * bucket from exact all-pairs edges to anchor edges. Sized so the
    * CORRECTNESS fixture stays entirely on the exact path (sf0.01 max
    * bucket: 44) while the skewed regimes go linear (sf0.1 max bucket 332;
    * the 30× replica probe's 4 248-member buckets were emitting 408M
    * all-pairs candidate rows — anchor edges cut that to ~16M).
    */
  val AnchorCap = 64

  /** Near-dup EDGES for cluster faces over skew-prone sign-band sketches:
    * buckets at or under `exactCap` emit exact all-pairs candidates
    * (true single-linkage edges after cosine verification); larger
    * buckets emit one edge per member to the bucket ANCHOR (its min
    * vec_id) — linear in bucket size instead of quadratic, the canopy-
    * style verification real dedup systems use in the viral-duplicate
    * regime. Above the cap the linkage can under-merge a pair that fails
    * against the anchor but passes pairwise; a viral group of
    * near-identical copies always links (every copy verifies against the
    * copy-anchor at cos ≈ 1). Unlike the minhash tier — whose band hash
    * only collides on near-identical signatures — hyperplane sign bands
    * collide at measurable rates for moderate-cosine pairs, so text-
    * derived (cone-ish) vector corpora produce thousand-member buckets
    * where the embedding fixture's isotropic vectors never do; this is
    * the cluster-face sibling of the pair face's `capHotBuckets`, keeping
    * every bucket's cost linear while truncating nothing silently (the
    * anchor path is semantics, not truncation).
    */
  def anchorCosinePairs(corpus: DataFrame, minCosine: Double,
                        exactCap: Int = AnchorCap): DataFrame = {
    val w = Window.partitionBy(col("band"), col("band_val"))
    val buckets = corpus.select(col("vec_id"),
        posexplode(col("bands")).as(Seq("band", "band_val")))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("anchor", min(col("vec_id")).over(w))
    val small = buckets.filter(col("m") <= exactCap)
      .select(col("vec_id"), col("band"), col("band_val"))
    val smallPairs = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val anchorPairs = buckets
      .filter(col("m") > exactCap && col("vec_id") =!= col("anchor"))
      .select(col("anchor").as("vec_a"), col("vec_id").as("vec_b"))
    val cands = smallPairs.unionByName(anchorPairs).distinct()
    cands
      .join(corpus.select(col("vec_id").as("vec_a"), col("nv").as("nv_a")),
        "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"), col("nv").as("nv_b")),
        "vec_b")
      .filter(dotK(col("nv_a"), col("nv_b")) >= minCosine)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Query: LSH-bucketed embedding near-dup pairs (threshold matches
    * dedup_embed_cosine so the two views are directly comparable; the LSH
    * view trades recall on sub-band-collision pairs for linear scaling).
    */
  def lshDupPairs(spark: SparkSession, dir: String): DataFrame = {
    lshCosinePairs(dedupCorpus(spark, dir), minCosine = 0.4)
  }

  /** Unit corpus with corpus-scaled dedup bands, registry-backed
    * (`sim.bands`). The oracle renders the same width from the
    * embeddings row count it reads.
    */
  private def dedupCorpus(spark: SparkSession, dir: String): DataFrame =
    bandedCorpus(spark, dir, "dedup", DedupBands,
      embs => dedupBandBits(embs.count()))

  /** Diagnostic twin of the embed pair face's cap (the embedding sibling of
    * DedupOps.bucketTruncationReport): the (band, band_val) buckets
    * `lshCosinePairs` truncated, with occupancy and kept count. Empty
    * whenever the cap is not binding — the fixture/bench regime — so a
    * deployment runs it next to the capped pairs job and truncation is a
    * reported fact, never a silent one.
    */
  def bucketTruncationReport(corpus: DataFrame,
                             cap: Int = DedupOps.HotBucketCap): DataFrame =
    corpus
      .select(col("vec_id"), posexplode(col("bands")).as(Seq("band", "band_val")))
      .groupBy(col("band"), col("band_val").as("bucket_key"))
      .agg(count(lit(1)).as("n_vecs"))
      .filter(col("n_vecs") > cap)
      .select(lit("embed_lsh").as("tier"), col("band"), col("bucket_key"),
        col("n_vecs"), lit(cap).as("kept"))

  /** Query: embedding near-dup CLUSTERS — the dedup-ACTION view of the LSH
    * pair path, completing the cluster trio next to minhash/simhash:
    * cosine-verified pairs (≥ the dedup_embed_lsh threshold) are the edges,
    * min-label propagation collapses chains, clusters with > 1 member
    * report size and representative. Linear output at any duplicate
    * multiplicity.
    */
  def lshDupClusterProfile(spark: SparkSession, dir: String,
                           contract: Option[Boolean] = None): DataFrame = {
    // Vector-equal rows CONTRACT to one node before pairing (r10, the
    // embed twin of simhashClusters' fp contraction): identical unit
    // vectors share every band (the planes are deterministic) and pair at
    // cos 1.0 ≥ any threshold, so class members are guaranteed mutual
    // edges — a viral group of m exact-copy vectors would otherwise
    // materialize C(m,2) cosine-verified edges. Cross-class edges depend
    // only on the nv values, and the class rep is the class min, so the
    // propagated labels are unchanged (pinned by spec). The nv groupBy
    // hashes each 64-dim vector once — the index-build class of cost, not
    // a per-pair one.
    //
    // As with simhashClusters (r11), the pre-pass runs only when its
    // duplicate-pair mass pays (`contractionPays` over the cached unit
    // corpus): the fixture's fully-distinct vectors take the direct
    // verified-edge build; adversarial copy-multiplicity contracts.
    val corpus = dedupCorpus(spark, dir)
    val labels =
      if (!contract.getOrElse(DedupOps.contractionPays(corpus, "nv"))) {
        val edges = lshCosinePairs(corpus, minCosine = 0.4,
            maxBucket = Int.MaxValue)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        DedupOps.propagateEdges(edges, DedupOps.ClusterRounds)
          .join(corpus.select(col("vec_id").as("doc_id")), Seq("doc_id"), "right")
          .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
      } else {
        val classes = graft.Caching.track(corpus.groupBy(col("nv"))
          .agg(min(col("vec_id")).as("rep"), first(col("bands")).as("bands"),
            first(col("label")).as("label")))
        val reps = classes.select(col("rep").as("vec_id"), col("nv"),
          col("label"), col("bands"))
        val edges = lshCosinePairs(reps, minCosine = 0.4,
            maxBucket = Int.MaxValue)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        DedupOps.propagateEdges(edges, DedupOps.ClusterRounds)
          .select(col("doc_id").as("rep"), col("label"))
          .join(classes.select(col("nv"), col("rep")), Seq("rep"), "right")
          .join(corpus.select(col("vec_id").as("doc_id"), col("nv")), Seq("nv"))
          .select(col("doc_id"), coalesce(col("label"), col("rep")).as("label"))
      }
    labels
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_vecs"), max(col("doc_id")).as("max_vec_id"))
      .filter(col("n_vecs") > 1)
  }
}
