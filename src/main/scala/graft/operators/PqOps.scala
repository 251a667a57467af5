package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HashExpressions.dotK

/** IVF-PQ: product-quantized similarity search — the memory-bounded third
  * tier of the ANN family (brute / LSH / IVF live in SimilarityOps;
  * reference surface /root/reference/BERTopic_Analysis.py:574-617).
  *
  * Why it exists at 100 TB: the IVF tier still reads full float vectors to
  * re-rank (256 B/vector at d=64) — 100 TB of embeddings cannot live hot.
  * PQ splits each unit vector into M subvectors, quantizes each against a
  * per-subspace codebook (PqCents centroids, seeded KMeans), and stores
  * only the M centroid ids: M bytes per vector, a 32× compression here, and
  * queries score candidates from the codes alone (ADC — asymmetric distance
  * computation): cos(q, x) = Σ_m ⟨q_m, x_m⟩ ≈ Σ_m ⟨q_m, c_{m,code_m(x)}⟩,
  * where the per-(m, cid) query dots are a tiny table computed once per
  * query batch (M · PqCents rows/query, broadcast). The candidate side
  * touches ONLY the coarse lists + code table — full vectors are read for
  * nothing but the final shortlist re-rank.
  *
  * Plan shape: coarse IVF probe (broadcast centroids) → candidate × codes
  * join (M rows per candidate, fixed) → ADC fold in deterministic subspace
  * order → shortlist window → exact re-rank on PqShortlist·k rows. Every
  * shuffle keys on ids; the codebooks and query-dot tables broadcast.
  *
  * Like the LDA/KMeans/IVF fits, the codebook fit is the non-SQL seam: the
  * fitted codebooks + code assignments export via Artifacts and the DuckDB
  * oracle re-derives probe ranking, ADC scores, shortlist, and re-rank
  * bit-exactly (subspace dots and the ADC sum fold in fixed order on both
  * sides). The recall face gauges BOTH the pure-ADC ranking (what the
  * compressed domain alone buys) and the re-ranked two-stage (the shipped
  * search path) against the exact brute-force answer.
  */
object PqOps {

  /** Subspaces (d=64 fixture → 8 dims each) and per-subspace codebook size.
    * PqCents = 32 keeps the code in M·log2(PqCents) = 40 bits per vector
    * (production would use 256 — one byte per subspace). The operating
    * point comes from the RecallProbe sweep (curve in DEPLOY.md): reranked
    * recall saturates at the IVF-probe ceiling (~0.84 mean) once the
    * shortlist grows, so the codebook buys ADC-ranking quality, not final
    * recall — cents 16→32 lifts mean ADC recall 0.27→0.40 for one extra
    * bit per subspace, and 64 adds little (0.44). The knobs trade
    * distortion for memory exactly like nProbe trades recall for scan
    * cost — and the recall face measures what they cost.
    */
  val PqM = 8
  val PqCents = 32

  /** ADC shortlist factor: the exact re-rank reads PqShortlist·k full
    * vectors per query. From the same sweep: at cents=32, factor 4→8 buys
    * mean reranked recall 0.68→0.78 (min 0.3→0.5) for 2× the re-rank
    * reads, and 16 only reaches the 0.83 probe ceiling by re-ranking most
    * of the candidate pool — 8 is the knee.
    */
  val PqShortlist = 8

  /** Subspace width the last PQ fit actually used — read by the oracle-SQL
    * dump (rendered AFTER the query loop; the lastDedupBits pattern).
    */
  @volatile var lastPqDs: Int = 8

  /** Fit the per-subspace codebooks (seeded KMeans, one small fit per
    * subspace) and assign every corpus vector its M codes RELATIONALLY in
    * one pass: explode subvectors, broadcast-join the codebooks, take
    * argmin ||subv − c||² = argmin(‖c‖² − 2⟨subv, c⟩) per (vec, m) with
    * ties to the lowest cid (min over a (dist, cid) struct — deterministic,
    * and one map-side-combinable aggregate instead of M transform passes).
    * Returns (codebooks(m, cid, centroid), codes(vec_id, m, cid), ds).
    */
  def pqFit(corpus: DataFrame, cents: Int = PqCents): (DataFrame, DataFrame, Int) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col("nv"))).head().getInt(0)
    val ds = dim / PqM
    lastPqDs = ds
    // the M subspace fits are independent seeded KMeans runs — forked so
    // their Spark jobs run side by side (the lda_grid pattern): run serially
    // they dominated the PQ queries (each small fit pays ~20 iterations of
    // fixed job overhead; 8 in sequence measured ~10 s at sf0.1)
    val rows = graft.Caching.forkJoin((0 until PqM).map { m => () =>
      val sub = corpus.select(
        array_to_vector(slice(col("nv"), m * ds + 1, ds)).as("v"))
      val km = new KMeans().setK(cents).setSeed(TopicModelOps.Seed + m)
        .setFeaturesCol("v").setPredictionCol("cid").fit(sub)
      km.clusterCenters.zipWithIndex.map { case (c, i) => (m, i, c.toArray) }
    }).flatten
    val codebooks = rows.toDF("m", "cid", "centroid")
    val subs = corpus.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(col("nv"), m * lit(ds) + lit(1), lit(ds)))).as(Seq("m", "subv")))
    val cb = codebooks.withColumn("cnorm2", dotK(col("centroid"), col("centroid")))
    val codes = subs.join(broadcast(cb), "m")
      .withColumn("ndist",
        col("cnorm2") - lit(2.0) * dotK(col("subv"), col("centroid")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("ndist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cid").as("cid"))
    (codebooks, codes, ds)
  }

  /** Per-(query, subspace, centroid) dot table — the ADC lookup table.
    * M · PqCents rows per query; broadcastable at any corpus size.
    */
  private[graft] def qdotOf(codebooks: DataFrame, queries: DataFrame,
                            ds: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"),
        posexplode(transform(sequence(lit(0), lit(PqM - 1)),
          m => slice(col("nv"), m * lit(ds) + lit(1), lit(ds))))
          .as(Seq("m", "qsub")))
      .join(broadcast(codebooks), "m")
      .select(col("query_id"), col("m"), col("cid"),
        dotK(col("qsub"), col("centroid")).as("d"))

  /** The ADC lookup table as ONE row per query: dmat[m][cid] = ⟨q_m, c_{m,cid}⟩,
    * m ascending, cid ascending inside each subspace — the broadcastable
    * matrix form of `qdotOf` (PqM · PqCents doubles per query).
    */
  private[graft] def qdotMat(codebooks: DataFrame, queries: DataFrame,
                             ds: Int): DataFrame =
    qdotOf(codebooks, queries, ds)
      .groupBy(col("query_id"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("cid"), col("d")))),
        x => x.getField("d")).as("ds"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("ds")))),
        x => x.getField("ds")).as("dmat"))

  /** Codes pivoted to the index's physical layout: ONE row per vector,
    * cids[m] = the subspace-m centroid id (m ascending) — in production
    * the PQ code table IS stored this way (M contiguous bytes per vector),
    * so the serving join reads one code row per candidate instead of M.
    */
  private[graft] def codesAsArrays(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cid")))),
        x => x.getField("cid")).as("cids"))

  /** ADC score per candidate from the array-layout code table and the
    * broadcast query matrix: Σ_m dmat[m][cids[m]], added in ascending-m
    * order — the SAME doubles in the SAME fold order as the former
    * per-(m, cid) join + sorted-struct fold (qdotOf's d values, m
    * ascending), with no M× row explosion and no per-pair collect/sort.
    */
  private[graft] def adcScores(cands: DataFrame, codesArr: DataFrame,
                               qmat: DataFrame): DataFrame =
    cands.join(codesArr, "vec_id")
      .join(broadcast(qmat), "query_id")
      .select(col("query_id"), col("vec_id"),
        (0 until PqM).map(m => col("dmat")(m)(col("cids")(m)))
          .reduceLeft(_ + _).as("adc"))

  /** Per-dir fit memo (the TopicModelOps pattern): the 1 coarse + M
    * subspace KMeans fits are the entire cost of the PQ queries, and both
    * faces need the SAME index — without the memo each face paid the full
    * fit chain (measured 11 s/query at sf0.1; the relational downstream is
    * under 1 s). The cached frames embed the FITTED models in their plans,
    * so a cache-storage eviction between queries recomputes transforms,
    * never fits.
    */
  private val cache = graft.Caching.Registry[Any]("pq.codebooks")
  private def cached[T](key: String)(f: => T): T =
    cache.get(key)(f).asInstanceOf[T]

  /** Evict the cached fits (escape hatch for long-lived sessions),
    * releasing the persisted index frames.
    */
  def clearFits(): Unit = cache.clear()

  /** Build (once per dir) the full PQ index over the fixture corpus and
    * export its artifacts (coarse centroids + list assignments + codebooks
    * + codes) for the oracle. Both query faces share the memoized fit;
    * Artifacts.save is idempotent per name and re-invoked per call so a
    * fresh Verify scope still materializes every table.
    */
  private def pqIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    val t @ (_, lists, cents, codebooks, codes, _, _) =
      cached(s"pq:${graft.Fingerprint.dirKey(spark, dir)}") {
        // DURABLY persisted (Caching.materialize, like sim.ivfworld): these
        // frames ARE the stored PQ index — corpus, coarse assignments and
        // the code table are built once per corpus version in production.
        // The former `Caching.track` registration released them at each
        // query's scope exit, so every later invocation re-ran the KMeans
        // transforms and the code-assignment argmin scan — only the FITS
        // were memoized. Registry eviction / clearFits unpersist.
        import graft.Caching.materialize
        val corpus = materialize(SimilarityOps.unitCorpus(Tables.embeddings(spark, dir)))
        val (indexed, cents0) =
          SimilarityOps.ivfIndex(corpus, SimilarityOps.IvfLists)
        val lists0 = materialize(indexed.select(col("vec_id"), col("list")))
        val (codebooks0, codesRaw, ds0) = pqFit(corpus)
        val codes0 = materialize(codesRaw)
        // the served layout: one row per vector, cids in m order — built
        // once with the index (this IS how a PQ code table is stored)
        (corpus, lists0, cents0, codebooks0, codes0,
          materialize(codesAsArrays(codes0)), ds0)
      }
    graft.Artifacts.save("pq_centroids")(cents)
    graft.Artifacts.save("pq_lists")(lists)
    graft.Artifacts.save("pq_codebooks")(codebooks)
    graft.Artifacts.save("pq_codes")(codes)
    t
  }

  /** Two-stage PQ search: coarse probe → ADC over codes → shortlist →
    * exact re-rank of PqShortlist·k rows. Output carries both the ADC
    * estimate and the exact cosine, so the distortion is visible per hit.
    */
  /** ADC scores of every coarse-probed candidate for `queries`. */
  private def candidateAdc(lists: DataFrame, cents: DataFrame,
                           codebooks: DataFrame, codesArr: DataFrame, ds: Int,
                           queries: DataFrame): DataFrame = {
    val probed = SimilarityOps.probeAssignments(cents, queries,
      SimilarityOps.IvfProbe)
    val cands = probed.join(lists, "list")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    adcScores(cands, codesArr, qdotMat(codebooks, queries, ds))
  }

  /** Shortlist the ADC ranking and re-rank exactly — the second stage,
    * split out so the recall face reuses ONE adc frame for both gauges.
    */
  private def rerank(adc: DataFrame, corpus: DataFrame, queries: DataFrame,
                     k: Int, shortlist: Int): DataFrame = {
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val short = adc.withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= shortlist * k)
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    short
      .join(queries.select(col("vec_id").as("query_id"), col("nv").as("qv")),
        "query_id")
      .join(corpus.select(col("vec_id"), col("nv")), "vec_id")
      .withColumn("cos", dotK(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("adc"), 4).as("adc"), round(col("cos"), 4).as("cos"))
  }

  private[graft] def pqSearch(corpus: DataFrame, lists: DataFrame,
                              cents: DataFrame, codebooks: DataFrame,
                              codesArr: DataFrame, ds: Int, queries: DataFrame,
                              k: Int, shortlist: Int = PqShortlist): DataFrame =
    rerank(candidateAdc(lists, cents, codebooks, codesArr, ds, queries),
      corpus, queries, k, shortlist)

  /** Query: IVF-PQ top-3 for the first 50 vectors (the sim_ivf_ann twin,
    * answered from codes + a 12-vector re-rank per query).
    */
  def ivfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, lists, cents, codebooks, _, codesArr, ds) = pqIndex(spark, dir)
    pqSearch(corpus, lists, cents, codebooks, codesArr, ds,
      corpus.filter(col("vec_id") < 50), k = 3)
  }

  /** Query: recall@10 of BOTH PQ rankings against the exact answer — pure
    * ADC (compressed domain only) and the shipped two-stage re-rank. The
    * gap between the two columns is the measured price of scoring from
    * 32-bit codes, and the evidence for the PqShortlist factor.
    */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, lists, cents, codebooks, _, codesArr, ds) = pqIndex(spark, dir)
    val queries = corpus.filter(col("vec_id") < 5)
    val brute = SimilarityOps.bruteForceTopK(corpus, queries, 10)
      .select(col("query_id"), col("vec_id"))
    val adc = graft.Caching.track(
      candidateAdc(lists, cents, codebooks, codesArr, ds, queries))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val adcTop = adc.withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit_adc"))
    val rerTop = rerank(adc, corpus, queries, k = 10,
        shortlist = PqShortlist)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit_rr"))
    brute
      .join(adcTop, Seq("query_id", "vec_id"), "left")
      .join(rerTop, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_brute"),
        sum(coalesce(col("hit_adc"), lit(0))).as("n_hits_adc"),
        sum(coalesce(col("hit_rr"), lit(0))).as("n_hits_rerank"))
      .withColumn("recall_adc", round(col("n_hits_adc") / col("n_brute"), 4))
      .withColumn("recall_rerank",
        round(col("n_hits_rerank") / col("n_brute"), 4))
      .withColumn("index_cfg",
        lit(s"${SimilarityOps.IvfLists}/${SimilarityOps.IvfProbe} pq${PqM}x$PqCents"))
  }
}
