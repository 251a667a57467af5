package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.HashExpressions.{tokenHashesK, windowHashSet}
import graft.functions.TextExpressions.tfMapK

/** Lexical retrieval + collocation tier — the sparse half of a
  * training-data pipeline's retrieval stack, complementing the dense ANN
  * tier (SimilarityOps): BM25 over a distributed inverted index, PMI
  * collocation mining, and asymmetric n-gram containment (the near-dup
  * measure Jaccard misses when one document subsumes another).
  *
  * The reference has no retrieval surface; this generalizes its TF-IDF
  * scoring (SURVEY.md §2.5 A9, /root/reference/LDA_Analysis.py's
  * CountVectorizer+TfidfTransformer usage) to the query-time ranking a
  * RAG / decontamination / hard-negative pipeline runs at scale.
  *
  * Scale shape (100 TB lens):
  *   - BM25: the postings frame IS the inverted index — partitioned by
  *     word, built in one scan (tfMap kernel: no token-level shuffle).
  *     The query side is bounded (a query set, not the corpus), so it
  *     broadcasts against the postings and the only full shuffle is the
  *     per-(query, doc) score aggregation over MATCHED postings — cost
  *     tracks hits, never |corpus| × |queries|.
  *   - PMI: two aggregates over one tokenize scan; the scored join is
  *     (min-count-filtered bigrams) × (vocabulary) — both model-bounded.
  *   - Containment: same rare-gram posting join as ngramJaccardPairs
  *     (df-capped, ≥2 shared grams), so candidate emission is bounded the
  *     same way; only the final measure differs (directional overlap).
  */
object RetrievalOps {

  /** BM25 free parameters — the Robertson/Spärck Jones defaults. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** (doc_id, word, tf) postings from one kernel pass — the inverted
    * index as a frame. tf is exact (LongType from the tfMap kernel).
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(tfMapK(tokens(col(textCol)))).as(Seq("word", "tf")))

  /** Cross-query registry of the corpus postings frame, content-keyed
    * like every other deterministic-fit registry (Fingerprint.dirKey):
    * five retrieval faces (bm25 / ql / prf / hybrid's lexical side /
    * percolate's standing build) share ONE tokenize scan per corpus
    * version instead of five. Same lifetime contract as DedupOps'
    * labelCache — Bench/Verify clear at teardown.
    */
  private val postingsCache = graft.Caching.Registry[DataFrame]("retrieval.postings")
  private val posPostingsCache =
    graft.Caching.Registry[DataFrame]("retrieval.pospostings")

  def clearPostingsCache(): Unit =
    Seq(postingsCache, posPostingsCache, frozenStandingCache, enrichedCache).foreach(_.clear())

  /** Cross-query registry of the ENRICHED corpus postings — per-posting
    * BM25 impact weights (word, doc_id, contrib), the precomputed form a
    * real index stores (Lucene norms / impact-ordered postings): built
    * once per corpus version, served by every BM25-scored face. bm25,
    * PRF (both its scoring passes) and the hybrid fusion's lexical side
    * each re-ran the df/dl/stats joins per invocation; the maintained-
    * index refresh face keeps its live enrichment — re-deriving serve
    * stats from the refreshed index IS that operator.
    */
  private val enrichedCache = graft.Caching.Registry[DataFrame]("retrieval.enriched")

  private def corpusEnriched(spark: SparkSession, dir: String): DataFrame =
    enrichedCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      graft.Caching.materialize(bm25Enriched(corpusPostings(spark, dir)))
    }

  /** Registry for the percolation drift gauge's FROZEN standing stats —
    * the version-A standing-query index (per-(query, word) idf + frozen
    * avgdl/nDocs). A deployed percolator freezes these once per index
    * build and serves from them until the gauge says rebuild; re-deriving
    * them per gauge run re-tokenized the whole A corpus. The retrained
    * (fresh-B) stats and both scoring passes stay live — they ARE the
    * gauge's measurement (the indexmaint.worlds contract, lexical twin).
    */
  private val frozenStandingCache =
    graft.Caching.Registry[StandingQueries]("retrieval.frozenstanding")

  private def corpusPostings(spark: SparkSession, dir: String): DataFrame =
    postingsCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      graft.Caching.materialize(postings(Tables.documents(spark, dir), "doc_id", "text"))
    }

  /** POSITIONAL postings (doc_id, pos, word) from the same one kernel
    * scan — the index variant phrase and proximity retrieval need. The
    * frequency index (`postings`) aggregates this away; keeping positions
    * costs one row per token instead of one per (doc, word), which is the
    * standard positional-index overhead (~avg tf ≈ 1.1 on this fixture's
    * term space). Registry-shared like `corpusPostings`.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "word")))

  private def corpusPositional(spark: SparkSession, dir: String): DataFrame =
    posPostingsCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val pp = positionalPostings(Tables.documents(spark, dir), "doc_id", "text")
        .persist()
      pp.count()
      pp
    }

  /** Phrase length of the probe phrases and the unordered proximity
    * window (in token positions over the shared term space).
    */
  val PhraseLen = 3
  val ProxWindow = 8

  /** Exact-phrase matches over a positional postings frame — the
    * decontamination / RAG-grounding workhorse the frequency index can't
    * serve. `phrases` carries (query_id, off, word) with off ∈ [0, len);
    * a doc matches at start s iff every phrase term sits at position
    * s + off. The classic positional-join plan: phrase terms broadcast
    * (query-set-bounded), ONE join against the positional postings, and
    * the per-(query, doc, start) count equals the phrase length exactly
    * when all offsets matched — phrase length is a constant in the plan,
    * never a join depth, so a 12-token phrase costs the same single join
    * as a 3-token one. Cost tracks matched postings of the phrase terms,
    * exactly like BM25 tracks hits. Everything is integer arithmetic —
    * no double anywhere, so the face is summation-order-proof.
    */
  def phraseMatches(pp: DataFrame, phrases: DataFrame, len: Int): DataFrame =
    pp.join(broadcast(phrases), "word")
      .groupBy(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("start"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === len)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).cast("long").as("first_start"))

  /** Query: exact-phrase lookup — each probe doc's first `PhraseLen`
    * tokens as the phrase (the self-match at start 0 is the built-in
    * sanity anchor; additional matches are the near-dup docs sharing the
    * prefix — the decontamination signal). Output: every (query, doc)
    * with ≥ 1 exact occurrence, its occurrence count and first start.
    */
  def phraseQuery(spark: SparkSession, dir: String): DataFrame = {
    val phrases = Tables.documents(spark, dir).filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= PhraseLen)
      .select(col("query_id"),
        posexplode(slice(col("toks"), 1, PhraseLen)).as(Seq("off", "word")))
    phraseMatches(corpusPositional(spark, dir), phrases, PhraseLen)
  }

  /** Unordered two-term proximity over a positional postings frame:
    * docs where both terms occur within `window` positions, with the
    * minimum pair distance and the close-pair count. `terms` carries
    * (query_id, word, role ∈ {1, 2}), broadcast; the position-pair
    * product per (query, doc) is bounded by tf(a)·tf(b) under the
    * fixture's doc-length band — a serving engine merges the two sorted
    * position lists instead, but the JOIN shape (postings ⋈ bounded
    * query side, grouped per doc) is identical. Integer-only.
    */
  def proximityMatches(pp: DataFrame, terms: DataFrame,
                       window: Int): DataFrame = {
    val hits = pp.join(broadcast(terms), "word")
      .select(col("query_id"), col("doc_id"), col("role"), col("pos"))
    val a = hits.filter(col("role") === 1)
      .select(col("query_id"), col("doc_id"), col("pos").as("p1"))
    val b = hits.filter(col("role") === 2)
      .select(col("query_id"), col("doc_id"), col("pos").as("p2"))
    a.join(b, Seq("query_id", "doc_id"))
      .withColumn("dist", abs(col("p1") - col("p2")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("dist")).cast("long").as("min_dist"),
        sum(when(col("dist") <= window, 1L).otherwise(0L)).as("n_close_pairs"))
      .filter(col("min_dist") <= window)
  }

  /** Query: windowed proximity — each probe doc's (first, last) token
    * pair (distinct by construction filter), matched within
    * `ProxWindow` positions across the corpus. The self-doc is NOT
    * guaranteed to match (its first and last tokens are a doc-length
    * apart unless the words repeat) — matches are genuine co-occurrence.
    */
  def proximityQuery(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.documents(spark, dir).filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("query_id"), element_at(col("toks"), 1).as("w1"),
        element_at(col("toks"), -1).as("w2"))
      .filter(col("w1") =!= col("w2"))
    val terms = pt.select(col("query_id"), col("w1").as("word"),
        lit(1).as("role"))
      .unionByName(pt.select(col("query_id"), col("w2").as("word"),
        lit(2).as("role")))
    proximityMatches(corpusPositional(spark, dir), terms, ProxWindow)
  }

  /** BM25 top-k: score a bounded query set against the corpus over the
    * inverted index. Each query is a document's DISTINCT term set (the
    * find-more-like-this / decontamination-probe shape); self-matches are
    * excluded. idf = ln(1 + (N − df + ½)/(df + ½)) — the non-negative
    * variant. Doc lengths and avgdl come from the postings themselves
    * (post-tokenization token counts), so empty docs are out of scope on
    * both engines identically.
    *
    * All sums are over integer-valued doubles (tf, dl, df are exact
    * longs) except the final per-(query, doc) score sum, whose term count
    * is bounded by the query's distinct-term overlap — small enough that
    * double summation is order-stable at the 4-dp rounding.
    *
    * STABILITY RECORD (r13, re-run this if the fixture changes): the four
    * ranked faces whose top-k selection rides this unpinned sum
    * (search_bm25 / search_ql / search_prf / search_hybrid_rrf's lexical
    * side) each produced ONE distinct canonical hash across 8 repeated
    * DuckDB runs at sf0.01 — rank boundaries sit far from double-sum
    * ties on this fixture, unlike the near-dup-scoring percolate and
    * stats_drift faces, which ARE order-pinned (percolateScoreAgg).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryPred: Column => Column, k: Int): DataFrame =
    bm25FromPostings(graft.Caching.track(postings(docs, idCol, textCol)),
      queryPred, k)

  /** Per-posting BM25 contribution, computed BEFORE any query matching:
    * (word, doc_id, contrib) where contrib is the posting's full scoring
    * term. The |Q|-dimension scaling lever (measured, DEPLOY's |Q| sweep):
    * dl/df/stats are posting-frame joins HERE — corpus-sized,
    * |Q|-INDEPENDENT — so the only per-query work left is the broadcast
    * term match and ONE aggregation of the matched rows. Scoring the
    * matched frame instead (the naive join order) re-shuffles |Q|-scaled
    * rows through the dl and df joins — measured 3.4× slower at
    * |Q| = 256 and growing with |Q|.
    */
  private def bm25Enriched(tf: DataFrame): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .select(col("word"), col("doc_id"), col("contrib"))
  }

  private def scoredPairsOfEnriched(tf: DataFrame, enriched: DataFrame,
                                    queryPred: Column => Column): DataFrame = {
    val qterms = tf.filter(queryPred(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("word")).distinct()
    enriched
      .join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
  }

  /** BM25 over an ALREADY-BUILT postings frame — the index-serving shape:
    * df/dl/avgdl re-derive from the index itself (word- and doc-level
    * aggregates over fixed-width rows), so a maintained index never needs
    * the raw text rescanned to serve queries.
    */
  def bm25FromPostings(tf: DataFrame,
                       queryPred: Column => Column, k: Int): DataFrame =
    bm25Rank(scoredPairsOfEnriched(tf, bm25Enriched(tf), queryPred), k)

  private def bm25Rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("bm25"))
  }

  /** BM25 served from the registry-enriched corpus index. */
  private def bm25Served(spark: SparkSession, dir: String,
                         queryPred: Column => Column, k: Int): DataFrame =
    bm25Rank(scoredPairsOfEnriched(corpusPostings(spark, dir),
      corpusEnriched(spark, dir), queryPred), k)

  /** Query: BM25 top-5 over the documents fixture for the first 8 docs as
    * query probes (postings from the shared registry).
    */
  def bm25Query(spark: SparkSession, dir: String): DataFrame =
    bm25Served(spark, dir, _ < 8, k = 5)

  /** Maintain a stored postings index across a corpus refresh A→B:
    * content-unchanged docs (rolling-hash fingerprint equality, the
    * SnapshotOps reduction — no text through the diff join) carry their
    * stored postings; added/changed docs tokenize from B only; removed
    * docs drop. tf is a pure per-doc function of the text, so the result
    * equals `postings(B)` exactly — pinned by spec. The lexical twin of
    * IndexMaintOps.maintainIndex: refresh cost is |delta| tokenization +
    * an id-keyed join, never a corpus rescan.
    */
  def maintainPostings(stored: DataFrame, oldDocs: DataFrame,
                       newDocs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val fp = (d: DataFrame) => graft.streaming.StreamOps
      .withFingerprint(d, textCol).select(col(idCol), col("fp"))
    val diff = SnapshotOps.snapshotDiff(fp(oldDocs), fp(newDocs), idCol)
    val kept = stored
      .join(diff.filter(col("status") === "unchanged")
        .select(col(idCol).as("doc_id")), "doc_id")
      .withColumn("origin", lit("kept"))
    val fresh = postings(
      newDocs.join(diff.filter(col("status").isin("added", "changed"))
        .select(col(idCol)), idCol),
      idCol, textCol)
      .withColumn("origin", lit("retokenized"))
    kept.unionByName(fresh)
  }

  /** Query: BM25 served FROM the maintained index after the synthetic A→B
    * refresh (same derivation family as `snapshot_diff`: A = first 90% of
    * ids with ids ≡ 0 (mod 97) carrying stale text, B drops ids ≡ 0
    * (mod 101)). The A-index exports via the Artifacts seam, the refresh
    * touches only the delta, and the served ranking is provably identical
    * to a from-scratch B index — which is exactly what the oracle computes.
    */
  def bm25IncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(floor(max(col("doc_id")) * 0.9).cast("long"))
      .collect()(0).getLong(0)
    val old = docs.filter(col("doc_id") <= cut)
      .withColumn("text", when(col("doc_id") % 97 === 0,
        concat(col("text"), lit(" stale edition"))).otherwise(col("text")))
    val neu = docs.filter(col("doc_id") % 101 =!= 0)
    // NOT registry-backed (r19, measured refusal): staging the A-postings
    // build through a stored-index registry was a solo A/B wash
    // (2.90 -> 2.85 s at sf0.1) — the build is one pipelined scan feeding
    // the kept-join, and the face's cost is the fingerprint diff + the
    // serve, which ARE the refresh operator.
    val built = postings(old, "doc_id", "text")
    graft.Artifacts.save("bm25_postings")(built)
    val maintained = graft.Caching.track(
      maintainPostings(built, old, neu, "doc_id", "text").drop("origin"))
    bm25FromPostings(maintained, _ < 8, k = 5)
  }

  /** PMI collocations: pointwise mutual information of adjacent token
    * pairs, pmi = ln((c₁₂/B) / ((c₁/T)·(c₂/T))) with a min-count floor so
    * one-off pairings can't dominate (Church & Hanks 1990). T = total
    * tokens, B = total adjacent positions (Σ max(len−1, 0)). Counts are
    * exact longs; the pmi join runs over the min-count-filtered bigram
    * table × the vocabulary — both bounded regardless of corpus size.
    */
  def collocationsTopK(docs: DataFrame, textCol: String,
                       minCount: Int, k: Int): DataFrame = {
    val staged = graft.Caching.track(
      docs.select(tokens(col(textCol)).as("toks")))
    val uni = graft.Caching.track(
      staged.select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c1")))
    val totals = staged.agg(
      sum(size(col("toks"))).as("t_uni"),
      sum(greatest(size(col("toks")) - 1, lit(0))).as("t_bi"))
    val bi = staged
      .select(explode(TextAnalysisOps.tokenBigrams(col("toks"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    bi.join(uni.select(col("word").as("w1"), col("c1").as("c_w1")), "w1")
      .join(uni.select(col("word").as("w2"), col("c1").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log((col("c12") / col("t_bi")) /
          ((col("c_w1") / col("t_uni")) * (col("c_w2") / col("t_uni")))))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("pmi"), 4).as("pmi"))
  }

  /** Query: top-30 PMI collocations over the documents fixture at a
    * min-count of 5.
    */
  def collocationsQuery(spark: SparkSession, dir: String): DataFrame =
    collocationsTopK(Tables.documents(spark, dir), "text",
      minCount = 5, k = 30)

  /** PRF knobs: feedback depth, expansion terms per query. */
  val PrfFbDocs = 3
  val PrfFbTerms = 5

  /** Pseudo-relevance feedback (RM3-lite): run BM25, take each query's
    * top-`fbDocs` documents, mine their `fbTerms` strongest terms
    * (feedback-tf × idf — the tf sum is an exact integer over ≤ fbDocs
    * docs, so term SELECTION never rides a double summation), union them
    * into the query, and rescore. Two passes over the same postings
    * frame; the feedback join touches only fbDocs·|Q| doc ids.
    */
  def prfTopK(docs: DataFrame, idCol: String, textCol: String,
              queryPred: Column => Column, k: Int,
              fbDocs: Int = PrfFbDocs, fbTerms: Int = PrfFbTerms): DataFrame =
    prfFromPostings(graft.Caching.track(postings(docs, idCol, textCol)),
      queryPred, k, fbDocs, fbTerms)

  /** PRF over an already-built postings frame (registry-shared). */
  def prfFromPostings(tf: DataFrame, queryPred: Column => Column, k: Int,
                      fbDocs: Int = PrfFbDocs,
                      fbTerms: Int = PrfFbTerms): DataFrame =
    // ONE enriched per-posting contrib frame shared by both scoring
    // passes (feedback + rescore) — the |Q|-independent shape, and the
    // second pass reuses the persisted first
    prfCore(tf, graft.Caching.track(bm25Enriched(tf)), queryPred, k,
      fbDocs, fbTerms)

  private def prfCore(tf: DataFrame, enriched: DataFrame,
                      queryPred: Column => Column, k: Int,
                      fbDocs: Int, fbTerms: Int): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val qterms = tf.filter(queryPred(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("word")).distinct()
    def score(q: DataFrame, depth: Int): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      enriched.join(broadcast(q), "word")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib")).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= depth)
    }
    val fb = score(qterms, fbDocs).select(col("query_id"), col("doc_id"))
    val wExp = Window.partitionBy(col("query_id"))
      .orderBy(col("fb_score").desc, col("word"))
    val expansion = tf.join(fb, "doc_id")
      .groupBy(col("query_id"), col("word"))
      .agg(sum(col("tf")).as("fb_tf"))
      .join(dfreq, "word")
      .crossJoin(broadcast(stats))
      .withColumn("fb_score",
        col("fb_tf") *
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("erk", row_number().over(wExp))
      .filter(col("erk") <= fbTerms)
      .select(col("query_id"), col("word"))
    val expanded = qterms.unionByName(expansion).distinct()
    score(expanded, k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("bm25"))
  }

  /** Query: PRF-expanded BM25 top-5, same probe set as the plain face
    * (registry-shared postings AND enriched impact index).
    */
  def prfQuery(spark: SparkSession, dir: String): DataFrame =
    prfCore(corpusPostings(spark, dir), corpusEnriched(spark, dir),
      _ < 8, k = 5, PrfFbDocs, PrfFbTerms)

  /** Dirichlet smoothing mass for query-likelihood scoring (short-doc μ). */
  val QlMu = 300.0

  /** Query-likelihood retrieval with Dirichlet smoothing, in the
    * matched-terms-only decomposition that makes it inverted-index-shaped
    * (Zhai & Lafferty 2004, eq. 4):
    *   score(q,d) = Σ_{w ∈ q∩d} ln(1 + tf/(μ·p_c(w))) + |q|·ln(μ/(dl+μ))
    * where p_c(w) = cf(w)/|C|. Only docs sharing ≥1 term are candidates
    * (the absent-term mass is the per-doc length term, identical on both
    * engines), so the scoring join is bounded by matched postings exactly
    * like BM25 — the naive |q| terms × |corpus| form never materializes.
    */
  def queryLikelihoodTopK(docs: DataFrame, idCol: String, textCol: String,
                          queryPred: Column => Column, k: Int): DataFrame =
    qlFromPostings(graft.Caching.track(postings(docs, idCol, textCol)),
      queryPred, k)

  /** QL over an already-built postings frame (registry-shared). */
  def qlFromPostings(tf: DataFrame,
                     queryPred: Column => Column, k: Int): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val coll = tf.agg(sum(col("tf")).as("c_total"))
    val cf = tf.groupBy("word").agg(sum(col("tf")).as("cf"))
    val qterms = tf.filter(queryPred(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("word")).distinct()
    val qlen = qterms.groupBy("query_id").agg(count(lit(1)).as("q_len"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    // per-posting contrib enriched BEFORE query matching (the bm25Enriched
    // rationale): the cf join and coll broadcast are corpus-sized work,
    // never |Q|-scaled; the dl/qlen joins below ride the post-aggregation
    // (query, doc) frame, which is already top-k-bounded per query
    tf.join(cf, "word")
      .crossJoin(broadcast(coll))
      .withColumn("contrib",
        log(lit(1.0) + col("tf") / (lit(QlMu) * col("cf") / col("c_total"))))
      .select(col("word"), col("doc_id"), col("contrib"))
      .join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("match_part"))
      .join(dl, "doc_id")
      .join(broadcast(qlen), "query_id")
      .withColumn("score",
        col("match_part") + col("q_len") * log(lit(QlMu) / (col("dl") + QlMu)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("ql"))
  }

  /** Query: Dirichlet query-likelihood top-5, same probe set as BM25. */
  def qlQuery(spark: SparkSession, dir: String): DataFrame =
    qlFromPostings(corpusPostings(spark, dir), _ < 8, k = 5)

  /** Natural-log DCG discounts for ranks 1..10, computed ONCE here and
    * interpolated into the oracle SQL as literals (Double.toString
    * round-trips exactly) — no transcendental is ever evaluated by both
    * engines, so libm-vs-JVM last-ulp drift can't exist.
    */
  val NdcgDiscounts: Seq[Double] = (1 to 10).map(r => 1.0 / math.log(r + 1.0))
  val NdcgIdeal: Double = NdcgDiscounts.foldLeft(0.0)(_ + _)

  /** IR rank-quality gauge of the IVF tier against the brute ground truth:
    * per-query hits@10, MRR (1/first-relevant-rank) and binary-gain
    * nDCG@10. The recall gauges answer "how much of the truth set was
    * found"; this answers "was it found EARLY" — the metric a reranker or
    * hard-negative miner actually cares about. DCG folds gains in rank
    * order on both engines (sorted-struct fold here, list(... ORDER BY)
    * in the oracle), so the ≤10-term double sum is order-pinned.
    */
  def ivfRankEval(spark: SparkSession, dir: String): DataFrame = {
    // registry-shared IVF world (sim.ivfworld): the stored index this
    // gauge probes is the same stored table the ann/recall faces probe
    val (corpus, indexed, cents) = SimilarityOps.ivfWorld(spark, dir)
    val queries = corpus.filter(col("vec_id") < 5)
    val brute = SimilarityOps.bruteForceTopK(corpus, queries, 10)
      .select(col("query_id"), col("vec_id"), lit(1).as("rel"))
    graft.Artifacts.save("ivf_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("ivf_centroids")(cents)
    val ann = SimilarityOps.ivfProbe(indexed, cents, queries,
      k = 10, nProbe = SimilarityOps.IvfProbe)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val disc = array(NdcgDiscounts.map(lit): _*)
    ann.join(brute, Seq("query_id", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
      .withColumn("gain", element_at(disc, col("rank")) * col("rel"))
      .groupBy(col("query_id"))
      .agg(
        sum(col("rel")).as("n_hits"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        aggregate(
          sort_array(collect_list(struct(col("rank").as("r"), col("gain").as("g")))),
          lit(0.0), (acc, x) => acc + x.getField("g")).as("dcg"))
      .select(col("query_id"), col("n_hits"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
        round(col("dcg") / NdcgIdeal, 6).as("ndcg"))
  }

  /** Percolation gate: minimum best-query BM25 score for a doc to match. */
  val PercolateMin = 1.0

  /** Frozen standing-query index for percolation: per-(query, word) idf
    * baked at build time plus the scalar collection stats. The stream
    * side never touches the corpus again — everything a doc needs to be
    * scored is this (broadcastable, |standing terms| rows) plus the doc's
    * own tokens.
    */
  case class StandingQueries(terms: DataFrame, avgdl: Double, nDocs: Long)

  /** Build standing queries from the corpus: each probe doc's distinct
    * terms with idf and the frozen dl stats, derived from one postings
    * build — the same quantities the plain BM25 face computes per run,
    * frozen here the way a deployed percolator freezes its index stats.
    */
  def buildStanding(docs: DataFrame, idCol: String, textCol: String,
                    queryPred: Column => Column): StandingQueries =
    buildStandingFromPostings(
      graft.Caching.track(postings(docs, idCol, textCol)), queryPred)

  /** Standing-query build over an already-built postings frame. */
  def buildStandingFromPostings(tf: DataFrame,
                                queryPred: Column => Column): StandingQueries = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val Array(nDocs, avgdl) = dl.agg(count(lit(1)).cast("double"),
      avg(col("dl"))).collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    // fail fast on an empty corpus: avg(dl) is null there and the silent
    // 0.0 cast would divide into the BM25 length norm (dl/0.0 → Infinity)
    require(nDocs > 0,
      "buildStandingFromPostings: empty postings frame — no docs to freeze stats from")
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val terms = tf.filter(queryPred(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("word")).distinct()
      .join(dfreq, "word")
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("query_id"), col("word"), col("idf"))
    StandingQueries(terms, avgdl, nDocs.toLong)
  }

  /** Stateless per-term percolation rows: tokenize the incoming doc, join
    * its terms to the standing table, per-term BM25 contribution with the
    * doc's own tf/dl against the FROZEN idf/avgdl. No corpus access and
    * no aggregation — both the batch face and the streaming face group
    * these rows their own way.
    *
    * The standing side is broadcast: the shape percolateStream's
    * stream-static join needs, right for bounded standing sets. A
    * term-partitioned join wins batch re-scores of 10⁴+ standing queries
    * (DEPLOY's percolation A/B) and is not built.
    */
  def percolateTermRows(docs: DataFrame, idCol: String, textCol: String,
                        standing: StandingQueries,
                        keep: Seq[String] = Nil): DataFrame = {
    val staged = docs.select(
      (Seq(col(idCol).as("doc_id")) ++ keep.map(col) :+
        tokens(col(textCol)).as("toks")): _*)
    staged
      .withColumn("dl", size(col("toks")))
      .select((Seq(col("doc_id"), col("dl")) ++ keep.map(col) :+
        explode(graft.functions.TextExpressions.tfMapK(col("toks")))
          .as(Seq("word", "tf"))): _*)
      .join(broadcast(standing.terms), "word")
      .withColumn("contrib",
        col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / standing.avgdl)))
  }

  /** Order-pinned per-(query, doc) score fold over percolateTermRows —
    * see the spec note in `percolateScores` for why this is a sorted
    * fold, not a plain sum.
    */
  def percolateScoreAgg: Column =
    aggregate(
      sort_array(collect_list(struct(col("word"), col("contrib")))),
      lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score")

  /** Batch (query, doc) percolation scores. */
  def percolateScores(docs: DataFrame, idCol: String, textCol: String,
                      standing: StandingQueries,
                      keep: Seq[String] = Nil): DataFrame = {
    percolateTermRows(docs, idCol, textCol, standing, keep)
      .groupBy((Seq(col("query_id"), col("doc_id")) ++ keep.map(col)): _*)
      // ORDER-PINNED sum (word-ascending struct fold, the PQ-ADC
      // precedent): the percolate sample scores near-duplicate docs
      // against near-duplicate standing queries, so best-query argmaxes
      // are systematically near-tied — a plain sum() flips picks with
      // the engine's partial-aggregation order (measured: DuckDB varies
      // run-to-run on this face; the plain retrieval faces' rank
      // boundaries are far from ties and stay stable)
      .agg(percolateScoreAgg)
  }

  /** Query: batch percolation report — a deterministic ingest sample
    * (doc_id ≡ 3 mod 7, probes excluded) scored against the first-8-docs
    * standing queries; per doc the best query wins (ties to the smallest
    * query_id), docs under the gate drop, and the report is per standing
    * query: match count + its strongest doc.
    */
  def percolateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // frozen by contract ("derived from one postings build ... frozen here
    // the way a deployed percolator freezes its index stats") — registry
    // per corpus version, same pattern as the drift gauge's frozen world
    val standing = frozenStandingCache.get(
        s"${graft.Fingerprint.dirKey(spark, dir)}|corpus") {
      val s = buildStandingFromPostings(corpusPostings(spark, dir), _ < 8)
      val terms = s.terms.persist()
      terms.count() // materialize before the building query's scope ends
      StandingQueries(terms, s.avgdl, s.nDocs)
    }
    val incoming = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") >= 8)
    val scores = percolateScores(incoming, "doc_id", "text", standing)
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("query_id"))
    val best = scores.withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") === 1 && col("score") >= PercolateMin)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    best.withColumn("qrk", row_number().over(wQ))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_matched"),
        max(when(col("qrk") === 1, col("doc_id"))).as("top_doc"),
        max(when(col("qrk") === 1, round(col("score"), 4))).as("top_score"))
  }

  /** Best-query flip rate above which frozen standing-query stats are
    * declared drifted and a stats rebuild is due — the lexical twin of
    * IndexMaintOps.DriftRetrainThreshold.
    */
  val StatsDriftThreshold = 0.05

  /** Per-doc best standing query under a given stats world. */
  private def bestQueryPerDoc(scores: DataFrame, out: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("query_id"))
    scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("query_id").as(out))
  }

  /** Query: the frozen-stats DRIFT GAUGE for the lexical tier — the
    * operational question percolation's frozen idf/avgdl raise at 100 TB:
    * after the corpus moves A→B, how often does the FROZEN standing index
    * pick a different best query for an incoming doc than FRESH B-stats
    * would? Same A/B derivation as `snapshot_diff`; the report is one
    * row — docs gauged, best-query flips, the exact-ratio flip rate, and
    * the rebuild verdict at `StatsDriftThreshold`. Both worlds score the
    * same bounded ingest sample; only per-doc argmaxes (order-pinned
    * folds) and integer counts cross the report, so the gauge is
    * summation-order-proof end to end.
    */
  def statsDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(floor(max(col("doc_id")) * 0.9).cast("long"))
      .collect()(0).getLong(0)
    val neu = docs.filter(col("doc_id") % 101 =!= 0)
    val frozen = frozenStandingCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|A") {
      val old = docs.filter(col("doc_id") <= cut)
        .withColumn("text", when(col("doc_id") % 97 === 0,
          concat(col("text"), lit(" stale edition"))).otherwise(col("text")))
      val s = buildStanding(old, "doc_id", "text", _ < 8)
      val terms = s.terms.persist()
      terms.count() // materialize before the building query's scope ends
      StandingQueries(terms, s.avgdl, s.nDocs)
    }
    val fresh = buildStandingFromPostings(
      graft.Caching.track(postings(neu, "doc_id", "text")), _ < 8)
    val incoming = neu.filter(col("doc_id") % 7 === 3 && col("doc_id") >= 8)
    val a = bestQueryPerDoc(
      percolateScores(incoming, "doc_id", "text", frozen), "q_frozen")
    val b = bestQueryPerDoc(
      percolateScores(incoming, "doc_id", "text", fresh), "q_fresh")
    a.join(b, Seq("doc_id"), "inner")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q_frozen") =!= col("q_fresh"), 1L).otherwise(0L))
          .as("n_flips"))
      .select(col("n_docs"), col("n_flips"),
        round(col("n_flips") / col("n_docs"), 4).as("flip_rate"),
        (col("n_flips") / col("n_docs") > StatsDriftThreshold)
          .as("rebuild_due"))
  }

  /** MMR trade-off λ (relevance weight); 1−λ is computed once here so the
    * oracle interpolates the SAME double (1.0−0.7 ≠ the literal 0.3).
    */
  val MmrLambda = 0.7
  val MmrComp: Double = 1.0 - MmrLambda
  val MmrCandDepth = 20
  val MmrK = 10

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein
    * 1998) of a dense candidate list: greedily pick
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s), ties to the
    * smallest vec_id. The candidate set is query-bounded (|Q|·depth rows
    * plus depth² pairwise sims per query), so the greedy loop runs
    * driver-local — the TextRank/BPE precedent for K-bounded work. Every
    * step is products + a max (NO double summation anywhere), so the
    * unrolled-CTE oracle is bit-stable by construction.
    */
  private[graft] def mmrSelect(
      cands: Seq[(Long, Long, Double)],          // (query, vec, rel)
      sims: Map[(Long, Long, Long), Double],     // (query, a, b) -> sim
      k: Int): Seq[(Long, Int, Long, Double)] = {
    cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var remaining = cs.map(_._2).sorted
      var selected = Vector.empty[Long]
      val out = Seq.newBuilder[(Long, Int, Long, Double)]
      var pos = 1
      while (pos <= k && remaining.nonEmpty) {
        val scored = remaining.map { c =>
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(s => sims.getOrElse((q, c, s), 0.0)).max
          c -> (MmrLambda * rel(c) - MmrComp * maxSim)
        }
        val (pick, score) = scored.minBy { case (c, s) => (-s, c) }
        out += ((q, pos, pick, score))
        selected :+= pick
        remaining = remaining.filterNot(_ == pick)
        pos += 1
      }
      out.result()
    }
  }

  /** Query: MMR top-10 over the brute top-20 dense candidates for the
    * first-5-vector probes. Candidate relevances and the depth² pairwise
    * sims are computed IN Spark (dotK — bit-identical to the oracle's
    * dotSql fold); only the bounded greedy runs on the driver.
    */
  def mmrQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = graft.Caching.track(
      SimilarityOps.unitCorpus(Tables.embeddings(spark, dir)))
    val queries = corpus.filter(col("vec_id") < 5)
    val cand = SimilarityOps.bruteForceTopKUnrounded(
      corpus, queries, MmrCandDepth)
    val cv = cand.join(corpus.select(col("vec_id"), col("nv")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("cos"), col("nv"))
    val pairs = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        graft.functions.HashExpressions.dotK(col("a.nv"), col("b.nv")).as("sim"))
    val cands = cand.select(col("query_id"), col("vec_id"), col("cos"))
      .as[(Long, Long, Double)].collect().toSeq
    val sims = pairs.as[(Long, Long, Long, Double)].collect()
      .map { case (q, a, b, s) => (q, a, b) -> s }.toMap
    mmrSelect(cands, sims, MmrK)
      .toDF("query_id", "pos", "vec_id", "score_raw")
      .select(col("query_id"), col("pos"), col("vec_id"),
        round(col("score_raw"), 6).as("score"))
  }

  /** RRF rank constant (Cormack, Clarke & Buettcher 2009's k=60). */
  val RrfK = 60
  /** Per-retriever candidate depth and fused cut for the hybrid face. */
  val HybridDepth = 20
  val HybridK = 10

  /** Reciprocal-rank fusion of two ranked lists: rrf = Σ 1/(RrfK + rank)
    * over the retrievers that returned the doc. Rank-only fusion — no
    * score calibration between BM25's unbounded scores and cosine's
    * [−1, 1] — which is exactly why RRF is the standard hybrid combiner.
    * Inputs carry (query_id, rank, doc_id); both are query-set-bounded
    * (≤ |Q|·depth rows), so the full-outer fusion join is trivially small
    * no matter the corpus size.
    */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    def side(df: DataFrame, out: String) =
      df.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (col("rank") + RrfK)).as(out))
    val fused = side(lex, "lex_rrf")
      .join(side(dense, "dense_rrf"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("n_sources",
        col("lex_rrf").isNotNull.cast("int") +
          col("dense_rrf").isNotNull.cast("int"))
      .withColumn("rrf",
        coalesce(col("lex_rrf"), lit(0.0)) +
          coalesce(col("dense_rrf"), lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("n_sources"))
  }

  /** Query: hybrid retrieval — BM25 over `documents` fused with exact
    * cosine over the aligned `embeddings` (vec_id ≡ doc_id domain, the
    * same alignment MediaOps.mediaTextAlign relies on), first-8-ids
    * probes, depth 20 each, fused top-10. The dense side is the brute
    * tier BY CHOICE of the bounded query set (|Q|·n exact scoring is the
    * honest baseline; swap ivfTopK in when |Q| grows — same frame shape).
    */
  def hybridRrfQuery(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Served(spark, dir, _ < 8, k = HybridDepth)
    val corpus = graft.Caching.track(
      SimilarityOps.unitCorpus(Tables.embeddings(spark, dir)))
    val dense = SimilarityOps.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") < 8), HybridDepth)
      .withColumnRenamed("vec_id", "doc_id")
    rrfFuse(lex, dense, HybridK)
  }

  /** Asymmetric containment pairs: directional n-gram overlap
    * max(|A∩B|/|A|, |A∩B|/|B|) — catches a short document subsumed by a
    * long one, where symmetric Jaccard stays under any useful threshold
    * (|A∩B|/|A∪B| ≤ |A|/|B| for A ⊆ B). Candidate generation is the same
    * df-capped rare-gram posting join as ngramJaccardPairs (see
    * DedupOps.MaxNgramDf for the bound); the intersection is an exact
    * integer over the distinct gram-hash sets.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDf: Int = 10,
                       minContainment: Double = 0.8): DataFrame =
    containmentOfSets(graft.Caching.track(docs
        .select(col(idCol).as("doc_id"),
          windowHashSet(tokenHashesK(normalized(col(textCol))), n).as("grams"))
        .filter(size(col("grams")) > 0)),
      maxDf, minContainment)

  private def containmentOfSets(grams: DataFrame, maxDf: Int,
                                minContainment: Double): DataFrame = {
    val inverted = grams.select(col("doc_id"), explode(col("grams")).as("gram"))
    val rare = inverted.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    val postings = inverted.join(rare, "gram")
    val cands = postings.as("a")
      .join(postings.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= 2)
    cands
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("g_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("g_b")), "doc_b")
      // one-pass codegen kernel ≡ max(|A∩B|/|A|, |A∩B|/|B|) — see
      // HashKernels.containmentLong for the bit-equality argument
      .withColumn("containment",
        graft.functions.HashExpressions.containmentLongK(col("g_a"), col("g_b")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** Query: containment near-dup pairs over the documents fixture, df cap
    * scaled like the Jaccard face (max(10, n/500) clamped to MaxNgramDf).
    */
  def containmentQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxDf = math.max(10L,
      math.min(DedupOps.MaxNgramDf.toLong, docs.count() / 500L)).toInt
    containmentOfSets(DedupOps.corpusGramSets(spark, dir), maxDf,
      minContainment = 0.8)
  }
  // ------------------------------------------------------------ RAG tier

  /** RAG chunk geometry: fixed character windows (the context-window
    * packing a retrieval corpus actually stores), id-packed so chunk ids
    * invert to (doc, chunk_no) with pure arithmetic any oracle replays.
    */
  val RagChunkChars = 200
  val RagMaxChunks = 1024
  val RagTopK = 5

  /** Query: the RAG retrieval pipeline end to end — chunk the corpus into
    * RagChunkChars character windows, embed every chunk with the
    * deterministic stub codec (8-byte-gram signature → mean-center →
    * unit-normalize: the SAME projection the media tier and the realistic
    * embeddings use, so the oracle replays it with the sigCtes chain),
    * retrieve the top-RagTopK chunks per probe (first chunk of the first
    * 8 docs, self-doc excluded), and join the hit back to its parent
    * document's metadata — the grounding step a RAG data pipeline runs.
    *
    * Chunks shorter than the codec's gram width are dropped on BOTH
    * engines (the codec zero-vectors them, the SQL mirror's gram CTE
    * drops them — the shared ≥ SignatureGram-chars filter keeps the two
    * sides identical).
    *
    * Scale shape: chunking + the codec pass are one scan (mapPartitions,
    * one codec per partition — the extractSignatures batch shape); the
    * probe side is bounded (|Q| probes broadcast against the chunk
    * corpus), so scoring is |Q|·|chunks| dot products map-side with a
    * per-probe top-k — the brute baseline, same contract as
    * sim_topk_brute. At 100 TB the chunk corpus rides the SAME banded-LSH
    * / IVF machinery as every other (vec_id, nv) frame (SimilarityOps —
    * the chunk frame is interchangeable with the embeddings table); the
    * brute face is the recall ground truth those tiers are gauged
    * against.
    */
  /** The chunk corpus in the (vec_id, nv) shape the whole similarity tier
    * consumes — vec_id packs (doc, chunk_no), nv is the codec signature
    * centered + unit-normalized. One codec pass, extractSignatures batch
    * shape.
    *
    * ID-SPACE GUARD (ADVICE r17): the packing vec_id = doc_id·RagMaxChunks
    * + chunk_no is collision-free ONLY while chunk_no < RagMaxChunks, so
    * the window sequence is capped with `least` BEFORE generation — a doc
    * longer than RagMaxChunks·RagChunkChars chars (204,800) is truncated
    * at the id-space boundary instead of silently bleeding its tail
    * chunks into the next doc's vec_id range (where the Scala face's
    * carried doc_id and the oracle's chunk_id // RagMaxChunks arithmetic
    * would diverge). The oracle chunk CTEs cap with the identical
    * least(..) bound, keeping the two engines bit-equal; capping the
    * sequence (rather than filtering after posexplode) also keeps a
    * pathological mega-doc from materializing an unbounded window array.
    * Spec-pinned in RetrievalOpsSpec.
    */
  private[graft] def chunkFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.HashExpressions.{centerVector, unitVector}
    import graft.functions.VectorFunctions.asDouble
    val C = RagChunkChars
    val chunks = docs.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, least(cast(ceil(length(text) / $C) as int)," +
            s" $RagMaxChunks) - 1)," +
            s" k -> substring(text, k * $C + 1, $C))"))
          .as(Seq("chunk_no", "chunk_text")))
      .filter(length(col("chunk_text")) >=
        graft.multimodal.MediaOps.SignatureGram)
    val sigs = chunks
      .select(col("doc_id"), col("chunk_no"), col("chunk_text"))
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        val codec = new graft.multimodal.MediaOps.StubCodec
        it.map { case (did, no, text) =>
          (did, no, codec.signature(text.getBytes("UTF-8")))
        }
      }.toDF("doc_id", "chunk_no", "sv")
    sigs.select(
      (col("doc_id") * RagMaxChunks + col("chunk_no")).as("vec_id"),
      col("doc_id"), col("chunk_no"),
      unitVector(centerVector(asDouble(col("sv")))).as("nv"))
  }

  private def chunkCorpus(spark: SparkSession, dir: String): DataFrame =
    chunkFrame(Tables.documents(spark, dir)
      .filter(length(coalesce(col("text"), lit(""))) > 0))

  /** Registry for the RAG tier's stored shapes — (chunk corpus, IVF
    * postings, centroids), all persisted. In a RAG deployment these ARE
    * stored tables (chunks embedded once at ingest, the index built once
    * per corpus version, never per query), so the three faces share one
    * codec pass + one quantizer fit per corpus per session — the
    * storedIndex / driftWorlds contract, keyed the same way (corpus
    * fingerprint: the realistic twin's corpus gets its own entry, and its
    * namespaced saves their own `real/` artifacts).
    */
  private val ragCache =
    graft.Caching.Registry[(DataFrame, DataFrame, DataFrame)]("retrieval.ragindex")

  def clearRagCache(): Unit = ragCache.clear()

  private def ragWorlds(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (corpus, indexed, cents) = ragCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val c = graft.Caching.materialize(chunkCorpus(spark, dir))
      val (i, cs) = SimilarityOps.ivfIndex(c, SimilarityOps.IvfLists)
      (c, graft.Caching.materialize(i), graft.Caching.materialize(cs))
    }
    graft.Artifacts.save("rag_ivf_assign")(indexed.select("vec_id", "list"))
    graft.Artifacts.save("rag_ivf_centroids")(cents)
    (corpus, indexed, cents)
  }

  def ragChunkTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.dotK
    val (corpus, _, _) = ragWorlds(spark, dir)
    val probes = corpus.filter(col("doc_id") < 8 && col("chunk_no") === 0)
      .select(col("doc_id").as("query_id"), col("nv").as("qnv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probes.join(corpus, col("query_id") =!= col("doc_id"))
      .withColumn("cos", dotK(col("qnv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RagTopK)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")), "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_no"),
        col("lang"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Eval-slice width (basis points) and probe count for the held-out
    * grounding face — the SAME `hashBucket(doc_id, 10000) < 500` carve
    * the decontam/funnel stages and `sample_split_safe` already use, so
    * "held-out" here means held out of EVERYTHING train-side, not a
    * face-private split.
    */
  val RagHeldoutBuckets = 500
  val RagHeldoutProbes = 8

  /** Query: RAG grounding with EXTERNAL probes (VERDICT r17 #4). The base
    * `rag_chunk_topk` probes with corpus self-chunks — a deterministic
    * fixture, but a production RAG query is NOT a member of the corpus it
    * grounds against, and self-retrieval structurally inflates cosine
    * (the probe's sibling chunks share its vocabulary). Here the probes
    * are the eval slice's first-window chunks (embedded through the SAME
    * codec pass the corpus rode) and the SEARCHED set is the train side
    * only — the leakage-safe shape `sample_split_safe` pins for splits:
    * no probe's own document (nor any eval document) can be retrieved,
    * so every hit is genuine cross-document grounding.
    *
    * Scale shape: identical to ragChunkTopK — bounded probe set (top-8
    * eval docs via TakeOrderedAndProject, never a full sort) broadcast
    * against the chunk corpus, map-side dot products, per-probe top-k.
    * The train-side filter is a basis-point hash predicate pushed into
    * the chunk frame's scan.
    */
  def ragChunkHeldout(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.dotK
    val (corpus, _, _) = ragWorlds(spark, dir)
    val bkt = SamplingOps.hashBucket(col("doc_id"), 10000)
    val probes = corpus
      .filter(bkt < RagHeldoutBuckets && col("chunk_no") === 0)
      .select(col("doc_id").as("query_id"), col("nv").as("qnv"))
      .orderBy(col("query_id")).limit(RagHeldoutProbes)
    val train = corpus.filter(bkt >= RagHeldoutBuckets)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probes.join(train)
      .withColumn("cos", dotK(col("qnv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RagTopK)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")), "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_no"),
        col("lang"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query: the SERVED RAG grounding output on the indexed path (VERDICT
    * r17 #8) — the same top-K the brute face pins, retrieved through the
    * stored IVF index (probe the IvfProbe nearest lists, re-rank exactly
    * in-list), with the hit joined back to parent-document metadata. The
    * triple (rag_chunk_topk brute, THIS served face, rag_chunk_recall
    * gauge) now mirrors the sim tier's brute/ann/recall contract exactly:
    * the grounding output itself is oracle-pinned on the path that scales
    * (~|chunks|·nProbe/nLists scanned per query instead of |chunks|).
    * The oracle re-derives probe ranking + in-list re-rank from the
    * persisted rag_ivf_* artifacts — identical doubles on both engines.
    */
  def ragChunkTopKIvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.dotK
    val (corpus, indexed, cents) = ragWorlds(spark, dir)
    val probes = corpus.filter(col("doc_id") < 8 && col("chunk_no") === 0)
      .select(col("vec_id"), col("nv"))
    // candidate generation = probed lists only; the brute face's
    // whole-DOCUMENT self-exclusion applies BEFORE the top-K cut (a
    // sibling chunk must not consume a result slot), so the shortlist is
    // built here from probeAssignments rather than through ivfProbe's
    // chunk-level exclusion + early k-cut
    val probed = SimilarityOps.probeAssignments(cents, probes,
      SimilarityOps.IvfProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probed
      .join(indexed.select(col("vec_id"), col("nv"), col("list")), "list")
      .filter(expr(s"vec_id div $RagMaxChunks") =!=
        expr(s"query_id div $RagMaxChunks"))
      .withColumn("cos", dotK(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RagTopK)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")),
        expr(s"vec_id div $RagMaxChunks") === col("doc_id"))
      .select(expr(s"query_id div $RagMaxChunks").as("query_id"),
        col("rank"), col("doc_id"),
        (col("vec_id") % RagMaxChunks).cast("int").as("chunk_no"),
        col("lang"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query: recall@10 of IVF-SERVED RAG grounding vs the brute chunk
    * ground truth — the serving path `rag_chunk_topk` scales on, gauged
    * honestly (the sim tier's ivfRecall contract, on the chunk corpus):
    * the chunk frame rides the stock quantizer (artifacts persisted so
    * the oracle re-derives probe ranking + in-list re-rank from identical
    * doubles), probes are the same first-chunk set, and recall is an
    * exact integer ratio per probe. At 100 TB the grounding query scans
    * ~|chunks|·nProbe/nLists instead of |chunks| — this face is the
    * committed evidence for what that buys and what it costs.
    */
  def ragChunkRecall(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, indexed, cents) = ragWorlds(spark, dir)
    val probes = corpus.filter(col("doc_id") < 8 && col("chunk_no") === 0)
      .select(col("vec_id"), col("nv"))
    SimilarityOps.recallAtK(SimilarityOps.bruteForceTopK(corpus, probes, 10),
        SimilarityOps.ivfProbe(indexed, cents, probes, k = 10,
          nProbe = SimilarityOps.IvfProbe))
      .withColumn("index_cfg", concat_ws("/",
        lit(SimilarityOps.IvfLists), lit(SimilarityOps.IvfProbe)))
  }

}
