package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens

/** N-gram language-model quality scoring — the "real" quality filter a
  * training pipeline runs after the cheap heuristics: score every document
  * by its negative log-likelihood under a smoothed bigram model (the same
  * shape CCNet/Wenzek et al. 2020 use with KenLM — low-perplexity ≈
  * fluent text, high ≈ boilerplate/garble). The reference has no LM tier
  * (its quality control is manual stopword curation,
  * /root/reference/preprocessing.py:173-214); at corpus scale a
  * perplexity cut is the standard pre-training gate.
  *
  * Scale shape: the model is three vocabulary-bounded frames (bigram
  * log-probs, context totals, per-lang vocab sizes) — corpus-size
  * independent, buildable once and persisted. Scoring aggregates each
  * doc's bigram INSTANCES map-side (doc × distinct-bigram rows, not
  * token rows), joins the log-prob table on the bigram key in ONE
  * shuffle, and routes only the UNSEEN remainder through the (lang, w1)
  * backoff join — zero extra cost when scoring the training corpus
  * itself, miss-proportional cost when scoring new data.
  */
object LmOps {

  /** A trained add-alpha bigram model: P(w2|w1) = (c12+a)/(ctx1+a·V). */
  final case class BigramLm(logp: DataFrame, missLogp: DataFrame, alpha: Double)

  private def bigramInstances(docs: DataFrame, textCol: String,
                              langCol: String, extra: Seq[String]): DataFrame =
    docs
      .select((extra :+ langCol).map(col) :+ tokens(col(textCol)).as("t"): _*)
      .filter(size(col("t")) >= 2)
      .select((extra :+ langCol).map(col) :+
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"): _*)
      .select((extra :+ langCol).map(col) :+ col("bg.w1") :+ col("bg.w2"): _*)
      .withColumnRenamed(langCol, "lang")

  /** Train the per-language bigram model. Both returned frames are
    * vocabulary-bounded: `logp` has one row per distinct (lang, w1, w2)
    * seen in training; `missLogp` one row per distinct (lang, w1) — the
    * backoff log-prob ln(a/(ctx+a·V)) any unseen continuation of w1 gets.
    */
  def bigramModel(train: DataFrame, textCol: String, langCol: String,
                  alpha: Double = 0.5): BigramLm = {
    val counts = bigramInstances(train, textCol, langCol, Nil)
      .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = train
      .select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("w"))
      .groupBy("lang").agg(countDistinct("w").as("v"))
    modelFromCounts(counts, vocab, alpha)
  }

  /** Model from pre-aggregated bigram counts (lang, w1, w2, c12) and
    * per-lang vocab sizes (lang, v) — the seam that lets the self-scoring
    * query derive training counts from the SAME per-doc instance frame it
    * scores, so the corpus is tokenized and exploded once, not twice.
    */
  def modelFromCounts(counts: DataFrame, vocab: DataFrame,
                      alpha: Double = 0.5): BigramLm = {
    val ctx = counts.groupBy("lang", "w1").agg(sum("c12").as("ctx"))
    val ctxV = ctx.join(broadcast(vocab), Seq("lang"))
      .withColumn("denom", col("ctx") + lit(alpha) * col("v"))
    val logp = counts.join(ctxV, Seq("lang", "w1"))
      .select(col("lang"), col("w1"), col("w2"),
        log((col("c12") + alpha) / col("denom")).as("logp"))
    val miss = ctxV.select(col("lang"), col("w1"),
      log(lit(alpha) / col("denom")).as("logp"))
    BigramLm(logp, miss, alpha)
  }

  /** Per-document mean negative log-likelihood under the model. Docs with
    * fewer than two tokens are not scored (no bigrams). Bigrams whose
    * context w1 was never seen in training fall back to the model's
    * smallest per-lang backoff mass (alpha / (alpha·V) = 1/V is
    * unavailable without V; unseen-context rows are instead scored at the
    * global per-lang minimum backoff — at self-scoring this branch is
    * provably empty, and cross-corpus it is miss-proportional).
    */
  def scoreNll(model: BigramLm, docs: DataFrame, textCol: String,
               langCol: String, idCol: String): DataFrame =
    scoreInstances(model,
      bigramInstances(docs, textCol, langCol, Seq(idCol))
        .groupBy(idCol, "lang", "w1", "w2").agg(count(lit(1)).as("n")),
      idCol)

  /** Score a pre-aggregated (idCol, lang, w1, w2, n) instance frame.
    * Documents in a language the model was never trained on are
    * UNSCORABLE — there is no vocabulary size, so no smoothing denominator
    * and no principled floor — and are DROPPED here (semi-join on the
    * model's language set, a |langs|-row broadcast), never surfaced as
    * null nll rows: a pipeline routes unknown-language docs through the
    * language-ID gate, not the perplexity gate. Spec-pinned.
    */
  def scoreInstances(model: BigramLm, inst: DataFrame,
                     idCol: String): DataFrame = {
    // per-lang floor doubles as the model's language set for the
    // unknown-lang guard
    val floorLp = model.missLogp.groupBy("lang")
      .agg(min(col("logp")).as("floor_lp"))
    val known = inst.join(broadcast(floorLp.select("lang")),
      Seq("lang"), "left_semi")
    val hit = known.join(model.logp, Seq("lang", "w1", "w2"), "left")
    val seen = hit.filter(col("logp").isNotNull)
      .select(col(idCol), col("lang"), col("n"), col("logp"))
    // only genuinely-unseen bigrams reach the backoff join; unseen
    // CONTEXTS (no missLogp row either) take the per-lang floor
    val unseen = hit.filter(col("logp").isNull)
      .drop("logp")
      .join(model.missLogp, Seq("lang", "w1"), "left")
      .join(broadcast(floorLp), Seq("lang"), "left")
      .select(col(idCol), col("lang"), col("n"),
        coalesce(col("logp"), col("floor_lp")).as("logp"))
    seen.unionByName(unseen)
      .groupBy(col(idCol), col("lang"))
      .agg((-sum(col("logp") * col("n")) / sum(col("n"))).as("nll"))
  }

  /** Query: self-score the documents corpus and report the per-language
    * NLL band histogram (band = floor of the mean negative log-likelihood
    * per token transition) — the shape a perplexity cut is chosen from.
    * Output bounded by langs × bands regardless of corpus size.
    */
  def nllBandsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // self-scoring: ONE per-doc instance frame feeds BOTH the training
    // counts (re-aggregated, map-side combined) and the scoring join. The
    // two branches share a bit-identical exchange subtree, so Catalyst's
    // ReuseExchange materializes the tokenize + bigram-explode + partial
    // aggregate once — no persist needed (and none of its write cost).
    val inst = bigramInstances(docs, "text", "lang", Seq("doc_id"))
      .groupBy("doc_id", "lang", "w1", "w2").agg(count(lit(1)).as("n"))
    val counts = inst.groupBy("lang", "w1", "w2").agg(sum("n").as("c12"))
    val vocab = docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang").agg(countDistinct("w").as("v"))
    val model = modelFromCounts(counts, vocab)
    // self-scoring: every scored bigram is in the trained table, so the
    // generic left-join + backoff split (scoreInstances) degenerates to an
    // inner join — stating it as one keeps the two inst consumers'
    // subtrees identical, so the exchange materializes once (ReuseExchange).
    // No broadcast hint: a broadcast logp table lost 65.3 vs 37.0 s on a
    // 30× replica (DEPLOY "lm_nll broadcast A/B").
    inst.join(model.logp, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      // 6-dp pre-round before the band floor and the avg — the same
      // summation-order guard nbClassify uses: cross-engine float sums can
      // disagree in the low bits, and an nll sitting exactly on an integer
      // band boundary would otherwise flip
      .agg(round(-sum(col("logp") * col("n")) / sum(col("n")), 6).as("nll"))
      .groupBy(col("lang"), floor(col("nll")).cast("int").as("nll_band"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nll")), 4).as("avg_nll"))
      .orderBy(col("lang"), col("nll_band"))
  }

  /** NLL ceiling for the ingest quality gate (`qualityGateBatch` /
    * StreamOps.qualityGateStream): chosen from the fixture's cross-corpus
    * band profile (`txt_lm_cross`: held-out per-lang means sit at
    * 3.40–3.54), so the gate genuinely separates rather than rubber-stamps.
    */
  val NllGateMax = 3.5

  /** STATELESS per-occurrence scoring rows — the shared core of the batch
    * and STREAMING quality-gate faces: one bigram-explode (no
    * pre-aggregation, so a stream can run it), then a linear chain of
    * stream-static joins against the three vocabulary-bounded model frames
    * (logp hit → (lang, w1) backoff → per-lang floor, one coalesce). The
    * model is exactly the broadcast side a stream wants; docs in unknown
    * languages drop (same contract as scoreInstances); docs under two
    * tokens never produce rows.
    */
  def scoredBigramRows(docs: DataFrame, model: BigramLm, textCol: String,
                       langCol: String, keep: Seq[String]): DataFrame = {
    val floorLp = model.missLogp.groupBy("lang")
      .agg(min(col("logp")).as("floor_lp"))
    bigramInstances(docs, textCol, langCol, keep)
      .join(broadcast(floorLp.select("lang")), Seq("lang"), "left_semi")
      .join(broadcast(model.logp), Seq("lang", "w1", "w2"), "left")
      .join(broadcast(model.missLogp.withColumnRenamed("logp", "miss_lp")),
        Seq("lang", "w1"), "left")
      .join(broadcast(floorLp), Seq("lang"), "left")
      .withColumn("lp",
        coalesce(col("logp"), col("miss_lp"), col("floor_lp")))
      .select((keep.map(col) :+ col("lang") :+ col("lp")): _*)
  }

  /** Ingest quality gate, batch face: per-doc mean NLL under the model
    * with the pass verdict at `maxNll` — (idCol, lang, nll, passed).
    * Same 6-dp rounding guard as the band faces.
    */
  def qualityGateBatch(docs: DataFrame, model: BigramLm, textCol: String,
                       langCol: String, idCol: String,
                       maxNll: Double = NllGateMax): DataFrame =
    scoredBigramRows(docs, model, textCol, langCol, Seq(idCol))
      .groupBy(col(idCol), col("lang"))
      .agg(round(-sum(col("lp")) / count(lit(1)), 6).as("nll"))
      .withColumn("passed", (col("nll") <= maxNll).cast("int"))

  /** Query: the quality gate over the held-out split (model trained on the
    * held-in 80%, same derivation as `txt_lm_cross`) — per-lang ingest
    * verdict counts. The batch face of StreamOps.qualityGateStream
    * (spec-pinned parity); output bounded by |langs|.
    */
  def qualityGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = heldInModel(spark, dir)
    qualityGateBatch(docs.filter(col("doc_id") % 5 === 0), model,
      "text", "lang", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("passed")).cast("long").as("n_passed"),
        round(avg(col("nll")), 4).as("avg_nll"))
      .orderBy(col("lang"))
  }

  /** Query: CROSS-corpus scoring — the gate's real deployment shape: train
    * on the held-in split (doc_id % 5 ≠ 0), score the held-out split
    * (doc_id % 5 = 0), so the backoff join (unseen bigram, seen context)
    * and the per-lang floor (unseen context) both genuinely fire — the
    * branches that are provably empty at self-scoring. Same banded output
    * as `nllBandsQuery`, plus how many scored transitions were misses —
    * the miss-rate a deployment watches to size its training corpus.
    */
  def crossNllBandsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = heldInModel(spark, dir)
    val inst = bigramInstances(docs.filter(col("doc_id") % 5 === 0),
        "text", "lang", Seq("doc_id"))
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    // per-doc scoring with an explicit miss counter (the generic
    // scoreInstances aggregates the same algebra without the counter)
    val floorLp = model.missLogp.groupBy("lang")
      .agg(min(col("logp")).as("floor_lp"))
    // same unknown-lang drop as scoreInstances (empty on the fixture —
    // every lang appears in both splits — but the contract is uniform)
    val known = inst.join(broadcast(floorLp.select("lang")),
      Seq("lang"), "left_semi")
    val hit = known.join(model.logp, Seq("lang", "w1", "w2"), "left")
    val seen = hit.filter(col("logp").isNotNull)
      .select(col("doc_id"), col("lang"), col("n"), col("logp"),
        lit(0L).as("miss"))
    val unseen = hit.filter(col("logp").isNull)
      .drop("logp")
      .join(model.missLogp, Seq("lang", "w1"), "left")
      .join(broadcast(floorLp), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n"),
        coalesce(col("logp"), col("floor_lp")).as("logp"),
        col("n").as("miss"))
    seen.unionByName(unseen)
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(-sum(col("logp") * col("n")) / sum(col("n")), 6).as("nll"),
        sum(col("miss")).as("n_miss"), sum(col("n")).as("n_trans"))
      .groupBy(col("lang"), floor(col("nll")).cast("int").as("nll_band"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nll")), 4).as("avg_nll"),
        sum(col("n_miss")).as("n_miss"),
        sum(col("n_trans")).as("n_trans"))
      .orderBy(col("lang"), col("nll_band"))
  }

  /** Query: CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3) — per language, docs split into head / middle /
    * tail by LM-score terciles; CCNet keeps the head+middle as its quality
    * cut. Scores are the same self-trained, 6-dp-pre-rounded per-doc NLLs
    * as `txt_lm_nll`; tercile THRESHOLDS are rank-based (type-1: the value
    * at position ⌈n/3⌉ / ⌈2n/3⌉ — pure integer ranks against exact value
    * compares, so both engines pick the identical cut, no interpolated
    * floats). The threshold pass runs over the (lang, distinct nll)
    * histogram, never a row sort — the RankOps CDF shape; at 100 TB the
    * cuts would come from a `SamplingOps.hashSample` first (CCNet itself
    * estimates them from a sample), after which bucketing is a broadcast
    * comparison either way. Output bounded by |langs| × 3.
    */
  def pplBucketsQuery(spark: SparkSession, dir: String): DataFrame =
    pplBucketed(spark, dir)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nll")), 4).as("avg_nll"),
        min(col("nll")).as("min_nll"), max(col("nll")).as("max_nll"))
      .orderBy(col("lang"), col("bucket"))

  /** Cross-query registry of the corpus' SELF-SCORED per-doc NLL frame
    * (doc_id, lang, nll) — `quality_ppl_buckets`, `quality_gate_agreement`,
    * and the curation funnels all consume the same deterministic model fit
    * + scoring join, so it follows the fit-registry pattern (DedupOps.
    * labelCache): persisted rows keyed by `Fingerprint.dirKey`, materialized
    * eagerly so inner scoped frames can release, cleared at harness
    * teardown. The frame is three fixed-width columns per scoreable doc —
    * assignment-table-sized. Before r14 each consumer re-fit the bigram
    * model per query (three fits per Bench/Verify session); the scoring
    * joins were the measured bound of `quality_gate_agreement` (14.0 s at
    * the 10× probe).
    */
  private val nllCache = graft.Caching.Registry[DataFrame]("lm.nll")

  def clearNllCache(): Unit =
    Seq(nllCache, bucketedCache, historyModelCache, splitModelCache).foreach(_.clear())

  /** Registry for the HELD-IN-split model (train = doc_id % 5 ≠ 0) the
    * cross-corpus faces score with: `txt_lm_cross` and the quality gate
    * both freeze this same model — in deployment it is a stored artifact
    * (CCNet ships a trained KenLM, not a per-batch refit), exactly the
    * `lm.history` contract with a different cut derivation. Scoring the
    * held-out split stays live per run: it IS each face's measurement.
    */
  private val splitModelCache = graft.Caching.Registry[BigramLm]("lm.splitmodel")

  private def heldInModel(spark: SparkSession, dir: String): BigramLm =
    splitModelCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|mod5") {
      val m = bigramModel(
        Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0),
        "text", "lang")
      m.logp.persist().count()
      m.missLogp.persist().count()
      m
    }

  /** Registry for the FROZEN-history model the ingest gates score with:
    * one bigram fit per (corpus version, cut) per session — the ingest
    * gate, the five-stage gate, and their realistic twins all freeze the
    * same history model, and each bench/verify invocation was re-fitting
    * it (the frozen model is a stored table in production, like the
    * minhash index it rides beside).
    */
  private val historyModelCache = graft.Caching.Registry[BigramLm]("lm.history")

  def frozenHistoryModel(spark: SparkSession, dir: String, cut: Long,
                         textCol: String, langCol: String): BigramLm =
    historyModelCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|$cut") {
      val history = Tables.documents(spark, dir)
        .filter(col("doc_id") <= cut)
      val m = bigramModel(history, textCol, langCol)
      m.logp.persist().count()
      m.missLogp.persist().count()
      m
    }

  /** The registry face: per-doc (doc_id, lang, nll) under the corpus'
    * own bigram model — identical derivation to nllBandsQuery's scoring
    * branch (6-dp pre-round guard included).
    */
  def selfScoredNll(spark: SparkSession, dir: String): DataFrame =
    nllCache.get(graft.Fingerprint.dirKey(spark, dir))(buildSelfScoredNll(spark, dir))

  private def buildSelfScoredNll(spark: SparkSession, dir: String)
      : DataFrame = {
      val docs = Tables.documents(spark, dir)
      val inst = bigramInstances(docs, "text", "lang", Seq("doc_id"))
        .groupBy("doc_id", "lang", "w1", "w2").agg(count(lit(1)).as("n"))
      val counts = inst.groupBy("lang", "w1", "w2").agg(sum("n").as("c12"))
      val vocab = docs
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy("lang").agg(countDistinct("w").as("v"))
      val model = modelFromCounts(counts, vocab)
      graft.Caching.materialize(inst.join(model.logp, Seq("lang", "w1", "w2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(-sum(col("logp") * col("n")) / sum(col("n")), 6).as("nll")))
    }

  /** Per-doc tercile assignment (doc_id, lang, nll, bucket) — the shared
    * core of `quality_ppl_buckets` and the curation funnel's perplexity
    * gate, over the registry-shared `selfScoredNll` frame. Docs the LM
    * can't score (under two tokens) carry no row.
    * `thresholdFrac < 1.0` estimates the cuts from a deterministic
    * `SamplingOps.hashSample` of the scored docs instead of all of them —
    * the 100 TB protocol (CCNet's own: cutoffs from a sample), with
    * bucketing still a broadcast comparison over every doc. Agreement
    * between sampled and exact cuts is spec-pinned. A language whose docs
    * all miss the sample falls back to the GLOBAL (pooled) cuts from the
    * same sample instead of silently losing every doc to the inner join —
    * spec-pinned; at thresholdFrac = 1.0 the fallback is provably dead
    * (every scored lang has its own thresholds).
    */
  def pplBucketed(spark: SparkSession, dir: String,
                  thresholdFrac: Double = 1.0): DataFrame =
    if (thresholdFrac >= 1.0)
      // the exact-cuts frame is as deterministic as the nll frame it
      // derives from and FOUR faces consume it per corpus (ppl buckets,
      // gate agreement, both funnels) — registry it like its parent
      // instead of re-running the tercile windows per consumer (r17:
      // ~0.5 s per funnel run at sf0.1)
      bucketedCache.get(graft.Fingerprint.dirKey(spark, dir)) {
        graft.Caching.materialize(pplBucketedUncached(spark, dir, 1.0))
      }
    else pplBucketedUncached(spark, dir, thresholdFrac)

  private val bucketedCache = graft.Caching.Registry[DataFrame]("lm.bucketed")

  private def pplBucketedUncached(spark: SparkSession, dir: String,
                                  thresholdFrac: Double): DataFrame = {
    val nll = selfScoredNll(spark, dir)
    // Empty-sample guard: a tiny thresholdFrac on a tiny corpus can leave
    // the hash sample with zero rows, making every cut null and silently
    // routing every scored doc to 'tail' (the funnel gate would then drop
    // them all). Fall back to exact cuts in that case — `nll` is the
    // persisted registry frame, so the isEmpty probe is a cached scan,
    // and it only runs on the sampled path.
    val thrSource =
      if (thresholdFrac >= 1.0) nll
      else {
        val s = SamplingOps.hashSample(nll, "doc_id", thresholdFrac)
        if (s.isEmpty) nll else s
      }
    val hist = thrSource.groupBy(col("lang"), col("nll"))
      .agg(count(lit(1)).as("hn"))
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("nll")
    val whole = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val cum = hist
      .withColumn("cum", sum(col("hn")).over(byLang))
      .withColumn("nk", sum(col("hn")).over(whole))
    val thr = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(nk + 2) DIV 3"), col("nll"))).as("t1"),
      min(when(col("cum") >= expr("(2 * nk + 2) DIV 3"), col("nll"))).as("t2"))
    // pooled-sample cuts — the per-lang fallback. The unpartitioned window
    // runs over the distinct-nll histogram (the RankOps-sanctioned bounded
    // frame), never doc rows. At thresholdFrac = 1.0 every scored lang has
    // its own thresholds so the fallback is provably dead — skip the
    // serial pooled sort entirely (doc-level 6-dp nll makes the distinct
    // histogram ~|scored docs|) and cross-join a null-literal frame.
    val gthr =
      if (thresholdFrac >= 1.0)
        spark.range(1).select(
          lit(null).cast("double").as("g1"),
          lit(null).cast("double").as("g2"))
      else {
        val gAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        val gBy = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1)).orderBy("nll")
        val gcum = thrSource.groupBy(col("nll")).agg(count(lit(1)).as("hn"))
          .withColumn("cum", sum(col("hn")).over(gBy))
          .withColumn("nk", sum(col("hn")).over(gAll))
        gcum.agg(
          min(when(col("cum") >= expr("(nk + 2) DIV 3"), col("nll"))).as("g1"),
          min(when(col("cum") >= expr("(2 * nk + 2) DIV 3"), col("nll"))).as("g2"))
      }
    nll.join(broadcast(thr), Seq("lang"), "left")
      .crossJoin(broadcast(gthr))
      .withColumn("bucket",
        when(col("nll") <= coalesce(col("t1"), col("g1")), lit("head"))
          .when(col("nll") <= coalesce(col("t2"), col("g2")), lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "lang", "nll", "bucket")
  }
}
