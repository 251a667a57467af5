package graft.operators

import org.apache.spark.ml.clustering.{KMeans, LDA, LDAModel}
import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel, PCA}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** The MLlib half of the topic-modeling suite — the reference's LDA and
  * BERTopic pipelines re-expressed as Spark ML stages (SURVEY.md §2.9):
  *
  *   - LDA path (M1-M3, A5, A7, A8, W2): tokens → CountVectorizer(minDF) →
  *     LDA(seed 42, online optimizer ≈ gensim's variational Bayes;
  *     /root/reference/LDA_Analysis.py:265-276) → describeTopics ⋈ vocab,
  *     dominant-topic histogram (LDA_Analysis.py:645-657), top-k docs per
  *     topic (LDA_Analysis.py:443-453).
  *   - Cluster path (M7-M9, M11): precomputed embeddings (the Embedder
  *     stand-in, SURVEY.md M6) → PCA(5) (UMAP stand-in, documented
  *     divergence) → KMeans(seed 42) (the reference's own exact-k mode,
  *     BERTopic_Analysis.py:277-297) → c-TF-IDF keywords per cluster (A10).
  *   - Grid search (M5, LDA_Analysis.py:179-248): driver loop over k,
  *     scored by u_mass coherence of each model's top words.
  *
  * Every estimator is seeded (42) — the reference's reproducibility contract
  * (SURVEY.md §4). These queries carry no SQL oracle (iterative ML is not
  * SQL-expressible); the driver records rows-only checks, and the ScalaTest
  * specs assert shapes, determinism, and metric ranges.
  */
object TopicModelOps {

  val Seed = 42L

  /** Fitted-model registry: several queries consume the same (dir, k) LDA or
    * KMeans fit, and estimators are seeded, so refitting would waste the
    * dominant cost for an identical result. Keyed by fixture dir + params.
    *
    * Lifetime contract: entries deliberately survive queries (Bench/Verify
    * reuse seeded fits cross-query), so the registry — and the persisted
    * frames under it — grows with the distinct (dir, k, maxIter) key space.
    * A bounded harness run never sees more than a handful of keys; a
    * long-lived SERVICE that cycles corpora must call `clearModelCache()`
    * between corpora (Bench/Verify clear every registry at teardown).
    */
  private val cache =
    graft.Caching.Registry[Any]("topicmodel.fits", graft.Caching.ModelRegistryMaxEntries)
  // ModelRegistryMaxEntries, not the default: this registry's per-corpus
  // working set is ≥ 9 keys (base lda/ldaT + four grid fits + km/kmNoise +
  // example/reduce variants) — an 8-entry cap thrashes every bench sweep,
  // re-fitting the 5:20 LDA that ldaTopicCoherence reuses (measured 2.93 →
  // 6.43 s median in r15; back under 3 s with the sized cap + LRU).
  private def cached[T](key: String)(f: => T): T =
    cache.get(key)(f).asInstanceOf[T]

  /** Evict every cached fit and unpersist the frames it pins (the escape
    * hatch for service lifetimes — see the registry contract above).
    */
  def clearModelCache(): Unit = cache.clear()

  /** Number of live registry entries (spec + monitoring surface). */
  def modelCacheSize: Int = cache.size

  /** Shared seeded LDA fit over the documents fixture. */
  private def fittedLda(spark: SparkSession, dir: String, k: Int,
                        maxIter: Int): (DataFrame, Array[String], LDAModel) =
    cached(s"lda:${graft.Fingerprint.dirKey(spark, dir)}:$k:$maxIter") {
      val (vecs, vocab) = vectorize(Tables.documents(spark, dir), "text")
      vecs.persist()
      (vecs, vocab, fitLda(vecs, k, maxIter))
    }

  /** The engine's one LDA estimator: seeded (42) online LDA over `vecs`'
    * `features` column. alpha='auto' parity: setOptimizeDocConcentration
    * learns the doc-topic prior like gensim (LDA_Analysis.py:273). The same
    * line also sets eta='auto'; Spark's online LDA keeps the topic-word
    * prior FIXED at its default 1/k (gensim's eta starting point) and
    * cannot adapt it — documented divergence: topic-word posteriors can
    * differ slightly on corpora where gensim's learned eta drifts from 1/k.
    */
  def fitLda(vecs: DataFrame, k: Int, maxIter: Int): LDAModel =
    new LDA().setK(k).setSeed(Seed).setMaxIter(maxIter)
      .setOptimizeDocConcentration(true)
      .setFeaturesCol("features").fit(vecs)

  /** Documents with a bag-of-words `features` vector and kept vocabulary.
    * maxDF (reference: no_above=0.7, LDA_Analysis.py:171) is optional — the
    * synthetic fixture draws from a tiny vocabulary where every word appears
    * in most documents, so a 0.7 cap would empty the vocab there.
    */
  def vectorize(docs: DataFrame, textCol: String,
                vocabSize: Int = 2048, minDF: Double = 2.0,
                maxDFRatio: Option[Double] = None,
                tokenizer: graft.functions.Tokenizer = graft.functions.Tokenizer.default)
      : (DataFrame, Array[String]) = {
    val raw = docs.withColumn("toks", tokenizer.tokenize(col(textCol)))
      .filter(size(col("toks")) >= 3) // reference keeps docs with ≥3 tokens
    // Right-size partitions for ITERATIVE training: online LDA launches a
    // job per iteration, so partition count is per-iteration task overhead.
    // ~2k docs per partition keeps small corpora snappy and large corpora
    // parallel (a 100 TB corpus still gets its tens of thousands of tasks).
    val n = raw.count()
    val parts = math.max(1, math.min(
      raw.rdd.getNumPartitions, (n / 2000L).toInt + 1))
    val toks = raw.coalesce(parts)
    val cv = new CountVectorizer()
      .setInputCol("toks").setOutputCol("features")
      .setVocabSize(vocabSize).setMinDF(minDF)
    maxDFRatio.foreach(cv.setMaxDF)
    val model: CountVectorizerModel = cv.fit(toks)
    (model.transform(toks), model.vocabulary)
  }

  /** describeTopics ⋈ vocabulary → (topic, rank, term, weight) — M1+M3. */
  def describeJoined(spark: SparkSession,
                     model: LDAModel,
                     vocab: Array[String], topN: Int): DataFrame = {
    val vocabDf = spark.createDataFrame(
      vocab.zipWithIndex.map { case (t, i) => (i, t) }.toSeq)
      .toDF("termId", "term")
    model.describeTopics(topN)
      .select(col("topic"),
        posexplode(arrays_zip(col("termIndices"), col("termWeights")))
          .as(Seq("pos", "tw")))
      .select(col("topic"), (col("pos") + 1).as("rank"),
        col("tw.termIndices").as("termId"), col("tw.termWeights").as("weight"))
      .join(broadcast(vocabDf), "termId")
      .select(col("topic"), col("rank").cast("int").as("rank"), col("term"),
        round(col("weight"), 6).as("weight"))
      .orderBy(col("topic"), col("rank"))
  }

  /** Query: LDA k=5 topics over the documents fixture. The fit's artifacts
    * (raw describeTopics matrix + vocabulary) export for the oracle, which
    * re-derives the vocab join / rank / rounding downstream independently.
    */
  def ldaTopicsQuery(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab, model) = fittedLda(spark, dir, 5, 20)
    graft.Artifacts.save("lda_vocab") {
      spark.createDataFrame(
        vocab.zipWithIndex.map { case (t, i) => (i, t) }.toSeq)
        .toDF("termId", "term")
    }
    graft.Artifacts.save("lda_topic_desc") {
      model.describeTopics(10)
        .select(col("topic"),
          posexplode(arrays_zip(col("termIndices"), col("termWeights")))
            .as(Seq("pos", "tw")))
        .select(col("topic"), col("pos"),
          col("tw.termIndices").as("termId"), col("tw.termWeights").as("weight"))
    }
    describeJoined(spark, model, vocab, 10)
  }

  /** Shared LDA inference frame: doc rows + (dist, maxp, topic) — persisted
    * once so `lda_dominant` and `lda_top_docs` don't each re-run
    * model.transform over the corpus.
    */
  private def ldaInferred(spark: SparkSession, dir: String, k: Int,
                          maxIter: Int): DataFrame = {
    val inferred = cached(s"ldaT:${graft.Fingerprint.dirKey(spark, dir)}:$k:$maxIter") {
      val (vecs, _, model) = fittedLda(spark, dir, k, maxIter)
      model.transform(vecs)
        .withColumn("dist", vector_to_array(col("topicDistribution")))
        .withColumn("maxp", array_max(col("dist")))
        .withColumn("topic",
          (array_position(col("dist"), col("maxp")) - 1).cast("int"))
        .select("doc_id", "text", "topic", "maxp", "dist")
        .persist()
    }
    // raw doc-topic distributions for the oracle: it re-derives maxp/argmax/
    // threshold/rank downstream itself from the exact persisted doubles
    graft.Artifacts.save("lda_doc_topics")(inferred.select("doc_id", "dist"))
    inferred
  }

  /** Doc-topic inference + dominant-topic histogram (M2+A5): count docs per
    * dominant topic where the max probability clears the reference's 0.3 bar.
    */
  def ldaDominantTopics(spark: SparkSession, dir: String): DataFrame =
    ldaInferred(spark, dir, 5, 20)
      .filter(col("maxp") > 0.3)
      .groupBy("topic")
      .agg(count(lit(1)).as("n_docs"), round(avg("maxp"), 4).as("avg_prob"))
      .orderBy("topic")

  /** Top-k example docs per topic by dominant probability, text truncated to
    * 200 chars (W2; LDA_Analysis.py:443-453).
    */
  def ldaTopDocs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic").orderBy(col("prob").desc, col("doc_id"))
    ldaInferred(spark, dir, 5, 20)
      .withColumn("prob", col("maxp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("topic"), col("rank"), col("doc_id"),
        round(col("prob"), 4).as("prob"),
        substring(col("text"), 1, 200).as("example"))
      .orderBy("topic", "rank")
  }

  /** Embedding → PCA(5) → KMeans(k) cluster assignments (vec_id, cluster). */
  def clusterEmbeddings(embs: DataFrame, k: Int, pcaDims: Int = 5): DataFrame = {
    val vecs = embs.withColumn("vec", array_to_vector(col("embedding")))
    val pca = new PCA().setInputCol("vec").setOutputCol("pca")
      .setK(pcaDims).fit(vecs)
    // one PCA evaluation feeds both the KMeans fit and the assignment scan
    val feat = graft.Caching.track(pca.transform(vecs))
    val km = new KMeans().setK(k).setSeed(Seed).setFeaturesCol("pca")
      .setPredictionCol("cluster")
    km.fit(feat).transform(feat)
  }

  /** M8 noise semantics: HDBSCAN labels outliers cluster −1, and the
    * reference filters that label before keywords/diversity/examples
    * (/root/reference/BERTopic_Analysis.py:395,438-439,474-475,549-550,
    * 695-697). The KMeans stand-in has no noise concept, so emulate it:
    * points farther from their cluster's empirical PCA-space centroid than
    * mean + `noiseSigmas`·σ of their cluster's distance distribution are
    * relabeled −1. Fully distributed: per-dim centroid means via one
    * explode+groupBy (k·dims rows), thresholds via one more agg, both
    * broadcast back.
    */
  def clusterEmbeddingsWithNoise(embs: DataFrame, k: Int, pcaDims: Int = 5,
                                 noiseSigmas: Double = 2.0,
                                 artifactName: Option[String] = None): DataFrame = {
    val assigned = graft.Caching.track(
      clusterEmbeddings(embs, k, pcaDims)
        .withColumn("p", vector_to_array(col("pca"))))
    // pre-noise assignment + PCA coordinates: the oracle re-derives the
    // centroids, distances, and the mean+2σ relabel entirely in SQL
    artifactName.foreach(n => graft.Artifacts.save(n)(
      assigned.select("vec_id", "cluster", "p")))
    val cents = assigned
      .select(col("cluster"), posexplode(col("p")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim").agg(avg("x").as("m"))
      .groupBy("cluster")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("centroid"))
    val withDist = graft.Caching.track(assigned
      .join(broadcast(cents), "cluster")
      .withColumn("d", expr(
        "sqrt(aggregate(zip_with(p, centroid, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x))")))
    val thr = withDist.groupBy("cluster")
      .agg((avg("d") + stddev_pop(col("d")) * noiseSigmas).as("thr"))
    withDist
      .join(broadcast(thr), "cluster")
      .withColumn("cluster",
        when(col("d") > col("thr"), lit(-1)).otherwise(col("cluster")))
      .select("vec_id", "cluster", "label", "embedding")
  }

  /** Shared noise-labeled assignment (the cluster path's default — the pure
    * exact-k assignment stays available via fittedClusters/kmeansProfile).
    */
  private[operators] def fittedNoisyClusters(spark: SparkSession, dir: String,
                                             k: Int): DataFrame = {
    val noisy = cached(s"kmNoise:${graft.Fingerprint.dirKey(spark, dir)}:$k") {
      clusterEmbeddingsWithNoise(Tables.embeddings(spark, dir), k,
        artifactName = Some("kmeans_pca_assign")).persist()
    }
    // post-noise labels: bertopic_keywords' oracle starts here (the noise
    // rule itself is verified once, by cluster_noise's pca_assign oracle)
    graft.Artifacts.save("kmeans_noisy_assign")(
      noisy.select("vec_id", "cluster"))
    noisy
  }

  /** Query: cluster sizes including the emulated noise cluster −1 (P9/M8
    * surface — the share column is the reference's outlier-rate report).
    */
  def clusterNoiseProfile(spark: SparkSession, dir: String): DataFrame = {
    val a = fittedNoisyClusters(spark, dir, 8)
    a.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(a.agg(count(lit(1)).as("n_total"))))
      .select(col("cluster"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total"), 4).as("share"))
      .orderBy("cluster")
  }

  /** Query: KMeans cluster profile vs ground-truth labels — size, dominant
    * label, purity (M8/M9 quality surface).
    */
  /** Shared PCA+KMeans assignment over the embeddings fixture — keeps the
    * raw embedding so every k=8 consumer (profile, keywords, reduction,
    * centroid examples) reads this one persisted frame instead of refitting.
    */
  private[operators] def fittedClusters(spark: SparkSession, dir: String,
                                        k: Int): DataFrame = {
    val assigned = cached(s"km:${graft.Fingerprint.dirKey(spark, dir)}:$k") {
      clusterEmbeddings(Tables.embeddings(spark, dir), k)
        .select("vec_id", "cluster", "label", "embedding").persist()
    }
    // assignment table for the oracle (embeddings re-join by vec_id there)
    graft.Artifacts.save("kmeans_assign")(
      assigned.select("vec_id", "cluster", "label"))
    assigned
  }

  def kmeansProfile(spark: SparkSession, dir: String): DataFrame = {
    val assigned = fittedClusters(spark, dir, 8)
    val byLabel = assigned.groupBy("cluster", "label")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("label"))
    val top = byLabel.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("label").as("top_label"), col("n").as("top_n"))
    assigned.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .join(top, "cluster")
      .withColumn("purity", round(col("top_n").cast("double") / col("n_vecs"), 4))
      .select("cluster", "n_vecs", "top_label", "purity")
      .orderBy("cluster")
  }

  /** The BERTopic-analog pipeline (M11): embeddings → PCA → KMeans clusters
    * joined back to documents by id → c-TF-IDF keywords per cluster.
    * The fixture's embeddings table is row-aligned with documents
    * (vec_id = doc_id), standing in for the sentence-embedding stage.
    */
  def bertopicKeywords(spark: SparkSession, dir: String): DataFrame = {
    // noise docs (cluster −1) are excluded from keyword extraction, matching
    // the reference's filter (BERTopic_Analysis.py:395) — P9
    val clusters = fittedNoisyClusters(spark, dir, 8)
      .filter(col("cluster") =!= -1)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val docs = Tables.documents(spark, dir).join(clusters, "doc_id")
    TopicMetricsOps.ctfidfKeywords(docs, "cluster", "text", 10)
      .orderBy("cls", "rank")
  }

  /** (cls, word, rank) frame of a fitted model's per-topic top words —
    * describeTopics order, deterministic for a seeded fit. K·topN rows.
    */
  def topicWordsDF(spark: SparkSession,
                   model: LDAModel,
                   vocab: Array[String], topN: Int = 10): DataFrame = {
    import spark.implicits._
    model.describeTopics(topN).collect().flatMap { r =>
      val t = r.getInt(0)
      r.getSeq[Int](1).zipWithIndex.map { case (tid, i) => (t, vocab(tid), i + 1) }
    }.toSeq.toDF("cls", "word", "rank")
  }

  /** Query: per-topic u_mass + c_npmi of the shared k=5 LDA fit — every
    * topic and both measures from one corpus pass
    * (TopicMetricsOps.coherenceByClass; rows-only: the topic-word lists
    * come from the trained model).
    */
  def ldaTopicCoherence(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab, model) = fittedLda(spark, dir, 5, 20)
    val topicWords = topicWordsDF(spark, model, vocab)
    // per-topic word lists for the oracle: the coherence math downstream of
    // the fit is the SAME presence/pair SQL the c-TF-IDF coherence queries
    // already verify, just sourced from the fitted word lists
    graft.Artifacts.save("lda_topic_words")(topicWords)
    // both measures, every topic, from one corpus pass; ordered by topic
    TopicMetricsOps.coherenceByClass(
      TopicMetricsOps.tokenizedDocs(Tables.documents(spark, dir), "text"),
      topicWords)
      .select(col("cls").as("topic"), col("n_pairs"), col("umass"),
        col("c_npmi"))
  }

  /** LDA topic-count grid search scored by u_mass coherence (M5). */
  def ldaGridSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one tokenized corpus feeds every grid point's u_mass pass
    val toks = graft.Caching.track(
      TopicMetricsOps.tokenizedDocs(Tables.documents(spark, dir), "text"))
    // the k's are independent seeded fits — forked so their Spark jobs run
    // side by side, each under this query's cache scope (the reference's
    // grid loop is sequential; LDA_Analysis.py:179-248)
    val rows = graft.Caching.forkJoin(
      Seq(2, 3, 5, 8).map { k => () => gridPoint(spark, dir, toks, k) })
    rows.toDF("k", "umass").withColumn("best",
      (col("umass") === max(col("umass")).over(Window.partitionBy())).cast("int"))
  }

  private def gridPoint(spark: SparkSession, dir: String,
                        toks: DataFrame, k: Int): (Int, Double) = {
    val (_, vocab, model) = fittedLda(spark, dir, k, 10)
    // Per-topic ranked words in describeTopics order — deterministic for a
    // seeded fit (the old pooled distinct() assigned ranks in shuffle
    // order, so scores varied run-to-run). Scored per topic in ONE corpus
    // scan, then averaged — gensim's per-topic aggregation
    // (LDA_Analysis.py:286-308).
    val topicWords = topicWordsDF(spark, model, vocab)
    // each grid point's word lists export for the oracle, which re-runs
    // the u_mass scoring + argmax downstream over all k's in one query
    graft.Artifacts.save(s"lda_grid_words_$k")(topicWords)
    (k, TopicMetricsOps.meanUmass(toks, topicWords))
  }

  /** One document frame's LDA inputs, built once for every consumer: the
    * CountVectorizer features (`vectorize`) with their vocabulary, and the
    * tokenized (toks) corpus the coherence pass reads. The EP3 report
    * and its k-grid both fit and score over these.
    */
  final case class LdaCorpus(vecs: DataFrame, vocab: Array[String],
                             toks: DataFrame)

  /** `docs`' LDA inputs, both frames tracked in the caller's cache scope —
    * which must outlive every consumer of the corpus.
    */
  def ldaCorpus(docs: DataFrame, textCol: String): LdaCorpus = {
    val (vecs, vocab) = vectorize(docs, textCol)
    LdaCorpus(graft.Caching.track(vecs), vocab,
      graft.Caching.track(TopicMetricsOps.tokenizedDocs(docs, textCol)))
  }

  /** Grid search over an ARBITRARY document frame's `ldaCorpus` — the CLI
    * path (the fixture-keyed ldaGridSearch above reuses the fitted-model
    * registry instead). The caller's corpus feeds every k, so the grid adds
    * no vectorization or tokenization of its own; the seeded fits are
    * forked like ldaGridSearch's.
    */
  def gridSearchOver(spark: SparkSession, corpus: LdaCorpus,
                     ks: Seq[Int] = Seq(2, 3, 5, 8),
                     maxIter: Int = 10): DataFrame = {
    import spark.implicits._
    val rows = graft.Caching.forkJoin(ks.map { k => () =>
      (k, TopicMetricsOps.meanUmass(corpus.toks,
        topicWordsDF(spark, fitLda(corpus.vecs, k, maxIter), corpus.vocab)))
    })
    rows.toDF("k", "umass").withColumn("best",
      (col("umass") === max(col("umass")).over(Window.partitionBy())).cast("int"))
  }
}
