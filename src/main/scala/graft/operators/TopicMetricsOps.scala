package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Topic-quality metrics as pure DataFrame programs — the deterministic,
  * oracle-checkable half of the reference's topic-modeling suite:
  *
  *   - c-TF-IDF class keywords (BERTopic's topic-word scoring, consumed at
  *     /root/reference/BERTopic_Analysis.py:396,440,552,698; SURVEY.md A10):
  *     W(t,c) = tf(t,c) · ln(1 + A / f(t)), A = mean tokens per class.
  *   - topic diversity (LDA_Analysis.py:310-338, BERTopic_Analysis.py:427-458;
  *     A6): distinct / total over the per-topic top keywords.
  *   - u_mass coherence (LDA_Analysis.py:286-308; M4): mean over ordered word
  *     pairs of ln((D(wi,wj)+1)/D(wj)) on document co-occurrence counts.
  *   - cross-topic keyword dedup (BERTopic_Analysis.py:693-717; D2): first
  *     topic in rank order claims each keyword, survivors re-ranked.
  *
  * The fixture "classes" are the documents table's lang column — on a real
  * corpus the same functions run over any cluster/topic assignment column.
  * Shuffle profile: one explode+groupBy per metric, all joins on tiny keys;
  * the per-class top-k is a Window over ≤ classes·vocab rows.
  */
object TopicMetricsOps {

  /** Per-class term frequencies joined with corpus frequencies and the
    * per-class average token count: the c-TF-IDF inputs, from ONE scan.
    */
  def classTermScores(docs: DataFrame, classCol: String, textCol: String): DataFrame =
    classTermScoresOf(docs, classCol, tokens(col(textCol)))

  /** c-TF-IDF inputs over an arbitrary term-array expression — the seam the
    * (1,2)-gram vectorizer parity path plugs into. The tfMap kernel
    * pre-aggregates per row, so the (cls, word) shuffle carries one row per
    * distinct word per doc instead of one per occurrence.
    */
  def classTermScoresOf(docs: DataFrame, classCol: String,
                        terms: Column): DataFrame =
    classTermScoresFromTf(graft.Caching.track(classTfOf(docs, classCol, terms)))

  /** The (cls, word, tf) class term-frequency aggregate — the single
    * definition every consumer (per-query and registry) builds from.
    */
  private def classTfOf(docs: DataFrame, classCol: String,
                        terms: Column): DataFrame =
    docs
      .select(col(classCol).as("cls"),
        explode(graft.functions.TextExpressions.tfMapK(terms))
          .as(Seq("word", "tf_d")))
      .groupBy("cls", "word")
      .agg(sum(col("tf_d")).as("tf"))

  /** Cross-query registry of the LANG-CLASS term-frequency table — the
    * c-TF-IDF model's input frame, (cls, word, tf) per term space. Eight
    * topic-metric faces (ctfidf ×2 spaces, diversity, overlap, keyword
    * dedup, similarity, interpret, examples) derive from this one
    * aggregate, and each was re-running the tokenize + tfMap + groupBy
    * corpus scan per invocation — the retrieval.postings contract
    * verbatim ("share ONE tokenize scan per corpus version"), applied to
    * the class-partitioned term index. Keyed corpus fingerprint × term
    * space; generic callers (EP pipelines over arbitrary cluster frames)
    * stay on the per-query path.
    */
  private val classTfCache = graft.Caching.Registry[DataFrame]("topicmetrics.classtf")

  def clearClassTfCache(): Unit = classTfCache.clear()

  private def langClassTf(spark: SparkSession, dir: String): DataFrame =
    classTfCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|uni") {
      val tf = classTfOf(Tables.documents(spark, dir), "lang",
        tokens(col("text"))).persist()
      tf.count() // materialize before the building query's scope ends
      tf
    }

  private def langClassTfBigrams(spark: SparkSession, dir: String): DataFrame =
    classTfCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|bi") {
      val staged = Tables.documents(spark, dir)
        .select(col("lang"), tokens(col("text")).as("toks"))
      val tf = classTfOf(staged, "lang",
        concat(col("toks"), TextAnalysisOps.tokenBigrams(col("toks"))))
        .persist()
      tf.count() // materialize before the building query's scope ends
      tf
    }

  /** c-TF-IDF scores from a PRE-AGGREGATED (cls, word, tf) frame — the seam
    * for consumers that already hold a doc-level TF (the class TF is its
    * re-aggregation, so the corpus tokenizes once).
    */
  def classTermScoresFromTf(tf: DataFrame): DataFrame = {
    val ft = tf.groupBy("word").agg(sum("tf").as("ft"))
    val scalars = tf.agg(
      (sum("tf").cast("double") / countDistinct("cls")).as("avg_class_tokens"))
    tf.join(ft, "word")
      .crossJoin(broadcast(scalars))
      .withColumn("score",
        col("tf") * log(lit(1.0) + col("avg_class_tokens") / col("ft")))
  }

  /** Top-k c-TF-IDF keywords per class. */
  def ctfidfKeywords(docs: DataFrame, classCol: String, textCol: String,
                     k: Int): DataFrame =
    ctfidfKeywordsOf(docs, classCol, tokens(col(textCol)), k)

  /** Top-k c-TF-IDF keywords per class over an arbitrary term expression. */
  def ctfidfKeywordsOf(docs: DataFrame, classCol: String, terms: Column,
                       k: Int): DataFrame =
    ctfidfRank(classTermScoresOf(docs, classCol, terms), k)

  /** The shared top-k window over a class-term score frame. */
  private def ctfidfRank(scores: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("cls").orderBy(col("score").desc, col("word"))
    scores
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cls"), col("rank"), col("word"),
        round(col("score"), 4).as("score"))
  }

  /** Query: top-10 c-TF-IDF keywords per language class (registry-shared
    * class-TF table).
    */
  def ctfidfByLang(spark: SparkSession, dir: String): DataFrame =
    ctfidfRank(classTermScoresFromTf(langClassTf(spark, dir)), 10)

  /** Query: top-10 c-TF-IDF keywords per language over the (1,2)-gram term
    * space — the reference BERTopic vectorizer's ngram_range=(1,2)
    * (/root/reference/BERTopic_Analysis.py:224-229): unigrams plus adjacent
    * bigrams feed the same class-based scoring.
    */
  def ctfidfBigramsByLang(spark: SparkSession, dir: String): DataFrame =
    ctfidfRank(classTermScoresFromTf(langClassTfBigrams(spark, dir)), 10)

  /** Topic diversity (distinct/total) over per-class top-k keywords. */
  def topicDiversity(keywords: DataFrame): DataFrame =
    keywords.agg(
      countDistinct(col("cls")).as("n_topics"),
      count(lit(1)).as("n_keywords"),
      round(countDistinct(col("word")).cast("double") / count(lit(1)), 4)
        .as("diversity"))

  /** Query: diversity of the per-lang c-TF-IDF keyword sets. */
  def diversityByLang(spark: SparkSession, dir: String): DataFrame =
    topicDiversity(ctfidfByLang(spark, dir))

  /** Cross-topic keyword dedup (D2): each word goes to the first class in
    * (class, rank) precedence order; survivors re-ranked to top `keep`.
    * `withScore` also carries the keyword's score through — the reference's
    * committed 중복없는_토픽키워드.xlsx sheet is (Topic, Keyword Rank,
    * Keyword, Weight), so the EP2 report needs the fourth column
    * (GoldenSpec pins the parity); the lang-class face keeps the narrow
    * shape its oracle verifies.
    */
  def dedupKeywords(keywords: DataFrame, keep: Int,
                    withScore: Boolean = false): DataFrame = {
    val claim = Window.partitionBy("word").orderBy(col("cls"), col("rank"))
    val rerank = Window.partitionBy("cls").orderBy(col("rank"))
    val base = keywords
      .withColumn("claim", row_number().over(claim))
      .filter(col("claim") === 1)
      .withColumn("new_rank", row_number().over(rerank))
      .filter(col("new_rank") <= keep)
    if (withScore)
      base.select(col("cls"), col("new_rank"), col("word"), col("score"))
    else base.select(col("cls"), col("new_rank"), col("word"))
  }

  /** Query: deduped top-5 keywords per language class. */
  def dedupKeywordsByLang(spark: SparkSession, dir: String): DataFrame =
    dedupKeywords(ctfidfByLang(spark, dir), 5)

  /** Tokenized corpus staging frame (doc, toks) — tokenize ONCE and feed
    * every coherence measure from it (the HOF-staging pattern,
    * AssemblyOps.scala:43-47). Callers scoring more than one measure should
    * `Caching.track` this frame and pass it to the `*OfTokens` cores; the
    * docs-based wrappers below build it per call for single-measure queries.
    */
  def tokenizedDocs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(monotonically_increasing_id().as("doc"),
      tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)

  /** u_mass coherence of a ranked word list over a document corpus:
    * mean over pairs (rank_i > rank_j) of ln((D(wi,wj)+1) / D(wj)), with
    * D = document frequency on distinct-token sets. `topWords` must be small
    * (it is broadcast); the corpus side is one explode + two tiny groupBys.
    */
  def umassCoherence(docs: DataFrame, textCol: String,
                     topWords: DataFrame): DataFrame =
    umassByClass(docs, textCol, topWords.withColumn("cls", lit(0)))
      .select(col("n_pairs"), col("umass"))

  /** Per-class u_mass over (cls, word, rank) topic-word lists — every class
    * scored from ONE corpus scan (the reference scores K topics with K
    * sequential gensim passes, LDA_Analysis.py:286-308; here the class key
    * rides the presence join so K never multiplies the scan count).
    * Returns (cls, n_pairs, umass) ordered by cls.
    */
  def umassByClass(docs: DataFrame, textCol: String,
                   topicWords: DataFrame): DataFrame =
    umassByClassOfTokens(tokenizedDocs(docs, textCol), topicWords)

  /** u_mass core over a pre-tokenized (doc, toks) corpus — empty docs carry
    * no presence rows, so filtering them upstream leaves every D() count
    * unchanged.
    *
    * The corpus-side work is CLASS-INDEPENDENT: D(w) and D(wi,wj) are
    * document counts, so presence, the marginals, and the canonical
    * unordered pair counts are computed once over the DISTINCT topic words;
    * each class then averages the global pair scores its rank-ordered pair
    * list selects. K topics sharing words (LDA top words are the corpus's
    * frequent words) never multiply the presence or pair-join size by K.
    */
  def umassByClassOfTokens(toks: DataFrame, topicWords: DataFrame): DataFrame =
    coherenceCore(toks, topicWords, windowSize = 10, withNpmi = false)
      .select(col("cls"), col("n_pairs"), col("umass"))

  /** Query: per-language u_mass of each class's top-10 c-TF-IDF keywords —
    * the grouped-coherence path under an exact SQL oracle.
    */
  def umassByLang(spark: SparkSession, dir: String): DataFrame =
    umassByClass(Tables.documents(spark, dir), "text",
      ctfidfByLang(spark, dir).select(col("cls"), col("word"), col("rank")))

  /** C_NPMI coherence (Röder et al. 2015's boolean-sliding-window family,
    * the c_npmi the reference computes via gensim, LDA_Analysis.py:286-308):
    * virtual documents are all token windows of `windowSize` (step 1; short
    * docs contribute one window), P(w) and P(wi,wj) are window-containment
    * probabilities, and the topic score is the mean over unordered pairs of
    *   NPMI = ln((P(ij)+ε) / (P(i)·P(j))) / -ln(P(ij)+ε),  ε = 1e-12.
    *
    * Shape at scale: one posexplode of topic-word HITS only (broadcast
    * semi-join against the topic words first, so corpus size × window size
    * never materializes — only hit count × window size), then two tiny
    * groupBys and a K² pair join.
    */
  def npmiCoherence(docs: DataFrame, textCol: String, topWords: DataFrame,
                    windowSize: Int = 10): DataFrame =
    npmiByClass(docs, textCol, topWords.withColumn("cls", lit(0)), windowSize)
      .select(col("n_pairs"), col("c_npmi"))

  /** Per-class C_NPMI over (cls, word, rank) topic-word lists — all classes
    * from one corpus scan (window presence carries the class key).
    * Returns (cls, n_pairs, c_npmi) ordered by cls.
    */
  def npmiByClass(docs: DataFrame, textCol: String, topicWords: DataFrame,
                  windowSize: Int = 10): DataFrame =
    npmiByClassOfTokens(graft.Caching.track(tokenizedDocs(docs, textCol)),
      topicWords, windowSize)

  /** C_NPMI core over a pre-tokenized (doc, toks) corpus. `toks` is consumed
    * twice (window totals + presence) — callers must persist it.
    */
  def npmiByClassOfTokens(toks: DataFrame, topicWords: DataFrame,
                          windowSize: Int = 10): DataFrame = {
    val eps = 1e-12
    pairProbabilitiesOfTokens(toks, topicWords, windowSize)
      .withColumn("npmi",
        log((col("p_ij") + eps) / (col("p_i") * col("p_j")))
          / -log(col("p_ij") + eps))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("npmi")), 4).as("c_npmi"))
      .orderBy("cls")
  }

  /** Query: C_NPMI coherence of the global top-10 words (window 10) — one
    * shared tokenization feeds the top-word count and the window presence.
    */
  def npmiTop10(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenizedDocs(Tables.documents(spark, dir), "text")
    npmiByClassOfTokens(toks,
      corpusTopWords(spark, dir, 10).withColumn("cls", lit(0)))
      .select(col("n_pairs"), col("c_npmi"))
  }

  /** C_UCI coherence: mean PMI (not normalized) over pairs, same boolean
    * sliding window (Röder's C_UCI; gensim c_uci, LDA_Analysis.py:286-308).
    * Shares all machinery with npmiCoherence except the pair score.
    */
  def uciCoherence(docs: DataFrame, textCol: String, topWords: DataFrame,
                   windowSize: Int = 10): DataFrame =
    uciCoherenceOfTokens(graft.Caching.track(tokenizedDocs(docs, textCol)),
      topWords, windowSize)

  /** C_UCI core over a pre-tokenized (doc, toks) corpus. */
  def uciCoherenceOfTokens(toks: DataFrame, topWords: DataFrame,
                           windowSize: Int = 10): DataFrame =
    pairProbabilitiesOfTokens(toks, topWords.withColumn("cls", lit(0)),
      windowSize)
      .withColumn("pmi",
        log((col("p_ij") + 1e-12) / (col("p_i") * col("p_j"))))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("pmi")), 4).as("c_uci"))

  /** Query: C_UCI coherence of the global top-10 words — the corpus is
    * tokenized ONCE and feeds both the top-word count and the presence scan.
    */
  def uciTop10(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenizedDocs(Tables.documents(spark, dir), "text")
    uciCoherenceOfTokens(toks, corpusTopWords(spark, dir, 10))
  }

  /** C_V coherence (Röder's best-performing measure; gensim c_v): NPMI
    * context vectors from a 110-token boolean sliding window, s_one_set
    * segmentation — each word's vector v_i = (NPMI(i,j))_j (diagonal uses
    * P_ii = P_i) against the topic vector V = Σ v_i; score = mean cosine.
    * Entirely DataFrame-expressed: the K×K matrix lives as (wi, wj, s) rows.
    */
  def cvCoherence(docs: DataFrame, textCol: String, topWords: DataFrame,
                  windowSize: Int = 110): DataFrame =
    cvCoherenceOfTokens(graft.Caching.track(tokenizedDocs(docs, textCol)),
      topWords, windowSize)

  /** C_V core over a pre-tokenized (doc, toks) corpus. */
  def cvCoherenceOfTokens(toks: DataFrame, topWords: DataFrame,
                          windowSize: Int = 110): DataFrame = {
    val eps = 1e-12
    def npmiOf(pij: org.apache.spark.sql.Column, pi: org.apache.spark.sql.Column,
               pj: org.apache.spark.sql.Column) =
      log((pij + eps) / (pi * pj)) / -log(pij + eps)
    val probs = graft.Caching.track(
      pairProbabilitiesOfTokens(toks, topWords.withColumn("cls", lit(0)),
        windowSize).drop("cls"))
    val tri = probs.select(col("wi"), col("wj"),
      npmiOf(col("p_ij"), col("p_i"), col("p_j")).as("s"))
    val sym = tri.union(tri.select(col("wj"), col("wi"), col("s")))
    val marg = probs.select(col("wi").as("word"), col("p_i").as("p"))
      .union(probs.select(col("wj"), col("p_j")))
      .distinct()
    val diag = marg.select(col("word").as("wi"), col("word").as("wj"),
      npmiOf(col("p"), col("p"), col("p")).as("s"))
    val all = graft.Caching.track(sym.union(diag))
    val v = all.groupBy("wj").agg(sum("s").as("vj"))
    val di = all.join(broadcast(v), "wj")
      .groupBy("wi")
      .agg(sum(col("s") * col("vj")).as("dot"), sum(col("s") * col("s")).as("ni2"))
    val vn = v.agg(sum(col("vj") * col("vj")).as("vn2"))
    di.crossJoin(broadcast(vn))
      .withColumn("cos", col("dot") / (sqrt(col("ni2")) * sqrt(col("vn2"))))
      .agg(count(lit(1)).as("n_words"), round(avg(col("cos")), 4).as("c_v"))
  }

  /** Query: C_V coherence of the global top-10 words (window 110) — one
    * shared tokenization feeds the top-word count and the window presence.
    */
  def cvTop10(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenizedDocs(Tables.documents(spark, dir), "text")
    cvCoherenceOfTokens(toks, corpusTopWords(spark, dir, 10))
  }

  /** Window-containment probabilities for every unordered pair of topic
    * words (shared core of the sliding-window coherence family).
    */
  def pairProbabilities(docs: DataFrame, textCol: String, topWords: DataFrame,
                        windowSize: Int): DataFrame =
    pairProbabilitiesByClass(docs, textCol,
      topWords.withColumn("cls", lit(0)), windowSize).drop("cls")

  /** Grouped wrapper: window-containment probabilities per (cls, pair)
    * from raw documents — tokenizes, then defers to the interval-based
    * core below.
    */
  def pairProbabilitiesByClass(docs: DataFrame, textCol: String,
                               topicWords: DataFrame,
                               windowSize: Int): DataFrame =
    pairProbabilitiesOfTokens(
      graft.Caching.track(tokenizedDocs(docs, textCol)), topicWords, windowSize)

  /** Grouped core over a pre-tokenized (doc, toks) corpus — callers scoring
    * several measures stage (and persist) the tokenization once.
    *
    * Window-containment probabilities are CLASS-INDEPENDENT (P(w) and
    * P(wi,wj) are window counts), so the counts run once over the DISTINCT
    * topic words; the per-class pair list then joins the global counts —
    * K topics sharing words never multiply the corpus-side cost.
    *
    * Shape: window containment is carried as per-(doc, word) MERGED
    * interval arrays (TextKernels.windowCover) instead of an exploded
    * (doc, word, window) table — P(w) is the interval total and P(wi,wj)
    * a kernel interval-intersection on the per-doc pair join. This removes
    * both former heavy shuffles (the ~window-size-times-larger presence
    * distinct and its (doc, ws) sort-merge self-join); the per-doc pair
    * rows partial-aggregate map-side down to ≤ |words|² keys. Counts are
    * identical by construction: |union of covered windows| and
    * |intersection of two unions| are exactly the old distinct-row counts.
    */
  def pairProbabilitiesOfTokens(toks: DataFrame, topicWords: DataFrame,
                                windowSize: Int): DataFrame = {
    import graft.functions.TextExpressions.{intervalIntersectK, intervalTotalK, windowCoverK}
    val words = topicWords.select("word").distinct()
    val totals = toks.agg(
      sum(greatest(size(col("toks")) - (windowSize - 1), lit(1))).as("n_windows"))
    val hits = toks
      .select(col("doc"), size(col("toks")).as("t"),
        posexplode(col("toks")).as(Seq("pos0", "word")))
      .join(broadcast(words), "word")
    val perWord = graft.Caching.track(hits
      .groupBy(col("doc"), col("word"))
      .agg(max(col("t")).as("t"),
        sort_array(collect_list(col("pos0") + 1)).as("ps"))
      .select(col("doc"), col("word"),
        windowCoverK(col("ps"), col("t"), windowSize).as("iv")))
    val pw = perWord.groupBy(col("word"))
      .agg(sum(intervalTotalK(col("iv"))).as("cw"))
    // canonical unordered pair counts (wa < wb); co-occurrence is symmetric
    val pij = perWord.as("a")
      .join(perWord.as("b"),
        col("a.doc") === col("b.doc") && col("a.word") < col("b.word"))
      .select(col("a.word").as("wa"), col("b.word").as("wb"),
        intervalIntersectK(col("a.iv"), col("b.iv")).as("x"))
      .filter(col("x") > 0)
      .groupBy(col("wa"), col("wb"))
      .agg(sum(col("x")).as("cij"))
    val pairs = topicWords.as("i")
      .join(topicWords.as("j"),
        col("i.cls") === col("j.cls") && col("i.rank") > col("j.rank"))
      .select(col("i.cls").as("cls"), col("i.word").as("wi"), col("j.word").as("wj"))
    pairs
      .withColumn("wa", least(col("wi"), col("wj")))
      .withColumn("wb", greatest(col("wi"), col("wj")))
      .join(broadcast(pij), Seq("wa", "wb"), "left")
      .drop("wa", "wb")
      .join(broadcast(pw.select(col("word").as("wi"), col("cw").as("ci"))), "wi")
      .join(broadcast(pw.select(col("word").as("wj"), col("cw").as("cj"))), "wj")
      .crossJoin(broadcast(totals))
      .withColumn("p_ij",
        coalesce(col("cij"), lit(0L)).cast("double") / col("n_windows"))
      .withColumn("p_i", col("ci").cast("double") / col("n_windows"))
      .withColumn("p_j", col("cj").cast("double") / col("n_windows"))
  }

  /** Fused u_mass + c_npmi over ONE shared hits frame (r17, the
    * lda_topic_coherence residual): the two cores consumed the same
    * tokenized corpus but each ran its own explode, (doc, word) groupBy,
    * marginal aggregate and per-doc self-join — yet u_mass's presence set
    * IS perWord's key set (a word is document-present iff it has
    * positions), u_mass's D(wi,wj) is the self-join's row count where
    * npmi's C(wi,wj) is its interval-intersection sum, and both marginals
    * group the same frame. One explode, one groupBy, one self-join, one
    * marginal agg — bit-equal outputs by construction:
    *   - dij = count over co-present doc pairs (every joined row);
    *   - cij = sum(x) over the same rows (the separate core's x>0 filter
    *     only drops zero addends — intervals are non-negative);
    *   - the wj marginal joins INNER (both measures require it), the wi
    *     marginal LEFT: a corpus-absent wi nulls the npmi column (avg
    *     skips nulls — matching the separate npmi core's inner join)
    *     while u_mass keeps the pair, exactly the separate cores' n_pairs
    *     semantics.
    * Returns (cls, n_pairs, umass, c_npmi) ordered by cls; n_pairs is the
    * u_mass core's count, as the combined face reports it.
    */
  def umassNpmiByClassOfTokens(toks: DataFrame, topicWords: DataFrame,
                               windowSize: Int = 10): DataFrame =
    coherenceCore(toks, topicWords, windowSize, withNpmi = true)

  /** THE document-coherence core (r18, VERDICT r17 #7 — one core instead
    * of two): every u_mass / fused-u_mass+npmi face shares this one
    * implementation; `withNpmi` gates the positional MACHINERY, never the
    * shared scaffolding, so the two modes cannot drift semantically:
    *   - withNpmi = false: perWord is the cheap distinct-token presence
    *     frame (one explode, no positional collect, no interval kernels)
    *     — the exact plan the separate u_mass core ran, because u_mass
    *     only needs EXISTENCE per (doc, word);
    *   - withNpmi = true: perWord carries window-cover intervals; dij is
    *     the same self-join's row count, cij its interval-intersection
    *     sum, and the window totals + npmi columns append to the shared
    *     tail.
    * Shared either way: the topic-word distinct, the rank-ordered pair
    * list, wa/wb canonicalization, the dij left-join + wj marginal
    * inner-join (both modes require wj corpus presence), the u_mass
    * pair_score, and the per-class aggregate. Join parity notes of the
    * r17 fused core hold verbatim: the wi marginal joins LEFT (a
    * corpus-absent wi nulls the npmi column — avg skips nulls — while
    * u_mass keeps the pair); the umass-only mode's extra (constant-zero)
    * cij/ci columns are never read by its projection.
    */
  private def coherenceCore(toks: DataFrame, topicWords: DataFrame,
                            windowSize: Int, withNpmi: Boolean): DataFrame = {
    import graft.functions.TextExpressions.{intervalIntersectK, intervalTotalK, windowCoverK}
    val words = topicWords.select("word").distinct()
    val perWord = graft.Caching.track(
      if (withNpmi)
        toks.select(col("doc"), size(col("toks")).as("t"),
            posexplode(col("toks")).as(Seq("pos0", "word")))
          .join(broadcast(words), "word")
          .groupBy(col("doc"), col("word"))
          .agg(max(col("t")).as("t"),
            sort_array(collect_list(col("pos0") + 1)).as("ps"))
          .select(col("doc"), col("word"),
            windowCoverK(col("ps"), col("t"), windowSize).as("iv"))
      else
        toks.select(col("doc"), explode(array_distinct(col("toks"))).as("word"))
          .join(broadcast(words), "word")) // (doc, word) hits only, each once
    val marg =
      if (withNpmi)
        perWord.groupBy(col("word"))
          .agg(count(lit(1)).as("d"), sum(intervalTotalK(col("iv"))).as("cw"))
      else
        perWord.groupBy(col("word")).agg(count(lit(1)).as("d"))
          .withColumn("cw", lit(0L))
    // canonical unordered pair frame (wa < wb); D and C are symmetric
    val joined = perWord.as("a")
      .join(perWord.as("b"), col("a.doc") === col("b.doc") &&
        col("a.word") < col("b.word"))
    val pairAgg =
      if (withNpmi)
        joined.select(col("a.word").as("wa"), col("b.word").as("wb"),
            intervalIntersectK(col("a.iv"), col("b.iv")).as("x"))
          .groupBy(col("wa"), col("wb"))
          .agg(count(lit(1)).as("dij"), sum(col("x")).as("cij"))
      else
        joined.groupBy(col("a.word").as("wa"), col("b.word").as("wb"))
          .agg(count(lit(1)).as("dij"))
          .withColumn("cij", lit(0L))
    val pairs = topicWords.as("i")
      .join(topicWords.as("j"),
        col("i.cls") === col("j.cls") && col("i.rank") > col("j.rank"))
      .select(col("i.cls").as("cls"), col("i.word").as("wi"), col("j.word").as("wj"))
    val eps = 1e-12
    val base = pairs
      .withColumn("wa", least(col("wi"), col("wj")))
      .withColumn("wb", greatest(col("wi"), col("wj")))
      .join(broadcast(pairAgg), Seq("wa", "wb"), "left")
      .join(broadcast(marg.select(col("word").as("wi"), col("cw").as("ci"))),
        Seq("wi"), "left")
      .join(broadcast(marg.select(col("word").as("wj"), col("cw").as("cj"),
        col("d").as("dj"))), "wj")
      .withColumn("pair_score",
        log((coalesce(col("dij"), lit(0L)) + lit(1.0)) / col("dj")))
    val scored =
      if (withNpmi) {
        val totals = toks.agg(sum(greatest(
          size(col("toks")) - (windowSize - 1), lit(1))).as("n_windows"))
        base.crossJoin(broadcast(totals))
          .withColumn("p_ij",
            coalesce(col("cij"), lit(0L)).cast("double") / col("n_windows"))
          .withColumn("p_i", col("ci").cast("double") / col("n_windows"))
          .withColumn("p_j", col("cj").cast("double") / col("n_windows"))
          .withColumn("npmi",
            log((col("p_ij") + eps) / (col("p_i") * col("p_j")))
              / -log(col("p_ij") + eps))
      } else base
    val aggs = Seq(count(lit(1)).as("n_pairs"),
        round(avg(col("pair_score")), 4).as("umass")) ++
      (if (withNpmi) Seq(round(avg(col("npmi")), 4).as("c_npmi")) else Nil)
    scored.groupBy(col("cls"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("cls")
  }

  /** SO1 — pairwise Jaccard overlap of per-class keyword sets (the topic
    * overlap matrix, LDA_Analysis.py:341-348). K×K output, K tiny.
    */
  def keywordOverlapMatrix(keywords: DataFrame): DataFrame = {
    val sets = keywords.groupBy(col("cls"))
      .agg(collect_set(col("word")).as("words"))
    sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.cls") < col("b.cls"))
      .select(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"),
        round(graft.functions.VectorFunctions.jaccard(
          col("a.words"), col("b.words")), 4).as("overlap"))
  }

  /** Query: keyword-overlap matrix across language classes. */
  def overlapByLang(spark: SparkSession, dir: String): DataFrame =
    keywordOverlapMatrix(ctfidfByLang(spark, dir))

  /** F9/J3 — topic similarity matrix: cosine between the classes' full
    * term-score vectors (sparse, joined on the shared term dimension;
    * LDA_Analysis.py:367-411's topic×topic cosine).
    */
  def classSimilarityMatrix(docs: DataFrame, classCol: String,
                            textCol: String): DataFrame =
    classSimilarityMatrixOfScores(
      classTermScores(docs, classCol, textCol))

  private def classSimilarityMatrixOfScores(scoresIn: DataFrame): DataFrame = {
    val scores = graft.Caching.track(scoresIn
      .select(col("cls"), col("word"), col("score")))
    val norms = scores.groupBy("cls")
      .agg(sum(col("score") * col("score")).as("n2"))
    val dots = scores.as("a")
      .join(scores.as("b"), col("a.word") === col("b.word") &&
        col("a.cls") < col("b.cls"))
      .groupBy(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"))
      .agg(sum(col("a.score") * col("b.score")).as("dot"))
    dots
      .join(norms.select(col("cls").as("cls_a"), col("n2").as("na")), "cls_a")
      .join(norms.select(col("cls").as("cls_b"), col("n2").as("nb")), "cls_b")
      .select(col("cls_a"), col("cls_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4).as("cos"))
  }

  /** Query: cosine similarity matrix across language classes
    * (registry-shared class-TF table).
    */
  def similarityByLang(spark: SparkSession, dir: String): DataFrame =
    classSimilarityMatrixOfScores(
      classTermScoresFromTf(langClassTf(spark, dir)))

  /** The top-n corpus words by frequency with their rank — the "topic" whose
    * coherence the fixture query measures.
    */
  def topFrequentWords(docs: DataFrame, textCol: String, n: Int): DataFrame =
    topWordsOfTokens(docs.select(tokens(col(textCol)).as("toks")), n)

  /** Ranked top-n words from a pre-tokenized corpus (any frame with a
    * `toks` array column).
    */
  def topWordsOfTokens(toks: DataFrame, n: Int): DataFrame = {
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-n, then
    // a driver merge of n·partitions rows) — the full vocabulary never lands
    // in one task. The row_number window below runs over the n-row result
    // only, so its single partition holds exactly n rows at any corpus size.
    val top = toks.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(n)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("word"))))
      .select(col("word"), col("rank"))
  }

  /** Cross-query registry of the corpus TOP-10 word list — the "topic"
    * whose coherence the four global-coherence faces measure. It is the
    * degenerate fitted model of this family (the LDA faces' topic-word
    * lists ride `topicmodel.fits` the same way): deterministic from the
    * corpus, 10 rows, yet each face re-ran a full-vocabulary aggregate
    * scan per invocation just to re-derive it. The coherence cores'
    * presence/window scans stay live — they ARE each face's measurement.
    */
  private val topWordsCache = graft.Caching.Registry[DataFrame]("topicmetrics.topwords")

  def clearTopWordsCache(): Unit = topWordsCache.clear()

  private def corpusTopWords(spark: SparkSession, dir: String,
                             n: Int): DataFrame =
    topWordsCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|$n") {
      val top = topWordsOfTokens(
        tokenizedDocs(Tables.documents(spark, dir), "text"), n).persist()
      top.count() // materialize before the building query's scope ends
      top
    }

  /** Query: u_mass coherence of the global top-10 words — one shared
    * tokenization feeds the top-word count and the document presence.
    */
  def umassTop10(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.Caching.track(
      tokenizedDocs(Tables.documents(spark, dir), "text"))
    umassByClassOfTokens(toks,
      corpusTopWords(spark, dir, 10).withColumn("cls", lit(0)))
      .select(col("n_pairs"), col("umass"))
  }
}
