package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.TextKernels

/** Topic-quality metrics as pure DataFrame programs — the deterministic,
  * oracle-checkable half of the reference's topic-modeling suite:
  *
  *   - c-TF-IDF class keywords (BERTopic's topic-word scoring, consumed at
  *     /root/reference/BERTopic_Analysis.py:396,440,552,698; SURVEY.md A10):
  *     W(t,c) = tf(t,c) · ln(1 + A / f(t)), A = mean tokens per class.
  *   - topic diversity (LDA_Analysis.py:310-338, BERTopic_Analysis.py:427-458;
  *     A6): distinct / total over the per-topic top keywords.
  *   - topic coherence (LDA_Analysis.py:286-308; M4): u_mass, c_npmi,
  *     c_uci and c_v, all scored on the driver from one `coCounts` pass.
  *   - cross-topic keyword dedup (BERTopic_Analysis.py:693-717; D2): first
  *     topic in rank order claims each keyword, survivors re-ranked.
  *
  * The fixture "classes" are the documents table's lang column — on a real
  * corpus the same functions run over any cluster/topic assignment column.
  * Shuffle profile: the c-TF-IDF family is one explode+groupBy, joins on
  * tiny keys, and a per-class top-k Window over ≤ classes·vocab rows. The
  * coherence family has no shuffle: `coCounts` is one aggregate job whose
  * per-partition result is a fixed-size count array (sized by the ≤ 500
  * topic words and their within-topic pairs), and every measure is driver
  * arithmetic over those counts, returned as a driver-local frame.
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

  /** Top-k keywords per class of a class-term score frame (the shared
    * window behind every c-TF-IDF keyword face).
    */
  def ctfidfRank(scores: DataFrame, k: Int): DataFrame = {
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

  /** Tokenized corpus staging frame (toks), one row per non-empty
    * document — tokenize ONCE and feed every coherence measure from it.
    * Callers scoring several topic-word lists over one corpus should
    * `Caching.track` this frame and pass it to `coherenceByClass`; the
    * docs-based wrappers below build it per call.
    */
  def tokenizedDocs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)

  /** The most (cls, word, rank) rows a coherence scoring collects to the
    * driver: K ≤ 50 topics × 10 words (DEPLOY, "What stays on the driver").
    */
  val MaxTopicWords = 500

  /** A (cls, word, rank) topic-word list on the driver, with the Spark type
    * of its class column.
    */
  final case class TopicWords(clsType: DataType, rows: Seq[(Any, String, Int)]) {
    /** Each class's word pairs (wi, wj) with rank(wi) > rank(wj) — the pairs
      * every coherence measure averages over — classes in ascending order.
      */
    def pairsByClass: Seq[(Any, Seq[(String, String)])] =
      rows.groupBy(_._1).toSeq.sortWith((a, b) => clsLess(a._1, b._1))
        .map { case (cls, ws) =>
          cls -> (for (i <- ws; j <- ws if i._3 > j._3) yield (i._2, j._2))
        }
  }

  object TopicWords {
    /** `topicWords`' rows on the driver. A list over `MaxTopicWords` rows
      * fails here, after at most one row past the bound left the cluster.
      */
    def collect(topicWords: DataFrame): TopicWords = {
      val rows = topicWords
        .select(col("cls"), col("word"), col("rank").cast("int"))
        .limit(MaxTopicWords + 1).collect()
      require(rows.length <= MaxTopicWords,
        s"topic-word list exceeds the driver bound of $MaxTopicWords " +
          "(cls, word, rank) rows (K ≤ 50 topics × 10 words)")
      TopicWords(topicWords.schema("cls").dataType,
        rows.toSeq.map(r => (r.get(0), r.getString(1), r.getInt(2))))
    }
  }

  /** Spark's ascending order on the class keys in use: strings by their
    * UTF-8 bytes, integral ids by value.
    */
  private def clsLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
    case (x: Number, y: Number) => x.longValue < y.longValue
  }

  /** Co-occurrence counts of a topic-word list over a tokenized corpus —
    * everything u_mass, c_npmi, c_uci and c_v read. `words` are the
    * distinct topic words, `pairs` the requested within-class pairs as
    * (a, b) indices into `words`, a < b. D counts the non-empty documents
    * holding the word (both words); C counts the boolean sliding windows of
    * the kernel's window size holding them (step 1; a document shorter than
    * the window is one window); `nWindows` counts every window. Words or
    * pairs outside the request count 0, as does a word paired with itself.
    */
  final class CoCounts(words: Array[String], pairs: Array[(Int, Int)],
                       docs: Array[Long], windows: Array[Long],
                       pairDocs: Array[Long], pairWindows: Array[Long],
                       val nWindows: Long) {
    private val wordIx = words.zipWithIndex.toMap
    private val pairIx = pairs.zipWithIndex.toMap
    private def pairOf(a: String, b: String): Option[Int] =
      for (i <- wordIx.get(a); j <- wordIx.get(b);
           p <- pairIx.get((i min j, i max j))) yield p
    def d(w: String): Long = wordIx.get(w).fold(0L)(docs(_))
    def c(w: String): Long = wordIx.get(w).fold(0L)(windows(_))
    def d(a: String, b: String): Long = pairOf(a, b).fold(0L)(pairDocs(_))
    def c(a: String, b: String): Long = pairOf(a, b).fold(0L)(pairWindows(_))
  }

  /** THE coherence kernel: one pass over the tokenized (toks) corpus —
    * one Spark job — that returns fixed-size counts for `topicWords`' words
    * and within-class pairs. Each partition folds its documents into one
    * long array of 2·|words| + 2·|pairs| + 1 slots (at the driver bound,
    * ≤ 500 words and ≤ K·10·9/2 pairs), and only those arrays reach the
    * driver: the accumulator scales with the topic lists, never with the
    * vocabulary or the corpus. Window counts come from each word's merged
    * coverage intervals (TextKernels.windowCover): C(w) is their total and
    * C(a, b) the size of their intersection — exactly the number of distinct
    * windows that hold the word(s).
    */
  def coCounts(toks: DataFrame, topicWords: TopicWords,
               windowSize: Int): CoCounts = {
    val words = topicWords.rows.map(_._2).distinct.sorted.toArray
    val ix = words.zipWithIndex.toMap
    val pairs = topicWords.pairsByClass.flatMap(_._2)
      .collect { case (a, b) if a != b => (ix(a) min ix(b), ix(a) max ix(b)) }
      .distinct.sorted.toArray
    // partners(a): (b, slot) of each requested pair (a, b), packed flat
    val partners = Array.tabulate(words.length)(a =>
      pairs.indices.filter(pairs(_)._1 == a)
        .flatMap(p => Seq(pairs(p)._2, p)).toArray)
    val nW = words.length; val nP = pairs.length
    val sums = toks.select(col("toks")).queryExecution.toRdd
      .mapPartitions(rows =>
        Iterator.single(foldDocs(rows, words, partners, nP, windowSize)))
      .fold(new Array[Long](2 * nW + 2 * nP + 1)) { (acc, part) =>
        var i = 0
        while (i < acc.length) { acc(i) += part(i); i += 1 }
        acc
      }
    new CoCounts(words, pairs, sums.slice(0, nW), sums.slice(nW, 2 * nW),
      sums.slice(2 * nW, 2 * nW + nP), sums.slice(2 * nW + nP, 2 * nW + 2 * nP),
      sums(2 * nW + 2 * nP))
  }

  /** One partition's coCounts slots: D(w) ‖ C(w) ‖ D(a,b) ‖ C(a,b) ‖ windows. */
  private def foldDocs(rows: Iterator[InternalRow], words: Array[String],
                       partners: Array[Array[Int]], nP: Int,
                       w: Int): Array[Long] = {
    val nW = words.length
    val sums = new Array[Long](2 * nW + 2 * nP + 1)
    val lookup = new java.util.HashMap[UTF8String, Integer]()
    words.indices.foreach(i => lookup.put(UTF8String.fromString(words(i)), i))
    val seenIn = Array.fill(nW)(-1) // last document holding each word
    val positions = Array.fill(nW)(new scala.collection.mutable.ArrayBuilder.ofInt)
    val cover = new Array[Array[Long]](nW)
    val present = new Array[Int](nW)
    var doc = 0
    rows.foreach { row =>
      val toks = if (row.isNullAt(0)) null else row.getArray(0)
      val t = if (toks == null) 0 else toks.numElements()
      if (t > 0) {
        var m = 0; var i = 0
        while (i < t) {
          val hit = lookup.get(toks.getUTF8String(i))
          if (hit != null) {
            val a = hit.intValue
            if (seenIn(a) != doc) {
              seenIn(a) = doc; positions(a).clear(); present(m) = a; m += 1
            }
            positions(a) += i + 1
          }
          i += 1
        }
        var k = 0
        while (k < m) {
          val a = present(k)
          cover(a) = TextKernels.windowCover(positions(a).result(), t, w)
          sums(a) += 1
          sums(nW + a) += TextKernels.intervalTotal(cover(a))
          k += 1
        }
        k = 0
        while (k < m) {
          val a = present(k); val ps = partners(a)
          var q = 0
          while (q < ps.length) {
            val b = ps(q)
            if (seenIn(b) == doc) {
              sums(2 * nW + ps(q + 1)) += 1
              sums(2 * nW + nP + ps(q + 1)) +=
                TextKernels.intervalIntersect(cover(a), cover(b))
            }
            q += 2
          }
          k += 1
        }
        sums(2 * nW + 2 * nP) += math.max(t - w + 1, 1)
        doc += 1
      }
    }
    sums
  }

  private val Eps = 1e-12

  /** gensim's sliding window for c_npmi and c_uci. */
  private val NpmiWindow = 10

  /** Spark SQL's round(x, 4): HALF_UP on the double's decimal form. */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** round(avg(xs), 4) — None (SQL null) over no rows. */
  private def roundedMean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(round4(xs.sum / xs.size))

  /** Window probabilities of one word pair. The logs are StrictMath's, as
    * in Spark SQL's ln.
    */
  private final case class WindowPair(wi: String, wj: String,
                                      pij: Double, pi: Double, pj: Double) {
    def pmi: Double = StrictMath.log((pij + Eps) / (pi * pj))
    def npmi: Double = pmi / -StrictMath.log(pij + Eps)
  }

  /** One class's scored pairs: the u_mass pair scores ln((D(wi,wj)+1)/D(wj))
    * over the pairs whose wj occurs in the corpus, and the window
    * probabilities of the pairs whose words both occur.
    */
  private final case class ClassPairs(cls: Any, umass: Seq[Double],
                                      window: Seq[WindowPair])

  /** Every class of `topicWords` scored from ONE coCounts pass over `toks`. */
  private def scoreClasses(toks: DataFrame, topicWords: DataFrame,
                           windowSize: Int): (TopicWords, Seq[ClassPairs]) = {
    val tw = TopicWords.collect(topicWords)
    val cc = coCounts(toks, tw, windowSize)
    val n = cc.nWindows.toDouble
    tw -> tw.pairsByClass.map { case (cls, pairs) =>
      ClassPairs(cls,
        pairs.collect { case (wi, wj) if cc.d(wj) > 0 =>
          StrictMath.log((cc.d(wi, wj) + 1.0) / cc.d(wj)) },
        pairs.collect { case (wi, wj) if cc.d(wi) > 0 && cc.d(wj) > 0 =>
          WindowPair(wi, wj, cc.c(wi, wj) / n, cc.c(wi) / n, cc.c(wj) / n) })
    }
  }

  /** A driver-local frame (a LocalRelation: no job to plan or collect). */
  private def localFrame(spark: SparkSession, fields: Seq[StructField],
                         rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields))

  private def countField(name: String) = StructField(name, LongType, nullable = false)
  private def scoreField(name: String) = StructField(name, DoubleType)

  /** Per-class u_mass and C_NPMI of (cls, word, rank) topic-word lists, all
    * classes from ONE corpus pass (`coCounts`) — the reference scores K
    * topics with K sequential gensim passes per measure
    * (LDA_Analysis.py:286-308). Returns the driver-local
    * (cls, n_pairs, umass, c_npmi), ordered by cls, one row per class with
    * at least one u_mass pair:
    *   - u_mass (M4): mean over pairs (rank_i > rank_j) of
    *     ln((D(wi,wj)+1) / D(wj)) on document counts. A corpus-absent wj
    *     drops the pair; a corpus-absent wi keeps it at ln(1/D(wj)).
    *     n_pairs counts these pairs.
    *   - C_NPMI (Röder et al. 2015's boolean-sliding-window family, the
    *     reference's gensim c_npmi): P(w), P(wi,wj) are window-containment
    *     probabilities over windows of `NpmiWindow` tokens, and the score is
    *     the mean over the pairs whose words both occur of
    *     NPMI = ln((P(ij)+ε) / (P(i)·P(j))) / -ln(P(ij)+ε), ε = 1e-12;
    *     null when no pair qualifies.
    */
  def coherenceByClass(toks: DataFrame, topicWords: DataFrame): DataFrame = {
    val (tw, classes) = scoreClasses(toks, topicWords, NpmiWindow)
    localFrame(toks.sparkSession,
      Seq(StructField("cls", tw.clsType), countField("n_pairs"), scoreField("umass"),
        scoreField("c_npmi")),
      classes.filter(_.umass.nonEmpty).map(c =>
        Row(c.cls, c.umass.size.toLong, roundedMean(c.umass).get,
          roundedMean(c.window.map(_.npmi)).getOrElse(null))))
  }

  /** The class-averaged u_mass of a topic model's word lists — the k-grid's
    * score: round(avg(umass), 4) over the per-class rounded scores.
    */
  def meanUmass(toks: DataFrame, topicWords: DataFrame): Double = {
    val (_, classes) = scoreClasses(toks, topicWords, NpmiWindow)
    roundedMean(classes.filter(_.umass.nonEmpty)
      .map(c => roundedMean(c.umass).get)).getOrElse(Double.NaN)
  }

  /** u_mass coherence of one ranked word list (word, rank) over a document
    * corpus: (n_pairs, umass), no row when the list has no pair.
    */
  def umassCoherence(docs: DataFrame, textCol: String,
                     topWords: DataFrame): DataFrame =
    coherenceByClass(tokenizedDocs(docs, textCol),
      topWords.withColumn("cls", lit(0)))
      .select(col("n_pairs"), col("umass"))

  /** Query: per-language u_mass of each class's top-10 c-TF-IDF keywords —
    * the grouped-coherence path under an exact SQL oracle.
    */
  def umassByLang(spark: SparkSession, dir: String): DataFrame =
    coherenceByClass(tokenizedDocs(Tables.documents(spark, dir), "text"),
      ctfidfByLang(spark, dir).select(col("cls"), col("word"), col("rank")))
      .select(col("cls"), col("n_pairs"), col("umass"))

  /** C_NPMI coherence of one ranked word list (word, rank):
    * (n_pairs, c_npmi) over the pairs whose words both occur, no row when
    * none does.
    */
  def npmiCoherence(docs: DataFrame, textCol: String, topWords: DataFrame,
                    windowSize: Int = NpmiWindow): DataFrame =
    npmiOfTokens(tokenizedDocs(docs, textCol), topWords, windowSize)

  private def npmiOfTokens(toks: DataFrame, topWords: DataFrame,
                           windowSize: Int): DataFrame = {
    val (_, classes) = scoreClasses(toks, topWords.withColumn("cls", lit(0)),
      windowSize)
    localFrame(toks.sparkSession, Seq(countField("n_pairs"), scoreField("c_npmi")),
      classes.filter(_.window.nonEmpty).map(c =>
        Row(c.window.size.toLong, roundedMean(c.window.map(_.npmi)).get)))
  }

  /** Query: C_NPMI coherence of the global top-10 words (window 10). */
  def npmiTop10(spark: SparkSession, dir: String): DataFrame =
    npmiOfTokens(tokenizedDocs(Tables.documents(spark, dir), "text"),
      corpusTopWords(spark, dir, 10), NpmiWindow)

  /** Query: C_UCI coherence of the global top-10 words — mean PMI (not
    * normalized) over pairs, same boolean sliding window of 10 (Röder's
    * C_UCI; gensim c_uci, LDA_Analysis.py:286-308). One row:
    * (n_pairs, c_uci).
    */
  def uciTop10(spark: SparkSession, dir: String): DataFrame = {
    val (_, classes) = scoreClasses(
      tokenizedDocs(Tables.documents(spark, dir), "text"),
      corpusTopWords(spark, dir, 10).withColumn("cls", lit(0)), NpmiWindow)
    val pairs = classes.flatMap(_.window)
    localFrame(spark, Seq(countField("n_pairs"), scoreField("c_uci")),
      Seq(Row(pairs.size.toLong, roundedMean(pairs.map(_.pmi)).getOrElse(null))))
  }

  /** C_V coherence (Röder's best-performing measure; gensim c_v) of one
    * ranked word list (word, rank): NPMI context vectors from a 110-token
    * boolean sliding window, s_one_set segmentation — each word's vector
    * v_i = (NPMI(i,j))_j over its pairs (diagonal: P_ii = P_i) against the
    * topic vector V = Σ v_i; score = mean cosine. One row: (n_words, c_v).
    */
  def cvCoherenceOfTokens(toks: DataFrame, topWords: DataFrame,
                          windowSize: Int = 110): DataFrame = {
    val (_, classes) = scoreClasses(toks, topWords.withColumn("cls", lit(0)),
      windowSize)
    val probs = classes.flatMap(_.window)
    val tri = probs.map(p => (p.wi, p.wj, p.npmi))
    val marg = (probs.map(p => p.wi -> p.pi) ++ probs.map(p => p.wj -> p.pj)).distinct
    val all = tri ++ tri.map { case (i, j, s) => (j, i, s) } ++
      marg.map { case (w, p) => (w, w, WindowPair(w, w, p, p, p).npmi) }
    val v = all.groupMapReduce(_._2)(_._3)(_ + _)
    val vn = math.sqrt(v.values.map(x => x * x).sum)
    val cos = all.groupBy(_._1).values.toSeq.map { row =>
      row.map { case (_, j, s) => s * v(j) }.sum /
        (math.sqrt(row.map(e => e._3 * e._3).sum) * vn)
    }
    localFrame(toks.sparkSession, Seq(countField("n_words"), scoreField("c_v")),
      Seq(Row(cos.size.toLong, roundedMean(cos).getOrElse(null))))
  }

  /** Query: C_V coherence of the global top-10 words (window 110). */
  def cvTop10(spark: SparkSession, dir: String): DataFrame =
    cvCoherenceOfTokens(tokenizedDocs(Tables.documents(spark, dir), "text"),
      corpusTopWords(spark, dir, 10))

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
    * term-score vectors of a class-term score frame (sparse, joined on the
    * shared term dimension; LDA_Analysis.py:367-411's topic×topic cosine).
    */
  def classSimilarityMatrixOfScores(scoresIn: DataFrame): DataFrame = {
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

  /** Query: u_mass coherence of the global top-10 words. */
  def umassTop10(spark: SparkSession, dir: String): DataFrame =
    coherenceByClass(tokenizedDocs(Tables.documents(spark, dir), "text"),
      corpusTopWords(spark, dir, 10).withColumn("cls", lit(0)))
      .select(col("n_pairs"), col("umass"))
}
