package graft

import org.apache.spark.sql.functions._
import graft.operators.TopicMetricsOps

/** Hand-computed checks for the topic metrics (c-TF-IDF, diversity, keyword
  * dedup, u_mass coherence).
  */
class TopicMetricsSpec extends SparkSuite {
  import spark.implicits._

  // Two classes; "shared" appears in both, "aa"/"bb" are class-exclusive.
  private lazy val docs = Seq(
    ("c1", "aa aa shared"),
    ("c1", "aa shared"),
    ("c2", "bb bb shared"),
    ("c2", "bb shared")
  ).toDF("cls", "text")

  test("c-TF-IDF ranks class-exclusive terms above shared terms") {
    val kw = TopicMetricsOps.ctfidfKeywords(docs, "cls", "text", 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    // tf(aa,c1)=3, f(aa)=3, A=10/2=5 -> score = 3*ln(1+5/3) = 2.9417
    val top1 = kw.find(k => k._1 == "c1" && k._2 == 1).get
    assert(top1._3 == "aa")
    assert(math.abs(top1._4 - 3.0 * math.log(1 + 5.0 / 3.0)) < 1e-3)
    assert(kw.find(k => k._1 == "c2" && k._2 == 1).get._3 == "bb")
    // shared ranks second in both classes
    assert(kw.count(_._3 == "shared") == 2)
  }

  test("(1,2)-gram c-TF-IDF scores bigrams alongside unigrams (A8 ngram parity)") {
    import graft.functions.TextFunctions.tokens
    import graft.operators.TextAnalysisOps
    val staged = docs.select(col("cls"), tokens(col("text")).as("toks"))
    val kw = TopicMetricsOps.ctfidfKeywordsOf(staged, "cls",
      concat(col("toks"), TextAnalysisOps.tokenBigrams(col("toks"))), 10)
      .collect().map(r => (r.getString(0), r.getString(2)))
    // class-exclusive bigrams ("aa aa", "aa shared", …) enter the ranking
    assert(kw.exists { case (c, w) => c == "c1" && w == "aa shared" })
    assert(kw.exists { case (c, w) => c == "c2" && w == "bb shared" })
    // unigrams still present in the same term space
    assert(kw.exists { case (c, w) => c == "c1" && w == "aa" })
  }

  test("diversity = distinct/total over class keyword sets") {
    val kw = TopicMetricsOps.ctfidfKeywords(docs, "cls", "text", 2)
    val d = TopicMetricsOps.topicDiversity(kw).collect()(0)
    assert(d.getLong(0) == 2 && d.getLong(1) == 4)
    assert(d.getDouble(2) == 0.75) // {aa, bb, shared} / 4 keyword slots
  }

  test("keyword dedup: first class claims shared words, survivors reranked") {
    val kw = TopicMetricsOps.ctfidfKeywords(docs, "cls", "text", 2)
    val dd = TopicMetricsOps.dedupKeywords(kw, 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // c1 keeps (1, aa), (2, shared); c2 keeps only (1, bb) — shared was claimed
    assert(dd == Set(("c1", 1, "aa"), ("c1", 2, "shared"), ("c2", 1, "bb")))
  }

  test("umass coherence: hand-computed value on a 3-word topic") {
    // docs (distinct sets): {a,b}, {a,b}, {a,c} -> D(a)=3, D(b)=2, D(c)=1
    // freq ranks: a(3) > b(2) > c(1)
    // pairs (ri>rj): (b,a): ln((2+1)/3); (c,a): ln((1+1)/3); (c,b): ln((0+1)/2)
    val corpus = Seq("aa bb", "aa bb", "aa cc").toDF("text")
    val top = TopicMetricsOps.topFrequentWords(corpus, "text", 3)
    val r = TopicMetricsOps.umassCoherence(corpus, "text", top).collect()(0)
    val expected = (math.log(3.0 / 3) + math.log(2.0 / 3) + math.log(1.0 / 2)) / 3
    assert(r.getLong(0) == 3)
    assert(math.abs(r.getDouble(1) - expected) < 1e-3)
  }

  test("c_npmi: hand-computed windows on a single doc") {
    // "aa bb aa cc", window 3 -> windows {aa,bb}, {bb,aa,cc}; N=2
    // ranks by freq: aa(1), bb(2), cc(3)
    // (bb,aa): P=1 -> eps artifact gives -1 (gensim behaves identically)
    // (cc,aa), (cc,bb): P_ij=.5, P_i=.5, P_j=1 -> NPMI ~ 0
    val corpus = Seq("aa bb aa cc").toDF("text")
    val top = TopicMetricsOps.topFrequentWords(corpus, "text", 3)
    val r = TopicMetricsOps.npmiCoherence(corpus, "text", top, windowSize = 3)
      .collect()(0)
    assert(r.getLong(0) == 3)
    assert(math.abs(r.getDouble(1) - (-1.0 / 3)) < 1e-3)
  }

  test("c_npmi is higher for co-occurring than for disjoint words") {
    def cn(df: org.apache.spark.sql.DataFrame): Double =
      TopicMetricsOps.npmiCoherence(df, "text",
        TopicMetricsOps.topFrequentWords(df, "text", 2), windowSize = 2)
        .collect()(0).getDouble(1)
    val co = Seq("aa bb cc aa bb", "aa bb").toDF("text")
    val dis = Seq("aa xx aa yy", "bb zz bb ww").toDF("text")
    assert(cn(co) > cn(dis))
  }

  test("umass is higher for co-occurring words than for disjoint words") {
    // disjoint words need D(wj) > 1, else every pair scores ln(1/1) = 0
    val co = Seq("aa bb", "aa bb", "aa bb cc").toDF("text")
    val dis = Seq("aa xx", "aa xx", "bb yy", "bb yy", "cc zz", "cc zz").toDF("text")
    def um(df: org.apache.spark.sql.DataFrame): Double =
      TopicMetricsOps.umassCoherence(df, "text",
        TopicMetricsOps.topFrequentWords(df, "text", 3)).collect()(0).getDouble(1)
    assert(um(co) > um(dis))
  }
  test("one-pass u_mass+c_npmi: an absent word keeps only its u_mass") {
    import graft.operators.TopicMetricsOps._
    val corpus = Seq(
      "aa bb cc dd ee aa bb",
      "aa cc ee ff gg",
      "bb dd ff hh aa",
      "cc cc dd ee aa bb cc"
    ).toDF("text")
    // two classes; class 1 includes "zz", which never occurs in the corpus
    val topicWords = Seq(
      (0, "aa", 1), (0, "bb", 2), (0, "cc", 3),
      (1, "dd", 1), (1, "ee", 2), (1, "zz", 3)
    ).toDF("cls", "word", "rank")
    val got = coherenceByClass(tokenizedDocs(corpus, "text"), topicWords)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // every doc is shorter than the 10-token window: 4 windows, C = D
    // class 0: D(aa)=4, D(bb)=D(cc)=3, D(bb,aa)=D(cc,aa)=3, D(cc,bb)=2;
    //   u_mass pairs ln(4/4), ln(4/4), ln(3/3); npmi 0, 0, ln(.5/.5625)/-ln(.5)
    // class 1: D(dd)=D(ee)=3, D(ee,dd)=2, zz absent. u_mass keeps (zz,dd) and
    //   (zz,ee) at ln(1/D(wj)): (ln(3/3) + 2·ln(1/3))/3; c_npmi keeps (ee,dd) only
    val npmiHalf = math.log(0.5 / 0.5625) / -math.log(0.5)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq(
      (0, 3L, 0.0, r4(npmiHalf / 3)),
      (1, 3L, r4(2 * math.log(1.0 / 3) / 3), r4(npmiHalf))))
  }

  test("a topic-word list over the driver bound fails, naming the bound") {
    import graft.operators.TopicMetricsOps._
    val toks = tokenizedDocs(Seq("aa bb cc").toDF("text"), "text")
    val tooMany = (1 to MaxTopicWords + 1)
      .map(i => ((i - 1) / 10, s"w$i", (i - 1) % 10 + 1)).toDF("cls", "word", "rank")
    val e = intercept[IllegalArgumentException](coherenceByClass(toks, tooMany))
    assert(e.getMessage.contains(s"driver bound of $MaxTopicWords"))
    // at the bound the list is scored (no listed word occurs: no pair row)
    assert(coherenceByClass(toks, tooMany.filter(col("cls") < 50)).collect().isEmpty)
  }

}
