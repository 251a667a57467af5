package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.TopicMetricsOps

/** `TopicMetricsOps.coCounts` — the one-pass coherence kernel — against
  * brute-force set counts on random small corpora: D(w), D(wi,wj), the
  * covered-window totals C(w) and intersections C(wi,wj), and the number of
  * windows. Runs the real Spark job, so the corpora stay small. The corpora
  * draw from a 6-word vocabulary (repeated words in most docs), include
  * docs shorter than the window, and every case is checked at window sizes
  * 1, 3 and 10; the topic list always carries "zz", which never occurs.
  */
object CoCountsProps extends Properties("CoCounts") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val vocab = Seq("aa", "bb", "cc", "dd", "ee", "ff")
  private val corpusGen: Gen[Seq[Seq[String]]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 25).flatMap(t => Gen.listOfN(t, Gen.oneOf(vocab)))))
  // two topics over a random subset of the vocabulary plus the absent "zz"
  private val topicsGen: Gen[Seq[(Int, String, Int)]] =
    Gen.someOf(vocab).map { ws =>
      val words = ws.toSeq :+ "zz"
      words.zipWithIndex.map { case (w, i) => (i % 2, w, i / 2 + 1) }
    }

  /** Every window of a doc as a word set: step 1, a doc shorter than the
    * window is one window.
    */
  private def windowsOf(doc: Seq[String], w: Int): Seq[Set[String]] =
    if (doc.length <= w) Seq(doc.toSet) else doc.sliding(w).map(_.toSet).toSeq

  property("coCounts == brute-force document and window set counts") =
    forAll(corpusGen, topicsGen) { (corpus, topics) =>
      val spark = SparkSpec.spark
      import spark.implicits._
      val toks = TopicMetricsOps.tokenizedDocs(corpus.map(_.mkString(" ")).toDF("text"), "text")
      val tw = TopicMetricsOps.TopicWords.collect(topics.toDF("cls", "word", "rank"))
      val words = topics.map(_._2).distinct
      val pairs = for (a <- words; b <- words if a < b) yield (a, b)
      val requested = tw.pairsByClass.flatMap(_._2)
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
      Seq(1, 3, 10).forall { w =>
        val cc = TopicMetricsOps.coCounts(toks, tw, w)
        val docSets = corpus.map(_.toSet)
        val wins = corpus.flatMap(windowsOf(_, w))
        def pairCount(sets: Seq[Set[String]], a: String, b: String) =
          if (requested((a, b))) sets.count(s => s(a) && s(b)).toLong else 0L
        cc.nWindows == wins.size &&
          words.forall(x => cc.d(x) == docSets.count(_(x)) && cc.c(x) == wins.count(_(x))) &&
          pairs.forall { case (a, b) =>
            cc.d(a, b) == pairCount(docSets, a, b) && cc.d(b, a) == cc.d(a, b) &&
              cc.c(a, b) == pairCount(wins, a, b) && cc.c(b, a) == cc.c(a, b)
          }
      }
    }
}
