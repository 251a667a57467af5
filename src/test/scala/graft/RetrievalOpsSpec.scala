package graft

import org.apache.spark.sql.functions._
import graft.operators.RetrievalOps

class RetrievalOpsSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Int, String)*) =
    rows.toDF("doc_id", "text")

  test("bm25: shared rare term outranks shared common term; self excluded") {
    // q0 shares "zebra" (rare) with d1 and "apple" (common) with d2/d3/d4.
    val d = docs(
      0 -> "zebra apple orange",
      1 -> "zebra melon grape",
      2 -> "apple melon grape",
      3 -> "apple grape melon",
      4 -> "apple banana cherry")
    val out = RetrievalOps.bm25TopK(d, "doc_id", "text", _ === 0, k = 5)
      .orderBy($"rank").collect()
    assert(out.forall(_.getAs[Int]("query_id") == 0))
    assert(!out.exists(_.getAs[Int]("doc_id") == 0), "self-match must be excluded")
    assert(out.head.getAs[Int]("doc_id") == 1,
      "the rare-term match must rank first (idf dominates)")
    assert(out.forall(_.getAs[Double]("bm25") > 0.0))
  }

  test("bm25: length normalization — same tf, shorter doc scores higher") {
    val filler = (1 to 30).map(i => s"filler$i").mkString(" ")
    val d = docs(
      0 -> "needle needle",
      1 -> "needle haystack haystack",
      2 -> s"needle $filler")
    val out = RetrievalOps.bm25TopK(d, "doc_id", "text", _ === 0, k = 5)
      .collect().map(r => r.getAs[Int]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(out(1) > out(2),
      "one needle in a short doc must beat one needle in a long doc")
  }

  test("pmi: an always-adjacent pair beats an independent pair; min-count floors") {
    // "san francisco" always adjacent (6x); "the cat"/"the dog" mixed so
    // "the X" pairs are weaker; a 1-off pair is floored out at minCount=2.
    val repeated = Seq.fill(6)("san francisco").mkString(" the cat ", " the dog ", "")
    val d = docs(0 -> repeated, 1 -> "rare pairing once")
    val out = RetrievalOps.collocationsTopK(d, "text", minCount = 2, k = 10)
      .collect()
    val pairs = out.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSet
    assert(pairs.contains(("san", "francisco")))
    assert(!pairs.contains(("rare", "pairing")), "below min-count must be floored")
    val byPair = out.map(r =>
      (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r.getAs[Double]("pmi")).toMap
    assert(byPair(("san", "francisco")) > byPair.getOrElse(("the", "cat"), -1e9))
  }

  test("pmi: counts are exact and bigram totals use len-1 positions") {
    val d = docs(0 -> "aa bb aa bb aa bb aa bb aa bb")
    val out = RetrievalOps.collocationsTopK(d, "text", minCount = 2, k = 10)
      .collect()
    val ab = out.find(r => r.getAs[String]("w1") == "aa" && r.getAs[String]("w2") == "bb").get
    assert(ab.getAs[Long]("c12") == 5L)
  }

  test("containment: a subsumed short doc is found where Jaccard would miss it") {
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val short = (1 to 10).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val d = docs(0 -> long, 1 -> short, 2 -> other)
    val pairs = RetrievalOps.containmentPairs(d, "doc_id", "text",
      maxDf = 10, minContainment = 0.8).collect()
    assert(pairs.exists(r =>
      r.getAs[Int]("doc_a") == 0 && r.getAs[Int]("doc_b") == 1
        && r.getAs[Double]("containment") == 1.0),
      "short ⊂ long must surface with containment 1.0")
    // Jaccard of the same pair is |short grams| / |long grams| = 8/38 < 0.5:
    // the symmetric face would never emit it at its 0.5 threshold.
    assert(!pairs.exists(r => r.getAs[Int]("doc_b") == 2))
  }

  test("containment: fixture query runs and stays within [0.8, 1]") {
    val out = RetrievalOps.containmentQuery(spark, SparkSpec.FixtureDir).collect()
    assert(out.forall { r =>
      val c = r.getAs[Double]("containment"); c >= 0.8 && c <= 1.0
    })
  }

  test("ql: rare shared term outranks common; longer doc penalized at same tf") {
    val d = docs(
      0 -> "zebra apple orange",
      1 -> "zebra melon grape",
      2 -> "apple melon grape",
      3 -> "apple banana cherry kiwi lemon mango papaya peach plum fig date")
    val out = RetrievalOps.queryLikelihoodTopK(d, "doc_id", "text", _ === 0, k = 5)
      .collect().map(r => r.getAs[Int]("doc_id") -> r.getAs[Double]("ql")).toMap
    assert(!out.contains(0), "self excluded")
    assert(out(1) > out(2), "rare zebra match must beat common apple match")
    assert(out(2) > out(3), "same one-term match: the longer doc scores lower")
  }

  test("ndcg discounts: literal table matches 1/ln(r+1) and ideal is their sum") {
    assert(RetrievalOps.NdcgDiscounts.length == 10)
    assert(RetrievalOps.NdcgDiscounts.head == 1.0 / math.log(2.0))
    assert(RetrievalOps.NdcgDiscounts.zip(RetrievalOps.NdcgDiscounts.tail)
      .forall { case (a, b) => a > b })
    assert(RetrievalOps.NdcgIdeal == RetrievalOps.NdcgDiscounts.foldLeft(0.0)(_ + _))
  }

  test("ivf rank eval fixture: metrics bounded, ndcg<=1, mrr in {0}∪[0.1,1]") {
    val out = RetrievalOps.ivfRankEval(spark, SparkSpec.FixtureDir).collect()
    assert(out.nonEmpty && out.length <= 5)
    out.foreach { r =>
      val (h, mrr, ndcg) = (r.getAs[Long]("n_hits"),
        r.getAs[Double]("mrr"), r.getAs[Double]("ndcg"))
      assert(h >= 0 && h <= 10)
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      assert(mrr == 0.0 || (mrr >= 0.1 - 1e-9 && mrr <= 1.0))
      if (h == 0) assert(mrr == 0.0 && ndcg == 0.0)
      // a perfect prefix of hits implies ndcg not below hits/10 share
      if (h == 10) assert(math.abs(ndcg - 1.0) < 1e-9)
    }
  }

  test("stats drift gauge: one row, exact ratio, verdict consistent with threshold") {
    val out = RetrievalOps.statsDriftQuery(spark, SparkSpec.FixtureDir).collect()
    assert(out.length == 1)
    val r = out.head
    val (n, f) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_flips"))
    assert(n > 0 && f >= 0 && f <= n)
    val rate = r.getAs[Double]("flip_rate")
    assert(math.abs(rate - math.rint(f.toDouble / n * 1e4) / 1e4) < 1e-9)
    assert(r.getAs[Boolean]("rebuild_due") ==
      (f.toDouble / n > RetrievalOps.StatsDriftThreshold))
  }

  test("mmr: a redundant twin of the top pick is deferred below a diverse candidate") {
    // rel: a=0.95, a2=0.94 (near-clone of a, sim 0.99), b=0.80 (diverse).
    // Plain ranking: a, a2, b. MMR(λ=0.7): a first; then
    // a2 = .7*.94-.3*.99 < b = .7*.80-.3*.10 → b second.
    val q = 100L
    val cands = Seq((q, 1L, 0.95), (q, 2L, 0.94), (q, 3L, 0.80))
    val sims = Map(
      (q, 2L, 1L) -> 0.99, (q, 1L, 2L) -> 0.99,
      (q, 3L, 1L) -> 0.10, (q, 1L, 3L) -> 0.10,
      (q, 2L, 3L) -> 0.12, (q, 3L, 2L) -> 0.12)
    val out = RetrievalOps.mmrSelect(cands, sims, k = 3)
    assert(out.map(_._3) == Seq(1L, 3L, 2L),
      "MMR must defer the redundant near-clone below the diverse candidate")
    assert(out.map(_._2) == Seq(1, 2, 3))
  }

  test("mmr fixture query: 5 probes x 10 picks, pick 1 is the brute top-1") {
    val out = RetrievalOps.mmrQuery(spark, SparkSpec.FixtureDir).collect()
    assert(out.length == 50)
    val corpus = graft.operators.SimilarityOps.unitCorpus(
      graft.Tables.embeddings(spark, SparkSpec.FixtureDir))
    val top1 = graft.operators.SimilarityOps
      .bruteForceTopK(corpus, corpus.filter($"vec_id" < 5), 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    out.filter(_.getAs[Int]("pos") == 1).foreach { r =>
      assert(top1(r.getAs[Long]("query_id")) == r.getAs[Long]("vec_id"),
        "MMR's first pick must be the plain top-1 (no diversity penalty yet)")
    }
  }

  test("bm25 plan shape: query terms broadcast; no cartesian anywhere") {
    val plan = RetrievalOps.bm25Query(spark, SparkSpec.FixtureDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the bounded query-term side must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "nothing in the scoring chain may go cartesian")
  }

  test("percolate plan shape: standing terms broadcast into the ingest scan") {
    val docs = graft.Tables.documents(spark, SparkSpec.FixtureDir)
    val standing = RetrievalOps.buildStanding(docs, "doc_id", "text", _ < 8)
    val plan = RetrievalOps.percolateScores(
        docs.filter($"doc_id" % 7 === 3 && $"doc_id" >= 8), "doc_id", "text",
        standing)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("prf: expansion pulls in a doc sharing no original query term") {
    // q0 = {seed}; d1 bridges seed->bridge; d2 only has bridge terms, so
    // plain BM25 can never return d2 for q0, but PRF's feedback on d1
    // adds "bridge" and d2 becomes reachable.
    val d = docs(
      0 -> "seed alone",
      1 -> "seed bridge bridge span",
      2 -> "bridge span bridge span",
      3 -> "unrelated words entirely here")
    val plain = RetrievalOps.bm25TopK(d, "doc_id", "text", _ === 0, k = 5)
      .collect().map(_.getAs[Int]("doc_id")).toSet
    val prf = RetrievalOps.prfTopK(d, "doc_id", "text", _ === 0, k = 5,
      fbDocs = 1, fbTerms = 2)
      .collect().map(_.getAs[Int]("doc_id")).toSet
    assert(!plain.contains(2), "plain BM25 cannot reach the bridged doc")
    assert(prf.contains(2), "PRF expansion must reach the bridged doc")
  }

  test("maintainPostings equals a from-scratch build of the new corpus") {
    val oldDocs = docs(
      0 -> "alpha beta gamma", 1 -> "delta epsilon", 2 -> "zeta eta theta",
      3 -> "iota kappa")
    // 1 changed, 3 removed, 4 added, 0/2 unchanged
    val newDocs = docs(
      0 -> "alpha beta gamma", 1 -> "delta epsilon CHANGED",
      2 -> "zeta eta theta", 4 -> "lambda mu nu")
    val stored = RetrievalOps.postings(oldDocs, "doc_id", "text")
    val maintained = RetrievalOps.maintainPostings(
      stored, oldDocs, newDocs, "doc_id", "text")
    val rebuilt = RetrievalOps.postings(newDocs, "doc_id", "text")
    assert(maintained.drop("origin").except(rebuilt).isEmpty &&
      rebuilt.except(maintained.drop("origin")).isEmpty,
      "maintained index must equal the from-scratch build")
    val byOrigin = maintained.groupBy("origin").count().collect()
      .map(r => r.getAs[String]("origin") -> r.getAs[Long]("count")).toMap
    // kept: docs 0 and 2 (3 + 3 postings); retokenized: docs 1 and 4
    assert(byOrigin("kept") == 6L)
    assert(byOrigin("retokenized") == 6L)
  }

  test("incremental bm25 fixture query serves the same ranking as a fresh B index") {
    val dir = SparkSpec.FixtureDir
    val incr = RetrievalOps.bm25IncrementalQuery(spark, dir)
    val docsB = graft.Tables.documents(spark, dir)
      .filter($"doc_id" % 101 =!= 0)
    val fresh = RetrievalOps.bm25TopK(docsB, "doc_id", "text", _ < 8, k = 5)
    assert(incr.except(fresh).isEmpty && fresh.except(incr).isEmpty)
  }

  test("textrank: hub word outranks leaves; ranks sum to ~1; fixture face is exact top-20") {
    import graft.operators.TextRankOps
    // star graph: hub adjacent to 4 distinct leaves, each pair repeated 5x
    val star = (1 to 4).flatMap(i => Seq.fill(5)(s"hub leaf$i")).mkString(" . ")
    val d = docs(0 -> star)
    val edges = TextRankOps.cooccurrenceEdges(d, "text", minCount = 5)
      .as[(String, String)].collect()
    val r = TextRankOps.pageRank(edges, TextRankOps.TrIters)
    assert(r("hub") > r("leaf1"), "the hub must outrank any leaf")
    assert(math.abs(r.values.sum - 1.0) < 1e-9, "PageRank mass is conserved")
    val out = TextRankOps.textRankQuery(spark, SparkSpec.FixtureDir).collect()
    assert(out.length == TextRankOps.TrTopK)
    assert(out.map(_.getAs[Int]("pos")).toSeq == (1 to TextRankOps.TrTopK))
    val scores = out.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("rrf: doc on both lists beats either single-list doc at same ranks") {
    val lex = Seq((0, 1, 10), (0, 2, 11), (0, 3, 12))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((0, 1, 11), (0, 2, 20), (0, 3, 21))
      .toDF("query_id", "rank", "doc_id")
    val out = RetrievalOps.rrfFuse(lex, dense, k = 10)
      .orderBy($"rank").collect()
    // doc 11 (lex rank 2 + dense rank 1) must beat doc 10 (lex rank 1 only):
    // 1/62 + 1/61 > 1/61.
    assert(out.head.getAs[Int]("doc_id") == 11)
    assert(out.head.getAs[Int]("n_sources") == 2)
    assert(out.filter(_.getAs[Int]("n_sources") == 1)
      .forall(r => Set(10, 12, 20, 21).contains(r.getAs[Int]("doc_id"))))
    assert(math.abs(out.head.getAs[Double]("rrf") - (1.0 / 62 + 1.0 / 61)) < 1e-6)
  }

  test("hybrid fixture query: top-10 per probe, n_sources in {1,2}") {
    val out = RetrievalOps.hybridRrfQuery(spark, SparkSpec.FixtureDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until 8L).toSet)
    assert(out.forall(r => Set(1, 2).contains(r.getAs[Int]("n_sources"))))
    byQ.values.foreach(rows => assert(rows.length <= RetrievalOps.HybridK))
  }

  test("phrase: adjacency required, repeats counted, gaps and reorders rejected") {
    val d = docs(
      0 -> "alpha beta gamma tail words here",
      1 -> "prefix alpha beta gamma suffix alpha beta gamma",
      2 -> "alpha beta delta gamma",      // gap: no match
      3 -> "gamma beta alpha",            // reorder: no match
      4 -> "alpha beta")                  // too short to contain the phrase
    val pp = RetrievalOps.positionalPostings(d, "doc_id", "text")
    val phrases = Seq((0, 0, "alpha"), (0, 1, "beta"), (0, 2, "gamma"))
      .toDF("query_id", "off", "word")
    val out = RetrievalOps.phraseMatches(pp, phrases, 3).collect()
      .map(r => r.getAs[Int]("doc_id") ->
        (r.getAs[Long]("n_occurrences"), r.getAs[Long]("first_start"))).toMap
    assert(out(0) == (1L, 0L), "self-style match at start 0")
    assert(out(1) == (2L, 1L), "both occurrences counted, first at pos 1")
    assert(!out.contains(2), "a gapped sequence is not a phrase match")
    assert(!out.contains(3), "a reordered sequence is not a phrase match")
    assert(!out.contains(4))
  }

  test("proximity: min distance and close-pair count are exact; window gates") {
    // doc 0: near at dist 1 (twice near? aa at 0, bb at 1 and 5) → dists
    // {1, 5}; doc 1: aa at 0, bb at 9 → dist 9 > 8, gated out
    val d = docs(
      0 -> "aa bb cc dd ee bb",
      1 -> ("aa " + (1 to 8).map(i => s"x$i").mkString(" ") + " bb"))
    val pp = RetrievalOps.positionalPostings(d, "doc_id", "text")
    val terms = Seq((7, "aa", 1), (7, "bb", 2)).toDF("query_id", "word", "role")
    val out = RetrievalOps.proximityMatches(pp, terms, RetrievalOps.ProxWindow)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("doc_id") == 0)
    assert(out.head.getAs[Long]("min_dist") == 1L)
    assert(out.head.getAs[Long]("n_close_pairs") == 2L, "dists {1,5} both ≤ 8")
  }

  test("phrase fixture query: every probe self-matches at start 0 and plans broadcast") {
    val q = RetrievalOps.phraseQuery(spark, SparkSpec.FixtureDir)
    val out = q.collect()
    val self = out.filter(r =>
      r.getAs[Long]("query_id") == r.getAs[Long]("doc_id"))
    assert(self.length == 8, "all 8 probes carry their own prefix")
    assert(self.forall(_.getAs[Long]("first_start") == 0L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the bounded phrase-term side must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bm25 fixture query: 8 probes, ranks are 1..5, scores descend per query") {
    val out = RetrievalOps.bm25Query(spark, SparkSpec.FixtureDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
      val scores = sorted.map(_.getAs[Double]("bm25"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
  test("ragChunkTopK: rank contract (1..K dense per probe, cosine " +
    "non-increasing), self-doc excluded, chunk ids invert to real chunks") {
    import graft.operators.RetrievalOps
    val out = RetrievalOps.ragChunkTopK(spark, SparkSpec.FixtureDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getString(4), r.getDouble(5)))
    Caching.releaseAll()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1 to byRank.length),
        s"probe $q ranks must be dense from 1")
      assert(byRank.length <= RetrievalOps.RagTopK)
      // cosine non-increasing in rank (ties broken by chunk id)
      byRank.map(_._6).toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a >= b - 1e-9, s"probe $q cosine must be non-increasing")
        case _ => ()
      }
      assert(rows.forall(_._3 != q), s"probe $q must not retrieve its own doc")
    }
    assert(out.forall(r => r._6 <= 1.0001 && r._6 >= -1.0001))
    assert(out.forall(r => r._4 >= 0 && r._4 < RetrievalOps.RagMaxChunks))
    // every hit inverts to a chunk that genuinely exists at the geometry:
    // chunk_no * C must fall inside the parent doc's text
    val lens = Tables.documents(spark, SparkSpec.FixtureDir)
      .select(col("doc_id"), length(coalesce(col("text"), lit(""))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r._4 * RetrievalOps.RagChunkChars < lens(r._3),
        s"chunk ${r._4} of doc ${r._3} must start inside the text")
    }
  }

  test("chunkFrame: id-space guard — a doc past RagMaxChunks windows is " +
    "truncated at the packing boundary, never bled into the next doc's ids") {
    import graft.operators.RetrievalOps
    val C = RetrievalOps.RagChunkChars
    val M = RetrievalOps.RagMaxChunks
    // doc 0 would yield M + 3 windows uncapped; doc 1 is its id-space
    // neighbor — uncapped, doc 0's overflow chunks would collide with
    // doc 1's vec_ids (ADVICE r17)
    val mega = ("abcdefgh " * ((M * C + 3 * C) / 9 + 1)).take(M * C + 3 * C)
    val d = Seq((0L, mega), (1L, "short neighbor text for chunking"))
      .toDF("doc_id", "text")
    val out = RetrievalOps.chunkFrame(d)
      .select("vec_id", "doc_id", "chunk_no")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val doc0 = out.filter(_._2 == 0L)
    assert(doc0.length === M, s"doc 0 must cap at $M chunks, got ${doc0.length}")
    assert(doc0.map(_._3).max === M - 1)
    assert(doc0.map(_._1).max === (M - 1).toLong,
      "doc 0's largest vec_id must stay inside its own packing range")
    val doc1 = out.filter(_._2 == 1L)
    assert(doc1.nonEmpty && doc1.forall(r => r._1 >= M && r._1 < 2L * M),
      "doc 1's vec_ids must be un-collided with doc 0's overflow")
    // the packing inverts exactly for every emitted chunk
    out.foreach { case (vid, did, no) =>
      assert(vid === did * M + no)
    }
  }

  test("ragChunkHeldout: probes are eval-slice docs, every hit is " +
    "train-side — no eval doc (probe's own included) can be retrieved") {
    import graft.operators.{RetrievalOps, SamplingOps}
    val out = RetrievalOps.ragChunkHeldout(spark, SparkSpec.FixtureDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(5)))
    Caching.releaseAll()
    assert(out.nonEmpty)
    val buckets = Tables.documents(spark, SparkSpec.FixtureDir)
      .select(col("doc_id"),
        SamplingOps.hashBucket(col("doc_id"), 10000).as("bkt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probeIds = out.map(_._1).distinct
    assert(probeIds.length <= RetrievalOps.RagHeldoutProbes)
    probeIds.foreach { q =>
      assert(buckets(q) < RetrievalOps.RagHeldoutBuckets,
        s"probe $q must come from the eval slice")
    }
    out.foreach { case (q, _, doc, _, _) =>
      assert(buckets(doc) >= RetrievalOps.RagHeldoutBuckets,
        s"hit doc $doc for probe $q must be train-side (leakage-safe)")
      assert(doc != q)
    }
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1 to byRank.length),
        s"probe $q ranks must be dense from 1")
      byRank.map(_._5).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a >= b - 1e-9)
        case _ => ()
      }
    }
  }

  test("ragChunkTopKIvf: served grounding never beats brute at the same " +
    "rank, excludes the probe's whole document, ranks dense") {
    import graft.operators.RetrievalOps
    val served = RetrievalOps.ragChunkTopKIvf(spark, SparkSpec.FixtureDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(5)))
    val brute = RetrievalOps.ragChunkTopK(spark, SparkSpec.FixtureDir)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(5))).toMap
    Caching.releaseAll()
    assert(served.nonEmpty)
    served.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1 to byRank.length),
        s"probe $q served ranks must be dense from 1")
      assert(rows.forall(_._3 != q),
        s"probe $q must not retrieve its own doc on the served path")
    }
    // dominance: an index can only MISS candidates, so at every rank the
    // served cosine is <= the brute cosine (equality when the lists held
    // the true top)
    served.foreach { case (q, rank, _, _, cos) =>
      brute.get((q, rank)).foreach { b =>
        assert(cos <= b + 1e-9,
          s"served cos at ($q, $rank) must not exceed brute")
      }
    }
  }

  test("ragChunkRecall: exact integer recall ratios per probe, bounded " +
    "[0,1], brute side complete at k=10") {
    import graft.operators.RetrievalOps
    val out = RetrievalOps.ragChunkRecall(spark, SparkSpec.FixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    Caching.releaseAll()
    assert(out.nonEmpty)
    out.foreach { case (q, nBrute, nHits, recall, cfg) =>
      assert(nBrute === 10L, s"probe $q brute side must be complete")
      assert(nHits >= 0L && nHits <= nBrute)
      assert(math.abs(recall - nHits.toDouble / nBrute) < 1e-9,
        s"probe $q recall must be the exact integer ratio")
      assert(cfg === s"${graft.operators.SimilarityOps.IvfLists}/" +
        s"${graft.operators.SimilarityOps.IvfProbe}")
    }
  }

}
