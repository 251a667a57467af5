package graft

import graft.pipeline.{ExcelIO, PreprocessPipeline}

/** Golden end-to-end parity against the reference repo's own COMMITTED
  * artifacts (SURVEY.md §5.3): the engine, fed the reference's real input
  * files, must reproduce the row counts of the outputs the reference
  * checked in. These pins are tokenizer-independent (dedup + null-drop +
  * distinct only), so they hold despite the sanctioned morphological
  * analyzer divergence.
  */
class GoldenSpec extends SparkSuite {

  // defs, not vals: resolving a path fails the test when the reference
  // root is absent, and a class-level val would abort the whole suite
  private def RawXlsx = SparkSpec.referenceFile(
    "RAW_DATA/2025_6_28_22_56_49_4600_channel_download_ai광고.xlsx")
  private def Stopwords = SparkSpec.referenceFile("stopwords.txt")

  test("EP1 on the real crawl workbook reproduces pre_dataframe.xlsx exactly: 5058 -> 4793 rows") {
    // the reference's committed Results/pre_dataframe.xlsx holds 4,793 data
    // rows derived from the 5,058-row crawl (FIXTURES.md §1.1/§2,
    // preprocessing.py:344-350 keep-first dedup + null drops)
    val raw = ExcelIO.readXlsx(spark, RawXlsx)
    assert(raw.count() === 5058L)
    val prepped = PreprocessPipeline.prepareCrawl(raw)
    assert(prepped.count() === 4793L)
    // derived columns present and populated like the committed artifact
    assert(Seq("date", "title", "contents", "title_contents", "year",
      "month", "cleaned_text").forall(prepped.columns.contains))
    assert(prepped.filter(prepped("cleaned_text").isNull).count() === 0L)
  }

  test("EP1 CLI on the real workbook writes the reference's three report artifacts") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft-ep1").toString
    graft.pipeline.PreprocessMain.run(spark, RawXlsx, "crawl",
      Some(Stopwords), out, top = 100)
    val pre = graft.pipeline.ReportSink.readSheet(spark, out, "pre_dataframe")
    assert(pre.count() === 4793L) // pre_dataframe.xlsx parity
    val wf = graft.pipeline.ReportSink.readSheet(spark, out, "word_frequency")
      .collect().sortBy(r => (-r.getLong(1), r.getString(0)))
    assert(wf.length === 100) // word_frequency_analysis.xlsx shape
    // the committed word_frequency_analysis.xlsx leads with (모델, 845)
    // via the kiwi morphological tokenizer; whitespace tokenization finds
    // the SAME top word at 745 (inflected/compound forms stay unsplit) —
    // the sanctioned F4 divergence, quantified and pinned
    assert(wf.head.getString(0) === "모델")
    assert(wf.head.getLong(1) === 745L)
    val freqs = wf.map(_.getLong(1))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    // no stopword survives the filter
    val stopSet = PreprocessPipeline
      .loadStopwords(spark, Stopwords).toSet
    assert(!wf.exists(r => stopSet.contains(r.getString(0))))
    assert(graft.pipeline.ReportSink.readSheet(spark, out, "stopwords")
      .count() === 1104L) // stopwords_list.xlsx parity
    assert(Files.exists(Paths.get(out, "word_frequency.svg")))
  }

  test("stopword manager reproduces stopwords_list.xlsx exactly: 1104 distinct entries") {
    // the reference commits Results/stopwords_list.xlsx with 1,104 rows —
    // the distinct non-blank lines of its 1,381-line stopwords.txt
    val words = PreprocessPipeline.loadStopwords(spark, Stopwords)
    assert(words.length === 1104)
    assert(words === words.sorted, "reference sorts its stopword report")
  }

  test("EP2 keyword-table golden: the committed 중복없는_토픽키워드.xlsx shape, " +
    "and the KMeans+c-TF-IDF+D2 chain reproduces its invariant class") {
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.{TopicMetricsOps, TopicModelOps}

    // --- the reference's own committed artifact (Results/중복없는_토픽
    // 키워드.xlsx, written by BERTopic_Analysis.py:693-722). Read through
    // OUR Excel scan and pin its TRUE shape: header (Topic, Keyword Rank,
    // Keyword, Weight), 35 data rows over 7 topics with UNEVEN per-topic
    // counts {6,6,5,3,5,7,3} — the reference walks each topic's candidate
    // list skipping words already claimed by an EARLIER topic and stops at
    // top_k or exhaustion, so later topics can come up short. (Not the
    // 5-per-topic grid a casual reading suggests.) Keywords are globally
    // distinct — D2's defining invariant — ranks are dense from 1, and
    // weights descend with rank inside every topic.
    val art = ExcelIO.readXlsx(spark,
      SparkSpec.referenceFile("Results/중복없는_토픽키워드.xlsx"))
    assert(art.columns.toSeq ===
      Seq("Topic", "Keyword Rank", "Keyword", "Weight"))
    val rows = art.select(
        col("Topic").cast("int"), col("Keyword Rank").cast("int"),
        col("Keyword"), col("Weight").cast("double"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getDouble(3)))
    assert(rows.length === 35)
    val byTopic = rows.groupBy(_._1)
    assert(byTopic.keySet === (0 to 6).toSet)
    assert(byTopic.view.mapValues(_.length).toMap ===
      Map(0 -> 6, 1 -> 6, 2 -> 5, 3 -> 3, 4 -> 5, 5 -> 7, 6 -> 3))
    assert(rows.map(_._3).distinct.length === 35) // D2: no cross-topic repeats
    byTopic.values.foreach { ts =>
      val sorted = ts.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to ts.length)) // dense ranks
      assert(sorted.map(_._4).toSeq ===
        sorted.map(_._4).sortBy(-_).toSeq) // weights descend with rank
    }

    // --- our chain on the real corpus: stage the prepped crawl + fixture
    // embeddings exactly as the EP2 orchestrator consumes them, cluster at
    // the reference's k = 7, c-TF-IDF top-10 candidates, D2 dedup at the
    // artifact's top_k = 7 with the Weight column carried through. Exact
    // keywords differ (sanctioned embedder divergence); the INVARIANT
    // CLASS must match: 4-column sheet, all 7 topics represented, ≤ 7 per
    // topic, dense ranks, globally-distinct keywords, weights descending.
    val staged = Files.createTempDirectory("graft-ep2-kw").toString
    val raw = ExcelIO.readXlsx(spark, RawXlsx)
    val docs = PreprocessPipeline.prepareCrawl(raw)
      .withColumn("doc_id",
        (row_number().over(Window.orderBy("cleaned_text", "date")) - 1)
          .cast("long"))
      .select("doc_id", "cleaned_text")
    // exact-k clustering WITHOUT the mean+2σ noise relabel: the committed
    // table has topics 0..6 and no −1 row — it reflects the reference's
    // fixed-k view, and the noise emulation can orphan a whole small
    // cluster (measured here: topic 6 lost every member), which tests the
    // M8/M9 path, not this artifact's
    val emb = spark.read.parquet(s"${SparkSpec.FixtureDir}/embeddings.parquet")
    val clusters = TopicModelOps.clusterEmbeddings(emb, 7)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val denoised = docs.join(clusters, "doc_id")
    val kw = TopicMetricsOps.ctfidfKeywords(denoised, "cluster",
      "cleaned_text", 10)
    val dd = TopicMetricsOps.dedupKeywords(kw, 7, withScore = true)
    assert(dd.columns.toSeq === Seq("cls", "new_rank", "word", "score"))
    val ours = dd.collect().map(r => (r.getInt(0), r.getInt(1),
      r.getString(2), r.getDouble(3)))
    val oursByTopic = ours.groupBy(_._1)
    assert(oursByTopic.keySet === (0 to 6).toSet, "all 7 topics represented")
    assert(ours.map(_._3).distinct.length === ours.length,
      "D2 invariant: no keyword repeats across topics")
    oursByTopic.values.foreach { ts =>
      assert(ts.length <= 7)
      val sorted = ts.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to ts.length)) // dense ranks
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq)
    }
    info(s"our per-topic dedup counts: ${
      oursByTopic.view.mapValues(_.length).toMap.toSeq.sorted}")
    graft.Caching.releaseAll()
  }

  test("EP2 orchestrator on the real workbook + fixture embeddings: both halves OK, sheets + figures present") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Stage the reference corpus the way EP2 consumes a data dir: the
    // prepped crawl as documents.parquet (with the doc_id key the cluster
    // join needs) and an embeddings table beside it — the fixture vectors
    // stand in for the sentence-embedding stage (SURVEY.md M6), covering
    // the first 500 docs; the cluster half inner-joins to that subset,
    // exactly as a partially-embedded corpus would behave.
    val staged = Files.createTempDirectory("graft-ep2-golden").toString
    val raw = ExcelIO.readXlsx(spark, RawXlsx)
    PreprocessPipeline.prepareCrawl(raw)
      .withColumn("doc_id",
        (row_number().over(Window.orderBy("cleaned_text", "date")) - 1)
          .cast("long"))
      .select("doc_id", "cleaned_text")
      .write.parquet(s"$staged/documents.parquet")
    spark.read.parquet(s"${SparkSpec.FixtureDir}/embeddings.parquet")
      .write.parquet(s"$staged/embeddings.parquet")

    val out = Files.createTempDirectory("graft-ep2-golden-out").toString
    val (clusterOk, ldaOk) = pipeline.FullAnalysisMain.run(
      spark, staged, "cleaned_text", out, topics = 4, maxIter = 5)
    assert(clusterOk && ldaOk, "both halves must report OK (BERTopic_LDA_usage.py:20-69)")

    // cluster report: sheets + the similarity figure + the HTML page
    Seq("keywords", "keywords_dedup", "sizes", "diversity", "similarity",
      "examples", "interpretation", "summary").foreach { s =>
      assert(pipeline.ReportSink.readSheet(spark, s"$out/bertopic", s).count() > 0,
        s"bertopic sheet $s empty")
    }
    assert(Files.exists(Paths.get(out, "bertopic", "topic_similarity.svg")))
    assert(Files.exists(Paths.get(out, "bertopic", "index.html")))
    // LDA report: the topics sheet carries the shared k, figures present
    assert(pipeline.ReportSink.readSheet(spark, s"$out/lda", "topics")
      .select("topic").distinct().count() === 4L)
    Seq("word_frequency.svg", "lda_coherence_curve.svg", "topic_overlap.svg",
      "dominant_topics.svg", "index.html").foreach { f =>
      assert(Files.exists(Paths.get(out, "lda", f)), s"lda figure $f missing")
    }

    // r13 (VERDICT ask #9): the COMMITTED report-manifest golden — the
    // full report directory shape (every sheet with its row count, every
    // figure/page artifact) diffed against src/test/resources. Seeded
    // fits make the whole run deterministic, so any drift in the report
    // surface — a sheet lost, a figure renamed, a row-count change from a
    // pipeline edit — fails here instead of shipping silently. The ±1
    // topic-count quirk is normalized away by design (both halves get
    // k=4; the reference saw N and N±1 — FullAnalysisMain scaladoc).
    def manifestOf(dir: String, label: String): Seq[String] = {
      val mf = new String(Files.readAllBytes(Paths.get(dir, "_report.json")),
        "UTF-8")
      val sheets = "\"([^\"]+)\"\\s*:\\s*\"[^\"]*\"".r.findAllMatchIn(mf)
        .map(_.group(1)).filterNot(_ == "format").toSeq.sorted
      val sheetLines = sheets.map { s =>
        s"$label/sheet/$s=${pipeline.ReportSink.readSheet(spark, dir, s).count()}"
      }
      val fileLines = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".svg") || f.getName.endsWith(".html"))
        .map(f => s"$label/file/${f.getName}").sorted.toSeq
      sheetLines ++ fileLines
    }
    val manifest = (manifestOf(s"$out/bertopic", "bertopic") ++
      manifestOf(s"$out/lda", "lda")).mkString("\n") + "\n"
    val golden = Paths.get("src/test/resources/ep2_report_manifest.txt")
    if (!Files.exists(golden)) {
      Files.createDirectories(golden.getParent)
      Files.writeString(golden, manifest)
      info(s"recorded new golden at $golden — commit it")
    } else {
      assert(manifest === new String(Files.readAllBytes(golden), "UTF-8"),
        "EP2 report manifest drifted from the committed golden")
    }
  }
}
