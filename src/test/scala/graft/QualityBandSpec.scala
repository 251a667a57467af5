package graft

import org.apache.spark.sql.functions._

import graft.operators.{TopicMetricsOps, TopicModelOps}

/** SURVEY §6 quality-band acceptance — the reference's own pass bars for a
  * trained topic model: coherence c_v ≥ 0.4 is "good" and diversity ≥ 0.7
  * "high" in its guideline (/root/reference/README.md:169-179,
  * /root/reference/BERTopic_guideline.md:109-117, BASELINE.md rows 24-25);
  * the acceptance floor asserted here is the guideline's fair-or-better
  * band (c_v ≥ 0.3, diversity ≥ 0.5) so a quality regression in the
  * tokenize → vectorize → LDA → topic-words path trips a spec, not a
  * downstream report reader. Seed 42 makes the scores a fixed point.
  */
class QualityBandSpec extends SparkSuite {

  test("seed-42 LDA end-to-end lands in the reference's quality bands: " +
    "mean c_v >= 0.3, topic diversity >= 0.5") {
    val docs = Tables.documents(spark, SparkSpec.FixtureDir)
    val corpus = TopicModelOps.ldaCorpus(docs, "text")
    val topics = TopicModelOps.describeJoined(spark,
        TopicModelOps.fitLda(corpus.vecs, 5, 20), corpus.vocab, 10)
      .select(col("topic").as("cls"), col("term").as("word"), col("rank"))
      .cache()

    val diversity = TopicMetricsOps
      .topicDiversity(topics)
      .select(col("diversity")).collect()(0).getDouble(0)

    val cvs = (0 until 5).map { t =>
      TopicMetricsOps.cvCoherenceOfTokens(corpus.toks,
        topics.filter(col("cls") === t).select(col("word"), col("rank")))
        .select(col("c_v")).collect()(0).getDouble(0)
    }
    graft.Caching.releaseAll()
    topics.unpersist()
    val meanCv = cvs.sum / cvs.size

    info(f"mean c_v = $meanCv%.4f (per-topic: ${cvs.map(v => f"$v%.3f").mkString(", ")})")
    info(f"diversity = $diversity%.4f")
    assert(meanCv >= 0.3,
      f"mean c_v $meanCv%.4f below the reference's fair-or-better bar (0.3)")
    assert(diversity >= 0.5,
      f"diversity $diversity%.4f below the reference's fair-or-better bar (0.5)")
  }

  test("seed-42 LDA on the reference's own corpus lands in its quality bands") {
    // the bands were written FOR this data: the reference's real crawl
    // workbook, prepped by the EP1 pipeline (GoldenSpec pins the ingest)
    val raw = graft.pipeline.ExcelIO.readXlsx(spark,
      SparkSpec.referenceFile("RAW_DATA/2025_6_28_22_56_49_4600_channel_download_ai광고.xlsx"))
    val docs = graft.pipeline.PreprocessPipeline.prepareCrawl(raw)
      .select(col("cleaned_text")).cache()
    val corpus = TopicModelOps.ldaCorpus(docs, "cleaned_text")
    val topics = TopicModelOps.describeJoined(spark,
        TopicModelOps.fitLda(corpus.vecs, 5, 10), corpus.vocab, 10)
      .select(col("topic").as("cls"), col("term").as("word"), col("rank"))
      .cache()
    val diversity = TopicMetricsOps.topicDiversity(topics)
      .select(col("diversity")).collect()(0).getDouble(0)
    val cvs = (0 until 5).map { t =>
      TopicMetricsOps.cvCoherenceOfTokens(corpus.toks,
        topics.filter(col("cls") === t).select(col("word"), col("rank")))
        .select(col("c_v")).collect()(0).getDouble(0)
    }
    graft.Caching.releaseAll()
    topics.unpersist(); docs.unpersist()
    val meanCv = cvs.sum / cvs.size
    info(f"real-corpus mean c_v = $meanCv%.4f (per-topic: ${cvs.map(v => f"$v%.3f").mkString(", ")})")
    info(f"real-corpus diversity = $diversity%.4f")
    assert(meanCv >= 0.3,
      f"mean c_v $meanCv%.4f below the reference's fair-or-better bar (0.3)")
    assert(diversity >= 0.5,
      f"diversity $diversity%.4f below the reference's fair-or-better bar (0.5)")
  }
}
