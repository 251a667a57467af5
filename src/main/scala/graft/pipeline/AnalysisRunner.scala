package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** EP2/EP3 parity: the reference's end-to-end analysis entry points
  * (`LDAAnalyzer.run_complete_analysis`, /root/reference/LDA_Analysis.py:679-728;
  * `BERTopicAnalyzer.run_full_analysis`, BERTopic_Analysis.py:873-926) as
  * library runners that compose the operator suite and leave ONE report
  * directory (ReportSink) — the workbook the reference writes, re-expressed
  * as named parquet sheets.
  *
  * Everything heavy is the operators' existing distributed plans; the runner
  * only sequences them and collects K-sized summaries.
  */
object AnalysisRunner {

  /** EP3 — LDA analysis over a document DataFrame: topics, dominant-topic
    * histogram, per-topic coherence (u_mass + c_npmi), diversity,
    * keyword-overlap matrix, interpretation, summary.
    */
  def runLdaAnalysis(spark: SparkSession, docs: DataFrame, textCol: String,
                     outDir: String, k: Int = 5, maxIter: Int = 20,
                     topN: Int = 10, format: String = "parquet"): Unit =
      graft.Caching.scoped {
    PreprocessPipeline.requireColumns(docs, Seq(textCol))
    ldaReport(spark, docs, TopicModelOps.ldaCorpus(docs, textCol), textCol,
      outDir, k, maxIter, topN, format)
  }

  /** The EP3 report over `docs`' prebuilt `corpus` — for callers that feed
    * the same corpus to other consumers (AnalysisMain's k-grid) and release
    * it from their own scope once every consumer is done.
    */
  private[pipeline] def ldaReport(spark: SparkSession, docs: DataFrame,
                                  corpus: TopicModelOps.LdaCorpus, textCol: String,
                                  outDir: String, k: Int, maxIter: Int,
                                  topN: Int, format: String): Unit =
      graft.Caching.scoped {
    val TopicModelOps.LdaCorpus(vecs, vocab, toks) = corpus
    val model = TopicModelOps.fitLda(vecs, k, maxIter)
    val topics = graft.Caching.track(
      TopicModelOps.describeJoined(spark, model, vocab, topN))
    // (cls=topic, rank, word) shape reused by every keyword-family operator
    val kw = graft.Caching.track(topics.select(col("topic").cast("string").as("cls"),
      col("rank"), col("term").as("word")))

    // all K topics, both measures, from ONE pass over the shared corpus
    val perTopicCoherence = TopicMetricsOps.coherenceByClass(toks,
        topics.select(col("topic").as("cls"), col("term").as("word"), col("rank")))
      .select(col("cls").as("topic"), col("umass"), col("c_npmi"))

    // F7 — the reference's "keyword1, keyword2, …" report strings with
    // 4-decimal weights (LDA_Analysis.py:482,523-524)
    val topicsFormatted = topics
      .groupBy(col("topic"))
      .agg(sort_array(collect_list(struct(col("rank"), col("term"), col("weight"))))
        .as("kw")) // sort by rank — collect_list order is not deterministic
      .select(col("topic"),
        array_join(transform(col("kw"), s => s.getField("term")), ", ")
          .as("keywords"),
        array_join(transform(col("kw"), s => format_number(s.getField("weight"), 4)), ", ")
          .as("weights"))
    ReportSink.write(outDir, Seq(
      "topics" -> topics,
      "topics_formatted" -> topicsFormatted,
      "dominant" ->
        model.transform(vecs)
          .withColumn("dist",
            org.apache.spark.ml.functions.vector_to_array(col("topicDistribution")))
          .withColumn("maxp", array_max(col("dist")))
          .withColumn("topic",
            (array_position(col("dist"), col("maxp")) - 1).cast("int"))
          .filter(col("maxp") > 0.3)
          .groupBy("topic").agg(count(lit(1)).as("n_docs")),
      "coherence" -> perTopicCoherence,
      "diversity" -> TopicMetricsOps.topicDiversity(kw),
      "overlap" -> TopicMetricsOps.keywordOverlapMatrix(kw),
      "interpretation" -> TopicExtrasOps.interpretKeywords(kw),
      "summary" -> docs.agg(
        count(lit(1)).as("n_docs"),
        lit(k).as("n_topics"),
        round(avg(length(col(textCol))), 2).as("avg_len"))), format)
  }

  /** EP2 — cluster (BERTopic-analog) analysis: embeddings → PCA → KMeans →
    * c-TF-IDF keywords → deduped keywords, diversity, similarity matrix,
    * examples, interpretation, summary.
    */
  def runClusterAnalysis(spark: SparkSession, docs: DataFrame,
                         embeddings: DataFrame, idCol: String, textCol: String,
                         outDir: String, k: Int = 8,
                         format: String = "parquet"): Unit = graft.Caching.scoped {
    PreprocessPipeline.requireColumns(docs, Seq(idCol, textCol))
    val clusters = TopicModelOps.clusterEmbeddingsWithNoise(embeddings, k)
      .select(col("vec_id").as(idCol), col("cluster"))
    val clustered = graft.Caching.track(docs.join(clusters, idCol))
    // noise docs (cluster −1) stay in the size report but are excluded from
    // every keyword-derived sheet, as the reference does
    // (BERTopic_Analysis.py:395,438-439,474-475,549-550,695-697)
    val denoised = clustered.filter(col("cluster") =!= -1)
    // one class-term table feeds the keyword rank and the similarity matrix
    val scores = TopicMetricsOps.classTermScores(denoised, "cluster", textCol)
    val kw = graft.Caching.track(TopicMetricsOps.ctfidfRank(scores, 10))
    ReportSink.write(outDir, Seq(
      "keywords" -> kw,
      "keywords_dedup" -> TopicMetricsOps.dedupKeywords(kw, 5,
        withScore = true),
      "sizes" -> clustered.groupBy("cluster").agg(count(lit(1)).as("n_docs")),
      "diversity" -> TopicMetricsOps.topicDiversity(kw),
      "similarity" -> TopicMetricsOps.classSimilarityMatrixOfScores(scores),
      "examples" -> TopicExtrasOps.jaccardExamples(
        denoised, kw, idCol, textCol, "cluster", 3),
      "interpretation" -> TopicExtrasOps.interpretKeywords(kw),
      "summary" -> clustered.agg(
        count(lit(1)).as("n_docs"), lit(k).as("n_clusters"))), format)
  }
}
