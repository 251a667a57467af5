package graft.pipeline

import org.apache.spark.sql.SparkSession

/** EP2 — the reference's combined usage script
  * (/root/reference/BERTopic_LDA_usage.py:20-69): run the cluster
  * (BERTopic-analog) analysis, then the LDA analysis, with ONE shared
  * topic count; each half is attempted independently (the script wraps both
  * in try/except and still prints the other's result), and a summary block
  * reports which halves succeeded.
  *
  *   FullAnalysisMain --data DIR [--topics N] [--column NAME] [--out DIR]
  *                    [--max-iter N] [--format parquet|csv|xlsx]
  *
  * Topic-count normalization (the reference's ±1 quirk, documented per
  * SURVEY.md EP2/§8): the script passes `MAX_TOPICS + 1` as BERTopic's
  * nr_topics but `MAX_TOPICS` to LDA, because BERTopic counts its outlier
  * topic (−1) inside nr_topics — the "+1" buys MAX_TOPICS REAL topics next
  * to the outlier row. This engine emulates noise by RELABELING outliers
  * within the k fitted clusters (TopicModelOps.clusterEmbeddingsWithNoise)
  * rather than spending a cluster slot on them, so both halves receive the
  * same --topics N and both yield N real topics. Report consumers therefore
  * see symmetric topic counts where the reference saw N and N±1.
  *
  * Layout: the cluster report lands in `out/bertopic`, the LDA report (and
  * its figures) in `out/lda` — the analog of the reference writing both
  * result families into one Results/ folder.
  */
object FullAnalysisMain {

  val Usage: String =
    "usage: FullAnalysisMain --data DIR [--topics N] [--column NAME] [--out DIR] [--max-iter N] [--format parquet|csv|xlsx]"

  /** The reference's MAX_TOPICS constant (BERTopic_LDA_usage.py:18). */
  val DefaultTopics = 10

  /** Orchestrate both analyses on a caller-owned session; returns
    * (cluster half ok, lda half ok) — the script's summary booleans.
    * The cluster half needs an `embeddings.parquet` table next to the
    * documents (the sentence-embedding stage stand-in, SURVEY.md M6); when
    * it is absent that half fails gracefully and LDA still runs, exactly
    * like the script's independent try/except blocks.
    */
  def run(spark: SparkSession, data: String, column: String, out: String,
          topics: Int = DefaultTopics, maxIter: Int = 20,
          format: String = "parquet"): (Boolean, Boolean) = {
    def attempt(label: String)(body: => Unit): Boolean =
      try { body; println(s"[full-analysis] $label: OK"); true }
      catch {
        case e: Exception =>
          System.err.println(s"[full-analysis] $label failed: ${e.getMessage}")
          false
      }
    // 1. cluster (BERTopic-analog) half — reference runs BERTopic first.
    // Scoped like AnalysisMain.run's body: tracked frames release when the
    // half completes instead of surviving a long-lived caller session.
    val clusterOk = attempt("bertopic (cluster path)") (graft.Caching.scoped {
      val docs = AnalysisMain.loadDocs(spark, data)
      PreprocessPipeline.requireColumns(docs, Seq("doc_id", column))
      val embeddings = spark.read.parquet(s"$data/embeddings.parquet")
      AnalysisRunner.runClusterAnalysis(spark, docs, embeddings,
        "doc_id", column, s"$out/bertopic", topics, format)
      // the reference's topic-similarity figure + its interactive-HTML
      // analog (BERTopic_Analysis.py:730-833), as deterministic artifacts
      if (format == "parquet") {
        ChartSink.writeSimilarityHeatmap(
          ReportSink.readSheet(spark, s"$out/bertopic", "similarity"),
          s"$out/bertopic/topic_similarity.svg")
        ChartSink.writeHtmlReport(s"$out/bertopic",
          s"Cluster (BERTopic-analog) analysis — $topics topics")
      }
    })
    // 2. LDA half — same k (see the ±1 normalization note above)
    val ldaOk = attempt("lda") {
      AnalysisMain.run(spark, data, column, s"$out/lda", topics, maxIter,
        format)
    }
    // 3. the script's result summary block
    println(s"[full-analysis] summary: bertopic=${ok(clusterOk)} lda=${ok(ldaOk)} -> $out")
    (clusterOk, ldaOk)
  }

  private def ok(b: Boolean): String = if (b) "OK" else "FAILED"

  def main(args: Array[String]): Unit = {
    val opts = AnalysisMain.parseArgs(args)
    val data = opts.getOrElse("data",
      throw new IllegalArgumentException(s"--data is required\n$Usage"))
    val column = opts.getOrElse("column", "cleaned_text") // reference default
    val out = opts.getOrElse("out", "Results")
    val maxIter = opts.get("max-iter").map(_.toInt).getOrElse(20)
    val format = opts.getOrElse("format", "parquet")
    // same [2, 50] bounds contract as the EP3 CLI; default = the script's
    // MAX_TOPICS constant rather than a prompt (the script never asks)
    val topics = AnalysisMain.resolveTopics(
      Some(opts.get("topics").map(_.toInt).getOrElse(DefaultTopics)),
      Option(System.console()).map(c => () => c.readLine()))

    val spark = graft.SparkEntry.localSession()
    try run(spark, data, column, out, topics, maxIter, format)
    finally spark.stop()
  }
}
