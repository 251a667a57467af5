package graft.pipeline

import org.apache.spark.sql.SparkSession

/** EP3 CLI — the reference's argparse entry point
  * (/root/reference/LDA_Analysis.py:731-876) over the Spark runner:
  *
  *   AnalysisMain --data <parquet path> [--topics N] [--column NAME]
  *                [--out DIR] [--top-words N] [--max-iter N]
  *
  * Topic-count contract matches the reference: an explicit --topics outside
  * [2, 50] (or a missing one) re-prompts interactively when a console is
  * attached (LDA_Analysis.py:807-826's input loop); with no console it fails
  * fast with the same bounds message instead of looping forever.
  * After the report, the reference's figures land next to it as SVGs
  * (ChartSink): the top-word bar chart and the coherence-by-k curve.
  */
object AnalysisMain {

  val Usage: String =
    "usage: AnalysisMain --data PATH [--topics N] [--column NAME] [--out DIR] [--max-iter N] [--format parquet|csv|xlsx]"

  /** --flag value pairs (short forms -t/-d/-c like the reference). */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val longNames = Map("-t" -> "--topics", "-d" -> "--data", "-c" -> "--column")
    args.grouped(2).map {
      case Array(flag, value) =>
        val f = longNames.getOrElse(flag, flag)
        require(f.startsWith("--"), s"unexpected argument: $flag\n$Usage")
        f.drop(2) -> value
      case Array(flag) =>
        throw new IllegalArgumentException(s"missing value for $flag\n$Usage")
    }.toMap
  }

  /** Reference topic-count resolution (LDA_Analysis.py:807-843): valid
    * explicit value wins; otherwise prompt until a value in [2, 50] arrives.
    * `readLine` is injected for testability; None = no console attached.
    */
  def resolveTopics(explicit: Option[Int],
                    readLine: Option[() => String]): Int =
    explicit match {
      case Some(k) if k >= 2 && k <= 50 => k
      case other => readLine match {
        case Some(read) =>
          Iterator.continually {
            Console.out.print("topic count (2-50): ")
            Console.out.flush()
            try read().trim.toInt catch { case _: NumberFormatException => -1 }
          }.find(k => k >= 2 && k <= 50).get
        case None =>
          throw new IllegalArgumentException(
            s"topic count must be in [2, 50]${other.map(k => s", got $k").getOrElse("")}; " +
              "pass --topics N (no console attached for interactive entry)")
      }
    }

  /** Resolve `data` to a readable parquet path (fixture dirs hold a
    * documents.parquet table; anything else is read as-is).
    */
  def docsPath(data: String): String =
    if (new java.io.File(s"$data/documents.parquet").exists())
      s"$data/documents.parquet" else data

  /** Load the document frame: .xlsx paths go through the workbook reader
    * (the reference's EP2/EP3 consume Results/pre_dataframe.xlsx directly),
    * everything else reads as parquet.
    */
  def loadDocs(spark: SparkSession, data: String)
      : org.apache.spark.sql.DataFrame =
    if (data.endsWith(".xlsx")) ExcelIO.readXlsx(spark, data)
    else spark.read.parquet(docsPath(data))

  /** The CLI body on a caller-owned session (spec surface — main owns the
    * session lifecycle). Writes the report plus the reference's figures:
    * word-frequency bars, and for parquet reports the topic-overlap heatmap,
    * the dominant-topic histogram (LDA_Analysis.py:645-657) and the
    * coherence-vs-k curve from a REAL grid search (LDA_Analysis.py:614-677).
    */
  def run(spark: SparkSession, data: String, column: String, out: String,
          k: Int, maxIter: Int = 20,
          format: String = "parquet"): Unit = graft.Caching.scoped {
    // the whole body runs in one cache scope: frames tracked inside
    // AnalysisRunner release when the report completes, so long-lived
    // sessions calling this spec surface repeatedly don't accrete caches
    val docs = loadDocs(spark, data)
    // the reference's fail-fast column diagnostic (LDA_Analysis.py:122-126)
    PreprocessPipeline.requireColumns(docs, Seq(column))
    println(s"[analysis] $k topics over $data ($column) -> $out")
    // one vectorization + tokenization feeds the report AND the grid; this
    // scope holds it until both are done
    val corpus = graft.operators.TopicModelOps.ldaCorpus(docs, column)
    // the report, the word bars and the grid are independent seeded
    // actions — forked so their Spark jobs overlap instead of queueing
    graft.Caching.forkJoin(Seq(
      () => {
        AnalysisRunner.ldaReport(spark, docs, corpus, column, out, k, maxIter,
          topN = 10, format)
        // figures drawn from the report's own sheets (parquet read-back)
        if (format == "parquet") {
          ChartSink.writeSimilarityHeatmap(
            ReportSink.readSheet(spark, out, "overlap"),
            s"$out/topic_overlap.svg", title = "Topic keyword overlap")
          ChartSink.writeHistogramChart(
            ReportSink.readSheet(spark, out, "dominant"),
            s"$out/dominant_topics.svg", title = "Dominant topic distribution")
        }
      },
      // the reference's PNG figures, as deterministic SVGs
      () => ChartSink.writeWordFrequencyChart(
        graft.operators.WordFreqOps.topWords(docs, column, 30),
        s"$out/word_frequency.svg"),
      // coherence-vs-k curve over a real grid of seeded fits — the
      // reference draws this every run (LDA_Analysis.py:614-677)
      () => graft.Caching.scoped {
        ChartSink.writeCoherenceCurve(
          graft.operators.TopicModelOps.gridSearchOver(spark, corpus)
            .select("k", "umass"),
          s"$out/lda_coherence_curve.svg")
      }))
    // one browsable page embedding every figure (the reference's
    // interactive-HTML analog, as deterministic static HTML)
    ChartSink.writeHtmlReport(out, s"LDA analysis — $k topics")
    println(s"[analysis] report + figures written to $out")
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val data = opts.getOrElse("data",
      throw new IllegalArgumentException(s"--data is required\n$Usage"))
    val column = opts.getOrElse("column", "cleaned_text") // reference default
    val out = opts.getOrElse("out", "Results") // reference's Results/ dir
    val maxIter = opts.get("max-iter").map(_.toInt).getOrElse(20)
    // parquet sheets by default; "xlsx" writes the reference's one-workbook
    // artifact, "csv" one dir per sheet
    val format = opts.getOrElse("format", "parquet")
    val console = Option(System.console())
      .map(c => () => c.readLine())
    val k = resolveTopics(opts.get("topics").map(_.toInt), console)

    val spark = graft.SparkEntry.localSession()
    try run(spark, data, column, out, k, maxIter, format)
    finally spark.stop()
  }
}
