package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.operators.WordFreqOps

/** EP1 CLI — the reference's `python preprocessing.py` end to end
  * (/root/reference/preprocessing.py:641-719): raw workbook → canonical
  * pre-dataframe (rename/cast → keep-first dedup → null drops → derived
  * columns) → stopword-filtered word-frequency top-N → report sheets +
  * the word-frequency figure.
  *
  *   PreprocessMain --data RAW.xlsx [--schema crawl|bigkinds]
  *                  [--stopwords PATH] [--out DIR] [--top N]
  *                  [--format parquet|csv|xlsx]
  *
  * Sheets mirror the reference's artifacts: `pre_dataframe`
  * (pre_dataframe.xlsx), `word_frequency` (word_frequency_analysis.xlsx),
  * `stopwords` (stopwords_list.xlsx). xlsx/parquet/csv input auto-detected
  * by extension.
  */
object PreprocessMain {

  val Usage: String =
    "usage: PreprocessMain --data PATH [--schema crawl|bigkinds] [--stopwords PATH] [--out DIR] [--top N] [--format parquet|csv|xlsx]"

  def run(spark: SparkSession, data: String, schema: String,
          stopwordsPath: Option[String], out: String,
          top: Int = 100, format: String = "parquet"): Unit = {
    val raw =
      if (data.endsWith(".xlsx")) ExcelIO.readXlsx(spark, data)
      else spark.read.parquet(data)
    val prepped = graft.Caching.track(schema match {
      case "crawl" => PreprocessPipeline.prepareCrawl(raw)
      case "bigkinds" => PreprocessPipeline.prepareBigkinds(raw)
      case other => throw new IllegalArgumentException(
        s"unknown --schema $other (crawl|bigkinds)\n$Usage")
    })
    val stop = stopwordsPath
      .map(p => PreprocessPipeline.loadStopwords(spark, p))
      .getOrElse(Nil)
    val topWords = WordFreqOps.topWords(prepped, "cleaned_text", top, stop)
    val stopDf = spark.createDataFrame(stop.map(Tuple1(_))).toDF("word")
    ReportSink.write(out, Seq(
      "pre_dataframe" -> prepped,
      "word_frequency" -> topWords,
      "stopwords" -> stopDf), format)
    // the reference's bar figure draws the top 20 (preprocessing.py:400-456)
    ChartSink.writeWordFrequencyChart(topWords.limit(20),
      s"$out/word_frequency.svg")
    println(s"[preprocess] $data ($schema) -> $out")
  }

  def main(args: Array[String]): Unit = {
    val opts = AnalysisMain.parseArgs(args)
    val data = opts.getOrElse("data",
      throw new IllegalArgumentException(s"--data is required\n$Usage"))
    val spark = graft.SparkEntry.localSession()
    try run(spark, data,
      opts.getOrElse("schema", "crawl"),
      opts.get("stopwords"),
      opts.getOrElse("out", "Results"),
      opts.get("top").map(_.toInt).getOrElse(100),
      opts.getOrElse("format", "parquet"))
    finally spark.stop()
  }
}
