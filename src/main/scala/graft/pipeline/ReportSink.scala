package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** S5 — the reference's multi-sheet Excel workbook becomes a directory of
  * named outputs (one parquet dir per "sheet") plus a tiny manifest, so a
  * report stays one logical artifact (preprocessing.py:552-569,
  * LDA_Analysis.py:553-565 analogue).
  *
  * Parquet and csv sheets are written concurrently, one forked write per
  * sheet (`Caching.forkJoin`): each sheet is an independent action of a few
  * one-task jobs, which on its own leaves most cores idle. The manifest is
  * written only after every sheet succeeded. Each
  * `coalesce(1)` is deliberate — report tables are small aggregates and a
  * single file per sheet is the readable artifact. Never use this sink for
  * data-scale tables.
  */
object ReportSink {

  /** Filesystem-safe directory name for a sheet: percent-encoded UTF-8
    * (Korean sheet names survive JVMs whose sun.jnu.encoding cannot map
    * non-ASCII paths; the manifest keeps the display name).
    */
  def dirName(sheet: String): String =
    java.net.URLEncoder.encode(sheet, "UTF-8")

  def write(outDir: String, sheets: Seq[(String, DataFrame)],
            format: String = "parquet"): Unit = {
    require(sheets.nonEmpty, "a report needs at least one sheet")
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    format match {
      case "xlsx" =>
        // S5 exact-parity path: ONE workbook with every sheet, like the
        // reference's pd.ExcelWriter — report-scale tables only
        ExcelIO.writeWorkbook(sheets, s"$outDir/report.xlsx")
      case "parquet" | "csv" =>
        sheets.foreach { case (name, _) =>
          require(name.matches("[\\w가-힣 .-]+"), s"unsafe sheet name: $name")
        }
        graft.Caching.forkJoin(sheets.map { case (name, df) => () =>
          val w = df.coalesce(1).write.mode("overwrite")
          val path = s"$outDir/${dirName(name)}"
          if (format == "parquet") w.parquet(path)
          else w.option("header", "true").option("encoding", "UTF-8").csv(path)
        })
      case other => throw new IllegalArgumentException(s"format: $other")
    }
    val manifest = sheets.map { case (n, _) => s""""$n": "${dirName(n)}"""" }
      .mkString("{\"sheets\": {", ", ", s"""}, "format": "$format"}""")
    Files.writeString(dir.resolve("_report.json"), manifest)
  }

  /** Read one sheet back by its display name. */
  def readSheet(spark: org.apache.spark.sql.SparkSession, outDir: String,
                sheet: String): DataFrame =
    spark.read.parquet(s"$outDir/${dirName(sheet)}")
}
