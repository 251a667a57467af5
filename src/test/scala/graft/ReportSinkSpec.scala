package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.{ExcelIO, ReportSink}

/** The report sink's contract: every parquet or csv sheet holds exactly
  * its frame's rows (sheets are written concurrently), the manifest
  * appears only after every sheet succeeded, a failing sheet fails the
  * write only once no other sheet write is still running, and the xlsx
  * format stays one workbook.
  */
class ReportSinkSpec extends SparkSuite {
  private val dir = SparkSpec.FixtureDir

  private def sheets: Seq[(String, DataFrame)] = {
    val docs = Tables.documents(spark, dir)
    Seq(
      "documents" -> docs.select("doc_id", "lang", "source", "n_chars"),
      "by_lang" -> docs.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars")),
      "출처별" -> docs.groupBy("source").agg(max(col("doc_id")).as("last_id")),
      "long docs" -> docs.filter(col("n_chars") > 200).select("doc_id", "text"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def manifest(out: String) = Paths.get(out, "_report.json")

  test("parquet report: every sheet equals its frame") {
    val out = Files.createTempDirectory("graft-report-parquet").toString
    ReportSink.write(out, sheets)
    assert(Files.exists(manifest(out)))
    sheets.foreach { case (name, df) =>
      assert(rows(ReportSink.readSheet(spark, out, name)) === rows(df), s"sheet $name")
    }
  }

  test("csv report: every sheet equals its frame") {
    val out = Files.createTempDirectory("graft-report-csv").toString
    ReportSink.write(out, sheets, "csv")
    assert(Files.exists(manifest(out)))
    sheets.foreach { case (name, df) =>
      val back = spark.read.schema(df.schema)
        .option("header", "true").option("encoding", "UTF-8")
        .option("multiLine", "true")
        .csv(s"$out/${ReportSink.dirName(name)}")
      assert(rows(back) === rows(df), s"sheet $name")
    }
  }

  test("a failing sheet fails the write with its own exception, after every " +
    "other sheet write finished, and writes no manifest") {
    import spark.implicits._
    val boom = udf { (x: Int) =>
      if (x >= 0) throw new IllegalStateException("sheet boom")
      x
    }
    val slow = udf { (x: Int) => Thread.sleep(1500); x }
    // range, not a local relation: the UDFs run in tasks, not in the optimizer
    val failing = spark.range(1).select(boom(col("id").cast("int")).as("x"))
    val out = Files.createTempDirectory("graft-report-fail").toString
    val thrown = intercept[Exception] {
      ReportSink.write(out, Seq(
        "failing" -> failing,
        "slow" -> spark.range(1).select(slow(col("id").cast("int")).as("x")),
        "fine" -> Seq(2).toDF("x")))
    }
    // the same exception type the sheet's own write throws — not wrapped
    val direct = intercept[Exception] {
      failing.coalesce(1).write.parquet(
        Files.createTempDirectory("graft-report-direct").toString + "/x")
    }
    assert(thrown.getClass === direct.getClass)
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("sheet boom"))))
    assert(!Files.exists(manifest(out)), "no manifest for a failed report")
    // the slow sheet's commit marker exists as soon as `write` returns
    assert(Files.exists(Paths.get(out, "slow", "_SUCCESS")),
      "a sheet write was still running when write returned")
    assert(rows(ReportSink.readSheet(spark, out, "fine")) === Seq(Row(2).toString))
  }

  test("xlsx report stays one workbook") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-report-xlsx").toString
    val a = Seq(("0", "spark, join")).toDF("topic", "keywords")
    val b = Seq(("문서수", "500")).toDF("항목", "값")
    ReportSink.write(out, Seq("topics" -> a, "요약" -> b), "xlsx")
    val listing = Files.list(Paths.get(out))
    val names = try listing.iterator().asScala.map(_.getFileName.toString).toSet
      finally listing.close()
    assert(names === Set("report.xlsx", "_report.json"))
    assert(rows(ExcelIO.readXlsx(spark, s"$out/report.xlsx", "topics")) === rows(a))
    assert(rows(ExcelIO.readXlsx(spark, s"$out/report.xlsx", "요약")) === rows(b))
  }
}
