package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.pipeline.ExcelIO

/** xlsx adapter: roundtrip, Korean text, sparse cells, inline strings,
  * column-reference arithmetic.
  */
class ExcelIOSpec extends SparkSuite {
  import spark.implicits._

  test("column reference arithmetic") {
    assert(ExcelIO.colRef(0) == "A" && ExcelIO.colRef(25) == "Z" &&
      ExcelIO.colRef(26) == "AA" && ExcelIO.colRef(27) == "AB")
    assert(ExcelIO.colIndex("A1") == 0 && ExcelIO.colIndex("Z9") == 25 &&
      ExcelIO.colIndex("AA3") == 26 && ExcelIO.colIndex("AB12") == 27)
  }

  test("write/read roundtrip preserves header, Korean text, nulls, XML specials") {
    val tmp = Files.createTempDirectory("graft-xlsx").toString + "/out.xlsx"
    val df = Seq(
      ("인공지능 광고", "2023-06-01", "a<b&c>\"d\""),
      (null, "2023-06-02", "plain")
    ).toDF("제목", "일자", "본문")
    ExcelIO.writeXlsx(df, tmp)
    val back = ExcelIO.readXlsx(spark, tmp)
    assert(back.columns.toSeq == Seq("제목", "일자", "본문"))
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("multi-sheet workbook roundtrip: every sheet readable by entry name (S5)") {
    val tmp = Files.createTempDirectory("graft-xlsx").toString + "/report.xlsx"
    val summary = Seq(("문서수", "500"), ("토픽수", "5")).toDF("항목", "값")
    val topics = Seq(("0", "spark, join"), ("1", "데이터, 학습")).toDF("topic", "keywords")
    ExcelIO.writeWorkbook(Seq("분석요약" -> summary, "토픽키워드" -> topics), tmp)
    val s1 = ExcelIO.readXlsx(spark, tmp, "sheet1")
    val s2 = ExcelIO.readXlsx(spark, tmp, "sheet2")
    assert(s1.columns.toSeq == Seq("항목", "값"))
    assert(s1.collect().map(_.toSeq).toSet == summary.collect().map(_.toSeq).toSet)
    assert(s2.collect().map(_.toSeq).toSet == topics.collect().map(_.toSeq).toSet)
    // Korean DISPLAY names resolve through workbook.xml + rels, like
    // pandas' sheet_name addressing
    val byName = ExcelIO.readXlsx(spark, tmp, "토픽키워드")
    assert(byName.collect().map(_.toSeq).toSet ==
      topics.collect().map(_.toSeq).toSet)
  }

  test("workbook rejects invalid sheet names") {
    val tmp = Files.createTempDirectory("graft-xlsx").toString + "/bad.xlsx"
    val df = Seq(("a", "b")).toDF("x", "y")
    intercept[IllegalArgumentException] {
      ExcelIO.writeWorkbook(Seq("bad/name" -> df), tmp)
    }
    intercept[IllegalArgumentException] {
      ExcelIO.writeWorkbook(Seq(("x" * 32) -> df), tmp)
    }
  }

  test("xlsx feeds the preprocessing pipeline (the reference's EP1 entry)") {
    val tmp = Files.createTempDirectory("graft-xlsx2").toString + "/crawl.xlsx"
    val raw = Seq(
      ("2023-06-01 09:00:00", "제목1", "본문 데이터"),
      ("bogus", "제목2", "날짜 없는 본문")
    ).toDF("시작 날짜", "제목", "정제데이터")
    ExcelIO.writeXlsx(raw, tmp)
    val prepped = graft.pipeline.PreprocessPipeline.prepareCrawl(
      ExcelIO.readXlsx(spark, tmp))
    assert(prepped.count() == 1) // bad date dropped via coerce-null
  }

  test("reader handles sparse rows and inlineStr cells from foreign writers") {
    val dir = Files.createTempDirectory("graft-xlsx3")
    val path = dir.resolve("foreign.xlsx").toString
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    // worksheet with a skipped cell (B missing in row 2) and inline strings
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c>""" +
        """<c r="B1" t="inlineStr"><is><t>h2</t></is></c>""" +
        """<c r="C1" t="inlineStr"><is><t>h3</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>1.5</v></c>""" +
        """<c r="C2" t="inlineStr"><is><t>말단</t></is></c></row>""" +
        """</sheetData></worksheet>""")
    zos.close()
    val back = ExcelIO.readXlsx(spark, path).collect()(0)
    assert(back.getString(0) == "1.5")
    assert(back.getString(1) == null) // skipped cell -> null
    assert(back.getString(2) == "말단")
  }

  test("reads the reference's real crawl workbook and feeds EP1 (RAW_DATA parity)") {
    // the reference repo's actual input artifact (read-only): ~5k rows of
    // inlineStr cells written by a foreign writer, no sharedStrings part
    val raw = ExcelIO.readXlsx(spark,
      SparkSpec.referenceFile("RAW_DATA/2025_6_28_22_56_49_4600_channel_download_ai광고.xlsx"))
    assert(Seq("제목", "시작 날짜", "정제데이터").forall(raw.columns.contains))
    assert(raw.count() == 5058)
    val prepped = graft.pipeline.PreprocessPipeline.prepareCrawl(raw)
    assert(prepped.columns.contains("cleaned_text"))
    val n = prepped.count()
    assert(n > 0 && n <= 5058) // dedup + null drops only ever shrink it
  }

  test("missing worksheet fails with an entry listing") {
    val tmp = Files.createTempDirectory("graft-xlsx4").toString + "/x.xlsx"
    ExcelIO.writeXlsx(Seq(("a")).toDF("c"), tmp)
    val e = intercept[IllegalArgumentException] {
      ExcelIO.readXlsx(spark, tmp, sheet = "nope")
    }
    assert(e.getMessage.contains("sheet1"))
  }
}
