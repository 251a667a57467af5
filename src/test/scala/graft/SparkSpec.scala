package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive and the specs only need isolation at the
  * DataFrame level).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** Smallest driver fixture — used where a spec needs real parquet tables. */
  val FixtureDir = "/root/testdata/sf0.001"

  /** Root of the reference repo's committed inputs and outputs (its crawl
    * workbook, stopwords.txt and Results/), read by the parity specs.
    */
  val ReferenceRoot = "/root/reference"

  /** `rel` under `ReferenceRoot`. On a host without the root this fails
    * the calling test with one message naming the root — a parity check
    * that cannot run is a failure, never a skip.
    */
  def referenceFile(rel: String): String = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ReferenceRoot)))
      org.scalatest.Assertions.fail(
        s"reference fixture root $ReferenceRoot is missing: this parity spec needs the reference repo's files")
    s"$ReferenceRoot/$rel"
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
