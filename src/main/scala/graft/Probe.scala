package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection main: dumps the formatted physical plan of every
  * SparkEntry query (or the ones named as args after the fixture and
  * output dirs; an unknown name exits 2).
  * The review artifact for pushdown / broadcast / codegen checks:
  *
  *   MAIN=graft.Probe tools/run_verify.sh <sfDir> <outDir> [face...] > plans.txt
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // args(1) is the outDir tools/run_verify.sh always passes (unused
    // here); any further args name the faces to plan
    val faces = SparkEntry.selectFaces(Some(args.drop(2).toSeq).filter(_.nonEmpty)).fold(
      e => { System.err.println(s"[probe] $e"); sys.exit(2) }, identity)
    val spark = SparkEntry.localSession("ERROR")
    faces.foreach { case (q, fn) =>
      println(s"===== $q =====")
      try println(fn(spark, dir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => println(s"(failed to plan: ${e.getMessage})") }
    }
    spark.stop()
  }
}
