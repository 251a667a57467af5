package graft

/** Minimal smoke main mirroring the driver's t1 check: entry() rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n (${if (n > 0) "PASS" else "FAIL"})")
    spark.stop()
  }
}
