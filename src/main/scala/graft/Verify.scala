package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_QUERIES=a,b,c restricts the dump (and the oracle JSON) to
    // the named queries — focused local re-checks don't pay the full sweep.
    val faces = SparkEntry.selectFaces(
      sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSeq)
    ).fold(e => { System.err.println(s"[verify] $e"); sys.exit(2) }, identity)
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // Model-artifact exports land in a SIBLING of outDir (the driver
    // enumerates outDir's children as query outputs, so nothing extra may
    // live inside it). The base is ABSOLUTIZED because oracleSql embeds it
    // into read_parquet() paths the driver's DuckDB may resolve from a
    // different working directory than this JVM's.
    Artifacts.enable(
      new java.io.File(s"${outDir.stripSuffix("/")}_artifacts")
        .getAbsolutePath)
    // storage-watermark sampler: peak of the block manager's cached bytes
    // (RDD + SQL cache blocks), polled at 200 ms — the registry-ceiling
    // evidence the r15 VERDICT asked to record
    val storageHighWater = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      // loop flag, not `return`: a return inside the lambda compiles to a
      // NonLocalReturnControl throw, which an interrupt would surface as an
      // uncaught control exception instead of a clean exit
      var live = true
      while (live && !Thread.currentThread().isInterrupted) {
        try {
          val used = spark.sparkContext.getRDDStorageInfo
            .map(_.memSize).sum
          storageHighWater.accumulateAndGet(used, math.max(_, _))
          Thread.sleep(200)
        } catch {
          case _: InterruptedException => live = false
          // a transient poll error must NOT kill the sampler (a one-off
          // listener hiccup at query 3 of 180 would silently truncate the
          // high-water evidence); only a stopped context ends the loop
          case scala.util.control.NonFatal(_) =>
            if (spark.sparkContext.isStopped) live = false
            else try Thread.sleep(200)
            catch { case _: InterruptedException => live = false }
        }
      }
    }, "graft-storage-watermark")
    sampler.setDaemon(true)
    sampler.start()
    val failed = faces.flatMap {
      case (name, fn) =>
        try {
          Caching.scoped {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          None
        }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
        finally Caching.releaseAll() // frames tracked from pooled threads
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val selected = faces.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // storage high-water of the whole run (registry-ceiling evidence,
    // r15): peak cached memory across all RDD/SQL-cache blocks, sampled
    // by the watermark thread started before the query loop
    println(f"[verify] storage high-water: ${storageHighWater.get() / 1e6}%.1f MB")
    if (failed.nonEmpty)
      println(s"[verify] failed: ${failed.sorted.mkString(", ")}")
    Caching.clearAll() // release every build-once registry
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
