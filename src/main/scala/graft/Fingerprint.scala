package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Content key for the deterministic-fit registries (TopicModelOps, PqOps,
  * VocabOps, ClassifierOps, DedupOps label cache, Tables' resolved
  * relations): `dir` alone is not a safe cache key — a corpus overwritten
  * in place mid-session would serve stale fits. `dirKey` appends a seed-7
  * base-31 rolling hash over the sorted (path, length, modificationTime)
  * file listing of the directory: ONE driver-side FS metadata listing per
  * call, no data read — the same trade every build system makes (a
  * byte-identical rewrite that preserves size+mtime would false-hit, which
  * is harmless for caches whose values are deterministic functions of the
  * content; any real rewrite changes mtime and invalidates). An unchanged
  * corpus still hits across queries, which is the whole point of the
  * registries.
  *
  * The listing walks `listStatus`, never the recursive located-file
  * iterator: every lookup of a warm registry pays it, and that iterator
  * builds a located status per file, which on Hadoop's local filesystem
  * without the native library loads the file's permissions by forking
  * `ls -ld` — one process per file and per directory. `listStatus` reads
  * only (path, length, mtime), which is all the hash needs, and sees the
  * same files (both skip `.crc` checksums on the local filesystem).
  */
object Fingerprint {

  private val P = 1000000007L

  /** `dir@<listing-hash>` — the registry key for a corpus directory. */
  def dirKey(spark: SparkSession, dir: String): String =
    dirKey(dir, listingHash(spark, dir))

  /** The key of `dir` from a listing hash the caller already holds. */
  def dirKey(dir: String, hash: Long): String = s"$dir@$hash"

  /** Rolling hash of the recursive (path, len, mtime) listing, sorted by
    * path so FS enumeration order cannot leak into the key.
    */
  def listingHash(spark: SparkSession, dir: String): Long = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else entries += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    if (fs.exists(path)) walk(path)
    var acc = 7L
    entries.sortBy(_._1).foreach { case (p, len, mtime) =>
      var i = 0
      while (i < p.length) { acc = (acc * 31 + p.charAt(i)) % P; i += 1 }
      acc = (acc * 31 + (len % P)) % P
      acc = (acc * 31 + (mtime % P)) % P
    }
    acc
  }
}
