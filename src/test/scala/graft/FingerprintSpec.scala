package graft

import org.apache.spark.sql.functions._

/** The deterministic-fit registries key on a content fingerprint of the
  * corpus directory, not the path — a corpus overwritten in place within
  * one session must invalidate its cached fits (the r11 staleness gap),
  * while an unchanged corpus must keep hitting.
  */
class FingerprintSpec extends SparkSuite {
  import spark.implicits._

  test("dirKey is stable for an unchanged directory") {
    val k1 = Fingerprint.dirKey(spark, SparkSpec.FixtureDir)
    val k2 = Fingerprint.dirKey(spark, SparkSpec.FixtureDir)
    assert(k1 === k2)
    assert(k1.startsWith(SparkSpec.FixtureDir))
  }

  test("dirKey changes when a file is added, rewritten, or removed") {
    val dir = java.nio.file.Files.createTempDirectory("fp_spec").toFile
    try {
      val f = new java.io.File(dir, "part-0000.parquet")
      java.nio.file.Files.write(f.toPath, "aaaa".getBytes)
      val k1 = Fingerprint.dirKey(spark, dir.getPath)
      // size change
      java.nio.file.Files.write(f.toPath, "aaaaaaaa".getBytes)
      val k2 = Fingerprint.dirKey(spark, dir.getPath)
      assert(k1 !== k2)
      // new file
      java.nio.file.Files.write(
        new java.io.File(dir, "part-0001.parquet").toPath, "bb".getBytes)
      val k3 = Fingerprint.dirKey(spark, dir.getPath)
      assert(k3 !== k2)
      // removal
      f.delete()
      val k4 = Fingerprint.dirKey(spark, dir.getPath)
      assert(k4 !== k3)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  /** The hash as the recursive `fs.listFiles` walk computes it: the same
    * seed-7 base-31 fold over the sorted (path, len, mtime) triples.
    */
  private def listFilesHash(dir: String): Long = {
    val P = 1000000007L
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    if (fs.exists(path)) {
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val st = it.next()
        entries += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    }
    entries.sortBy(_._1).foldLeft(7L) { case (h, (p, len, mtime)) =>
      val hp = p.foldLeft(h)((a, c) => (a * 31 + c) % P)
      ((hp * 31 + len % P) % P * 31 + mtime % P) % P
    }
  }

  test("listingHash equals the recursive listFiles fold: nested tree, " +
    "single file, missing path") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("fp_parity")
    def put(rel: String, body: String): Path = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, body.getBytes)
    }
    try {
      put("documents.parquet/part-00000.parquet", "aaaa")
      put("documents.parquet/.part-00000.parquet.crc", "cc")
      put("documents.parquet/_SUCCESS", "")
      put("documents.parquet/._SUCCESS.crc", "c")
      put("events.parquet/sub/part-00001.parquet", "bbbbbb")
      put("events.parquet/sub/part-00002.parquet", "b")
      Files.createDirectories(root.resolve("empty.parquet/nothing"))
      val single = put("loose.parquet", "dd").toString
      val missing = root.resolve("absent").toString
      for (p <- Seq(root.toString, s"$root/documents.parquet", single, missing))
        assert(Fingerprint.listingHash(spark, p) === listFilesHash(p), p)
      assert(Fingerprint.listingHash(spark, missing) === 7L)
      assert(Fingerprint.listingHash(spark, single) !== 7L)
      assert(Fingerprint.dirKey(spark, SparkSpec.FixtureDir) ===
        s"${SparkSpec.FixtureDir}@${listFilesHash(SparkSpec.FixtureDir)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("the r14 registries (LM scores, media corpus) re-derive on an " +
    "in-place corpus rewrite") {
    import graft.operators.LmOps
    import graft.multimodal.MediaOps
    val dir = java.nio.file.Files.createTempDirectory("fp_r14").toFile.getPath
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      writeDocs(Seq("aa bb aa bb aa", "bb aa bb aa", "aa bb cc"))
      val nll1 = LmOps.selfScoredNll(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val cap1 = MediaOps.signatureCorpus(spark, dir).count()
      // rewrite IN PLACE: different text, different doc count
      writeDocs(Seq("xx yy xx yy", "yy xx yy xx yy xx"))
      val nll2 = LmOps.selfScoredNll(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val cap2 = MediaOps.signatureCorpus(spark, dir).count()
      assert(nll1.keySet !== nll2.keySet) // 3 docs vs 2 — stale would replay 3
      assert(cap1 === 3L && cap2 === 2L)
    } finally {
      LmOps.clearNllCache()
      MediaOps.clearMediaCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a corpus overwritten in place serves a FRESH fit, not the cached one") {
    import graft.operators.VocabOps
    val dir = java.nio.file.Files.createTempDirectory("fp_corpus").toFile.getPath
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      writeDocs(Seq("abab abab ab", "ab ab"))
      val first = VocabOps.bpeMergesQuery(spark, dir).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // rewrite IN PLACE with a different corpus: the merge table must
      // re-train, not replay the cached fit for this path
      writeDocs(Seq("xyxy xyxy xy", "xy xy"))
      val second = VocabOps.bpeMergesQuery(spark, dir).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      assert(first !== second)
      assert(second.exists { case (l, r) => (l + r).contains("x") })
    } finally {
      VocabOps.clearBpeCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
