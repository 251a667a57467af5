package graft

import graft.operators.SimilarityOps

/** The oracle SQL reads only data: every corpus-derived parameter (dedup
  * and media band widths, the balanced-IVF operating point, the PQ
  * subspace width) is computed in the SQL from the tables and artifacts
  * it reads, and `SparkEntry.oracleSql` renders on every call. So the text
  * does not depend on which faces ran before it in the JVM, and an
  * artifact ref resolves as soon as its face has saved it.
  */
class OracleSqlSpec extends SparkSuite {
  private val dir = SparkSpec.FixtureDir

  private def run(face: String): Unit = {
    Caching.scoped { SparkEntry.queries(face)(spark, dir).collect() }
    Caching.releaseAll()
  }

  test("with exports off, running the faces leaves the oracle SQL unchanged") {
    Artifacts.disable()
    Caching.clearAll()
    val before = SparkEntry.oracleSql
    Seq("dedup_embed_lsh", "dedup_embed_real", "sim_ivf_balanced",
      "sim_ivf_balanced_real", "sim_ivfpq_ann", "media_dup_clusters").foreach(run)
    val after = SparkEntry.oracleSql
    val changed = before.keySet.filter(q => before(q) != after(q))
    assert(after.keySet === before.keySet)
    assert(changed.isEmpty, s"oracle SQL changed for ${changed.mkString(", ")}")
  }

  test("an artifact ref rendered before its face ran resolves after it") {
    val base = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    val ref = s"read_parquet('$base/ivf_bal_centroids/*.parquet')"
    Caching.clearAll()
    Artifacts.enable(base)
    try {
      assert(SparkEntry.oracleSql("sim_ivf_balanced")
        .contains("artifact_not_materialized_ivf_bal_centroids"))
      run("sim_ivf_balanced")
      val sql = SparkEntry.oracleSql("sim_ivf_balanced")
      assert(sql.contains(ref), sql)
      assert(!sql.contains("artifact_not_materialized"))
    } finally {
      Artifacts.disable()
      Caching.clearAll()
    }
  }

  test("the band-width SQL fragment equals dedupBandBits") {
    for (n <- Seq(1L, 500L, 640L, 2000L, 5000L, 10240L)) {
      val bits = spark.sql(s"SELECT ${SparkEntry.bandBitsSql(s"CAST($n AS BIGINT)")}")
        .head().getInt(0)
      assert(bits === SimilarityOps.dedupBandBits(n), s"n = $n")
    }
  }

  test("balanced IVF: twin and base operating points differ, nProbe scales with lists") {
    // index_cfg is "<lists after splitting>/<nProbe>", one value per face
    def cfg(d: String): (Int, Int) = Caching.scoped {
      val Array(Array(lists, probe)) = SimilarityOps.ivfRecallBalanced(spark, d)
        .select("index_cfg").distinct().collect().map(_.getString(0).split("/").map(_.toInt))
      (lists, probe)
    }
    val base = cfg(dir)
    // the twin's planted dup family concentrates vector mass, so the
    // fair-share splitter runs more rounds than on the base corpus
    val twin = cfg(RealisticCorpus.ensure(spark, dir))
    Caching.releaseAll()
    assert(twin !== base,
      "the corpora must force distinct operating points for the check to " +
        "mean anything: if a fixture regen equalizes them, replant the " +
        "twin's family mass rather than pass vacuously")
    for ((lists, probe) <- Seq(base, twin)) {
      assert(lists >= SimilarityOps.IvfLists, "splitting can only grow the list count")
      assert(probe === math.max(1, math.round(
        SimilarityOps.IvfProbe.toDouble * lists / SimilarityOps.IvfLists).toInt))
    }
  }
}
