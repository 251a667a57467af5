package graft

/** Contract of the model-artifact export seam (Artifacts.scala): disabled
  * by default (Bench/specs never pay the write), idempotent per enable
  * scope, refs resolve only after the owning save ran, and write-only —
  * a face's output and plan inputs are the same with export on or off.
  */
class ArtifactsSpec extends SparkSuite {
  import spark.implicits._

  test("disabled: save is a no-op and ref does not resolve") {
    Artifacts.disable()
    var evaluated = false
    Artifacts.save("never") { evaluated = true; Seq(1).toDF("x") }
    assert(!evaluated)
    assert(Artifacts.ref("never").startsWith("artifact_not_materialized"))
  }

  test("enabled: writes once per scope, ref points at the parquet, re-enable resets") {
    val base = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    Artifacts.enable(base)
    try {
      var evals = 0
      Artifacts.save("t") { evals += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      Artifacts.save("t") { evals += 1; Seq((9L, "z")).toDF("id", "v") } // dup: skipped
      assert(evals === 1)
      assert(Artifacts.ref("t") === s"read_parquet('$base/t/*.parquet')")
      assert(spark.read.parquet(s"$base/t").count() === 2L)
      // a fresh enable() starts a new registry: the same name writes again
      Artifacts.enable(base)
      assert(Artifacts.ref("t").startsWith("artifact_not_materialized"))
      Artifacts.save("t")(Seq((9L, "z")).toDF("id", "v"))
      assert(spark.read.parquet(s"$base/t").count() === 1L)
    } finally Artifacts.disable()
  }

  test("export on runs the plan export off runs, and a registry hit still exports") {
    val dir = SparkSpec.FixtureDir
    // each face whose index is registry-built (or built in-plan), with the
    // artifacts the oracle reads of it
    val faces = Seq(
      "dedup_incremental" -> Seq("dedup_index"),
      "dedup_index_flags" -> Seq("dedup_index"),
      "dedup_span_flags" -> Seq("span_gram_index"),
      "hll_incremental" -> Seq("hll_registers"),
      "search_bm25_incremental" -> Seq("bm25_postings"),
      "sim_ivf_incremental" -> Seq("ivf_inc_centroids", "ivf_inc_index"),
      "stream_ingest_gate" -> Seq("dedup_index"),
      "stream_ingest_full" -> Seq("dedup_index"),
      "sim_ivf_drift" -> Seq("ivf_drift_cents_frozen", "ivf_drift_index_frozen",
        "ivf_drift_cents_retrained", "ivf_drift_index_retrained"),
      "sim_ivf_balanced" -> Seq("ivf_bal_assign", "ivf_bal_centroids"),
      "rag_chunk_topk" -> Seq("rag_ivf_assign", "rag_ivf_centroids"),
      "cluster_noise" -> Seq("kmeans_pca_assign", "kmeans_noisy_assign"))
    def misses: Map[String, Long] =
      Caching.registryStatsSnapshot().map(s => s._1 -> s._3).toMap
    // one call of face q: its input files, its rows as a frame, and the
    // registries (other than the export ledger) that missed during it
    def run(q: String) = {
      val before = misses
      val (files, schema, rows) = Caching.scoped {
        val df = SparkEntry.queries(q)(spark, dir)
        (df.inputFiles, df.schema, df.collect())
      }
      Caching.releaseAll()
      val missed = misses.collect {
        case (name, m) if m > before.getOrElse(name, 0L) && name != "artifacts.written" => name
      }.toSet
      (files, spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), missed)
    }
    def assertSame(q: String, a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$q: export-on output differs from export-off output")
    def assertExported(q: String, base: String): Unit = faces.toMap.apply(q).foreach { n =>
      assert(Artifacts.ref(n) === s"read_parquet('$base/$n/*.parquet')", s"$q: $n")
      assert(new java.io.File(s"$base/$n").isDirectory, s"$q: $n not written")
    }
    Caching.clearAll()
    Artifacts.disable()
    try {
      val off = faces.map { case (q, _) => q -> run(q)._2 }.toMap
      // warm: every registry was built with export off; the export-on call
      // is a registry hit and still writes the face's artifacts
      val warmBase = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
      Artifacts.enable(warmBase)
      faces.foreach { case (q, _) =>
        val (_, out, missed) = run(q)
        assert(missed.isEmpty, s"$q rebuilt $missed with export on")
        assertSame(q, off(q), out)
        assertExported(q, warmBase)
      }
      // cold with export on: the same plan, so no input of the result is
      // an artifact and no stored-table copy of an index is written
      Caching.clearAll()
      val base = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
      Artifacts.enable(base)
      faces.foreach { case (q, _) =>
        val (files, out, _) = run(q)
        assert(!files.exists(_.contains(base)),
          s"$q reads its own artifact: ${files.filter(_.contains(base)).mkString(",")}")
        assertSame(q, off(q), out)
        assertExported(q, base)
      }
      assert(!spark.catalog.tableExists("bm25_postings_idx"))
      assert(!spark.catalog.tableExists("ivf_inc_idx"))
    } finally {
      Artifacts.disable()
      Caching.clearAll()
    }
  }
}
