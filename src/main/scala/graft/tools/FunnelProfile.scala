package graft.tools

import graft.operators.CurationOps

/** Per-stage wall-time attribution for the five-stage curation funnel on
  * the REALISTIC twin (`curation_funnel_real`, r16's `weak`: 8.97 s with
  * no committed cost breakdown). Forces the funnel's tracked survivor
  * frames one at a time with timers, then the two terminal actions, so
  * each stage's cost is ITS OWN work given its predecessors materialized.
  *
  * Two passes per corpus: COLD (session registries empty — the eval-gram,
  * ppl-bucket and minhash-label builds, which `funnelWork` runs
  * concurrently, land in the cold `s0_registry_builds` row, as they do
  * once per production session) and WARM (registries hot — the
  * steady state every bench median measures). The cold−warm delta IS the
  * registry build cost, attributed without instrumenting the registries
  * themselves. Registry hit/miss/eviction counts print per pass
  * (Caching.registryStatsReport) so a thrashing cap shows as misses>1 on
  * the warm pass.
  *
  * Output: one JSON line per (pass, stage) — machine-diffable into
  * DEPLOY.md's committed table.
  */
object FunnelProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession()

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    def r3(x: Double) = math.round(x * 1000) / 1000.0

    val (rdir, tTwin) = timed(graft.RealisticCorpus.ensure(spark, sfDir))
    println(s"""{"phase":"twin_materialize","sec":${r3(tTwin)}}""")

    Seq("cold", "warm").foreach { pass =>
      graft.Caching.resetRegistryStats()
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      graft.Caching.scoped {
        val (w, tBuilds) = timed(CurationOps.funnelWork(spark, rdir))
        times("s0_registry_builds") = tBuilds
        times("s0_combined_scan") = timed(w.combined.count())._2
        w.stages.zip(Seq("s1_gopher", "s2_decontam", "s3_ppl",
          "s4_keep_best")).foreach { case ((_, frame), name) =>
          times(name) = timed(frame.count())._2
        }
        // r18: the stats aggregate and the scrub recount are ONE fused
        // action now — the per-stage survivor counts above still
        // attribute stages 1-4; this row is the terminal pass
        times("stats_scrub_fused") = timed(w.statsScrubAction())._2
      }
      graft.Caching.releaseAll()
      val total = times.values.sum
      times.foreach { case (k, v) =>
        println(s"""{"pass":"$pass","stage":"$k","sec":${r3(v)}}""")
      }
      println(s"""{"pass":"$pass","stage":"TOTAL","sec":${r3(total)}}""")
      System.err.println(s"[funnel-profile] $pass registry stats:\n" +
        graft.Caching.registryStatsReport())
    }

    // the face as the bench clocks it (warm registries, fresh scoped
    // caches): the number the per-stage rows above must sum toward
    (1 to 3).foreach { i =>
      val (_, t) = timed {
        graft.Caching.scoped {
          graft.RealisticCorpus.over(CurationOps.curationFunnelFull)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
      }
      graft.Caching.releaseAll()
      println(s"""{"phase":"face_warm_run$i","sec":${r3(t)}}""")
    }
    spark.stop()
  }
}
