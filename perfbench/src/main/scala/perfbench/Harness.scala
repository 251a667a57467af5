package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.{Artifacts, Caching, RealisticCorpus, SparkEntry}
import graft.functions.{HashKernels, TextKernels}
import graft.operators._
import graft.pipeline.{AnalysisMain, AnalysisRunner, PreprocessMain}

/** One benchmark run: a workload on seeded corpus versions, timed from
  * outside the engine through its public entry points.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --cpus C
  *           --python EXE --corpus corpus.py --work DIR --out RECORD.json
  *
  * Each corpus version is written when it is needed, into a fresh
  * directory, by perfbench/corpus.py; a cold iteration takes a new one. The
  * record carries the window's end-to-end figures, the set-up times, the
  * operations attempted and failed, the cold/warm registry guard, an
  * environment fingerprint, the versions' properties and the output checks
  * left for the caller (DuckDB oracles, report invariants and hashes). With
  * `--trace 1` the window runs under the Spark-runtime collector and the
  * record carries the per-layer metrics.
  */
object Harness {

  // ---- workloads -------------------------------------------------------------

  val Workloads: Seq[String] = Seq("cold_pipeline", "serve_warm")

  /** Fixture scale of the cold (150 documents) and the served (500)
    * versions: small, so that a run of either workload, its output checks
    * included, ends in about a minute.
    */
  val ColdScale = 0.003
  val ServeScale = 0.01

  /** Fixture scale of the JIT warm-up version (50 documents). */
  val WarmScale = 0.001

  /** cold_pipeline, first: the reference's EP1 → cluster → LDA report flow. */
  val Topics = 10
  val MaxIter = 20
  val TopicCalls: Seq[(String, String)] = Seq(
    "PreprocessMain.run" -> "PreprocessPipeline",
    "AnalysisRunner.runClusterAnalysis" -> "AnalysisRunner",
    "AnalysisMain.run" -> "AnalysisRunner")

  /** cold_pipeline, then: the realistic twin of the version, and the six
    * LLM-data assembly faces over it.
    */
  val CurationCalls: Seq[(String, String)] = Seq(
    "RealisticCorpus.ensure" -> "RealisticCorpus",
    "curation_funnel_full" -> "CurationOps", "train_assembly" -> "AssemblyOps",
    "decontam_bloom" -> "CurationOps", "dedup_minhash_clusters" -> "DedupOps",
    "sample_split_safe" -> "SamplingOps", "pack_sequences" -> "PackingOps")

  /** serve_warm: a fixed 12-face mix over one version, one face per serving
    * module (two relational), every registry filled before the window. One
    * face per module keeps the cold fill and the check passes short.
    */
  val ServeMix: Seq[(String, String)] = Seq(
    "search_bm25" -> "RetrievalOps", "sim_ivf_ann" -> "SimilarityOps",
    "sim_ivfpq_ann" -> "PqOps", "lda_topics" -> "TopicModelOps",
    "topic_ctfidf" -> "TopicMetricsOps", "txt_word_topn" -> "WordFreqOps",
    "txt_hll_distinct" -> "SketchOps", "rel_pricing_summary" -> "RelationalOps",
    "rel_sessionize" -> "RelationalOps", "stream_ingest_gate" -> "StreamOps",
    "media_keep_best" -> "MediaOps", "dedup_index_flags" -> "DedupOps")

  /** Fewest rounds of the mix in a serve window. */
  val ServeRounds = 2

  /** Mix faces whose DuckDB oracle reads the fitted-model artifacts. */
  val ArtifactFaces: Set[String] = Set("lda_topics", "sim_ivf_ann", "sim_ivfpq_ann")

  /** Mix faces left out of the oracle check: the media oracle takes 75 s
    * single-threaded (24 s on 4 threads) in DuckDB at 500 documents.
    */
  val Unchecked: Set[String] = Set("media_keep_best")

  /** The modules job time is credited to (`Layers`). */
  val Modules: Set[String] = Set("Tables", "PreprocessPipeline", "AnalysisRunner",
    "ReportSink", "ChartSink", "WordFreqOps", "TopicModelOps", "TopicMetricsOps",
    "TopicExtrasOps", "CurationOps", "DedupOps", "LmOps", "AssemblyOps", "SamplingOps",
    "PackingOps", "RetrievalOps", "SimilarityOps", "PqOps", "RelationalOps", "StreamOps",
    "MediaOps", "SketchOps", "RealisticCorpus", "mllib", "other")

  /** Every public registry release in the engine. */
  def clearRegistries(): Unit = {
    TopicModelOps.clearModelCache()
    VocabOps.clearBpeCache()
    DedupOps.clearLabelCache()
    DedupOps.clearIndexCache()
    ClassifierOps.clearNbCache()
    RetrievalOps.clearPostingsCache()
    RetrievalOps.clearRagCache()
    SimilarityOps.clearBalancedCache()
    SemDedupOps.clearCache()
    IndexMaintOps.clearFrozenWorldCache()
    LmOps.clearNllCache()
    TopicMetricsOps.clearClassTfCache()
    TopicMetricsOps.clearTopWordsCache()
    SketchOps.clearHllHistoryCache()
    CurationOps.clearEvalGramsCache()
    graft.multimodal.MediaOps.clearMediaCache()
    PqOps.clearFits()
    Caching.releaseAll()
  }

  // ---- run state -------------------------------------------------------------

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, python: String, corpus: String, work: String, out: String)

  private var spark: SparkSession = _
  private var opts: Opts = _
  @volatile private var currentModule = "other"
  private val storage = new StorageWatch
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val guardViolations = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val oracleChecks = mutable.ArrayBuffer.empty[Map[String, String]]
  private val reportChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setup = mutable.LinkedHashMap.empty[String, Any]
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private val versions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val genSeconds = mutable.ArrayBuffer.empty[Double]

  private def now(): Double = System.nanoTime() / 1e9

  private def time[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, now() - t0)
  }

  /** One operation: its wall time on success; on a throw, a recorded
    * failure and no time sample.
    */
  private def op(name: String, module: String)(body: => Unit): Option[Double] = {
    attempted += 1
    currentModule = module
    val t0 = now()
    try {
      Caching.scoped(body)
      val s = now() - t0
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
      latencies += s
      Some(s)
    } catch {
      case NonFatal(e) => failed(name, e); None
    } finally {
      Caching.releaseAll()
      currentModule = "other"
    }
  }

  private def failed(name: String, e: Throwable): Unit = {
    failures += Map("op" -> name, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    System.err.println(s"[perfbench] $name failed: $e")
  }

  /** Run `body` without keeping its operations' time samples (set-up and
    * check passes); its operations still count as attempted or failed.
    */
  private def untimed[T](body: => T): T = {
    val n = latencies.size
    val kept = samples.map { case (k, v) => k -> v.size }
    try body
    finally {
      latencies.remove(n, latencies.size - n)
      samples.foreach { case (k, v) => val m = kept.getOrElse(k, 0); v.remove(m, v.size - m) }
    }
  }

  private type Stats = Map[String, (Long, Long, Long)]

  private def registryStats(): Stats =
    Caching.registryStatsSnapshot().map { case (n, h, m, e) => n -> ((h, m, e)) }.toMap

  private def delta(a: Stats, b: Stats): Stats =
    b.map { case (n, (h, m, e)) =>
      val (h0, m0, e0) = a.getOrElse(n, (0L, 0L, 0L))
      n -> ((h - h0, m - m0, e - e0))
    }.filter { case (_, (h, m, e)) => h != 0 || m != 0 || e != 0 }

  /** Warm guard: `body` builds nothing and evicts nothing. */
  private def warm[T](what: String)(body: => T): T = {
    val before = registryStats()
    val r = body
    delta(before, registryStats()).foreach { case (n, (_, m, e)) =>
      if (m != 0 || e != 0) guardViolations += s"$what: registry $n missed=$m evicted=$e"
    }
    r
  }

  // ---- statistics ------------------------------------------------------------

  /** Harrell–Davis estimate of quantile `q`: a Beta-weighted mean of the
    * order statistics. A window holds a few dozen latencies from faces of
    * very different cost, and the plain sample median jumps between
    * whichever two faces straddle the middle; this estimate does not.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n))).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // ---- environment -----------------------------------------------------------

  /** Fixed-work single-thread loop; its time tracks the host's speed. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** CPU time the hypervisor gave other guests (the `steal` field of
    * /proc/stat, all CPUs) since boot, in seconds; 0 where it is not kept.
    */
  private def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case NonFatal(_) => 0.0 }

  /** Median of seven one-row noop actions: Spark's fixed per-action cost. */
  private def floorMs(): Double = median((1 to 7).map { _ =>
    val t0 = now()
    spark.range(1).write.format("noop").mode("overwrite").save()
    (now() - t0) * 1e3
  })

  // ---- corpus versions ---------------------------------------------------------

  /** Write a fresh seeded version of `kind` at `scale` and return its
    * directory. Its properties go to the record, its write time to set-up.
    */
  private def newVersion(kind: String, scale: Double): String = {
    val i = versions.size
    val dir = s"${opts.work}/versions/v$i"
    val seed = Seq(opts.seed, Workloads.indexOf(opts.workload).toLong, i.toLong).mkString(",")
    val (props, s) = time {
      val p = new ProcessBuilder(opts.python, opts.corpus, dir, kind, scale.toString, seed)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      require(p.waitFor() == 0, s"corpus generation failed for $dir")
      json.readValue(out, classOf[Map[String, Any]])
    }
    genSeconds += s
    versions += props
    dir
  }

  // ---- workload bodies ---------------------------------------------------------

  private def ep1(dir: String, out: String): Unit =
    PreprocessMain.run(spark, s"$dir/crawl.parquet", "crawl", None, s"$out/prep")

  private def cluster(dir: String, out: String): Unit =
    AnalysisRunner.runClusterAnalysis(spark, AnalysisMain.loadDocs(spark, dir),
      spark.read.parquet(s"$dir/embeddings.parquet"), "doc_id", "text",
      s"$out/bertopic", Topics, "parquet")

  private def lda(out: String): Unit =
    AnalysisMain.run(spark, s"$out/prep/pre_dataframe", "cleaned_text",
      s"$out/lda", Topics, MaxIter, "parquet")

  private def topicCalls(dir: String, out: String): Unit = {
    val Seq((n1, m1), (n2, m2), (n3, m3)) = TopicCalls
    op(n1, m1)(ep1(dir, out))
    op(n2, m2)(cluster(dir, out))
    op(n3, m3)(lda(out))
  }

  /** JIT warm-up, part of set-up: EP1 and, on a second thread beside it,
    * the cluster analysis, once each on a tiny version, untimed. In a fresh
    * JVM these two calls otherwise pay most of the class loading and
    * compilation inside the window (EP1 8 s cold against 1 s warm, the
    * cluster analysis 15 s against 8 s on 4 cores), the share of a cold
    * iteration that varies most from run to run; warmed, the window's
    * calls run within a few percent of a second iteration's. LDA is left
    * out: warming it costs its full time and saves little. Each branch is
    * an attempted operation; a throw fails the run.
    */
  private def warmUp(): Unit = {
    val tiny = newVersion("cold", WarmScale)
    val out = s"${opts.work}/warmup"
    val side = new java.util.concurrent.FutureTask[Unit](() => Caching.scoped(cluster(tiny, out)))
    val thread = new Thread(side, "perfbench-warmup")
    thread.start()
    val chain = scala.util.Try(Caching.scoped { ep1(tiny, out) })
    val branch = scala.util.Try(side.get()) match {
      case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
        scala.util.Failure(e.getCause)
      case r => r
    }
    thread.join()
    for ((name, r) <- Seq("warm-up EP1" -> chain, "warm-up cluster" -> branch)) {
      attempted += 1
      r.failed.foreach(failed(name, _))
    }
    clearRegistries()
  }

  /** The realistic twin of `dir` (its materialisation is the first call),
    * then each curation face over it, written to `out/<face>`.
    */
  private def curationCalls(dir: String, out: String): Unit = {
    val (ensure, module) = CurationCalls.head
    var twin: String = null
    op(ensure, module) { twin = RealisticCorpus.ensure(spark, dir) }
    if (twin != null) for ((face, m) <- CurationCalls.tail) op(face, m) {
      SparkEntry.queries(face)(spark, twin).write.mode("overwrite").parquet(s"$out/$face")
    }
  }

  private def reportDir(dir: String): String =
    s"${opts.work}/reports/${Paths.get(dir).getFileName}"

  /** One cold iteration of `calls` on a fresh version, every registry
    * released first: its wall, or None when a call failed.
    */
  private def coldIteration(dir: String, calls: (String, String) => Unit): Option[Double] = {
    clearRegistries()
    val before = registryStats()
    val failedBefore = failures.size
    val (_, wall) = time(calls(dir, reportDir(dir)))
    // cold guard: every registry the calls consulted built at least once
    delta(before, registryStats()).foreach { case (n, (h, m, _)) =>
      if (m < 1) guardViolations += s"$dir: registry $n consulted cold without a miss (hits=$h)"
    }
    if (failures.size == failedBefore) Some(wall) else None
  }

  private var served: String = _

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def checkOut(name: String): String = s"${opts.work}/checks/$name"

  /** Run each face once on `threads` threads (set-up and checks only: the
    * window has one client), writing its result for the oracle when
    * `check(face)`, else to the noop sink. Each is an attempted operation;
    * a throw is a failure. Returns each face's wall.
    */
  private def fill(faces: Seq[String], threads: Int)(check: String => Boolean): Map[String, Double] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val pending = faces.map { n =>
        n -> pool.submit[Either[Throwable, Double]] { () =>
          try {
            val (_, s) = time(Caching.scoped {
              val df = SparkEntry.queries(n)(spark, served)
              if (check(n)) df.write.mode("overwrite").parquet(checkOut(n)) else noop(df)
            })
            Right(s)
          } catch { case NonFatal(e) => Left(e) }
        }
      }
      pending.flatMap { case (n, f) =>
        attempted += 1
        f.get() match {
          case Right(s) => Some(n -> s)
          case Left(e) => failed(n, e); None
        }
      }.toMap
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      Caching.releaseAll()
    }
  }

  // ---- windows -------------------------------------------------------------------

  /** Times `body` as the measured window: the storage peak, the registry
    * deltas and, when `traced`, the Spark-runtime collector cover exactly
    * this span, and the collector's figures become the per-layer metrics
    * unless `keepLayers` is off. `body` returns its iteration walls.
    */
  private def window(traced: Boolean, keepLayers: Boolean = true)(
      body: => Seq[Double]): Map[String, Double] = {
    val layers = new Layers(Modules, () => currentModule)
    if (traced) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(layers)
    }
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    storage.resetPeak()
    val regBefore = registryStats()
    val gc0 = gcSeconds()
    val steal0 = stealSeconds()
    val lat0 = latencies.size
    val t0 = System.currentTimeMillis()
    val walls = body
    val windowMs = System.currentTimeMillis() - t0
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    val d = delta(regBefore, registryStats())
    val lat = latencies.drop(lat0).toSeq
    if (traced) {
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(layers)
    }
    if (traced && keepLayers) {
      val hits = d.values.map(_._1).sum
      val misses = d.values.map(_._2).sum
      perLayer ++= layers.metrics(windowMs) ++ Seq(
        "caching.hits" -> hits.toDouble, "caching.misses" -> misses.toDouble,
        "caching.evictions" -> d.values.map(_._3).sum.toDouble,
        "caching.hit_ratio" -> (if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0),
        "spark.gc_s" -> (gcSeconds() - gc0))
      setup("jobs_other_callsites") = layers.otherCallSites
    }
    Map(
      "wall_s" -> median(walls),
      "iterations" -> walls.size.toDouble,
      "window_s" -> windowMs / 1e3,
      "queries_per_s" -> lat.size / lat.sum,
      "query_p50_ms" -> median(lat) * 1e3,
      "query_p90_ms" -> quantile(lat, 0.9) * 1e3,
      "window_ops" -> lat.size.toDouble,
      "cache_peak_mb" -> storage.peakMb,
      "steal_s" -> (stealSeconds() - steal0))
  }

  /** Cold iterations, each on a version written just before it, until
    * `seconds` have passed (at least one). `first` is already written.
    */
  private def coldWindow(first: String, calls: (String, String) => Unit): Seq[Double] = {
    val start = now()
    val walls = mutable.ArrayBuffer.empty[Double]
    var dir = first
    var more = true
    while (more) {
      coldIteration(dir, calls).foreach(walls += _)
      timed += dir
      more = now() - start < opts.seconds
      if (more) dir = newVersion("cold", ColdScale)
    }
    walls.toSeq
  }

  /** The versions the window's cold iterations ran on. */
  private val timed = mutable.ArrayBuffer.empty[String]

  /** Rounds of the serve mix in a seeded order until `seconds` have passed
    * and at least `ServeRounds` are done: each face then has that many
    * samples, so its latency and the window's p90 do not rest on one run
    * of the slowest faces.
    */
  private def serveWindow(): Seq[Double] = {
    val rng = new scala.util.Random(opts.seed)
    val start = now()
    val walls = mutable.ArrayBuffer.empty[Double]
    do walls += time(rng.shuffle(ServeMix).foreach { case (n, m) =>
      op(n, m)(noop(SparkEntry.queries(n)(spark, served)))
    })._2
    while (walls.size < ServeRounds || now() - start < opts.seconds)
    walls.toSeq
  }

  // ---- main ----------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cpus").toInt, kv("python"), kv("corpus"), kv("work"), kv("out"))
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
    val probeBefore = cpuProbeMs()
    spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(storage)
    // JVM start to a ready session, less the CPU probe
    setup("session_s") = System.currentTimeMillis() / 1e3 - jvmStart - probeBefore / 1e3

    val e2e = opts.workload match {
      case "cold_pipeline" => coldPipeline()
      case "serve_warm" => serveWarm()
    }
    setup("version_gen_s") = genSeconds.toSeq
    if (opts.trace) {
      perLayer ++= kernels(kernelDir)
      perLayer("spark.floor_ms") = floorMs()
      for ((c, _) <- TopicCalls ++ CurationCalls)
        perLayer(s"call_s.$c") = samples.get(c).map(s => median(s.toSeq)).getOrElse(0.0)
      for ((f, _) <- ServeMix)
        perLayer(s"face_ms.$f") = samples.get(f).map(s => median(s.toSeq) * 1e3).getOrElse(0.0)
    }
    val probeAfter = cpuProbeMs()
    writeRecord(e2e, Map("cpu_probe_ms_before" -> probeBefore, "cpu_probe_ms_after" -> probeAfter))
    spark.stop()
  }

  /** The version whose texts the kernels run on. */
  private var kernelDir: String = _

  /** cold_pipeline. After the JIT warm-up (`warmUp`), the window times
    * cold iterations on fresh versions, every registry released first,
    * each the topic calls and then the curation calls, traced when
    * `--trace 1`. Traced, the calls then re-run warm on the last timed
    * version, untraced and then traced: the traced cold minus the traced
    * warm wall gives `caching.build_s`, traced minus untraced warm
    * `trace.overhead_s`, and the untraced re-run's report sheets must
    * hash-equal the cold ones.
    *
    * Checks: the report invariants of every timed iteration, and each
    * curation face's DuckDB oracle over its base version with the realistic
    * transform prepended, so the twin is checked too.
    */
  private def coldPipeline(): Map[String, Double] = {
    val calls = (dir: String, out: String) => { topicCalls(dir, out); curationCalls(dir, out) }
    setup("warmup_s") = time(warmUp())._2
    val e2e = window(traced = opts.trace)(coldWindow(newVersion("cold", ColdScale), calls))
    val (last, out) = (timed.last, reportDir(timed.last))
    if (opts.trace) {
      val warmWall = untimed(window(traced = false)(Seq(time(calls(last, s"$out-rerun"))._2)))
      val tracedWall = untimed(window(traced = true, keepLayers = false)(
        Seq(time(calls(last, s"$out-traced"))._2)))
      perLayer("caching.build_s") = e2e("wall_s") - tracedWall("wall_s")
      perLayer("trace.overhead_s") = tracedWall("wall_s") - warmWall("wall_s")
    }
    val sql = SparkEntry.oracleSql
    for (dir <- timed) {
      reportChecks += Map("dir" -> dir, "cold" -> reportDir(dir)) ++
        (if (opts.trace && dir == last) Map("rerun" -> s"$out-rerun") else Map.empty)
      for ((face, _) <- CurationCalls.tail) oracleChecks += Map("face" -> face, "dir" -> dir,
        "out" -> s"${reportDir(dir)}/$face", "sql" -> RealisticCorpus.realisticize(sql(face)))
    }
    kernelDir = RealisticCorpus.ensure(spark, last)
    versions(versions.size - 1) ++= twinProperties(kernelDir)
    e2e
  }

  /** The realistic twin's rows, text size, vocabulary and planted shares. */
  private def twinProperties(twin: String): Map[String, Any] = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$twin/documents.parquet")
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1).otherwise(0))
    val text = col("text")
    val r = docs.agg(count(lit(1)), sum(octet_length(text)),
      n(text.contains(RealisticCorpus.ContamPhrase)), n(text.contains("@example.com")),
      n(text.contains(" copymark"))).head()
    val rows = r.getLong(0).toDouble
    Map("twin_rows" -> r.getLong(0), "twin_text_mb" -> r.getLong(1) / 1e6,
      "twin_vocabulary" -> docs.select(explode(split(text, " "))).distinct().count(),
      "contaminated_share" -> r.getLong(2) / rows, "pii_share" -> r.getLong(3) / rows,
      "twin_dup_family_share" -> r.getLong(4) / rows)
  }

  /** serve_warm: one version and a cold fill pass over the mix, then the
    * warm window on a noop sink. The fill runs `cpus` faces at a time
    * untraced, and one at a time traced so that each face's cold wall is
    * its own.
    *
    * Between fill and window, an untimed warm round writes each face's
    * output for its oracle. It is guarded as the window is (it builds and
    * evicts nothing), so it checks the registries the window serves from,
    * and it warms the JIT on the serve path. After the window, the faces
    * whose oracle reads the fitted-model artifacts run once more with
    * exports on, and that output is checked. Each saves its artifacts on
    * every call, so the LDA and PQ faces export from the fits the window
    * served; the IVF world is keyed by export context and is re-fitted
    * (seeded, so it is the same index).
    */
  private def serveWarm(): Map[String, Double] = {
    served = newVersion("serve", ServeScale)
    kernelDir = served
    val faces = ServeMix.map(_._1)
    clearRegistries()
    val (cold, fillS) = time(fill(faces, if (opts.trace) 1 else opts.cpus)(_ => false))
    setup("fill_s") = fillS
    setup("fill_face_s") = cold
    setup("check_round_s") = time(warm("check round")(
      fill(faces.filterNot(n => ArtifactFaces(n) || Unchecked(n)), opts.cpus)(_ => true)))._2
    val plain = warm("serve window")(window(traced = false)(serveWindow()))
    if (opts.trace) {
      samples.clear()
      val traced = warm("traced serve window")(window(traced = true)(serveWindow()))
      // the fill ran one face at a time, untraced, as the untraced window
      perLayer("caching.build_s") = cold.values.sum - plain("wall_s")
      perLayer("trace.overhead_s") = traced("wall_s") - plain("wall_s")
    }
    Artifacts.enable(s"${opts.work}/artifacts")
    setup("export_round_s") = time(fill(faces.filter(ArtifactFaces), opts.cpus)(_ => true))._2
    // the engine builds its oracle map once, on first use: read it after
    // every artifact is registered
    val sql = SparkEntry.oracleSql
    faces.filterNot(Unchecked).foreach(n =>
      oracleChecks += Map("face" -> n, "dir" -> served, "out" -> checkOut(n), "sql" -> sql(n)))
    Artifacts.disable()
    plain
  }

  // ---- kernels -------------------------------------------------------------------

  /** Single-threaded `graft.functions` kernel throughput on a version's texts. */
  private def kernels(dir: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val mb = texts.map(_.numBytes().toLong).sum / 1e6
    def rate(units: Double)(pass: => Unit): Double = {
      (1 to 3).foreach(_ => pass)
      var passes = 0
      val t0 = now()
      while (passes < 5 || now() - t0 < 0.5) { pass; passes += 1 }
      units * passes / (now() - t0)
    }
    val shingles = texts.map(HashKernels.shingleHashSet(_, DedupOps.ShingleN))
    Map(
      "kernels.tokens_mb_s" -> rate(mb)(texts.foreach(TextKernels.tokens(_, 1, 100))),
      "kernels.quality_mb_s" -> rate(mb)(texts.foreach(TextKernels.qualityScore)),
      "kernels.bpeish_mb_s" -> rate(mb)(texts.foreach(TextKernels.bpeishTokenCount)),
      "kernels.shingle_mb_s" ->
        rate(mb)(texts.foreach(HashKernels.shingleHashSet(_, DedupOps.ShingleN))),
      "kernels.minhash_docs_s" ->
        rate(texts.length)(shingles.foreach(HashKernels.minhashSig(_, DedupOps.MinhashK))))
  }

  // ---- record ----------------------------------------------------------------------

  private def writeRecord(e2e: Map[String, Double], probes: Map[String, Double]): Unit = {
    val record = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "env" -> (Map(
        "nproc" -> opts.cpus, "spark_master" -> spark.sparkContext.master,
        "heap_gb" -> Runtime.getRuntime.maxMemory / 1073741824.0,
        "jvm" -> System.getProperty("java.version"), "spark" -> spark.version) ++ probes),
      "setup" -> setup.toMap,
      "window" -> e2e,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "per_layer" -> perLayer.toMap,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "guard_violations" -> guardViolations.toSeq,
      "versions" -> versions.toSeq,
      "oracle_checks" -> oracleChecks.toSeq,
      "unchecked_faces" -> (if (opts.workload == "serve_warm") Unchecked.toSeq else Nil),
      "report_checks" -> reportChecks.toSeq)
    Files.writeString(Paths.get(opts.out), json.writeValueAsString(record))
  }
}
