package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-up probe: replicates the documents/embeddings fixtures N× (with
  * shifted ids and a deterministic per-copy token perturbation so copies are
  * NEAR-duplicates, not byte-duplicates) and times the dedup/similarity
  * suite on the enlarged corpus. Answers "does the blocking hold at 10×?"
  * without touching the read-only fixtures.
  *
  *   MAIN=graft.ScaleProbe tools/run_verify.sh /root/testdata/sf0.1 10
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SCALE_PARTITIONS overrides the shuffle width for
    // partition-sizing A/Bs (the |Q|-sweep's reduce side at q2048 holds
    // ~100M groups — 32 partitions under-provision it; see DEPLOY)
    val spark = SparkEntry.localSession("ERROR")
    sys.env.get("SPARK_GRAFT_SCALE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale").toString

    // SPARK_GRAFT_SCALE_MODE picks the replica's ADVERSARIAL SHAPE:
    //   replica (default) — near-dup copies, the standard slope corpus;
    //   openvocab — every token salted with a per-doc hash-group suffix
    //     (SPARK_GRAFT_SCALE_GROUPS groups, default 500), so the 31-word
    //     fixture vocabulary opens into groups×31 terms at controlled df ≈
    //     n/groups and retrieval runs in the SPARSE-match regime the 100 TB
    //     web corpus actually serves (the r13 records — WAND inert, 91%
    //     percolation density, dense pivot 24× — were all conditioned on
    //     the saturated 31-word regime);
    //   heavycluster — a planted boilerplate class: 15% of all docs become
    //     near-dup variants of ONE template (distinct copymark suffixes
    //     keep them near- not byte-dups), the real-web regime where one
    //     boilerplate family dominates the dedup tiers' bucket and
    //     propagation caps.
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "replica")
    val vocabGroups = sys.env.getOrElse("SPARK_GRAFT_SCALE_GROUPS", "500").toInt

    val docs = Tables.documents(spark, dir)
    val copies = spark.range(factor).select(col("id").as("copy"))
    val replica = docs.crossJoin(copies)
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        // per-copy suffix: copies are near-dups (distinct shingle sets)
        concat(col("text"), lit(" copymark"), col("copy")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val shaped = mode match {
      case "openvocab" =>
        val g = operators.SamplingOps.hashBucket(col("doc_id"), vocabGroups)
        replica.withColumn("text",
          array_join(transform(
            graft.functions.TextFunctions.tokens(col("text"), 1, 100),
            t => concat(t, lit("x"), g)), " "))
      case "heavycluster" =>
        val template = docs.orderBy(col("doc_id")).select(col("text"))
          .limit(1).collect()(0).getString(0)
        replica.withColumn("text",
          when(operators.SamplingOps.hashBucket(col("doc_id"), 10000) < 1500,
            concat(lit(template), lit(" copymark"), col("doc_id") % 50))
            .otherwise(col("text")))
      case _ => replica
    }
    shaped.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    Tables.embeddings(spark, dir).crossJoin(copies)
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")
    // events: each copy is a parallel user population in the SAME time
    // window — session counts scale linearly, range-join pair volume
    // quadratically (denser concurrency is a data property, not a plan one)
    Tables.events(spark, dir).crossJoin(copies)
      .select(
        (col("event_id") * factor + col("copy")).as("event_id"),
        // write the replica as INT64 epoch-nanos — the Tables contract's
        // guarded LongType branch normalizes it back to LTZ micros
        (unix_micros(col("ts")) * 1000L).as("ts"),
        (col("user_id") * factor + col("copy")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")

    val n = spark.read.parquet(s"$tmp/documents.parquet").count()
    println(s"[scale] corpus ${n} docs (${factor}x of $dir)")
    // SPARK_GRAFT_SCALE_OPS=op1,op2 restricts the probe to named ops —
    // focused scale-up runs (e.g. 30x on the selection tier) shouldn't pay
    // the full dedup pair suite
    val selected = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).toSet)
    def time(label: String)(f: => Long): Unit = {
      if (selected.forall(_.contains(label))) {
        val t0 = System.nanoTime()
        val r = Caching.scoped(f)
        Caching.releaseAll()
        println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s ($r rows)")
      }
    }
    import graft.operators._
    time("minhash_clusters")(DedupOps.minhashClusterProfile(spark, tmp).count())
    time("simhash_clusters")(DedupOps.simhashClusterProfile(spark, tmp).count())
    time("minhash_lsh")(DedupOps.minhashDupPairs(spark, tmp).count())
    time("simhash")(DedupOps.simhashDupPairs(spark, tmp).count())
    // adversarial-multiplicity pair probe: at duplicate multiplicity m the
    // pair faces emit C(m,2) rows per group BY DEFINITION; the hot-bucket
    // cap is the production guard that bounds it. Probe the faces with an
    // explicitly small cap so the bound engages at THIS corpus' bucket
    // sizes (the shipped HotBucketCap = 4096 sits above fixture buckets by
    // design — it guards the viral-millions regime, which no local replica
    // can materialize uncapped for comparison)
    time("minhash_pairs_cap64")(DedupOps.minhashPairs(
      Tables.documents(spark, tmp), "doc_id", "text", 0.5, maxBucket = 64).count())
    time("simhash_pairs_cap64")(DedupOps.simhashPairs(
      Tables.documents(spark, tmp), "doc_id", "text", 3, maxBucket = 64).count())
    time("ngram_jaccard")(DedupOps.ngramDupPairs(spark, tmp).count())
    // A/B vs Spark MLlib's built-in MinHashLSH on the SAME 5-char shingle
    // sets and operating point (est. jaccard ≥ 0.5 ⟺ distance ≤ 0.5;
    // SPARK_GRAFT_MLLIB_TABLES hash tables, default 8): the evidence that
    // the custom codegen'd kernel tier earns its complexity. Structural
    // asymmetry, recorded in DEPLOY: MLlib's MinHashLSH has NO banding —
    // each table is ONE hash, so a pair collides somewhere with prob
    // ≈ 1-(1-j)^tables (j-shaped, not the kernel path's j⁴-shaped
    // 4-row-band AND), and on a corpus with moderate baseline similarity
    // candidate generation degenerates toward all-pairs at any table
    // count that preserves recall
    time("mllib_minhash_lsh") {
      import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
      import graft.functions.TextFunctions.charShingles
      val tables = sys.env.getOrElse("SPARK_GRAFT_MLLIB_TABLES", "8").toInt
      val sh = Tables.documents(spark, tmp)
        .select(col("doc_id"), array_distinct(
          charShingles(col("text"), 5)).as("sh"))
        .filter(size(col("sh")) > 0)
      val cv = new CountVectorizer().setInputCol("sh").setOutputCol("f")
        .setBinary(true).fit(sh)
      val feat = cv.transform(sh).select(col("doc_id"), col("f"))
      val lsh = new MinHashLSH().setInputCol("f").setOutputCol("hashes")
        .setNumHashTables(tables).setSeed(42)
      val model = lsh.fit(feat)
      model.approxSimilarityJoin(feat, feat, 0.5, "dist")
        .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
        .count()
    }
    // substring-span tier: replicas make every original 8-gram occur
    // `factor` times, so nearly every position is a duplicated start — the
    // adversarial regime for the join-back (linear in occurrences) and the
    // per-doc interval union (starts ≈ all positions)
    time("span_profile")(SpanDedupOps.spanProfileQuery(spark, tmp).count())
    time("span_scrub")(SpanDedupOps.spanScrubQuery(spark, tmp).count())
    time("lsh_ann")(SimilarityOps.lshAnn(spark, tmp).count())
    // embedding dedup tier: pair/cluster cost plus the raw candidate
    // volume, with the corpus-scaled band width and with the fixture width
    // pinned (shows the fixed-width floor growing as n²/2^bits — the knob
    // is what keeps the tier linear)
    time("embed_lsh_pairs")(SimilarityOps.lshDupPairs(spark, tmp).count())
    time("embed_clusters")(SimilarityOps.lshDupClusterProfile(spark, tmp).count())
    time("embed_cands_scaled")(
      SimilarityOps.dedupCandidateVolume(spark, tmp).count())
    time("embed_cands_fixed12")(
      SimilarityOps.dedupCandidateVolume(spark, tmp, Some(12)).count())
    time("embed_cosine_brute")(DedupOps.embeddingDups(spark, tmp).count())
    time("ivf_ann")(SimilarityOps.ivfAnn(spark, tmp).count())
    time("ivfpq_ann")(PqOps.ivfPqAnn(spark, tmp).count())
    time("exact_fp_dedup")(SparkEntry.queries("dedup_exact_fp")(spark, tmp).count())
    time("ctfidf")(TopicMetricsOps.ctfidfByLang(spark, tmp).count())
    time("cnpmi")(TopicMetricsOps.npmiTop10(spark, tmp).count())
    time("cuci")(TopicMetricsOps.uciTop10(spark, tmp).count())
    time("cv")(TopicMetricsOps.cvTop10(spark, tmp).count())
    time("umass")(TopicMetricsOps.umassTop10(spark, tmp).count())
    time("umass_by_class")(TopicMetricsOps.umassByLang(spark, tmp).count())
    // the LDA fit + both grouped coherence measures over the scaled corpus —
    // the fit is cached per tmp dir, so a second probe isolates the metrics
    time("lda_topic_coherence")(TopicModelOps.ldaTopicCoherence(spark, tmp).count())
    time("lda_topic_coherence_warm")(TopicModelOps.ldaTopicCoherence(spark, tmp).count())
    time("cluster_noise")(TopicModelOps.clusterNoiseProfile(spark, tmp).count())
    time("sample_split")(SamplingOps.splitProfile(spark, tmp).count())
    time("decontam")(CurationOps.decontamProfile(spark, tmp).count())
    time("decontam_bloom")(CurationOps.decontamBloomProfile(spark, tmp).count())
    time("pii_scrub")(CurationOps.piiScrubProfile(spark, tmp).count())
    time("mix_domains")(SamplingOps.mixProfile(spark, tmp).count())
    time("budget_select")(SamplingOps.budgetProfile(spark, tmp).count())
    time("pack_sequences")(PackingOps.packProfile(spark, tmp).count())
    time("pack_chunks")(PackingOps.chunkProfile(spark, tmp).count())
    time("len_quantiles")(SketchOps.lengthQuantiles(spark, tmp).count())
    // the cardinality/frequency sketch tier: HLL register count and the
    // heavy-hitter shuffle are bounded by construction — the probe shows
    // wall-time tracking the SCAN (linear), not the vocabulary
    time("hll_distinct")(SketchOps.hllDistinct(spark, tmp).count())
    time("hll_by_lang")(SketchOps.hllByLang(spark, tmp).count())
    time("heavy_hitters")(SketchOps.heavyHittersQuery(spark, tmp).count())
    // monitoring tier: comparison cost is bounded by vocabulary (drift),
    // sketch rows (PSI), or k signature rows (resemblance)
    time("drift")(operators.DriftOps.driftQuery(spark, tmp).count())
    time("len_drift")(operators.DriftOps.lenDriftQuery(spark, tmp).count())
    time("resemblance")(operators.DriftOps.resemblanceQuery(spark, tmp).count())
    time("funnel")(RelationalOps.funnelQuery(spark, tmp).count())
    // broadcast-CDF order statistics: cost is the histogram agg (linear
    // scan, map-side combined) — the replicas keep the value grid FIXED, so
    // the CDF frame and its broadcast stay constant-size as rows grow
    time("pct_rank")(RankOps.pctRankProfile(spark, tmp).count())
    time("len_median")(RankOps.medianProfile(spark, tmp).count())
    time("sample_group_k")(SamplingOps.groupFixedSampleProfile(spark, tmp).count())
    // canonical selection rides the cluster propagation plus two
    // label-keyed aggs — the quality scan is the only extra corpus touch
    time("keep_best")(DedupOps.keepBestProfile(spark, tmp).count())
    // constraint checks: one conditional aggregate per frame (the unique
    // rule adds a distinct agg); output bounded by rules × groups
    time("data_quality")(CheckOps.documentChecks(spark, tmp).count())
    time("data_quality_by_source")(
      CheckOps.documentChecksBySource(spark, tmp).count())
    time("embedding_quality")(CheckOps.embeddingChecks(spark, tmp).count())
    time("repetition")(TextAnalysisOps.repetitionBySource(spark, tmp).count())
    time("train_assembly")(AssemblyOps.trainAssembly(spark, tmp).count())
    time("range_join")(RelationalOps.concurrentSessionActivity(spark, tmp).count())
    time("sessionize")(RelationalOps.userSessions(spark, tmp).count())
    // streaming batch faces: the attribution join is a per-user range
    // join (pair volume bounded by rate × horizon); top-k keywords ride
    // the tokenize + window-group-limit path
    time("attribution")(graft.streaming.StreamOps.attributionQuery(spark, tmp).count())
    time("topk_keywords")(graft.streaming.StreamOps.topKeywordsQuery(spark, tmp).count())
    // r11 tier: version audit (fixed-width id join), tokenizer induction
    // (explode + map-side-combined agg / broadcast vocab), LM scoring
    // (one bigram-key shuffle), index refresh (delta-proportional argmax)
    time("snapshot_diff")(SnapshotOps.snapshotDiffQuery(spark, tmp).count())
    time("vocab_merge_pairs")(VocabOps.mergePairsQuery(spark, tmp).count())
    time("vocab_coverage")(VocabOps.coverageQuery(spark, tmp).count())
    time("lm_nll")(LmOps.nllBandsQuery(spark, tmp).count())
    // A/B: broadcast-hash vs sort-merge for the vocabulary-bounded model
    // join — the r11 slope-3.3 row's n·log n term is the instance-frame
    // sort the broadcast variant skips
    time("lm_nll_bcast")(
      LmOps.nllBandsQuery(spark, tmp, broadcastModel = true).count())
    // r12 tier: cross-corpus scoring (backoff branches live), the ingest
    // quality gate's batch face, the drift gauge's two probe worlds, and
    // the cross-modal media faces (signature extraction is linear scan;
    // clusters ride the embedding dedup machinery on 256-dim signatures)
    time("lm_cross")(LmOps.crossNllBandsQuery(spark, tmp).count())
    time("quality_gate")(LmOps.qualityGateQuery(spark, tmp).count())
    time("ivf_drift")(IndexMaintOps.ivfDriftQuery(spark, tmp).count())
    // corpus-vs-pairs-vs-clusters split isolates the codec pass (registry
    // build), edge generation + verification, and the label propagation
    // when a media slope needs diagnosing
    time("media_corpus")(
      graft.multimodal.MediaOps.signatureCorpus(spark, tmp).count())
    time("media_dup_pairs")(
      SimilarityOps.anchorCosinePairs(
        graft.multimodal.MediaOps.signatureCorpus(spark, tmp),
        graft.multimodal.MediaOps.MediaDupCosine).count())
    time("media_dup_clusters")(
      graft.multimodal.MediaOps.mediaDupClusters(spark, tmp).count())
    time("media_text_align")(
      graft.multimodal.MediaOps.mediaTextAlign(spark, tmp).count())
    time("media_caption_gate")(
      graft.multimodal.MediaOps.mediaCaptionGate(spark, tmp).count())
    time("ivf_incremental")(IndexMaintOps.ivfIncrementalQuery(spark, tmp).count())
    // r17 decade tier (VERDICT r16 #5): the twin's materialization (text
    // transform + hash-projected embeddings over the SCALED corpus) and
    // the balanced-IVF build — the split loop's driver-held oversized set
    // and per-round findOversized action are the one piece whose ROUND
    // COUNT could grow with skew; rounds/lists/residual print beside the
    // wall time so the slope row carries the loop shape
    time("twin_materialize") {
      val out = RealisticCorpus.ensure(spark, tmp)
      spark.read.parquet(s"$out/embeddings.parquet").count()
    }
    time("ivf_balanced_build") {
      val corpus = Caching.track(
        SimilarityOps.unitCorpus(Tables.embeddings(spark, tmp)))
      val (indexed, cents, residual) =
        SimilarityOps.ivfIndexBalancedReport(corpus, SimilarityOps.IvfLists)
      val r = indexed.count()
      println(s"[scale] ivf_balanced shape: rounds=" +
        s"${SimilarityOps.lastBalanceRounds} lists_after=${cents.count()} " +
        s"residual=${residual.length}")
      r
    }
    // the same build on the TWIN's text-projected embeddings: the planted
    // dup family + unique mass give the quantizer REAL skew to split (the
    // plain replica above scales every list uniformly — rounds stays 0),
    // so this row carries the loop's round count under skew at scale
    time("ivf_balanced_build_twin") {
      val twin = RealisticCorpus.ensure(spark, tmp)
      val corpus = Caching.track(
        SimilarityOps.unitCorpus(Tables.embeddings(spark, twin)))
      val (indexed, cents, residual) =
        SimilarityOps.ivfIndexBalancedReport(corpus, SimilarityOps.IvfLists)
      val r = indexed.count()
      println(s"[scale] ivf_balanced_twin shape: rounds=" +
        s"${SimilarityOps.lastBalanceRounds} lists_after=${cents.count()} " +
        s"residual=${residual.length}")
      r
    }
    // r18 decade tier (VERDICT r17 #3): the RAG chunk frame multiplies
    // corpus cardinality (~|docs|·len/200), making it the largest
    // (vec_id, nv) frame in the engine — its builder (chunk explode + one
    // codec pass + quantizer fit) and the recall gauge get their own
    // slope rows. The recall probe prints per-probe recall@10 so the
    // committed record shows whether the per-probe floor holds as list
    // occupancy grows with scale.
    time("rag_chunk_build") {
      val corpus = Caching.track(RetrievalOps.chunkFrame(
        Tables.documents(spark, tmp)
          .filter(length(coalesce(col("text"), lit(""))) > 0)))
      val (indexed, cents) =
        SimilarityOps.ivfIndex(corpus, SimilarityOps.IvfLists)
      val r = indexed.count()
      println(s"[scale] rag_chunk shape: chunks=$r lists=${cents.count()}")
      r
    }
    time("rag_chunk_recall") {
      val rows = RetrievalOps.ragChunkRecall(spark, tmp).collect()
      println("[scale] rag recall per probe: " +
        rows.sortBy(_.getLong(0))
          .map(r => f"${r.getDouble(3)}%.2f").mkString(" "))
      rows.length.toLong
    }
    // measure-only re-run: the registry holds the corpus + index, so the
    // delta isolates the gauge's live work (brute truth + probe + compare)
    time("rag_chunk_recall_warm")(
      RetrievalOps.ragChunkRecall(spark, tmp).count())
    time("split_safe")(SamplingOps.leakageSafeSplitProfile(spark, tmp).count())
    // BPE: wall time should track the ONE word-count scan, not the rounds —
    // the dictionary (and so every training round) is corpus-size-invariant
    time("bpe_train")(VocabOps.bpeMergesQuery(spark, tmp).count())
    time("bpe_encode")(VocabOps.bpeEncodeQuery(spark, tmp).count())
    time("nb_confusion")(ClassifierOps.nbLangConfusion(spark, tmp).count())
    // retrieval tier: BM25's postings/df/dl derivations are linear scans;
    // the scoring join is bounded by |Q|·matched-postings, never |corpus|²;
    // RRF fusion moves ≤ |Q|·depth rows per side. PMI is two aggregates
    // plus a (filtered bigrams × vocab) join; containment rides the same
    // df-capped posting join as ngram_jaccard
    time("bm25")(RetrievalOps.bm25Query(spark, tmp).count())
    time("hybrid_rrf")(RetrievalOps.hybridRrfQuery(spark, tmp).count())
    time("collocations")(RetrievalOps.collocationsQuery(spark, tmp).count())
    time("containment")(RetrievalOps.containmentQuery(spark, tmp).count())
    time("ql")(RetrievalOps.qlQuery(spark, tmp).count())
    time("textrank")(TextRankOps.textRankQuery(spark, tmp).count())
    time("bm25_incremental")(RetrievalOps.bm25IncrementalQuery(spark, tmp).count())
    time("prf")(RetrievalOps.prfQuery(spark, tmp).count())
    time("percolate")(RetrievalOps.percolateQuery(spark, tmp).count())
    time("mmr")(RetrievalOps.mmrQuery(spark, tmp).count())
    time("stats_drift")(RetrievalOps.statsDriftQuery(spark, tmp).count())
    time("eval_rank")(RetrievalOps.ivfRankEval(spark, tmp).count())
    time("orc_roundtrip")(graft.pipeline.OrcIO.roundtripQuery(spark, tmp).count())
    time("media_text_search")(
      graft.multimodal.MediaOps.mediaTextSearch(spark, tmp).count())
    time("chunks_overlap")(PackingOps.slidingChunkProfile(spark, tmp).count())
    time("daily_anomaly")(RelationalOps.dailyAnomalies(spark, tmp).count())
    time("cohort_retention")(RelationalOps.cohortRetention(spark, tmp).count())
    // layout tier: the SAME unique-key equi-join over the replicated docs,
    // shuffled vs pre-bucketed — the measured evidence for LayoutOps'
    // zero-exchange claim. merge hints pin SMJ on both faces so the
    // comparison isolates the EXCHANGES (broadcast would hide them); the
    // bucketed faces read sorted co-located buckets, so they skip both the
    // shuffle and the sort. The one-time bucket write is timed next to the
    // joins: it amortizes across every later join/agg on the key.
    val evT = Tables.events(spark, tmp)
    val sideA = evT.select(col("event_id"), col("value"))
    val sideB = evT.select(col("event_id"), col("user_id"))
    time("join_unbucketed")(
      sideA.hint("merge").join(sideB, "event_id")
        .agg(sum(col("value") + col("user_id"))).count())
    time("layout_bucket_write") {
      operators.LayoutOps.writeBucketed(sideA, "probe_bkt_a", "event_id", 32,
        sortCols = Seq("event_id"))
      operators.LayoutOps.writeBucketed(sideB, "probe_bkt_b", "event_id", 32,
        sortCols = Seq("event_id"))
      2L
    }
    time("join_bucketed")(
      spark.table("probe_bkt_a").hint("merge")
        .join(spark.table("probe_bkt_b"), "event_id")
        .agg(sum(col("value") + col("user_id"))).count())
    // retrieval-layout A/B: the postings frame's word-keyed aggregation
    // (df) is the one exchange bm25FromPostings pays per serve when the
    // index is an unbucketed table; a word-bucketed warehouse layout
    // makes it exchange-free (the doc-keyed dl aggregate then pays the
    // one remaining shuffle). Same LayoutOps evidence class as the
    // event join above, on the index frame retrieval actually serves from.
    val postingsT = RetrievalOps.postings(
      Tables.documents(spark, tmp), "doc_id", "text")
    time("postings_df_unbucketed") {
      postingsT.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df"))).count()
    }
    time("postings_bucket_write") {
      operators.LayoutOps.writeBucketed(postingsT, "probe_bkt_postings",
        "word", 32, sortCols = Seq("word"))
      1L
    }
    time("postings_df_bucketed") {
      spark.table("probe_bkt_postings")
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df"))).count()
    }
    // positional tier (r13): phrase = one broadcast join over the
    // positional postings, cost tracks matched postings of the phrase
    // terms; proximity adds the bounded per-doc position-pair product
    time("phrase")(RetrievalOps.phraseQuery(spark, tmp).count())
    time("proximity")(RetrievalOps.proximityQuery(spark, tmp).count())
    // r13 curation/selection/dedup additions
    time("gopher_rules")(CurationOps.gopherRulesProfile(spark, tmp).count())
    time("ppl_buckets")(LmOps.pplBucketsQuery(spark, tmp).count())
    time("dsir")(SamplingOps.dsirProfile(spark, tmp).count())
    time("semdedup")(SemDedupOps.semanticDupProfile(spark, tmp).count())
    time("prototypes")(SemDedupOps.prototypesProfile(spark, tmp).count())
    time("curation_funnel")(CurationOps.curationFunnel(spark, tmp).count())
    time("gate_agreement")(CurationOps.gateAgreementQuery(spark, tmp).count())
    // r14 tier: the five-stage funnel (token accounting; stages 3-4 ride
    // the LM-score + minhash-label registries), its sampled-threshold
    // posture, and the composed ingest gate's batch face
    time("curation_funnel_full")(
      CurationOps.curationFunnelFull(spark, tmp).count())
    time("curation_funnel_sampled")(
      CurationOps.curationFunnelAt(spark, tmp, thresholdFrac = 0.4).count())
    time("ingest_gate")(
      graft.streaming.StreamOps.ingestGateQuery(spark, tmp).count())
    // r15: the five-stage gate (adds the broadcast decontam probe and the
    // scrub accounting to the three-gate face — both scan-shaped)
    time("ingest_full")(
      graft.streaming.StreamOps.ingestGateFullQuery(spark, tmp).count())
    // parquet codec A/B on the replica documents table: bytes on disk,
    // write wall, and a projection-heavy scan (tokenize + agg) per codec —
    // the storage-layout knob DEPLOY's table reads from
    for (codec <- Seq("snappy", "zstd", "lz4"))
      time(s"codec_$codec") {
        val path = s"$tmp/codec_$codec"
        spark.read.parquet(s"$tmp/documents.parquet")
          .write.mode(SaveMode.Overwrite)
          .option("compression", codec).parquet(path)
        val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
          .filter(p => p.toString.endsWith(".parquet"))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
        val t0 = System.nanoTime()
        val n = spark.read.parquet(path)
          .select(explode(graft.functions.TextFunctions
            .tokens(col("text"))).as("w"))
          .groupBy("w").count().count()
        println(f"[scale]   codec_$codec: ${bytes / 1024} KiB, scan+agg " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s ($n words)")
        bytes
      }
    // |Q|-dimension serving scaling (r13): every corpus-dimension slope
    // fixed |Q| at 8 — this sweeps the QUERY set 8→256→2048 over ONE
    // persisted postings frame (raw persist: survives time()'s
    // releaseAll), isolating the matched-postings aggregation + per-query
    // top-k from the index build
    val servedTf = RetrievalOps.postings(
      Tables.documents(spark, tmp), "doc_id", "text").persist()
    servedTf.count()
    for (nq <- Seq(8, 256, 2048))
      time(s"bm25_srv_q$nq")(
        RetrievalOps.bm25FromPostings(servedTf, _ < nq, k = 5).count())
    // diagnostic split of the q2048 point: scored pairs only (no top-k
    // window) — attributes the superlinear wall time to the aggregation
    // or to the selection
    time("bm25_agg_q2048")(
      RetrievalOps.bm25ScoredPairs(servedTf, _ < 2048).count())
    // the saturated-vocabulary serving path: dense vocabulary pivot +
    // codegen'd dot kernel instead of the matched-row explosion
    for (nq <- Seq(256, 2048))
      time(s"bm25_dense_q$nq")(
        RetrievalOps.bm25DenseTopK(servedTf, _ < nq, k = 5).count())
    // bucketed-serving A/B (r13): the SAME bm25FromPostings chain reading
    // the word-bucketed stored table vs the unbucketed in-plan frame —
    // the serving-path evidence for LayoutOps.storedBucketed (the
    // postings_df rows above isolate just the df aggregate)
    time("bm25_srv_bucketed")(
      RetrievalOps.bm25FromPostings(
        spark.table("probe_bkt_postings"), _ < 8, k = 5).count())
    // percolation standing-set A/B (r13): selective standing queries (the
    // alerting shape — each query is its doc's 3 RAREST terms, so match
    // volume stays bounded as |standing| grows) at 10³/10⁴/10⁵, broadcast
    // vs term-partitioned standing join on the same ingest sample
    locally {
      import org.apache.spark.sql.expressions.Window
      val Array(nDocsD, avgdlD) = servedTf.groupBy("doc_id")
        .agg(sum(col("tf")).as("dl"))
        .agg(count(lit(1)).cast("double"), avg(col("dl")))
        .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
      val dfreq = servedTf.groupBy("word").agg(count(lit(1)).as("df"))
      val wR = Window.partitionBy(col("query_id"))
        .orderBy(col("df"), col("word"))
      val ingest = Tables.documents(spark, tmp)
        .filter(col("doc_id") % 7 === 3)
      for (nsq <- Seq(1000, 10000, 100000)) {
        val terms = servedTf.filter(col("doc_id") < nsq)
          .select(col("doc_id").as("query_id"), col("word")).distinct()
          .join(dfreq, "word")
          .withColumn("rk", row_number().over(wR))
          .filter(col("rk") <= 3)
          .withColumn("idf", log(lit(1.0) +
            (lit(nDocsD) - col("df") + 0.5) / (col("df") + 0.5)))
          .select(col("query_id"), col("word"), col("idf"))
          .persist()
        terms.count() // build once, outside both timed arms
        val standing = RetrievalOps.StandingQueries(terms, avgdlD, nDocsD.toLong)
        time(s"percolate_bcast_q$nsq")(
          RetrievalOps.percolateScores(ingest, "doc_id", "text", standing)
            .count())
        time(s"percolate_part_q$nsq")(
          RetrievalOps.percolateScores(ingest, "doc_id", "text", standing,
            broadcastTerms = false).count())
        terms.unpersist()
      }
    }
    servedTf.unpersist()
    spark.stop()
  }
}
