package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HashExpressions.{tokenHashesK, windowHashSet}

/** Corpus-curation operators for training-set hygiene — the two scrubbing
  * passes every large-scale pretraining pipeline runs that the dedup /
  * quality tiers don't cover:
  *
  *   - Benchmark DECONTAMINATION: drop training documents sharing any token
  *     n-gram with the evaluation set (the 13-gram rule popularized by the
  *     GPT-3 appendix and Gopher's eval-leakage analysis). Shape at scale:
  *     the eval side is tiny by construction, so its distinct gram-hash set
  *     broadcasts and the train side is one scan + semi-join — no shuffle
  *     of the corpus.
  *   - PII REDACTION: replace emails / URLs / phone numbers with typed
  *     placeholder tokens, counting redactions per category. One narrow
  *     codegen'd projection (regexp_replace/regexp_count) — scan-shaped,
  *     no shuffle, pushdown-friendly.
  *
  * Both are oracle-checked end to end: gram hashing reuses the DedupOps
  * integer kernels (DuckDB replays the arithmetic), and the redaction
  * regexes are RE2-safe so Spark's Java regex and DuckDB's RE2 agree.
  */
object CurationOps {

  // ------------------------------------------------------------ decontam

  /** Distinct token n-gram hashes of a text column (polynomial fold over
    * per-token rolling hashes — gram strings never materialize).
    */
  def gramHashes(textCol: Column, n: Int): Column =
    windowHashSet(tokenHashesK(graft.functions.TextFunctions.normalized(textCol)), n)

  /** Contaminated train docs: those sharing ≥1 token n-gram with `evalDocs`.
    * The eval gram set is distinct-aggregated then BROADCAST — decontamination
    * against a benchmark suite (thousands of docs) never shuffles the corpus.
    * Returns train rows (idCol, n shared-gram count ≥ 1 implied) — callers
    * anti-join to scrub (see `decontaminate`) or aggregate to audit.
    */
  def contaminated(train: DataFrame, evalDocs: DataFrame, idCol: String,
                   textCol: String, n: Int = 13): DataFrame =
    contaminatedWithGrams(train,
      evalDocs.select(explode(gramHashes(col(textCol), n)).as("gram"))
        .distinct(),
      idCol, textCol, n)

  /** The probe against a PRE-BUILT eval gram-hash set — the deployment
    * shape: the benchmark suite's gram set is the canonical FROZEN
    * decontamination artifact (built once when the eval suite is pinned,
    * filtered against by every training batch), so faces over the fixture
    * corpus serve it from `curation.evalgrams` instead of re-hashing the
    * eval slice per invocation. The train-side scan — the operator's real
    * cost — is unchanged.
    */
  private[graft] def contaminatedWithGrams(train: DataFrame,
                                           evalGrams: DataFrame,
                                           idCol: String, textCol: String,
                                           n: Int): DataFrame =
    train
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .select(col(idCol)).distinct()

  /** Registry of the fixture corpus' eval-slice distinct gram-hash set
    * (the deterministic 5% hash slice, n-gram hashed) — six faces (both
    * decontam audits, both funnels, both five-stage ingest gates) probe
    * this same frozen artifact.
    */
  private val evalGramsCache = graft.Caching.Registry[DataFrame]("curation.evalgrams")

  def clearEvalGramsCache(): Unit = evalGramsCache.clear()

  private[graft] def corpusEvalGrams(spark: SparkSession, dir: String,
                                     n: Int = 13): DataFrame =
    evalGramsCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|$n") {
      val g = Tables.documents(spark, dir)
        .filter(SamplingOps.hashBucket(col("doc_id"), 10000) < 500)
        .select(explode(gramHashes(col("text"), n)).as("gram"))
        .distinct()
        .persist()
      g.count() // materialize before the building query's scope ends
      g
    }

  /** Bloom-prefiltered contamination probe: when the eval suite is large
    * enough that broadcasting its full distinct gram set strains the
    * drivers (millions of grams × 8 bytes is fine; hundreds of millions is
    * not), broadcast its BLOOM BITSET instead and prefilter the train
    * side's exploded grams map-side; only the surviving grams — already a
    * tiny, bloom-bounded fraction — meet the exact gram set for false-
    * positive removal. No false negatives (bloom property), exact verify
    * on survivors, so the output EQUALS `contaminated` and shares its
    * oracle.
    */
  def contaminatedBloom(train: DataFrame, evalDocs: DataFrame, idCol: String,
                        textCol: String, n: Int = 13,
                        mBits: Int = 1 << 20, k: Int = 3): DataFrame =
    contaminatedBloomWithGrams(train,
      graft.Caching.track(evalDocs
        .select(explode(gramHashes(col(textCol), n)).as("gram"))
        .distinct()),
      idCol, textCol, n, mBits, k)

  private[graft] def contaminatedBloomWithGrams(train: DataFrame,
                                                evalGrams: DataFrame,
                                                idCol: String, textCol: String,
                                                n: Int, mBits: Int = 1 << 20,
                                                k: Int = 3): DataFrame = {
    val positions = evalGrams
      .select(explode(expr(SketchOps.bloomPosExpr("gram", mBits, k))).as("b"))
      .distinct()
    SketchOps.bloomPrefilter(
      train.select(col(idCol), explode(gramHashes(col(textCol), n)).as("gram")),
      "gram", positions, mBits, k)
      .join(broadcast(evalGrams), "gram")
      .select(col(idCol)).distinct()
  }

  /** The ACTION form: `train` with every contaminated row removed. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 13): DataFrame =
    train.join(contaminated(train, evalDocs, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** Query: 13-gram decontamination audit of the documents fixture — the
    * eval set is the deterministic 5% hash slice (the same affine fold the
    * sampling tier uses), the train side is the rest; per-language train
    * size, contaminated count, and contamination rate.
    *
    * Deliberately NOT staged through a persisted gram frame: caching the
    * array-valued gram column costs ~8× the recomputation (measured at 30×:
    * 8.8 s persisted vs 1.1 s pipelined) — the bucket filters push into
    * each scan and the gram kernel runs inside whole-stage codegen, so the
    * "duplicate" work is two cheap pipelined passes.
    */
  def decontamProfile(spark: SparkSession, dir: String): DataFrame =
    decontamProfileWith(spark, dir, (train, _) =>
      contaminatedWithGrams(train, corpusEvalGrams(spark, dir),
        "doc_id", "text", n = 13))

  /** Query: the bloom-prefiltered face of the same audit — IDENTICAL output
    * (the prefilter has no false negatives and survivors are exact-
    * verified), so it shares `decontam_13gram`'s oracle; what changes is
    * the broadcast: a bitset position set instead of the full gram set.
    */
  def decontamBloomProfile(spark: SparkSession, dir: String): DataFrame =
    decontamProfileWith(spark, dir, (train, _) =>
      contaminatedBloomWithGrams(train, corpusEvalGrams(spark, dir),
        "doc_id", "text", n = 13))

  private def decontamProfileWith(spark: SparkSession, dir: String,
      probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = SamplingOps.hashBucket(col("doc_id"), 10000)
    val evalDocs = docs.filter(bucket < 500)
    val train = docs.filter(bucket >= 500)
    val hits = probe(train, evalDocs)
    val flagged = train.join(hits, "doc_id")
      .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
    train.groupBy("lang").agg(count(lit(1)).as("n_train"))
      .join(flagged, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)) / col("n_train"), 4)
          .as("contam_rate"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------ PII scrub

  /** RE2-safe redaction patterns (no backrefs/lookarounds, so Spark's Java
    * regex and DuckDB's RE2 produce identical matches) with their
    * placeholder tokens, applied in this order.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "[EMAIL]"),
    ("url", "https?://[^\\s]+", "[URL]"),
    ("phone", "\\+?[0-9]{2,3}[- ][0-9]{2,4}[- ][0-9]{3,4}[- ]?[0-9]{0,4}", "[PHONE]"))

  /** Scrubbed text plus per-category redaction counts: one projection, all
    * regexes codegen'd. The REPLACEMENT applies the patterns sequentially in
    * PiiPatterns order (email before URL before phone), so an address inside
    * a URL is rewritten by the more specific pattern first; the COUNTS are
    * independent per category over the ORIGINAL text — a match nested in a
    * broader one (an email in a URL query string) counts in both categories.
    * The oracle mirrors both choices.
    */
  /** Cheap NECESSARY-substring gate per category: the email pattern can
    * only match where a literal '@' exists, the URL pattern where "http"
    * does — `instr` is a linear scan while the ungated email regex is
    * quadratic on long alphanumeric runs (each start position greedily
    * consumes the run then backtracks hunting an '@'; measured 3.0 s of
    * the realistic funnel's 6.7 s was this scrub, the twin's 137-char
    * digit mega-tokens being the worst case). Gated and ungated results
    * are bit-identical by the necessity of the substring; the phone
    * pattern has no such literal and stays ungated (it fails fast: 2-3
    * digits then a required separator).
    */
  private def piiGate(cat: String, c: Column): Option[Column] = cat match {
    case "email" => Some(instr(c, "@") > 0)
    case "url" => Some(instr(c, "http") > 0)
    // phone stays UNGATED — by measurement, not just argument (r18 A/B in
    // DEPLOY): its necessary digit-separator-digit pattern has no fixed
    // literal, so the cheapest gate is itself a linear rlike scan, and
    // that scan costs exactly what the full pattern's digit-fail-fast
    // per-position attempts already cost (face 6.20 -> 6.16 s, s5 warm
    // 1.62 -> 1.74 s — a wash inside the noise band).
    case _ => None
  }

  /** The sequential replacement chain as a bare Column — shared by
    * `scrubPii` and the funnel's fused stats pass (which needs the
    * expression under a survivor-flag CASE, not a full projection).
    */
  def scrubbedText(textCol: Column): Column =
    PiiPatterns.foldLeft(textCol) {
      case (c, (cat, pat, token)) =>
        val repl = regexp_replace(c, pat, token)
        // gate on the PRE-replacement column: earlier placeholders
        // introduce no '@'/"http", so the gate basis is equivalent
        piiGate(cat, c).fold(repl)(g => when(g, repl).otherwise(c))
    }

  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(df) { case (d, (cat, pat, _)) =>
      val n = regexp_count(col(textCol), lit(pat))
      d.withColumn(s"n_$cat",
        piiGate(cat, col(textCol)).fold(n)(g => when(g, n).otherwise(lit(0))))
    }
    counted.withColumn("scrubbed", scrubbedText(col(textCol)))
  }

  /** Query: PII-redaction profile. The synthetic fixture carries no natural
    * PII, so the query PLANTS deterministic PII derived from doc_id on both
    * sides (Spark and oracle build the identical augmented text), then
    * scrubs and audits: per-language doc counts, per-category redaction
    * totals, and the total scrubbed length — the length pins the actual
    * replacement output, not just match counts.
    */
  def piiScrubProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val planted = docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" see https://example.org/p/"), col("doc_id")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" tel +82 10-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit("-1234")))
          .otherwise(lit(""))))
    scrubPii(planted, "text")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).cast("long").as("emails"),
        sum(col("n_url")).cast("long").as("urls"),
        sum(col("n_phone")).cast("long").as("phones"),
        sum(length(col("scrubbed"))).cast("long").as("scrubbed_len"))
      .orderBy("lang")
  }

  /** Gopher rule thresholds (Rae et al. 2021, arXiv:2112.11446 App. A1.1),
    * published values — word count [50, 100k], mean word length [3, 10],
    * symbol-to-word ≤ 0.1 PER symbol family (hash and ellipsis each get
    * their own 0.1 cap, as the paper applies it), ≥80% words alphabetic,
    * ≥2 required stop words —
    * plus the duplicate-bigram cap from the repetition family (Table A1
    * bounds duplicate n-gram character fractions; the engine's existing
    * bigram dup-fraction stands in at ≤ 0.2).
    */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherStopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2
  val GopherMaxDupBigram = 0.2

  /** Per-doc Gopher rule verdicts: one narrow projection, every rule a
    * codegen'd column over the shared token array — the filter is a pure
    * map at any scale (no shuffle until the caller aggregates). Docs with
    * zero tokens fail every ratio rule (the word-count rule already
    * removes them; stating it keeps the columns total).
    */
  def gopherRules(docs: DataFrame, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.{normalized, tokens}
    docs
      .withColumn("toks", tokens(col(textCol), 1, 100))
      .withColumn("nw", size(col("toks")).cast("long"))
      // mean word length is over the COUNTED words (Rae et al. define the
      // rule per word): sum of the banded tokens' lengths, not the whole
      // normalized string. Through r15 this used norm-minus-spaces, which
      // counts characters of out-of-band runs the word count excludes — a
      // >100-char unbroken run (the realistic twin's mega-tokens, a long
      // URL/hash blob in the wild) inflated the ratio and failed meanlen
      // for every carrier doc (measured: the realistic corpus went
      // near-all-fail at every sf). Identical on texts whose tokens all
      // sit in the band — the base fixtures are bit-unchanged.
      .withColumn("tchars",
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).cast("long"))
      .withColumn("pass_wordcount",
        (col("nw") >= GopherMinWords && col("nw") <= GopherMaxWords).cast("int"))
      .withColumn("pass_meanlen",
        (col("nw") > 0 &&
          col("tchars").cast("double") / col("nw") >= GopherMinMeanLen &&
          col("tchars").cast("double") / col("nw") <= GopherMaxMeanLen).cast("int"))
      // per-symbol-family caps, as published (Rae et al. A1.1 applies the
      // 0.1 symbol-to-word threshold to hashes and ellipses SEPARATELY —
      // the pooled ratio this rule used through r13 was strictly tighter)
      .withColumn("pass_symbol",
        (col("nw") > 0 &&
          regexp_count(coalesce(col(textCol), lit("")), lit("#"))
            .cast("double") / col("nw") <= GopherMaxSymbolRatio &&
          regexp_count(coalesce(col(textCol), lit("")), lit("[.]{3}|…"))
            .cast("double") / col("nw") <= GopherMaxSymbolRatio).cast("int"))
      // letterTokenCount kernel ≡ size(filter(toks, t -> t rlike
      // '[a-z가-힣]')) over the normalized token alphabet (spec-pinned):
      // the HOF form ran an interpreted ArrayFilter with a regex match
      // per token inside the funnel's hottest scan
      .withColumn("pass_alpha",
        (col("nw") > 0 &&
          graft.functions.TextExpressions.letterTokenCountK(col("toks"))
            .cast("double")
            / col("nw") >= GopherMinAlphaFrac).cast("int"))
      .withColumn("pass_stop",
        (size(array_intersect(array_distinct(col("toks")),
          array(GopherStopWords.map(lit): _*))) >= GopherMinStopHits).cast("int"))
      .withColumn("pass_repeat",
        (TextAnalysisOps.dupFrac(TextAnalysisOps.tokenBigrams(col("toks")))
          <= GopherMaxDupBigram).cast("int"))
      .withColumn("pass_all",
        (col("pass_wordcount") * col("pass_meanlen") * col("pass_symbol") *
          col("pass_alpha") * col("pass_stop") * col("pass_repeat")).cast("int"))
      .drop("toks", "nw", "tchars")
  }

  /** Query: the end-to-end curation FUNNEL — the composition a training-
    * data pipeline actually runs, each stage an operator this engine
    * already serves alone:
    *
    *   1. Gopher STRUCTURAL rules (word count / mean length / symbol /
    *      alpha / repetition — the stop-word rule is excluded here because
    *      the synthetic fixture's 31-word vocabulary carries only 'the',
    *      so the published ≥2-hits rule zeroes the corpus; a real
    *      deployment keeps it), the cheapest gate, run first;
    *   2. CCNet perplexity gate — keep the head+middle terciles. Docs the
    *      LM cannot score (fewer than two 2-15-char tokens — possible even
    *      past the word-count rule, whose 1-100-char token census is wider)
    *      PASS THROUGH unjudged: the perplexity gate only drops what it can
    *      score, explicitly, rather than silently losing no-nll rows to a
    *      semi join;
    *   3. near-dup keep-first over the corpus-wide MinHash cluster index
    *      (one keeper per cluster among the surviving members; docs
    *      outside any cluster survive as their own group).
    *
    * Output: one row per stage with in/out/dropped counts and the drop
    * rate — all integer arithmetic plus one exact division, bounded by the
    * stage count. Each stage is a filter/semi-join over the prior
    * survivors, so the funnel's scale shape is the max of its parts (the
    * LM scoring joins and the minhash index build), not their product.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationFunnelAt(spark, dir, thresholdFrac = 1.0)

  /** `thresholdFrac < 1.0` runs stage 2 on SAMPLED tercile cuts
    * (LmOps.pplBucketed's 100 TB posture — CCNet estimates its cutoffs
    * from a sample); the registered face stays the exact one, and the
    * sampled-vs-exact funnel agreement is spec-pinned.
    */
  def curationFunnelAt(spark: SparkSession, dir: String,
                       thresholdFrac: Double): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val flags = gopherRules(docs, "text")
    val s1 = graft.Caching.track(
      flags.filter(col("pass_wordcount") === 1 && col("pass_meanlen") === 1 &&
          col("pass_symbol") === 1 && col("pass_alpha") === 1 &&
          col("pass_repeat") === 1)
        .select("doc_id"))
    val s2 = graft.Caching.track(
      s1.join(graft.operators.LmOps.pplBucketed(spark, dir, thresholdFrac)
          .select("doc_id", "bucket"),
        Seq("doc_id"), "left")
        .filter(col("bucket").isNull || col("bucket") =!= "tail")
        .select("doc_id"))
    val labels = DedupOps.minhashLabels(spark, dir)
    val n3 = s2.join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("grp"))
      .distinct().count()
    val (n0, n1, n2) = (docs.count(), s1.count(), s2.count())
    import spark.implicits._
    Seq(
      ("1_gopher_struct", n0, n1),
      ("2_ppl_head_middle", n1, n2),
      ("3_neardup_keep_first", n2, n3))
      .toDF("stage", "n_in", "n_out")
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      // total under an empty stage (a tiny or heavily-gated corpus can
      // zero n_in; ANSI division would abort the whole report)
      .withColumn("drop_rate",
        when(col("n_in") === 0, lit(null).cast("double")).otherwise(
          round((col("n_in") - col("n_out")).cast("double") / col("n_in"), 4)))
      .orderBy("stage")
  }

  /** Query: the FULL production curation funnel — the five-stage
    * composition a pretraining pipeline actually ships, with per-stage
    * TOKEN accounting (the number a training-data owner budgets) beside
    * the doc counts. Input is the 95% train slice (the 5% hash slice is
    * the benchmark suite, as in `decontam_13gram`):
    *
    *   1. Gopher STRUCTURAL rules (same five rules as `curation_funnel`);
    *   2. benchmark DECONTAMINATION — drop survivors sharing any 13-gram
    *      with the eval slice (grams of survivors only are probed; the
    *      eval gram set broadcasts);
    *   3. CCNet perplexity gate — head+middle terciles from the
    *      registry-shared corpus scores; unscoreable survivors pass
    *      through (same explicit contract as `curation_funnel`);
    *   4. near-dup KEEP-BEST over the corpus-wide MinHash clusters — the
    *      QUALITY-selected keeper among surviving cluster members (ties
    *      to the smallest id), singletons keep themselves — the action a
    *      production funnel takes where `curation_funnel` keeps first;
    *   5. PII SCRUB of the kept set — a transform, not a filter (n_in =
    *      n_out by construction; the token recount over the scrubbed text
    *      is the redaction cost). Scrubbing runs LAST so no scrub compute
    *      is spent on dropped docs and the LM stage scores exactly the
    *      text the score registry scored.
    *
    * Tokens are the BPE-ish counter (`txt_token_budget`'s kernel), summed
    * over each stage's survivor set from ONE cached per-doc count frame.
    * Fixture artifacts, recorded not hidden: the 31-word vocabulary puts
    * 421 of 500 sf0.01 docs into ONE minhash cluster, so stage 4's drop
    * rate (~0.95) is the fixture's shape, not the operator's; the single
    * contaminated train doc doesn't survive Gopher, so stage 2 drops 0
    * here (the standalone `decontam_13gram` face shows the non-zero
    * pre-gate rate); and the corpus carries no natural PII, so stage 5's
    * token delta is zero — the stage is structurally exercised (the
    * scrubbed-text recount is oracle-checked). Scale shape: like `curation_funnel`, the funnel cost is
    * the max of its parts, and stages 3-4 ride the session registries
    * (LM scores, minhash labels).
    *
    * Cost discipline (r17, after the Gopher meanlen fix legitimately
    * widened stages 2-5 on the realistic twin): ONE full-text scan
    * computes every per-doc scalar the funnel reads (gopher flags +
    * BPE-ish token count + quality score, all independent codegen kernels
    * in a single cached projection — through r16 gopherRules,
    * qualityScoreCol and the token frame each re-tokenized the text), and
    * ONE action aggregates all five per-stage (docs, tokens) stats — the
    * survivor id-frames join the combined frame as membership flags and a
    * single aggregate reads them all (was five sequential collect jobs).
    * The remaining full-text passes are semantically distinct: the
    * decontam gram hashing (13-gram hash stream ≠ banded tokens) and the
    * PII scrub's regex rewrite + recount (over REPLACED text; the scrub's
    * email/url regexes are substring-gated — see `piiGate`). Per-stage
    * wall-time attribution: tools/FunnelProfile (committed table in
    * DEPLOY.md).
    */
  def curationFunnelFull(spark: SparkSession, dir: String): DataFrame = {
    val w = funnelWork(spark, dir)
    val (byStage, (_, t5)) = w.statsScrubAction()
    val Seq((n0, t0), (n1, t1), (n2, t2), (n3, t3), (n4, t4)) =
      (0 to 4).map(i => byStage(i.toString))
    import spark.implicits._
    Seq(
      ("1_gopher_struct", n0, n1, t0, t1),
      ("2_decontam_13gram", n1, n2, t1, t2),
      ("3_ppl_head_middle", n2, n3, t2, t3),
      ("4_neardup_keep_best", n3, n4, t3, t4),
      ("5_pii_scrub", n4, n4, t4, t5))
      .toDF("stage", "n_in", "n_out", "tokens_in", "tokens_out")
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      // total under an empty stage (a tiny or heavily-gated corpus can
      // zero n_in; ANSI division would abort the whole report)
      .withColumn("drop_rate",
        when(col("n_in") === 0, lit(null).cast("double")).otherwise(
          round((col("n_in") - col("n_out")).cast("double") / col("n_in"), 4)))
      .select("stage", "n_in", "n_out", "n_dropped", "drop_rate",
        "tokens_in", "tokens_out")
      .orderBy("stage")
  }

  /** The five-stage funnel's lazy plan, exposed for per-stage cost
    * attribution (tools/FunnelProfile forces `stages` one at a time with
    * timers; the face calls only the two actions). `stages` are the
    * TRACKED survivor id-frames s1..s4 in funnel order; `statsAction`
    * runs the single membership-flag aggregate returning stage-index →
    * (docs, tokens) for stages 0-4; `scrubAction` returns stage 5's
    * (docs, tokens) over the scrubbed text.
    */
  private[graft] final case class FunnelWork(
      combined: DataFrame,
      stages: Seq[(String, DataFrame)],
      statsScrubAction: () => (Map[String, (Long, Long)], (Long, Long)))

  private[graft] def funnelWork(spark: SparkSession, dir: String): FunnelWork = {
    // the three registry-backed gate inputs depend only on the corpus —
    // forked so their builds overlap (cold, in sequence, they measured
    // 1.7 s, 2.0 s and 0.8 s on a 4-core host)
    val Seq(evalGrams, bucketed, labels) = graft.Caching.forkJoin(Seq(
      () => corpusEvalGrams(spark, dir),
      () => graft.operators.LmOps.pplBucketed(spark, dir),
      () => DedupOps.minhashLabels(spark, dir)))
    val docs = Tables.documents(spark, dir)
    val bucket = SamplingOps.hashBucket(col("doc_id"), 10000)
    val evalDocs = docs.filter(bucket < 500)
    val train = docs.filter(bucket >= 500)
    // ONE full-text scan for every per-doc scalar the funnel reads: the
    // five gopher verdicts feeding stage 1, the BPE-ish token count the
    // stage stats sum, and the quality score keep-best ranks by. All are
    // independent codegen kernels, so they fuse into one whole-stage span
    // over one parquet read. (Quality was over ALL docs through r16;
    // keep-best only ever joins train-side survivor ids, so the train
    // restriction is value-identical.)
    val combined = graft.Caching.track(
      gopherRules(train, "text")
        .withColumn("tk", TextAnalysisOps.bpeishTokenCount(col("text")))
        .withColumn("q", TextAnalysisOps.qualityScoreCol(col("text")))
        .select("doc_id", "pass_wordcount", "pass_meanlen", "pass_symbol",
          "pass_alpha", "pass_repeat", "tk", "q"))
    val s1 = graft.Caching.track(
      combined.filter(col("pass_wordcount") === 1 && col("pass_meanlen") === 1 &&
          col("pass_symbol") === 1 && col("pass_alpha") === 1 &&
          col("pass_repeat") === 1)
        .select("doc_id"))
    val s1docs = train.join(s1, Seq("doc_id"), "left_semi")
    val s2 = graft.Caching.track(
      s1.join(contaminatedWithGrams(s1docs, evalGrams,
          "doc_id", "text", n = 13),
        Seq("doc_id"), "left_anti"))
    val s3 = graft.Caching.track(
      s2.join(bucketed.select("doc_id", "bucket"),
        Seq("doc_id"), "left")
        .filter(col("bucket").isNull || col("bucket") =!= "tail")
        .select("doc_id"))
    val grp = s3.join(labels,
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    val s4 = graft.Caching.track(
      DedupOps.keepBest(grp, combined.select(col("doc_id"), col("q")),
          "doc_id", "q")
        .select(col("keep_id").as("doc_id")))
    val stages = Seq("1" -> s1, "2" -> s2, "3" -> s3, "4" -> s4)
    def statsScrubAction(): (Map[String, (Long, Long)], (Long, Long)) = {
      // ONE action for EVERY number the funnel reports (r18; was two
      // sequential collect jobs). The two 1-row aggregates stay the
      // shapes that measured fastest on their own — the membership-flag
      // aggregate over the cached narrow `combined` frame (tiny broadcast
      // id-sets, no text anywhere near the exchange), and the scrub
      // recount over the train scan with a broadcast semi-join (the text
      // column never shuffles; a fused single-frame variant that joined
      // text through the flag frame measured +0.8 s on the realistic
      // twin) — and CROSS-JOIN into one row, so one action schedules
      // both subtrees' stages concurrently instead of paying two
      // back-to-back jobs.
      val withM = stages.foldLeft(combined.select(col("doc_id"), col("tk"))) {
        case (d, (tag, ids)) =>
          d.join(ids.select(col("doc_id"), lit(1).as(s"m$tag")),
            Seq("doc_id"), "left")
      }
      val aggs = Seq(
        count(lit(1)).cast("long").as("n0"), sum(col("tk")).as("t0")) ++
        stages.flatMap { case (tag, _) => Seq(
          sum(col(s"m$tag")).cast("long").as(s"n$tag"),
          sum(when(col(s"m$tag") === 1, col("tk"))).as(s"t$tag"))
        }
      val statsAgg = withM.agg(aggs.head, aggs.tail: _*)
      // recount only docs the scrub actually REWROTE: an unchanged text's
      // BPE-ish count is the already-computed `tk` (string equality is one
      // linear compare vs a full re-tokenize; on the twin most survivors
      // carry no PII span)
      val scrubAgg = scrubPii(train.join(s4, Seq("doc_id"), "left_semi"), "text")
        .join(combined.select(col("doc_id"), col("tk")), "doc_id")
        .agg(count(lit(1)).as("n5"), sum(
          when(col("scrubbed") === col("text"), col("tk"))
            .otherwise(TextAnalysisOps.bpeishTokenCount(col("scrubbed"))))
          .as("t5"))
      val r = statsAgg.crossJoin(scrubAgg).collect()(0)
      val byStage = (0 to 4).map { i =>
        val (ni, ti) = (2 * i, 2 * i + 1)
        i.toString -> (
          (if (r.isNullAt(ni)) 0L else r.getLong(ni)),
          (if (r.isNullAt(ti)) 0L else r.getLong(ti)))
      }.toMap
      // row layout: (n0, t0) + four stage pairs = 0-9; then n5, t5
      (byStage,
        (r.getLong(10), if (r.isNullAt(11)) 0L else r.getLong(11)))
    }
    FunnelWork(combined, stages, statsScrubAction _)
  }

  /** Query: cross-gate AGREEMENT diagnostic — per (lang, perplexity
    * tercile): how many docs the Gopher structural rules pass, and the
    * mean heuristic quality score. The question it answers is whether the
    * gates are redundant (they agree: drop one) or complementary (they
    * catch different failure modes: keep the chain). Quality scores are
    * exact quarters (sums exact in binary), counts are integers, so the
    * only rounded float is the mean NLL — the same 4-dp house guard as
    * the bucket face. Output bounded by |langs| × 3.
    */
  def gateAgreementQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE full-text scan for both per-doc scalars (struct verdict + quality
    // score): both are independent codegen kernels over the same text, so
    // they fuse into one whole-stage span over one parquet read — the
    // funnelWork `combined` pattern (guide §1.2 step 1; through this change
    // the face scanned the corpus twice and paid a second join to zip the
    // columns back together).
    val flags = gopherRules(docs, "text").select(col("doc_id"),
      (col("pass_wordcount") * col("pass_meanlen") * col("pass_symbol") *
        col("pass_alpha") * col("pass_repeat")).as("pass_struct"),
      TextAnalysisOps.qualityScoreCol(col("text")).as("q"))
    graft.operators.LmOps.pplBucketed(spark, dir)
      .join(flags, "doc_id")
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass_struct")).cast("long").as("n_gopher_pass"),
        round(avg(col("q")), 4).as("avg_quality"),
        round(avg(col("nll")), 4).as("avg_nll"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Query: the Gopher rule-set audit per source — doc counts, per-rule
    * FAIL counts, and survivors. Every rule is integer/single-division
    * arithmetic (no float sums anywhere), so the face is deterministic to
    * the bit on both engines; output bounded by |sources|.
    */
  def gopherRulesProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    gopherRules(docs, "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("pass_wordcount")).as("fail_wordcount"),
        sum(lit(1L) - col("pass_meanlen")).as("fail_meanlen"),
        sum(lit(1L) - col("pass_symbol")).as("fail_symbol"),
        sum(lit(1L) - col("pass_alpha")).as("fail_alpha"),
        sum(lit(1L) - col("pass_stop")).as("fail_stop"),
        sum(lit(1L) - col("pass_repeat")).as("fail_repeat"),
        sum(col("pass_all").cast("long")).as("n_pass"))
      .orderBy("source")
  }
}
