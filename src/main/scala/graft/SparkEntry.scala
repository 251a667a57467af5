package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry; those
  * expressible in ANSI SQL also carry a DuckDB `oracleSql` entry (the driver
  * hash-compares rows). Column names/aliases are kept identical between the
  * Spark plan and the oracle SQL, and floating-point aggregates are rounded
  * inside the query so summation order can't flip the comparison.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (reference EP1 word-frequency top-N). */
  def entry(spark: SparkSession): DataFrame =
    WordFreqOps.topWordsQuery(spark, "/root/testdata/sf0.001")

  /** The local session every main runs on. `SPARK_GRAFT_CPUS` sets the
    * cores (default: every available processor) and shuffle partitions
    * equal them; `SPARK_GRAFT_MASTER` overrides the `local[cores]` master.
    * The session time zone is pinned to UTC: the NTZ→LTZ relabel in
    * `Tables` preserves wall-clock time only under UTC.
    */
  def localSession(logLevel: String = "WARN"): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  // Shared SQL fragments, kept in one place so Spark + oracle stay in sync.
  /** DuckDB rendering of TextFunctions.normalized. */
  private val NORM =
    "trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9가-힣]+', ' ', 'g'))"
  /** DuckDB rendering of TextFunctions.tokens(text, 2, 15). */
  private val TOKS =
    s"list_filter(string_split($NORM, ' '), t -> length(t) BETWEEN 2 AND 15)"
  /** DuckDB rendering of TextFunctions.tokens(text, 1, 100). */
  private val TOKS_ALL =
    s"list_filter(string_split($NORM, ' '), t -> length(t) BETWEEN 1 AND 100)"
  /** DuckDB rendering of TextAnalysisOps.bpeishTokenCount over an arbitrary
    * string expression. */
  private def bpeCountOf(c: String): String =
    s"""CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(
       |        regexp_extract_all(lower(coalesce($c, '')),
       |          '[0-9]+|[a-z]+|[가-힣]+|[^a-z0-9가-힣\\s]+'),
       |        r -> CAST(ceil(length(r) / 8.0) AS BIGINT)))) AS BIGINT)""".stripMargin
  /** DuckDB rendering of TextAnalysisOps.bpeishTokenCount(text). */
  private val BPE_COUNT = bpeCountOf("text")
  /** DuckDB rendering of SamplingOps.hashBucket(id, 10000). */
  private def sampleBucket(id: String): String =
    s"(($id % $MOD) * 8191 + 524287) % $MOD % 10000"
  /** DuckDB rendering of TextAnalysisOps.qualityScoreCol over columns named
    * text / norm / toks (norm = NORM, toks = TOKS_ALL of the same text). */
  private def qualityCaseSql: String =
    s"""(CASE WHEN len(toks) >= 5 AND len(toks) <= 1000 THEN 0.25 ELSE 0.0 END
       |   + CASE WHEN len(toks) > 0
       |          AND length(replace(norm,' ','')) * 1.0 / len(toks) >= 2.0
       |          AND length(replace(norm,' ','')) * 1.0 / len(toks) <= 12.0
       |          THEN 0.25 ELSE 0.0 END
       |   + CASE WHEN len(toks) > 0
       |          AND len(list_filter(toks, t -> t IN ${inList(TextAnalysisOps.allMarkers)})) * 1.0 / len(toks) >= 0.01
       |          THEN 0.25 ELSE 0.0 END
       |   + CASE WHEN length(coalesce(text,'')) > 0
       |          AND length(regexp_replace(coalesce(text,''), '[^a-zA-Z0-9가-힣]', '', 'g')) * 1.0
       |              / length(coalesce(text,'')) >= 0.6
       |          THEN 0.25 ELSE 0.0 END)""".stripMargin
  /** DuckDB rendering of TextAnalysisOps.dupFrac(tokenBigrams(toks)) over a
    * column named toks. */
  private def dupBigramSql: String =
    """(CASE WHEN len(toks) >= 2 THEN
      |   1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
      |           i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]))) AS DOUBLE)
      |       / CAST(len(toks) - 1 AS DOUBLE)
      | ELSE 0.0 END)""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB rendering of the Gopher symbol rule over columns named text /
    * toks — one 0.1 cap PER symbol family (hash, ellipsis), as published
    * (mirrors CurationOps.gopherRules.pass_symbol). */
  private val symbolRuleSql: String =
    s"len(regexp_extract_all(text, '#')) * 1.0 / len(toks)" +
      s" <= ${CurationOps.GopherMaxSymbolRatio}" +
      s" AND len(regexp_extract_all(text, '[.]{3}|…')) * 1.0 / len(toks)" +
      s" <= ${CurationOps.GopherMaxSymbolRatio}"

  /** Oracle for the decontamination audits — shared by `decontam_13gram`
    * and `decontam_bloom` (the bloom prefilter has no false negatives and
    * survivors are exact-verified, so the faces are provably equal).
    */
  private lazy val decontamSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang, ${sampleBucket("doc_id")} AS b,
       |    ${windowHashSql(tokenHashes(TOKS), 13)} AS grams
       |  FROM documents),
       |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE b < 500),
       |tr AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g WHERE b >= 500),
       |hit AS (SELECT DISTINCT tr.doc_id, tr.lang FROM tr JOIN ev USING (gram)),
       |f AS (SELECT lang, count(*) AS n_contaminated FROM hit GROUP BY 1),
       |t AS (SELECT lang, count(*) AS n_train FROM g WHERE b >= 500 GROUP BY 1)
       |SELECT t.lang, n_train,
       |  coalesce(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
       |  round(coalesce(n_contaminated, CAST(0 AS BIGINT)) / n_train, 4)
       |    AS contam_rate
       |FROM t LEFT JOIN f ON t.lang = f.lang ORDER BY 1""".stripMargin

  /** Shared CTE block: per-doc self-scored NLL under the corpus' own
    * bigram model plus per-lang exact tercile cuts (CTEs tk → thr; mirrors
    * LmOps.selfScoredNll + pplBucketed's threshold pass) — embedded by the
    * `curation_funnel`, `curation_funnel_full`, and
    * `quality_gate_agreement` oracles so the three faces share one text.
    */
  private lazy val nllThrCtes: String =
    s"""tk AS MATERIALIZED (
       |  SELECT doc_id, lang, $TOKS AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
       |    split_part(pair, ' ', 2) AS w2
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(t)),
       |                                i -> t[i] || ' ' || t[i + 1])) AS pair
       |        FROM tk WHERE len(t) >= 2)),
       |counts AS (
       |  SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
       |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
       |vocab AS (
       |  SELECT lang, count(DISTINCT word) AS v
       |  FROM (SELECT lang, unnest($TOKS) AS word FROM documents)
       |  GROUP BY 1),
       |logp AS (
       |  SELECT c.lang, c.w1, c.w2,
       |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
       |  FROM counts c
       |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
       |  JOIN vocab v ON c.lang = v.lang),
       |inst AS (
       |  SELECT doc_id, lang, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3, 4),
       |nll AS (
       |  SELECT i.doc_id, i.lang,
       |    round(-sum(l.logp * i.n) / sum(i.n), 6) AS nll
       |  FROM inst i
       |  JOIN logp l ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
       |  GROUP BY 1, 2),
       |hist AS (SELECT lang, nll, count(*) AS hn FROM nll GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, nll,
       |    sum(hn) OVER (PARTITION BY lang ORDER BY nll) AS cum,
       |    sum(hn) OVER (PARTITION BY lang) AS nk
       |  FROM hist),
       |thr AS (
       |  SELECT lang,
       |    min(CASE WHEN cum >= (nk + 2) // 3 THEN nll END) AS t1,
       |    min(CASE WHEN cum >= (2 * nk + 2) // 3 THEN nll END) AS t2
       |  FROM cum GROUP BY 1)""".stripMargin

  /** Shared CTE block: corpus-wide MinHash cluster labels (CTEs sigs →
    * l&lt;ClusterRounds&gt;; mirrors DedupOps.minhashLabels) — embedded by
    * the two funnel oracles.
    */
  private lazy val minhashLabelCtes: String =
    s"""cpc AS MATERIALIZED (
       |  SELECT doc_id, ${cps(NORM)} AS cp FROM documents),
       |shc AS MATERIALIZED (
       |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM cpc),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
       |  FROM shc WHERE len(sh) > 0),
       |withbands AS MATERIALIZED (
       |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM sigs),
       |b AS MATERIALIZED (
       |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
       |  FROM withbands, range(0, 8) t(j)),
       |${propagationCtes(DedupOps.ClusterRounds)}""".stripMargin

  /** Shared CTE block for the ingest-gate oracles (cut → arrivals →
    * structural flags → stored-index bands → frozen-LM backoff scoring →
    * per-arrival nll) — embedded by `stream_ingest_gate` (three-gate) and
    * `stream_ingest_full` (five-gate) so the two faces share one text.
    */
  private lazy val ingestGateCtes: String =
    s"""cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |ar AS MATERIALIZED (
         |  SELECT doc_id, lang, coalesce(text, '') AS text, $NORM AS norm,
         |    $TOKS_ALL AS toks
         |  FROM documents, cut WHERE doc_id > cut),
         |sf AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN len(toks) >= ${CurationOps.GopherMinWords}
         |      AND len(toks) <= ${CurationOps.GopherMaxWords}
         |      AND len(toks) > 0
         |      AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |          >= ${CurationOps.GopherMinMeanLen}
         |      AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |          <= ${CurationOps.GopherMaxMeanLen}
         |      AND $symbolRuleSql
         |      AND len(list_filter(toks,
         |            t -> regexp_matches(t, '[a-z가-힣]'))) * 1.0
         |          / len(toks) >= ${CurationOps.GopherMinAlphaFrac}
         |      AND $dupBigramSql <= ${CurationOps.GopherMaxDupBigram}
         |    THEN 1 ELSE 0 END AS pass_struct
         |  FROM ar),
         |icpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp
         |  FROM documents, cut WHERE doc_id <= cut),
         |ishc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM icpc),
         |isigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM ishc WHERE len(sh) > 0),
         |iwb AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM isigs),
         |ib AS MATERIALIZED (
         |  SELECT DISTINCT j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM iwb, range(0, 8) t(j)),
         |ncpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp
         |  FROM documents, cut WHERE doc_id > cut),
         |nshc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM ncpc),
         |nsigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM nshc WHERE len(sh) > 0),
         |nwb AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM nsigs),
         |nb AS (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM nwb, range(0, 8) t(j)),
         |dup AS (SELECT DISTINCT doc_id FROM nb JOIN ib USING (band, band_hash)),
         |trt AS MATERIALIZED (
         |  SELECT lang, $TOKS AS t FROM documents, cut WHERE doc_id <= cut),
         |tet AS MATERIALIZED (
         |  SELECT doc_id, lang, $TOKS AS t
         |  FROM documents, cut WHERE doc_id > cut),
         |trbg AS (
         |  SELECT lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM trt WHERE len(t) >= 2)),
         |tebg AS (
         |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT doc_id, lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM tet WHERE len(t) >= 2)),
         |counts AS (
         |  SELECT lang, w1, w2, count(*) AS c12 FROM trbg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
         |vocab AS (
         |  SELECT lang, count(DISTINCT word) AS v
         |  FROM (SELECT lang, unnest($TOKS) AS word
         |        FROM documents, cut WHERE doc_id <= cut) GROUP BY 1),
         |logp AS (
         |  SELECT c.lang, c.w1, c.w2,
         |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
         |  FROM counts c
         |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
         |  JOIN vocab v ON c.lang = v.lang),
         |miss AS (
         |  SELECT x.lang, x.w1, ln(0.5 / (x.cx + 0.5 * v.v)) AS logp
         |  FROM ctx x JOIN vocab v ON x.lang = v.lang),
         |flr AS (SELECT lang, min(logp) AS floor_lp FROM miss GROUP BY 1),
         |inst AS (
         |  SELECT doc_id, lang, w1, w2, count(*) AS n
         |  FROM tebg GROUP BY 1, 2, 3, 4),
         |scoredrows AS (
         |  SELECT i.doc_id, i.n,
         |    coalesce(l.logp, m.logp, f.floor_lp) AS logp
         |  FROM inst i
         |  LEFT JOIN logp l
         |    ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
         |  LEFT JOIN miss m ON i.lang = m.lang AND i.w1 = m.w1
         |  JOIN flr f ON i.lang = f.lang),
         |nll AS (
         |  SELECT doc_id, round(-sum(logp * n) / sum(n), 6) AS nll
         |  FROM scoredrows GROUP BY 1)""".stripMargin

  /** Oracle for the HLL cardinality queries — shared by `txt_hll_distinct`
    * and `hll_incremental` (registers max-merge losslessly, so the
    * incremental face equals the whole-corpus sketch). The rank is integer
    * compares against shifted constants and the harmonic sum folds as
    * Σ 2^(21-r) (an integer); the only float ops are one fixed literal
    * expression, so both engines land the same double.
    */
  private lazy val hllDistinctSql: String =
    s"""WITH toks AS (SELECT unnest($TOKS) AS word FROM documents),
       |h AS (SELECT ${polyFold(cps("word"))} AS h FROM toks),
       |g AS (SELECT (((h * h) % $MOD) * 8191 + h * 524287 + 12289) % $MOD AS g
       |      FROM h),
       |rk AS (
       |  SELECT g % 1024 AS bucket,
       |    1 + len(list_filter(range(0, 20),
       |          j -> (g // 1024) < (CAST(1 AS BIGINT) << j))) AS rank
       |  FROM g),
       |regs AS (SELECT bucket, max(rank) AS r FROM rk GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS occupied,
       |    CAST(sum(CAST(1 AS BIGINT) << (21 - r)) AS BIGINT) AS s_present
       |  FROM regs),
       |ex AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_exact FROM toks),
       |sel AS (
       |  SELECT n_exact, occupied, (1024 - occupied) AS zeros,
       |    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 2097152.0 /
       |      (coalesce(s_present, 0) + (1024 - occupied) * 2097152) *
       |      (1000000007.0 / 1073741824.0) AS raw
       |  FROM ex, st)
       |SELECT n_exact, occupied,
       |  round(CASE WHEN raw <= 2560.0 AND zeros > 0
       |             THEN 1024.0 * ln(1024.0 / zeros) ELSE raw END, 4) AS est
       |FROM sel""".stripMargin

  // CurationOps.PiiPatterns rendered for DuckDB (single-quoted SQL strings
  // pass the regex through verbatim; the patterns are RE2-safe by contract)
  private val PII_EMAIL = CurationOps.PiiPatterns(0)._2
  private val PII_URL = CurationOps.PiiPatterns(1)._2
  private val PII_PHONE = CurationOps.PiiPatterns(2)._2

  // --- DuckDB renderings of the HashKernels dedup primitives (bit-exact
  //     mirrors of graft.functions.HashKernels; see DedupSpec cross-check) ---
  private val MOD = "1000000007"
  /** Code points of a string expression (spaces included). */
  private def cps(s: String): String =
    s"list_transform(list_filter(string_split($s, ''), c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))"
  /** Seed-7 31-ary polynomial fold of a BIGINT list expression. */
  private def polyFold(l: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), $l), (acc, x) -> (acc * 31 + x) % $MOD)"
  /** Distinct polynomial hashes of all length-n windows of a BIGINT-list
    * expression (mirror of HashKernels.windowHashSet / shingleHashSet). */
  private def windowHashSql(l: String, n: Int): String =
    s"""CASE WHEN len($l) < $n THEN []
       |     ELSE list_distinct(list_transform(range(0, len($l) - ${n - 1}),
       |            i -> ${polyFold(s"list_slice($l, i + 1, i + $n)")})) END"""
      .stripMargin
  /** POSITIONAL polynomial hashes of all length-n windows (mirror of
    * HashKernels.windowHashList — windowHashSql without the distinct, so
    * list index = span start offset). */
  private def windowHashListSql(l: String, n: Int): String =
    s"""CASE WHEN len($l) < $n THEN []
       |     ELSE list_transform(range(0, len($l) - ${n - 1}),
       |            i -> ${polyFold(s"list_slice($l, i + 1, i + $n)")}) END"""
      .stripMargin
  /** MinHash signature (k=32) of a hash-list expression. */
  private def minhashSigSql(sh: String): String =
    s"""list_transform(range(1, 33), i ->
       |  coalesce(list_min(list_transform($sh, h -> (8191*i*h + 524287*i) % $MOD)), $MOD))"""
      .stripMargin
  /** LSH band hashes (8 bands × 4 rows) of a signature expression. */
  private def lshBandsSql(sig: String): String =
    s"list_transform(range(0, 8), j -> ${polyFold(s"list_slice($sig, j*4 + 1, j*4 + 4)")})"
  /** Rolling hash of each token of a string-list expression. */
  private def tokenHashes(toks: String): String =
    s"list_transform($toks, t -> ${polyFold(cps("t"))})"
  /** 60-bit SimHash of a BIGINT hash-list expression (mirror of
    * HashKernels.simhashBits: per-bit affine-rehash PARITY votes — token
    * hashes live below 2^30, so raw high bits carry no signal).
    */
  private def simhashSql(hs: String): String =
    s"""CAST(list_sum(list_transform(range(0, 60), b ->
       |  CASE WHEN list_sum(list_transform($hs, h ->
       |         CASE WHEN ((8191*(b+1)*h + 524287*(b+1)) % $MOD) % 2 = 1 THEN 1 ELSE -1 END)) > 0
       |       THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT)"""
      .stripMargin
  /** Exact left-fold dot product of two DOUBLE-list expressions (same
    * summation order as VectorFunctions.dot → bit-identical doubles). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"
  /** Unit-vector CTE body over embeddings (mirror of HashKernels.unitVector). */
  private val UNIT_CTE =
    s"""e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id, label,
       |    CASE WHEN sqrt(${dotSql("v", "v")}) = 0.0
       |         THEN list_transform(v, x -> 0.0)
       |         ELSE list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) END AS nv
       |  FROM e)""".stripMargin
  /** Per-subspace query slices over the `q` CTE (query_id, qv) — the
    * PqOps.pqFit split: each of the PqM subspaces is len(qv) / PqM wide.
    */
  private val PQ_QSUB_CTE =
    s"""qs AS (SELECT query_id, t.m AS m,
       |         list_slice(qv, t.m * (len(qv) // ${PqOps.PqM}) + 1,
       |                    (t.m + 1) * (len(qv) // ${PqOps.PqM})) AS qsub
       |       FROM q, range(0, ${PqOps.PqM}) t(m))""".stripMargin
  /** 256-bin 8-byte-window rolling-hash signature CTE chain (mirror of
    * MediaOps.StubCodec.signature over the UTF-8 bytes of `textExpr`):
    * float-width counts and division (REAL casts), double mean-center then
    * unit-normalize — yields `${p}u` with (doc_id, nv). Bin hash is the
    * seed-7 base-31 fold of each SignatureGram-byte window mod P, mod 256.
    */
  private def sigCtes(p: String, textExpr: String,
                      src: String = "documents"): String =
    s"""${p}v AS (SELECT doc_id, hex(encode($textExpr)) AS hx FROM $src),
       |${p}b AS (SELECT doc_id, length(hx)//2 AS nbytes,
       |  list_transform(range(0, length(hx)//2), i ->
       |    CAST((strpos('0123456789ABCDEF', substring(hx, CAST(2*i+1 AS INT),1))-1)*16
       |      + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i+2 AS INT),1))-1) AS BIGINT)) AS bytes
       |  FROM ${p}v),
       |${p}g AS (SELECT doc_id,
       |  nbytes - ${graft.multimodal.MediaOps.SignatureGram - 1} AS n4,
       |  list_transform(range(0, nbytes - ${graft.multimodal.MediaOps.SignatureGram - 1}), i ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_slice(bytes, CAST(i+1 AS INT),
       |        CAST(i+${graft.multimodal.MediaOps.SignatureGram} AS INT))),
       |      (a,x) -> (a*31+x) % $MOD) % ${graft.multimodal.MediaOps.SignatureDim}) AS binl
       |  FROM ${p}b WHERE nbytes >= ${graft.multimodal.MediaOps.SignatureGram}),
       |${p}c AS (SELECT doc_id, n4, bin, count(*) AS cnt
       |  FROM (SELECT doc_id, n4, unnest(binl) AS bin FROM ${p}g) GROUP BY 1,2,3),
       |${p}m AS (SELECT doc_id,
       |  map(list(bin ORDER BY bin),
       |      list(CAST(CAST(cnt AS REAL)/CAST(n4 AS REAL) AS DOUBLE) ORDER BY bin)) AS mp
       |  FROM ${p}c GROUP BY doc_id),
       |${p}h AS (SELECT doc_id, list_transform(range(0, ${graft.multimodal.MediaOps.SignatureDim}), k ->
       |    coalesce(map_extract(mp, k)[1], 0.0)) AS f FROM ${p}m),
       |${p}z AS (SELECT doc_id,
       |  list_transform(f, x -> x
       |    - list_reduce(list_prepend(0.0, f), (a, x2) -> a + x2)
       |      / ${graft.multimodal.MediaOps.SignatureDim}) AS f
       |  FROM ${p}h),
       |${p}u AS (SELECT doc_id,
       |  CASE WHEN sqrt(${dotSql("f", "f")}) = 0.0 THEN list_transform(f, x -> 0.0)
       |       ELSE list_transform(f, x -> x / sqrt(${dotSql("f", "f")})) END AS nv
       |  FROM ${p}z)""".stripMargin

  /** Mirror of HashKernels.planeProject: out[o] = nv · plane_{seed+o},
    * 3-round LCG planes, d 1-based inside the fold.
    */
  private def projSql(nv: String, outDim: Int, inDim: Int, seed: Int): String =
    s"""list_transform(range(0, $outDim), o ->
       |  list_reduce(list_prepend(0.0, list_transform(range(1, ${inDim + 1}), d ->
       |    $nv[CAST(d AS INT)]
       |      * (CAST((48271*((48271*((48271*(($seed + o)*131 + d) + 524287) % $MOD) + 524287) % $MOD) + 524287) % $MOD AS DOUBLE)
       |         - 500000003.0))), (acc, x) -> acc + x))""".stripMargin

  /** The dedup_embed_clusters oracle body, shared verbatim with the
    * realistic twin (dedup_embed_real) so the two faces can never drift
    * semantically. The band width counts whichever `embeddings` the body
    * reads, so the twin (whose cardinality differs at sf0.1) gets its own.
    */
  private def embedClustersOracleBody: String =
    s"""WITH $UNIT_CTE,
       |sk AS (SELECT vec_id, nv,
       |  ${bandsSql("nv", SimilarityOps.DedupBands, "bits")} AS bands
       |  FROM u, (SELECT ${bandBitsSql("count(*)")} AS bits FROM embeddings)),
       |bb AS (${bandRowsSql(SimilarityOps.DedupBands)}),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
       |  FROM bb a JOIN bb b2
       |    ON a.band = b2.band AND a.band_val = b2.band_val
       |   AND a.vec_id < b2.vec_id),
       |edges AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT vec_a, vec_b, ${dotSql("sa.nv", "sb.nv")} AS cos
       |    FROM cands
       |    JOIN sk sa ON sa.vec_id = vec_a
       |    JOIN sk sb ON sb.vec_id = vec_b)
       |  WHERE cos >= 0.4),
       |b AS MATERIALIZED (
       |  SELECT vec_a AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges
       |  UNION ALL
       |  SELECT vec_b AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges),
       |${propagationCtes(DedupOps.ClusterRounds)}
       |SELECT label AS cluster_rep, count(*) AS n_vecs,
       |  max(doc_id) AS max_vec_id
       |FROM l${DedupOps.ClusterRounds} GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** Shared RAG chunk-corpus CTE preamble (chunks → chunksf → the rc
    * signature chain ending in `rcu` = (doc_id packed as chunk id, nv)):
    * char windows re-derived with pure arithmetic, ids packed as
    * doc_id·RagMaxChunks + chunk_no, window count capped with least() so
    * the packing can never collide (the id-space guard — matches
    * chunkFrame exactly), and the ≥ SignatureGram-chars filter keeps the
    * codec's zero-vector edge and the gram CTE's dropped-row edge
    * identical on both engines. One definition for all four RAG faces so
    * the chunk geometry cannot drift between them.
    */
  private def ragChunkCtes: String =
    s"""chunks AS (
       |  SELECT doc_id * ${RetrievalOps.RagMaxChunks} + k AS doc_id,
       |    substring(text, CAST(k * ${RetrievalOps.RagChunkChars} + 1 AS INT),
       |      ${RetrievalOps.RagChunkChars}) AS text
       |  FROM (SELECT doc_id, text,
       |          unnest(range(0, least(CAST(ceil(length(text)
       |            / ${RetrievalOps.RagChunkChars}.0) AS INT),
       |            ${RetrievalOps.RagMaxChunks}))) AS k
       |        FROM documents WHERE length(coalesce(text, '')) > 0)),
       |chunksf AS (SELECT * FROM chunks
       |  WHERE length(text) >= ${graft.multimodal.MediaOps.SignatureGram}),
       |${sigCtes("rc", "text", "chunksf")}""".stripMargin

  /** The sim_ivf_balanced oracle body, parameterized by the Artifacts
    * namespace ("" = base corpus, "real/" = the realistic twin): each
    * flavor reads ITS OWN persisted ivf_bal_* artifacts (namespaced saves
    * land under `real/...`, and Artifacts.ref resolves the prefixed name
    * at render time). The operating point is data-dependent (the split
    * count), so `cfg` derives it from the exported centroid table: the
    * list count is its row count and nProbe scales with it exactly as
    * SimilarityOps.balancedWorlds does. Everything else is shared
    * verbatim so the two faces can never drift semantically.
    */
  private def ivfBalancedOracleBody(ns: String): String =
    s"""WITH $UNIT_CTE,
       |cfg AS (
       |  SELECT CAST(n AS VARCHAR) || '/' || CAST(np AS VARCHAR) AS index_cfg, np
       |  FROM (SELECT count(*) AS n, greatest(1, CAST(round(
       |          ${SimilarityOps.IvfProbe} * count(*) / ${SimilarityOps.IvfLists}) AS BIGINT)) AS np
       |        FROM ${Artifacts.ref(s"${ns}ivf_bal_centroids")})),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    ${dotSql("q.nv", "c.nv")} AS cos
       |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5),
       |br AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |    FROM s)
       |  WHERE rk <= 10),
       |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, qv, list,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
       |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
       |        FROM q, ${Artifacts.ref(s"${ns}ivf_bal_centroids")} c)),
       |s2 AS (
       |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
       |  FROM pr JOIN ${Artifacts.ref(s"${ns}ivf_bal_assign")} ix USING (list)
       |  JOIN u cu ON cu.vec_id = ix.vec_id
       |  WHERE prk <= (SELECT np FROM cfg) AND query_id <> ix.vec_id),
       |an AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |    FROM s2)
       |  WHERE rk <= 10),
       |res AS (
       |  SELECT count(*) AS n_residual FROM (
       |    SELECT list, count(*) AS sz
       |    FROM ${Artifacts.ref(s"${ns}ivf_bal_assign")} GROUP BY 1)
       |  WHERE sz > CAST(ceil(2.0 * greatest(1.0,
       |    (SELECT count(*) FROM u) / ${SimilarityOps.IvfLists}.0)) AS BIGINT))
       |SELECT br.query_id, count(*) AS n_brute,
       |  CAST(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  round(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall,
       |  cfg.index_cfg, res.n_residual
       |FROM br LEFT JOIN an
       |  ON br.query_id = an.query_id AND br.vec_id = an.vec_id
       |CROSS JOIN res CROSS JOIN cfg
       |GROUP BY 1, res.n_residual, cfg.index_cfg""".stripMargin

  /** RealisticCorpus.realisticize plus a realistic `embeddings` CTE: the
    * sigCtes chain over the realistic documents up to its centered
    * (pre-normalize) stage — the exact SQL mirror of the hash-projected
    * embedding table RealisticCorpus.ensure materializes for the twin.
    */
  private def realisticizeEmbeddings(oracle: String): String = {
    require(oracle.startsWith("WITH "),
      "realisticizeEmbeddings expects a WITH-prefixed oracle")
    s"WITH documents AS MATERIALIZED (\n${RealisticCorpus.cteSql}),\n" +
      s"${sigCtes("remb", "text")},\n" +
      s"""embeddings AS MATERIALIZED (
         |  SELECT doc_id AS vec_id, f AS embedding,
         |    CAST(doc_id % 3 AS INT) AS label
         |  FROM rembz),
         |""".stripMargin +
      oracle.stripPrefix("WITH ")
  }

  /** Shared sliding-window coherence CTE chain (the SQL form of the window
    * counts TopicMetricsOps.coCounts returns) for window size w:
    * yields tw / tot / pw / pij / pairs CTEs over the global top-10 words. */
  private def coherenceCtes(w: Int): String = {
    val k = w - 1
    s"""freq AS (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest($TOKS) AS word FROM documents) GROUP BY 1),
       |tw AS (
       |  SELECT word, CAST(rank AS INT) AS rank FROM (
       |    SELECT word, row_number() OVER (ORDER BY freq DESC, word) AS rank
       |    FROM freq) WHERE rank <= 10),
       |toks AS (
       |  SELECT doc_id, toks FROM (SELECT doc_id, $TOKS AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |tot AS (
       |  SELECT CAST(sum(greatest(len(toks) - $k, 1)) AS BIGINT) AS n_windows
       |  FROM toks),
       |hits AS (
       |  SELECT h.doc_id, h.t, h.word, h.p, tw.rank
       |  FROM (SELECT doc_id, len(toks) AS t, unnest(toks) AS word,
       |          generate_subscripts(toks, 1) AS p
       |        FROM toks) h JOIN tw USING (word)),
       |presence AS (
       |  SELECT DISTINCT doc_id, word, rank,
       |    unnest(range(greatest(1, p - $k),
       |                 least(p, greatest(t - $k, 1)) + 1)) AS ws
       |  FROM hits),
       |pw AS (SELECT word, rank, count(*) AS cw FROM presence GROUP BY 1, 2),
       |pij AS (
       |  SELECT a.word AS wi, b.word AS wj, count(*) AS cij
       |  FROM presence a JOIN presence b
       |    ON a.doc_id = b.doc_id AND a.ws = b.ws AND a.rank > b.rank
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i.word AS wi, j.word AS wj FROM tw i, tw j WHERE i.rank > j.rank),
       |probs AS (
       |  SELECT wi, wj,
       |    coalesce(cij, 0) * 1.0 / n_windows AS pij,
       |    ci * 1.0 / n_windows AS pi, cj * 1.0 / n_windows AS pj
       |  FROM pairs
       |  LEFT JOIN pij USING (wi, wj)
       |  JOIN (SELECT word AS wi, cw AS ci FROM pw) USING (wi)
       |  JOIN (SELECT word AS wj, cw AS cj FROM pw) USING (wj), tot)""".stripMargin
  }

  /** Banded 3-round-LCG hyperplane sketch (mirror of
    * HashKernels.planeBands): band j packs `bits` sign bits of
    * v · plane_{j·bits+i}, planes from f³(p·131 + d) with
    * f(x) = (48271·x + 524287) mod P, centered at (P−1)/2. `bits` is an
    * SQL expression: a literal, or a column of the row (the lambdas read
    * it from the enclosing row).
    */
  private def bandsSql(nv: String, bands: Int, bits: String): String =
    s"""list_transform(range(0, $bands), j ->
       |  CAST(list_sum(list_transform(range(0, $bits), i ->
       |    CASE WHEN list_reduce(list_prepend(0.0,
       |           list_transform(range(1, len($nv) + 1), d ->
       |             $nv[CAST(d AS INT)]
       |               * (CAST((48271*((48271*((48271*((j*$bits + i)*131 + d) + 524287) % $MOD) + 524287) % $MOD) + 524287) % $MOD AS DOUBLE)
       |                  - 500000003.0))),
       |           (acc, x) -> acc + x) > 0
       |         THEN CAST(power(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT))""".stripMargin

  /** SimilarityOps.dedupBandBits as an SQL expression over the row count
    * `n`: the smallest width with 2^bits ≥ DedupBands·n/10, clamped to
    * [10, 30], in the same double arithmetic (valid in DuckDB and Spark
    * SQL alike).
    */
  private[graft] def bandBitsSql(n: String): String =
    s"least(30, greatest(10, CAST(ceil(ln(greatest(1.0, " +
      s"${SimilarityOps.DedupBands} * CAST($n AS DOUBLE) / 10)) / ln(2.0)) AS INT)))"

  /** Bucket-min label-propagation CTE chain over bucket table `b`
    * (doc_id, band, band_hash): l0 = identity labels, then `rounds` rounds
    * of bucket-min → member-min → pointer-jump (label ← label(label)) —
    * the unroll of DedupOps.propagateLabels. Rounds past the fixed point
    * are no-ops, so Spark's early-stop and this full unroll agree by
    * construction.
    */
  private def propagationCtes(rounds: Int): String =
    // MATERIALIZED: b and each p_i are referenced more than once per round;
    // inlining would double the plan tree every round (exponential scans —
    // DuckDB ran out of file handles on the 12-round unroll)
    "l0 AS MATERIALIZED (SELECT DISTINCT doc_id, doc_id AS label FROM b)" +
      (1 to rounds).map { i =>
        s""",
           |m$i AS MATERIALIZED (SELECT band, band_hash, min(label) AS bl
           |       FROM b JOIN l${i - 1} USING (doc_id) GROUP BY 1, 2),
           |p$i AS MATERIALIZED (SELECT doc_id, min(bl) AS label
           |       FROM b JOIN m$i USING (band, band_hash) GROUP BY 1),
           |l$i AS MATERIALIZED (SELECT a.doc_id, coalesce(j.label, a.label) AS label
           |       FROM p$i a LEFT JOIN p$i j ON a.label = j.doc_id)""".stripMargin
      }.mkString

  /** Unrolled BPE merge rounds over the u0 units CTE (w, f, pos, unit):
    * per round — argmax pair b_i, candidate starts c_i, leftmost-first
    * non-overlapping activation a_i (odd ranks within runs of consecutive
    * starts), rewrite u_{i+1}. Mirrors VocabOps.mergeRound exactly.
    */
  private def bpeRoundCtes(rounds: Int): String =
    (0 until rounds).map { i =>
      s""",
         |b$i AS MATERIALIZED (
         |  SELECT u1.unit AS l, u2.unit AS r, CAST(sum(u1.f) AS BIGINT) AS pf
         |  FROM u$i u1 JOIN u$i u2 ON u1.w = u2.w AND u2.pos = u1.pos + 1
         |  GROUP BY 1, 2 ORDER BY pf DESC, l, r LIMIT 1),
         |c$i AS (
         |  SELECT u1.w, u1.pos,
         |    row_number() OVER (PARTITION BY u1.w ORDER BY u1.pos) AS rn
         |  FROM u$i u1 JOIN u$i u2 ON u1.w = u2.w AND u2.pos = u1.pos + 1, b$i
         |  WHERE u1.unit = b$i.l AND u2.unit = b$i.r),
         |a$i AS (
         |  SELECT w, pos FROM (
         |    SELECT w, pos,
         |      row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS rk
         |    FROM c$i) WHERE rk % 2 = 1),
         |u${i + 1} AS MATERIALIZED (
         |  SELECT u.w, u.f,
         |    row_number() OVER (PARTITION BY u.w ORDER BY u.pos) - 1 AS pos,
         |    CASE WHEN a1.pos IS NOT NULL
         |         THEN (SELECT l FROM b$i) || (SELECT r FROM b$i)
         |         ELSE u.unit END AS unit
         |  FROM u$i u
         |  LEFT JOIN a$i a1 ON u.w = a1.w AND u.pos = a1.pos
         |  LEFT JOIN a$i a2 ON u.w = a2.w AND u.pos = a2.pos + 1
         |  WHERE a2.pos IS NULL)""".stripMargin
    }.mkString

  /** Unrolled BPE ENCODE rounds: apply the trained pair b_i to the v_i
    * units chain (same leftmost-first activation, no frequencies).
    * Mirrors VocabOps.applyMerge driven by the learned table.
    */
  private def bpeApplyCtes(rounds: Int): String =
    (0 until rounds).map { i =>
      s""",
         |d$i AS (
         |  SELECT v1.w, v1.pos,
         |    row_number() OVER (PARTITION BY v1.w ORDER BY v1.pos) AS rn
         |  FROM v$i v1 JOIN v$i v2 ON v1.w = v2.w AND v2.pos = v1.pos + 1, b$i
         |  WHERE v1.unit = b$i.l AND v2.unit = b$i.r),
         |e$i AS (
         |  SELECT w, pos FROM (
         |    SELECT w, pos,
         |      row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS rk
         |    FROM d$i) WHERE rk % 2 = 1),
         |v${i + 1} AS MATERIALIZED (
         |  SELECT v.w,
         |    row_number() OVER (PARTITION BY v.w ORDER BY v.pos) - 1 AS pos,
         |    CASE WHEN e1.pos IS NOT NULL
         |         THEN (SELECT l FROM b$i) || (SELECT r FROM b$i)
         |         ELSE v.unit END AS unit
         |  FROM v$i v
         |  LEFT JOIN e$i e1 ON v.w = e1.w AND v.pos = e1.pos
         |  LEFT JOIN e$i e2 ON v.w = e2.w AND v.pos = e2.pos + 1
         |  WHERE e2.pos IS NULL)""".stripMargin
    }.mkString

  /** Shared NB CTE chain (through `best`: doc_id -> predicted class) —
    * priors, the complete word x class likelihood grid, 6-dp-rounded
    * argmax. Used by both txt_nb_confusion and txt_nb_metrics.
    */
  private lazy val NB_BEST_CTES: String =
    s"""pr AS (
       |  SELECT lang AS clazz,
       |    ln(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents))
       |      AS lp
       |  FROM documents GROUP BY 1),
       |occ AS (SELECT lang AS clazz, unnest($TOKS) AS w FROM documents),
       |counts AS (
       |  SELECT w, clazz, CAST(count(*) AS BIGINT) AS c FROM occ
       |  GROUP BY 1, 2),
       |tot AS (SELECT clazz, CAST(sum(c) AS BIGINT) AS tot FROM counts
       |        GROUP BY 1),
       |voc AS (SELECT DISTINCT w FROM counts),
       |vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
       |lik AS (
       |  SELECT voc.w, t.clazz,
       |    ln((coalesce(c.c, 0) + 0.5)
       |       / (t.tot + 0.5 * (SELECT v FROM vs))) AS ll
       |  FROM voc CROSS JOIN tot t
       |  LEFT JOIN counts c ON c.w = voc.w AND c.clazz = t.clazz),
       |inst AS (
       |  SELECT doc_id, word AS w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT i.doc_id, l.clazz, sum(l.ll * i.n) AS wsum
       |  FROM inst i JOIN lik l USING (w) GROUP BY 1, 2),
       |sc2 AS (
       |  SELECT doc_id, sc.clazz, round(wsum + pr.lp, 6) AS score
       |  FROM sc JOIN pr ON pr.clazz = sc.clazz),
       |best AS MATERIALIZED (
       |  SELECT doc_id, clazz AS pred_lang FROM (
       |    SELECT doc_id, clazz, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, clazz) AS rk
       |    FROM sc2) WHERE rk = 1)""".stripMargin

  /** Explodes the `bands` list of `sk` into (vec_id, band, band_val) rows. */
  private def bandRowsSql(bands: Int): String =
    s"""SELECT vec_id, j AS band, bands[CAST(j + 1 AS INT)] AS band_val
       |  FROM sk, range(0, $bands) t(j)""".stripMargin

  /** The faces a run covers, sorted by name: every `queries` entry when
    * `only` is None, else the named ones. Any name that is not a face is
    * an error that names it and lists the faces, so a misspelled list
    * cannot run (and pass) with zero faces.
    */
  def selectFaces(only: Option[Iterable[String]])
      : Either[String, Seq[(String, (SparkSession, String) => DataFrame)]] = {
    val all = queries
    val named = only.map(_.toSet)
    val unknown = named.fold(Seq.empty[String])(n => (n -- all.keySet).toSeq.sorted)
    if (unknown.nonEmpty)
      Left(s"unknown face name(s): ${unknown.mkString(", ")}; faces are: " +
        all.keys.toSeq.sorted.mkString(", "))
    else Right(all.toSeq.filter(q => named.forall(_(q._1))).sortBy(_._1))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational suite (SURVEY.md §2.2–2.7) ---
    "rel_pricing_summary" -> RelationalOps.pricingSummary,
    "rel_region_rollup" -> RelationalOps.customerByRegion,
    "rel_revenue_segment" -> RelationalOps.revenueBySegment,
    // classic join-heavy TPC-H shapes: Q3 (rank on ROUNDED revenue so the
    // top-10 never depends on double-summation order) and Q5 (two fact
    // shuffles, broadcast dims, local-supplier nationkey equality)
    "rel_ship_priority" -> RelationalOps.shippingPriority,
    "rel_supplier_volume" -> RelationalOps.localSupplierVolume,
    // Q18: semi-join-by-aggregate (HAVING subquery) feeding a 3-way join;
    // ordering rides the raw o_totalprice, never an aggregated double
    "rel_large_volume" -> RelationalOps.largeVolumeCustomers,
    "rel_semi_join" -> RelationalOps.ordersWithDiscount,
    "rel_anti_join" -> RelationalOps.customersWithoutOrders,
    "rel_filter_pushdown" -> RelationalOps.selectiveScan,
    "rel_topk_window" -> RelationalOps.topOrdersPerPriority,
    "rel_sort_limit" -> RelationalOps.top100Lines,
    "rel_distinct_agg" -> RelationalOps.distinctPartsPerFlag,
    "rel_setops" -> RelationalOps.nationSetOps,
    "rel_year_month" -> RelationalOps.ordersByYearMonth,
    "rel_order_span" -> RelationalOps.customerOrderSpan,
    "rel_json_props" -> RelationalOps.eventPropsStats,
    "rel_sessionize" -> RelationalOps.userSessions,
    "rel_rollup" -> RelationalOps.lineStatusRollup,
    "rel_cube" -> RelationalOps.lineCube,
    "rel_daily_stats" -> RelationalOps.dailyOrderStats,
    "rel_asof_join" -> RelationalOps.purchaseAsofClick,
    "rel_salted_join" -> RelationalOps.saltedOrderJoin,
    "rel_range_join" -> RelationalOps.concurrentSessionActivity,
    "rel_string_funcs" -> RelationalOps.partTypeStats,
    "rel_hourly_counts" -> RelationalOps.hourlyEventCounts,
    // ingest monitoring: trailing-window z-score per day (window over the
    // day-sized aggregate, never the event rows)
    "rel_daily_anomaly" -> RelationalOps.dailyAnomalies,
    // weekly cohort retention: first-seen week × weeks-since, user-keyed
    "rel_cohort_retention" -> RelationalOps.cohortRetention,
    // --- text suite (SURVEY.md §2.1–2.8 text path + LLM-pipeline text ops) ---
    "txt_word_topn" -> WordFreqOps.topWordsQuery,
    "txt_wordfreq_stats" -> WordFreqOps.wordFreqStats,
    "txt_prep_summary" -> DocPrep.prepSummary,
    "txt_clean_normalize" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions._
      Tables.documents(s, d)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), cleanText(col("text")).as("cleaned"),
          normalized(col("text")).as("norm"))
    }),
    "txt_token_stats" -> TextAnalysisOps.tokenStatsByLang,
    "txt_langid" -> TextAnalysisOps.langIdDistribution,
    "txt_quality" -> TextAnalysisOps.qualityBySource,
    "txt_dup_clusters" -> TextAnalysisOps.duplicateClusters,
    "txt_fingerprints" -> TextAnalysisOps.fingerprintSample,
    "txt_token_budget" -> TextAnalysisOps.tokenBudgetBySource,
    "txt_repetition" -> TextAnalysisOps.repetitionBySource,
    "txt_countmin" -> SketchOps.countMinTopWords,
    "txt_distinct_sketch" -> SketchOps.distinctSketch,
    "txt_hll_distinct" -> SketchOps.hllDistinct,
    "txt_heavy_hitters" -> SketchOps.heavyHittersQuery,
    "txt_drift" -> DriftOps.driftQuery,
    "txt_resemblance" -> DriftOps.resemblanceQuery,
    "txt_len_drift" -> DriftOps.lenDriftQuery,
    "hll_incremental" -> SketchOps.hllIncremental,
    "hll_by_lang" -> SketchOps.hllByLang,
    "txt_len_quantiles" -> SketchOps.lengthQuantiles,
    "txt_len_pctrank" -> RankOps.pctRankProfile,
    "txt_len_median" -> RankOps.medianProfile,
    "txt_len_quantiles_exact" -> RankOps.quantileProfile,
    // corpus-version audit: added/removed/changed/unchanged between two
    // snapshots, classified on content fingerprints (one full-outer join)
    "snapshot_diff" -> SnapshotOps.snapshotDiffQuery,
    // tokenizer induction: BPE-style merge-candidate counts + the OOV-rate
    // gauge of a fixed-size vocabulary
    "vocab_merge_pairs" -> VocabOps.mergePairsQuery,
    "vocab_coverage" -> VocabOps.coverageQuery,
    // iterative BPE training: 8 learned merges over the top-200-word
    // dictionary (corpus scanned once; rounds are dictionary-bounded)
    "vocab_bpe_merges" -> VocabOps.bpeMergesQuery,
    // the trained tokenizer applied: encode every distinct word, report
    // the per-lang subword budget
    "vocab_bpe_encode" -> VocabOps.bpeEncodeQuery,
    // LM quality gate: per-language NLL band histogram under a smoothed
    // self-trained bigram model (the perplexity-cut shape)
    "txt_lm_nll" -> LmOps.nllBandsQuery,
    "txt_lm_cross" -> LmOps.crossNllBandsQuery,
    "stream_quality_gate" -> LmOps.qualityGateQuery,
    // the composed ingest gate (structural rules + stored-index near-dup
    // + frozen LM gate in one stream): batch face, per-lang chained counts
    "stream_ingest_gate" -> graft.streaming.StreamOps.ingestGateQuery,
    // the FIVE-stage ingest gate (struct + decontam + dup + LM + scrub
    // accounting) — the streaming twin of curation_funnel_full's surface
    "stream_ingest_full" -> graft.streaming.StreamOps.ingestGateFullQuery,
    // CCNet-style per-lang perplexity terciles (head/middle/tail) — the
    // quality cut CCNet keeps head+middle of; rank-based thresholds
    "quality_ppl_buckets" -> LmOps.pplBucketsQuery,
    // Gopher rule-set audit: published word-count/mean-length/symbol/
    // alpha/stopword/repetition rules, per-source fail counts
    "quality_gopher_rules" -> CurationOps.gopherRulesProfile,
    // DSIR data selection: hashed-unigram importance weights against an
    // English target domain, per-(lang, band) histogram
    "select_dsir" -> SamplingOps.dsirProfile,
    // SSL-prototype pruning (D4's second half): per cluster, drop the top
    // 25% by centroid cosine — the easiest (most prototypical) examples
    "select_prototypes" -> ((s, d) => SemDedupOps.prototypesProfile(s, d)),
    // the end-to-end curation funnel: Gopher structural rules -> CCNet
    // head+middle perplexity gate -> minhash keep-first, per-stage counts
    "curation_funnel" -> CurationOps.curationFunnel,
    // the FULL five-stage production funnel: gopher -> decontam -> ppl
    // gate -> keep-best -> pii scrub, with per-stage token accounting
    "curation_funnel_full" -> CurationOps.curationFunnelFull,
    // cross-gate agreement: per (lang, ppl tercile) — gopher pass counts
    // and mean quality score (are the gates redundant or complementary?)
    "quality_gate_agreement" -> CurationOps.gateAgreementQuery,
    // realistic-fixture faces (r15): the SAME four operators over the
    // RealisticCorpus twin (planted stop words / per-lang vocabulary /
    // eval contamination / PII), so the paths the synthetic corpus leaves
    // behaviorally flat — stop-word passes, DSIR separation, non-zero
    // decontam drops, non-zero scrub token deltas — are oracle-verified
    // doing real work. Oracles are the base faces' bodies verbatim under
    // a realistic `documents` CTE (RealisticCorpus.realisticize).
    "quality_gopher_real" ->
      RealisticCorpus.over(CurationOps.gopherRulesProfile),
    "select_dsir_real" ->
      RealisticCorpus.over(SamplingOps.dsirProfile),
    "curation_funnel_real" ->
      RealisticCorpus.over(CurationOps.curationFunnelFull),
    // lexical retrieval over the twin (r17): the planted structure is
    // exactly what stresses BM25 — the ContamPhrase's 13 shared tokens
    // (df ≈ 6%), the per-lang qq-vocabulary (df ≈ 1/|langs|) and the stop
    // plant (df ≈ 71%) create real idf tiers the base fixture's 31
    // uniformly-saturated words lack (measured at sf0.01: base df median
    // 389/500 across 30 terms; twin 191 terms spanning df 29→393), and
    // the unique mega-tokens sit OUTSIDE the 2-15 token band so postings
    // stay clean of them
    "search_bm25_real" -> RealisticCorpus.over(RetrievalOps.bm25Query),
    // standing queries against the twin's ingest sample: percolation is
    // idf-weighted too, so the planted vocabulary tiers shift which
    // standing query wins each incoming doc
    "search_percolate_real" ->
      RealisticCorpus.over(RetrievalOps.percolateQuery),
    // phrase retrieval over the twin: the positional index sees the
    // planted phrases (stop plant, ContamPhrase) as real multi-doc
    // n-grams where the base fixture's phrases are probe-prefix-only,
    // and the mega-tokens stay outside the band
    "search_phrase_real" -> RealisticCorpus.over(RetrievalOps.phraseQuery),
    // RAG pipeline end to end: char-window chunking -> deterministic
    // chunk embeddings (the media signature projection) -> brute top-k
    // grounding per probe with parent-doc metadata joined back; the
    // chunk frame is (vec_id, nv)-shaped, so the banded-LSH/IVF tiers
    // apply unchanged at scale — this face is their recall ground truth
    "rag_chunk_topk" -> RetrievalOps.ragChunkTopK,
    // RAG grounding on the twin: the family's shared boilerplate makes
    // its chunks near-identical at the char level, so grounding probes
    // retrieve REAL planted structure (and mega-tokens slice across
    // chunk windows deterministically on both engines)
    "rag_chunk_topk_real" -> RealisticCorpus.over(RetrievalOps.ragChunkTopK),
    // the RAG serving path at scale: IVF-served grounding gauged against
    // the brute chunk ground truth (recall@10 per probe, quantizer
    // artifacts persisted for the oracle) — the committed evidence for
    // scanning ~|chunks|·nProbe/nLists instead of |chunks|
    "rag_chunk_recall" -> RetrievalOps.ragChunkRecall,
    // RAG grounding with EXTERNAL probes: eval-slice first-window chunks
    // (same codec) retrieved against the TRAIN side only — production
    // queries are not corpus members, and self-retrieval inflates cosine;
    // this face is the leakage-safe counterpart to rag_chunk_topk
    "rag_chunk_heldout" -> RetrievalOps.ragChunkHeldout,
    // the SERVED grounding output on the indexed path: brute/served/recall
    // now mirror the sim tier's brute/ann/recall triple on the chunk frame
    "rag_chunk_topk_ivf" -> RetrievalOps.ragChunkTopKIvf,
    "stream_ingest_real" ->
      RealisticCorpus.over(graft.streaming.StreamOps.ingestGateQuery),
    "stream_ingest_full_real" ->
      RealisticCorpus.over(graft.streaming.StreamOps.ingestGateFullQuery),
    // realistic DENSE tier (r16): the twin materializes embeddings
    // hash-projected from the realistic text (RealisticCorpus.ensure), so
    // the planted boilerplate family carries into vector space — the
    // embed cluster profile acts on planted structure, not saturation
    "dedup_embed_real" ->
      RealisticCorpus.over((s, dd) =>
        SimilarityOps.lshDupClusterProfile(s, dd)),
    // realistic media keep-best: stock operator over the twin documents
    // (assets derive from text) — cluster structure is the planted family
    "media_keep_best_real" ->
      RealisticCorpus.over(graft.multimodal.MediaOps.mediaKeepBest),
    // detection twins of the two realistic ACTION faces above: the
    // lexical (minhash) and media cluster views over the same twin —
    // both must surface the planted family, not saturation
    "dedup_minhash_real" ->
      RealisticCorpus.over((s, dd) => DedupOps.minhashClusterProfile(s, dd)),
    "media_dup_clusters_real" ->
      RealisticCorpus.over(graft.multimodal.MediaOps.mediaDupClusters),
    // learned lang-ID: multinomial NB self-trained on (text, lang), the
    // confusion matrix as the report
    "txt_nb_confusion" -> ClassifierOps.nbLangConfusion,
    // per-class precision/recall/F1 from the same confusion fit
    "txt_nb_metrics" -> ClassifierOps.nbLangMetrics,
    // sparse retrieval: BM25 top-5 over the distributed inverted index,
    // first-8-docs query probes (find-more-like-this / decontam shape)
    "search_bm25" -> RetrievalOps.bm25Query,
    // hybrid retrieval: BM25 ∪ dense cosine fused by reciprocal-rank
    // (k=60), depth 20 each, fused top-10 per probe
    "search_hybrid_rrf" -> RetrievalOps.hybridRrfQuery,
    // query-likelihood retrieval (Dirichlet μ=300), matched-terms-only
    // decomposition — the second classic scoring model next to BM25
    "search_ql" -> RetrievalOps.qlQuery,
    // incremental postings maintenance: BM25 served FROM the maintained
    // index after an A→B refresh (|delta| tokenization, kept postings
    // carried from the parquet-stored A index) ≡ a from-scratch B index
    "search_bm25_incremental" -> RetrievalOps.bm25IncrementalQuery,
    // pseudo-relevance feedback: top-3 feedback docs mine 5 expansion
    // terms (integer fb-tf × idf selection), union, rescore — two passes
    // over the same postings frame
    "search_prf" -> RetrievalOps.prfQuery,
    // exact-phrase retrieval over the POSITIONAL postings: probe-doc
    // 3-token prefixes as phrases, one positional join, count==len match
    // (the decontamination / RAG-grounding workhorse; integer-only)
    "search_phrase" -> RetrievalOps.phraseQuery,
    // windowed proximity over the same positional index: (first, last)
    // token pairs within 8 positions, min distance + close-pair count
    "search_proximity" -> RetrievalOps.proximityQuery,
    // percolation (standing queries at ingest): a deterministic ingest
    // sample scored statelessly against frozen standing terms/stats;
    // per-query match count + strongest doc. Streaming twin:
    // StreamOps.percolateStream (spec-pinned parity)
    "search_percolate" -> RetrievalOps.percolateQuery,
    // frozen-stats drift gauge: best-query flip rate of frozen-A vs
    // fresh-B standing stats on the same ingest sample, rebuild verdict
    // at the committed threshold — the lexical twin of sim_ivf_drift
    "search_stats_drift" -> RetrievalOps.statsDriftQuery,
    // rank-quality gauge: hits@10 / MRR / binary nDCG@10 of the IVF tier
    // vs brute truth (recall says found; this says found EARLY)
    "sim_eval_rank" -> RetrievalOps.ivfRankEval,
    // MMR diversification of the dense top-20: bounded greedy runs
    // driver-local (products + max only — bit-stable unrolled oracle)
    "sim_mmr_diverse" -> RetrievalOps.mmrQuery,
    // collocation mining: top-30 adjacent-pair PMI at min-count 5
    "txt_collocations" -> RetrievalOps.collocationsQuery,
    // TextRank keywords: PageRank over the co-occurrence graph — the
    // bigram count is distributed, the vocabulary-bounded power
    // iteration is driver-local (the hybrid-BPE precedent)
    "txt_textrank" -> TextRankOps.textRankQuery,
    "src_jsonl_roundtrip" -> graft.pipeline.JsonlIO.roundtripQuery,
    // ORC interchange: documents -> ORC -> back (explicit schema), totals
    // pinned against the parquet truth
    "src_orc_roundtrip" -> graft.pipeline.OrcIO.roundtripQuery,
    // CSV interchange (S2/S4 surface): quote/newline-safe text roundtrip,
    // cast-back totals pinned against the parquet truth
    "src_csv_roundtrip" -> graft.pipeline.PreprocessPipeline.csvRoundtripQuery,
    "data_quality" -> CheckOps.documentChecks,
    "embedding_quality" -> CheckOps.embeddingChecks,
    "data_quality_by_source" -> CheckOps.documentChecksBySource,
    "rel_ref_integrity" -> CheckOps.refIntegrityChecks,
    "rel_bloom_semi" -> SketchOps.bloomSemiQuery,
    "rel_funnel" -> RelationalOps.funnelQuery,
    // batch face of the stream-stream attribution join (StreamOps
    // .attributionStream): same join expression, watermarks no-op in batch
    "rel_attribution" -> graft.streaming.StreamOps.attributionQuery,
    "rel_skew_profile" -> RelationalOps.skewProfileQuery,
    "decontam_bloom" -> CurationOps.decontamBloomProfile,
    // --- selection & packing (LLM-pipeline training-set assembly) ---
    "sample_split" -> SamplingOps.splitProfile,
    // contamination-safe variant: the whole near-dup cluster moves as one
    "sample_split_safe" -> SamplingOps.leakageSafeSplitProfile,
    "sample_stratified" -> SamplingOps.stratifiedProfile,
    "sample_fixed_k" -> SamplingOps.fixedSampleProfile,
    "sample_group_k" -> SamplingOps.groupFixedSampleProfile,
    // --- curation (LLM-pipeline hygiene: eval leakage + PII + mixing) ---
    "decontam_13gram" -> CurationOps.decontamProfile,
    "txt_pii_scrub" -> CurationOps.piiScrubProfile,
    "mix_domains" -> SamplingOps.mixProfile,
    // temperature mixing: target shares derived from corpus shares p^0.7
    "mix_temperature" -> SamplingOps.temperatureRatesProfile,
    "budget_select" -> SamplingOps.budgetProfile,
    "pack_sequences" -> PackingOps.packProfile,
    "pack_chunks" -> PackingOps.chunkProfile,
    // per-doc sliding windows with overlap (RAG prep); the final window
    // clamps to the doc end so every chunk is full-size
    "pack_chunks_overlap" -> PackingOps.slidingChunkProfile,
    "train_assembly" -> AssemblyOps.trainAssembly,
    // --- dedup suite (SURVEY.md §2.3 + LLM-pipeline north star) ---
    "dedup_minhash_lsh" -> DedupOps.minhashDupPairs,
    "dedup_simhash" -> DedupOps.simhashDupPairs,
    "dedup_ngram_jaccard" -> DedupOps.ngramDupPairs,
    // asymmetric containment: max directional n-gram overlap — finds the
    // short-doc-subsumed-by-long-doc pairs symmetric Jaccard misses
    "dedup_containment" -> RetrievalOps.containmentQuery,
    "dedup_embed_cosine" -> DedupOps.embeddingDups,
    "dedup_embed_lsh" -> SimilarityOps.lshDupPairs,
    "dedup_embed_clusters" -> ((s, d) => SimilarityOps.lshDupClusterProfile(s, d)),
    "dedup_minhash_clusters" -> DedupOps.minhashClusterProfile,
    // SemDeDup: k-means-partitioned embedding-cosine duplicate groups,
    // keeper = farthest-from-centroid (the paper's low-similarity rule)
    "dedup_semdedup" -> ((s, d) => SemDedupOps.semanticDupProfile(s, d)),
    "dedup_keep_best" -> DedupOps.keepBestProfile,
    "dedup_simhash_clusters" -> DedupOps.simhashClusterProfile,
    "dedup_incremental" -> DedupOps.incrementalDupProfile,
    "dedup_span_profile" -> SpanDedupOps.spanProfileQuery,
    "dedup_span_scrub" -> SpanDedupOps.spanScrubQuery,
    // incremental face of the substring tier: delta docs probed against
    // the FIRST 90%'s gram index (same cut as dedup_incremental, exported
    // via Artifacts for the oracle); streaming twin
    // is StreamOps.spanFlagStream (stream-static semi join, spec-pinned)
    "dedup_span_flags" -> SpanDedupOps.spanFlagsQuery,
    // batch face of StreamOps.indexDupStream: band-collision flags of the
    // delta against the historical index (same 90/10 cut as
    // dedup_incremental; no jaccard re-rank — this is the ingest-time flag).
    // The bucket probe reads the registry-persisted index exactly like
    // dedup_incremental, so both faces demonstrate build-once/probe-many.
    "dedup_index_flags" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val (_, cut) = operators.DedupOps.storedIndex(s, d)
      // registry-shared distinct bucket table (the stored index's
      // physical layout in production — see DedupOps.storedIndexBuckets)
      val idxBuckets = operators.DedupOps.storedIndexBuckets(s, d)
      graft.streaming.StreamOps.indexDupBatch(
        docs.filter(col("doc_id") > cut), idxBuckets, "doc_id", "text")
    }),
    // --- similarity search (SURVEY.md §2.9 M14 + LLM-pipeline north star) ---
    "sim_topk_brute" -> SimilarityOps.bruteTopK,
    "sim_lsh_ann" -> SimilarityOps.lshAnn,
    "sim_ivf_ann" -> SimilarityOps.ivfAnn,
    // index refresh: stored postings carried for unchanged vectors, only
    // the A→B delta re-assigned at the frozen coarse quantizer
    "sim_ivf_incremental" -> IndexMaintOps.ivfIncrementalQuery,
    "sim_ivf_drift" -> IndexMaintOps.ivfDriftQuery,
    "sim_recall" -> SimilarityOps.annRecall,
    // contrastive-training negatives: nearest wrong-label vectors per query
    "sim_hard_negatives" -> SimilarityOps.hardNegatives,
    "sim_ivf_recall" -> SimilarityOps.ivfRecall,
    // hot-list guard at its nProbe-scaled operating point (the sf0.01
    // embeddings naturally hold a >2x-fair-share list, so a REAL split)
    "sim_ivf_balanced" -> SimilarityOps.ivfRecallBalanced,
    // the balanced index under ADVERSARIAL mass (VERDICT r17 #2): the
    // twin's planted dup family hash-projects to near-identical vectors,
    // concentrating one list far past fair share — exactly the skew the
    // fair-share splitter exists for; the face records the split the twin
    // actually forced (its own namespaced operating point + artifacts)
    "sim_ivf_balanced_real" ->
      RealisticCorpus.over(SimilarityOps.ivfRecallBalanced),
    "sim_ivfpq_ann" -> PqOps.ivfPqAnn,
    "sim_ivfpq_recall" -> PqOps.ivfPqRecall,
    "dedup_exact_fp" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, min}
      graft.streaming.StreamOps.withFingerprint(Tables.documents(s, d), "text")
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
    }),
    // --- topic metrics, oracle-checked (SURVEY.md A6/A10/M4/D2) ---
    "topic_ctfidf" -> TopicMetricsOps.ctfidfByLang,
    "topic_ctfidf_bigrams" -> TopicMetricsOps.ctfidfBigramsByLang,
    "topic_diversity" -> TopicMetricsOps.diversityByLang,
    "topic_keyword_dedup" -> TopicMetricsOps.dedupKeywordsByLang,
    "topic_umass" -> TopicMetricsOps.umassTop10,
    "topic_umass_by_class" -> TopicMetricsOps.umassByLang,
    "topic_cnpmi" -> TopicMetricsOps.npmiTop10,
    "topic_cuci" -> TopicMetricsOps.uciTop10,
    "topic_cv" -> TopicMetricsOps.cvTop10,
    "topic_overlap" -> TopicMetricsOps.overlapByLang,
    "topic_similarity" -> TopicMetricsOps.similarityByLang,
    "topic_interpret" -> TopicExtrasOps.interpretByLang,
    "topic_examples" -> TopicExtrasOps.examplesByLang,
    "topic_examples_tfidf" -> TopicExtrasOps.tfidfExamplesByLang,
    "txt_tfidf" -> TopicExtrasOps.tfidfQuery,
    // --- MLlib topic models (SURVEY.md §2.9): fits export their artifacts
    //     (Artifacts.scala) and the relational downstream is oracle-checked;
    //     only lda_grid + topic_reduce stay rows-only ---
    "lda_topics" -> TopicModelOps.ldaTopicsQuery,
    "lda_dominant" -> TopicModelOps.ldaDominantTopics,
    "lda_top_docs" -> TopicModelOps.ldaTopDocs,
    "lda_grid" -> TopicModelOps.ldaGridSearch,
    "lda_topic_coherence" -> TopicModelOps.ldaTopicCoherence,
    "kmeans_profile" -> TopicModelOps.kmeansProfile,
    "cluster_noise" -> TopicModelOps.clusterNoiseProfile,
    "bertopic_keywords" -> TopicModelOps.bertopicKeywords,
    "topic_reduce" -> TopicExtrasOps.reducedTopicSizes,
    "topic_examples_embed" -> TopicExtrasOps.centroidExamples,
    "w2v_neighbors" -> Embedders.word2vecNeighbors,
    "embedder_compare" -> Embedders.embedderComparison,
    // --- multimodal binary columns (stubbed codec, real plumbing) ---
    "media_features" -> graft.multimodal.MediaOps.mediaFeatureProfile,
    "media_frames" -> graft.multimodal.MediaOps.mediaFrameProfile,
    // cross-modal tier: the codec's perceptual signatures fed through the
    // embedding dedup machinery, and media↔text assembly/alignment faces
    "media_dup_clusters" -> graft.multimodal.MediaOps.mediaDupClusters,
    "media_text_align" -> graft.multimodal.MediaOps.mediaTextAlign,
    // cross-modal retrieval: projected asset signatures search the text
    // embedding corpus, exact cosine top-5 per asset probe
    "media_text_search" -> graft.multimodal.MediaOps.mediaTextSearch,
    "media_caption_gate" -> graft.multimodal.MediaOps.mediaCaptionGate,
    // cross-modal keep-best: the dedup ACTION for the media tier — the
    // near-dup clusters composed with DedupOps.keepBest on quality =
    // pixels × caption alignment; one keeper per multi-member cluster
    "media_keep_best" -> graft.multimodal.MediaOps.mediaKeepBest,
    // --- streaming transform, batch-applied (SURVEY.md §2.10) ---
    "stream_hourly" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.streaming.StreamOps.windowedCounts(Tables.events(s, d))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),
    // ranked batch sink of windowedKeywordCounts — the online-topic core's
    // top-k-per-(window, class) face
    "stream_topk_keywords" -> ((s, d) =>
      graft.streaming.StreamOps.topKeywordsQuery(s, d)),
  )

  /** The DuckDB oracle of each face, rendered on every call: artifact refs
    * resolve to what has been saved so far, and every other parameter is
    * derived in the SQL from the tables and artifacts it reads, so the
    * text does not depend on which faces ran before.
    */
  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    // realistic-fixture faces: base oracle bodies verbatim under the
    // realistic `documents` CTE — see RealisticCorpus
    val twins = Seq(
      "quality_gopher_real" -> "quality_gopher_rules",
      "select_dsir_real" -> "select_dsir",
      "curation_funnel_real" -> "curation_funnel_full",
      "search_bm25_real" -> "search_bm25",
      "search_percolate_real" -> "search_percolate",
      "search_phrase_real" -> "search_phrase",
      "rag_chunk_topk_real" -> "rag_chunk_topk",
      "stream_ingest_real" -> "stream_ingest_gate",
      "stream_ingest_full_real" -> "stream_ingest_full",
      "media_keep_best_real" -> "media_keep_best",
      "dedup_minhash_real" -> "dedup_minhash_clusters",
      "media_dup_clusters_real" -> "media_dup_clusters")
    base ++ twins.map { case (twin, face) =>
      twin -> RealisticCorpus.realisticize(base(face)) } ++ Map(
      // realistic dense tier: the base bodies over the twin's
      // hash-projected embeddings
      "dedup_embed_real" -> realisticizeEmbeddings(embedClustersOracleBody),
      "sim_ivf_balanced_real" -> realisticizeEmbeddings(ivfBalancedOracleBody("real/")))
  }

  private def baseOracleSql: Map[String, String] = Map(
    // RAG grounding: chunk windows re-derived with pure arithmetic, chunk
    // ids packed as doc_id*RagMaxChunks+chunk_no so the sigCtes chain
    // (which keys on `doc_id`) runs unchanged over the chunk CTE; the
    // ≥ SignatureGram-chars filter keeps the codec's zero-vector edge and
    // the gram CTE's dropped-row edge identical on both engines
    "rag_chunk_topk" ->
      s"""WITH $ragChunkCtes,
         |probes AS (
         |  SELECT doc_id // ${RetrievalOps.RagMaxChunks} AS query_id, nv AS qnv
         |  FROM rcu
         |  WHERE doc_id // ${RetrievalOps.RagMaxChunks} < 8
         |    AND doc_id % ${RetrievalOps.RagMaxChunks} = 0),
         |scored AS (
         |  SELECT query_id, rcu.doc_id AS chunk_id, ${dotSql("qnv", "nv")} AS cos
         |  FROM probes JOIN rcu
         |    ON rcu.doc_id // ${RetrievalOps.RagMaxChunks} <> query_id),
         |ranked AS (
         |  SELECT query_id, chunk_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, chunk_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, chunk_id // ${RetrievalOps.RagMaxChunks} AS doc_id,
         |  CAST(chunk_id % ${RetrievalOps.RagMaxChunks} AS INT) AS chunk_no,
         |  d.lang, round(cos, 4) AS cos
         |FROM ranked
         |JOIN documents d ON d.doc_id = chunk_id // ${RetrievalOps.RagMaxChunks}
         |WHERE rank <= ${RetrievalOps.RagTopK}""".stripMargin,
    // IVF-served RAG recall gauge: brute chunk top-10 is SQL-exact over
    // the same chunk signature chain; the IVF side re-derives probe
    // ranking + in-list re-rank from the persisted rag_ivf_* artifacts
    // (sim_ivf_recall's contract, on the chunk corpus)
    "rag_chunk_recall" ->
      s"""WITH $ragChunkCtes,
         |q AS (
         |  SELECT doc_id AS query_id, nv AS qv FROM rcu
         |  WHERE doc_id // ${RetrievalOps.RagMaxChunks} < 8
         |    AND doc_id % ${RetrievalOps.RagMaxChunks} = 0),
         |s AS (
         |  SELECT query_id, c.doc_id AS vec_id, ${dotSql("qv", "c.nv")} AS cos
         |  FROM q JOIN rcu c ON c.doc_id <> query_id),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 10),
         |pr AS (
         |  SELECT query_id, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("rag_ivf_centroids")} c)),
         |s2 AS (
         |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("rag_ivf_assign")} ix USING (list)
         |  JOIN rcu cu ON cu.doc_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> ix.vec_id),
         |an AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s2)
         |  WHERE rk <= 10)
         |SELECT br.query_id, count(*) AS n_brute,
         |  CAST(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall,
         |  '${SimilarityOps.IvfLists}/${SimilarityOps.IvfProbe}' AS index_cfg
         |FROM br LEFT JOIN an
         |  ON br.query_id = an.query_id AND br.vec_id = an.vec_id
         |GROUP BY 1""".stripMargin,
    // Held-out RAG grounding: probes are the eval slice's first-window
    // chunks (hashBucket < RagHeldoutBuckets — the SAME basis-point carve
    // the decontam/split faces use), searched set is the TRAIN side only;
    // same chunk/codec chain, so "held-out" is purely the two bucket
    // predicates below
    "rag_chunk_heldout" ->
      s"""WITH $ragChunkCtes,
         |probes AS (
         |  SELECT doc_id // ${RetrievalOps.RagMaxChunks} AS query_id, nv AS qnv
         |  FROM rcu
         |  WHERE doc_id % ${RetrievalOps.RagMaxChunks} = 0
         |    AND ${sampleBucket(s"(doc_id // ${RetrievalOps.RagMaxChunks})")}
         |      < ${RetrievalOps.RagHeldoutBuckets}
         |  ORDER BY 1 LIMIT ${RetrievalOps.RagHeldoutProbes}),
         |scored AS (
         |  SELECT query_id, rcu.doc_id AS chunk_id, ${dotSql("qnv", "nv")} AS cos
         |  FROM probes JOIN rcu
         |    ON ${sampleBucket(s"(rcu.doc_id // ${RetrievalOps.RagMaxChunks})")}
         |      >= ${RetrievalOps.RagHeldoutBuckets}),
         |ranked AS (
         |  SELECT query_id, chunk_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, chunk_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, chunk_id // ${RetrievalOps.RagMaxChunks} AS doc_id,
         |  CAST(chunk_id % ${RetrievalOps.RagMaxChunks} AS INT) AS chunk_no,
         |  d.lang, round(cos, 4) AS cos
         |FROM ranked
         |JOIN documents d ON d.doc_id = chunk_id // ${RetrievalOps.RagMaxChunks}
         |WHERE rank <= ${RetrievalOps.RagTopK}""".stripMargin,
    // IVF-SERVED RAG grounding output: probe ranking + in-list re-rank
    // re-derived from the persisted rag_ivf_* artifacts (the
    // rag_chunk_recall contract), whole-document self-exclusion applied
    // BEFORE the top-K cut to match the brute face's contract
    "rag_chunk_topk_ivf" ->
      s"""WITH $ragChunkCtes,
         |q AS (
         |  SELECT doc_id AS query_id, nv AS qv FROM rcu
         |  WHERE doc_id // ${RetrievalOps.RagMaxChunks} < 8
         |    AND doc_id % ${RetrievalOps.RagMaxChunks} = 0),
         |pr AS (
         |  SELECT query_id, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("rag_ivf_centroids")} c)),
         |s2 AS (
         |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("rag_ivf_assign")} ix USING (list)
         |  JOIN rcu cu ON cu.doc_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe}
         |    AND ix.vec_id // ${RetrievalOps.RagMaxChunks}
         |      <> query_id // ${RetrievalOps.RagMaxChunks}),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM s2)
         |SELECT query_id // ${RetrievalOps.RagMaxChunks} AS query_id, rank,
         |  vec_id // ${RetrievalOps.RagMaxChunks} AS doc_id,
         |  CAST(vec_id % ${RetrievalOps.RagMaxChunks} AS INT) AS chunk_no,
         |  d.lang, round(cos, 4) AS cos
         |FROM ranked
         |JOIN documents d ON d.doc_id = vec_id // ${RetrievalOps.RagMaxChunks}
         |WHERE rank <= ${RetrievalOps.RagTopK}""".stripMargin,
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
        |GROUP BY 1,2""".stripMargin,
    "rel_region_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        | round(sum(c_acctbal),2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2""".stripMargin,
    "rel_revenue_segment" ->
      """SELECT c_mktsegment, o_orderpriority,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1,2""".stripMargin,
    "rel_ship_priority" ->
      """WITH rev AS (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    round(sum(l_extendedprice*(1.0-l_discount)), 2) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
        |  GROUP BY 1, 2, 3)
        |SELECT l_orderkey, o_orderdate, o_orderpriority, revenue
        |FROM rev ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "rel_supplier_volume" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "rel_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS sum_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY 1""".stripMargin,
    "rel_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers, min(c_custkey) AS min_custkey
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin,
    "rel_filter_pushdown" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "rel_topk_window" ->
      """SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3""".stripMargin,
    "rel_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,
    "rel_distinct_agg" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_lines
        |FROM lineitem GROUP BY 1""".stripMargin,
    "rel_setops" ->
      """SELECT 'both' AS tag, nk FROM
        |  (SELECT c_nationkey AS nk FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'customer_only' AS tag, nk FROM
        |  (SELECT c_nationkey AS nk FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'supplier_only' AS tag, nk FROM
        |  (SELECT s_nationkey AS nk FROM supplier
        |   EXCEPT SELECT c_nationkey FROM customer)""".stripMargin,
    "rel_year_month" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(month(o_orderdate) AS INT) AS o_month,
        | count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS sum_totalprice,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS first_day
        |FROM orders GROUP BY 1,2""".stripMargin,
    "rel_order_span" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
        |                        CAST(max(o_orderdate) AS DATE)) AS INT) AS span_days
        |FROM orders GROUP BY 1""".stripMargin,
    "rel_json_props" ->
      """SELECT event_type, count(*) AS n_events,
        | round(avg(CAST(json_extract_string(props,'$.k') AS INT)),4) AS avg_k,
        | max(CAST(json_extract_string(props,'$.k') AS INT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "rel_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        | CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY 1""".stripMargin,
    // the oracle states the range join declaratively (BETWEEN join);
    // the engine's bucketized plan must produce the identical pairing
    "rel_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s0 AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 3600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s1 AS (
        |  SELECT user_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s0),
        |sess AS (
        |  SELECT user_id, session_id, min(us) AS s_start, max(us) AS s_end
        |  FROM s1 GROUP BY 1, 2),
        |j AS (
        |  SELECT sess.user_id, sess.session_id, count(*) AS n_concurrent
        |  FROM sess JOIN e ON e.us >= s_start AND e.us <= s_end
        |                  AND e.user_id <> sess.user_id
        |  GROUP BY 1, 2)
        |SELECT sess.user_id, count(*) AS n_sessions,
        |  CAST(coalesce(sum(n_concurrent), 0) AS BIGINT) AS n_concurrent
        |FROM sess LEFT JOIN j USING (user_id, session_id)
        |GROUP BY 1""".stripMargin,
    "rel_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        | round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "rel_daily_stats" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT count(*) AS n_days, round(avg(n),4) AS mean_daily,
        | max(n) AS max_daily, min(n) AS min_daily,
        | CAST(date_diff('day', min(day), max(day)) AS INT) AS span_days
        |FROM daily""".stripMargin,
    "rel_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        | round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "rel_asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN event_type = 'click' THEN event_id END AS lid0,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS lts0
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    last_value(lid0 IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS left_id,
        |    last_value(lts0 IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lts
        |  FROM e)
        |SELECT user_id, event_id AS right_id, left_id,
        |  epoch_us(ts) - lts AS micros_since
        |FROM w WHERE event_type = 'purchase' AND left_id IS NOT NULL""".stripMargin,
    "rel_salted_join" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS sum_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "rel_string_funcs" ->
      """SELECT split_part(p_type, ' ', 1) AS type_head, p_brand,
        | count(*) AS n_parts,
        | round(avg(p_size),4) AS avg_size,
        | max(upper(p_name)) AS max_name
        |FROM part GROUP BY 1,2""".stripMargin,
    "rel_hourly_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2""".stripMargin,
    // trailing-window z-score: frame ROWS -7..-1 (current day excluded),
    // sample stddev on both engines, nulls propagate for warmup days
    "rel_daily_anomaly" ->
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |scored AS (
        |  SELECT day, n,
        |    round(avg(n) OVER w, 4) AS mu,
        |    round(stddev_samp(CAST(n AS DOUBLE)) OVER w, 4) AS sd,
        |    round(CASE WHEN stddev_samp(CAST(n AS DOUBLE)) OVER w > 0
        |      THEN (n - avg(n) OVER w) / stddev_samp(CAST(n AS DOUBLE)) OVER w
        |      END, 4) AS z
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, n, mu, sd, z,
        |  coalesce(abs(z) > 2.0, FALSE) AS is_anomaly
        |FROM scored ORDER BY day""".stripMargin,
    // cohort retention: both week columns truncate to ISO Monday starts,
    // so the day gap is an exact multiple of 7
    "rel_cohort_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, strftime(date_trunc('week', min(ts)), '%Y-%m-%d')
        |    AS cohort_week
        |  FROM events GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d')
        |    AS week
        |  FROM events)
        |SELECT cohort_week,
        |  CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) / 7
        |    AS INT) AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM activity JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the media stub codec is pure integer arithmetic over UTF-8 bytes, so
    // the frame profile mirrors exactly: hex-decode the blob to a byte list,
    // chunk to 256-byte frames, seed-7 base-31 rolling checksum per frame
    "media_frames" ->
      s"""WITH v AS (
         |  SELECT doc_id, hex(encode(text)) AS hx
         |  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 60),
         |b AS (
         |  SELECT doc_id, length(hx) // 2 AS nbytes,
         |    list_transform(range(0, length(hx) // 2), i ->
         |      CAST((strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 1 AS INT), 1)) - 1) * 16
         |        + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 2 AS INT), 1)) - 1) AS BIGINT)) AS bytes
         |  FROM v),
         |fidx AS (
         |  SELECT doc_id AS asset_id, bytes,
         |    unnest(range(0, CAST(ceil(nbytes / 256.0) AS BIGINT))) AS fi
         |  FROM b WHERE nbytes > 0),
         |ck AS (
         |  SELECT asset_id,
         |    len(list_slice(bytes, CAST(fi*256 + 1 AS INT), CAST(fi*256 + 256 AS INT))) AS frame_bytes,
         |    list_reduce(
         |      list_prepend(CAST(7 AS BIGINT),
         |        list_slice(bytes, CAST(fi*256 + 1 AS INT), CAST(fi*256 + 256 AS INT))),
         |      (a, x) -> (a * 31 + x) % $MOD) AS checksum
         |  FROM fidx)
         |SELECT asset_id, count(*) AS n_frames,
         |  CAST(sum(frame_bytes) AS BIGINT) AS total_bytes,
         |  max(checksum) AS max_checksum
         |FROM ck GROUP BY 1""".stripMargin,
    // same byte-decode as media_frames: the stub feature extractor is a
    // 16-bin byte histogram normalized in FLOAT, norm accumulated in DOUBLE
    // — mirrored with the same width casts so the rounding agrees
    "media_features" ->
      """WITH v AS (
        |  SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |b AS (
        |  SELECT doc_id, length(hx) // 2 AS nbytes,
        |    list_transform(range(0, length(hx) // 2), i ->
        |      CAST((strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 1 AS INT), 1)) - 1) * 16
        |        + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 2 AS INT), 1)) - 1) AS BIGINT)) AS bytes
        |  FROM v),
        |bins AS (
        |  SELECT doc_id, nbytes, byte // 16 AS bin, count(*) AS cnt
        |  FROM (SELECT doc_id, nbytes, unnest(bytes) AS byte FROM b)
        |  GROUP BY 1, 2, 3),
        |norms AS (
        |  SELECT doc_id,
        |    sqrt(sum(CAST(CAST(cnt AS REAL) / CAST(nbytes AS REAL) AS DOUBLE)
        |           * CAST(CAST(cnt AS REAL) / CAST(nbytes AS REAL) AS DOUBLE))) AS norm
        |  FROM bins GROUP BY 1)
        |SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS n_assets, CAST(16 AS INT) AS feat_dim,
        |  round(avg(norm), 4) AS avg_norm
        |FROM norms GROUP BY 1""".stripMargin,
    // media near-dup clusters: the 4-gram signature CTE (float-width
    // mirror of StubCodec.signature) through the SAME band sketch, cosine
    // verification, and propagation unroll as dedup_embed_clusters
    "media_dup_clusters" ->
      s"""WITH ${sigCtes("s", "text")},
         |sk AS (SELECT doc_id AS vec_id, nv,
         |  ${bandsSql("nv", SimilarityOps.DedupBands, "bits")} AS bands
         |  FROM su, (SELECT ${bandBitsSql("count(*)")} AS bits FROM documents)),
         |bb AS (${bandRowsSql(SimilarityOps.DedupBands)}),
         |bc AS (SELECT band, band_val, count(*) AS m, min(vec_id) AS anchor
         |       FROM bb GROUP BY 1, 2),
         |bj AS (SELECT bb.vec_id, bb.band, bb.band_val, bc.m, bc.anchor
         |       FROM bb JOIN bc USING (band, band_val)),
         |cands AS (
         |  SELECT DISTINCT vec_a, vec_b FROM (
         |    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |    FROM bj a JOIN bj b2
         |      ON a.band = b2.band AND a.band_val = b2.band_val
         |     AND a.vec_id < b2.vec_id
         |    WHERE a.m <= ${SimilarityOps.AnchorCap}
         |    UNION ALL
         |    SELECT anchor AS vec_a, vec_id AS vec_b FROM bj
         |    WHERE m > ${SimilarityOps.AnchorCap} AND vec_id <> anchor)),
         |edges AS (
         |  SELECT vec_a, vec_b FROM (
         |    SELECT vec_a, vec_b, ${dotSql("sa.nv", "sb2.nv")} AS cos
         |    FROM cands
         |    JOIN sk sa ON sa.vec_id = vec_a
         |    JOIN sk sb2 ON sb2.vec_id = vec_b)
         |  WHERE cos >= ${graft.multimodal.MediaOps.MediaDupCosine}),
         |b AS MATERIALIZED (
         |  SELECT vec_a AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges
         |  UNION ALL
         |  SELECT vec_b AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges),
         |${propagationCtes(DedupOps.ClusterRounds)}
         |SELECT label AS cluster_rep, count(*) AS n_assets,
         |  count(DISTINCT CASE CAST(doc_id % 3 AS INT)
         |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END) AS n_kinds,
         |  max(doc_id) AS max_asset_id
         |FROM l${DedupOps.ClusterRounds}
         |GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // cross-modal keep-best: the media_dup_clusters chain (bands →
    // anchor-hybrid candidates → cosine edges → propagation) composed
    // with the keepBest reduction on quality = pixels (pure id
    // arithmetic, the asset-meta mirror) × caption-signature alignment
    "media_keep_best" ->
      s"""WITH ${sigCtes("s", "text")},
         |${sigCtes("c", s"substring(text, 1, ${graft.multimodal.MediaOps.CaptionChars})")},
         |sk AS (SELECT doc_id AS vec_id, nv,
         |  ${bandsSql("nv", SimilarityOps.DedupBands, "bits")} AS bands
         |  FROM su, (SELECT ${bandBitsSql("count(*)")} AS bits FROM documents)),
         |bb AS (${bandRowsSql(SimilarityOps.DedupBands)}),
         |bc AS (SELECT band, band_val, count(*) AS m, min(vec_id) AS anchor
         |       FROM bb GROUP BY 1, 2),
         |bj AS (SELECT bb.vec_id, bb.band, bb.band_val, bc.m, bc.anchor
         |       FROM bb JOIN bc USING (band, band_val)),
         |cands AS (
         |  SELECT DISTINCT vec_a, vec_b FROM (
         |    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |    FROM bj a JOIN bj b2
         |      ON a.band = b2.band AND a.band_val = b2.band_val
         |     AND a.vec_id < b2.vec_id
         |    WHERE a.m <= ${SimilarityOps.AnchorCap}
         |    UNION ALL
         |    SELECT anchor AS vec_a, vec_id AS vec_b FROM bj
         |    WHERE m > ${SimilarityOps.AnchorCap} AND vec_id <> anchor)),
         |edges AS (
         |  SELECT vec_a, vec_b FROM (
         |    SELECT vec_a, vec_b, ${dotSql("sa.nv", "sb2.nv")} AS cos
         |    FROM cands
         |    JOIN sk sa ON sa.vec_id = vec_a
         |    JOIN sk sb2 ON sb2.vec_id = vec_b)
         |  WHERE cos >= ${graft.multimodal.MediaOps.MediaDupCosine}),
         |b AS MATERIALIZED (
         |  SELECT vec_a AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges
         |  UNION ALL
         |  SELECT vec_b AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges),
         |${propagationCtes(DedupOps.ClusterRounds)},
         |q AS (
         |  SELECT su.doc_id,
         |    CAST((64 + (su.doc_id % 8) * 16) * 64 AS BIGINT)
         |      * ${dotSql("su.nv", "cu.nv")} AS q
         |  FROM su JOIN cu ON cu.doc_id = su.doc_id),
         |j AS (SELECT l.label, l.doc_id, q.q
         |      FROM l${DedupOps.ClusterRounds} l JOIN q USING (doc_id)),
         |best AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
         |               max(q) AS bq
         |         FROM j GROUP BY 1)
         |SELECT j.label AS cluster_rep, best.n_docs AS n_assets,
         |  min(j.doc_id) AS keep_asset_id,
         |  round(best.bq, 4) AS best_quality,
         |  best.n_docs - 1 AS n_removed
         |FROM j JOIN best USING (label)
         |WHERE j.q = best.bq AND best.n_docs > 1
         |GROUP BY 1, 2, 4, 5""".stripMargin,
    // media↔text alignment: stub cross-modal projection (plane LCG mirror)
    // of the asset signature vs the document embedding, banded by decile
    "media_text_align" ->
      s"""WITH ${sigCtes("s", "text")},
         |pj AS (SELECT doc_id,
         |  ${projSql("nv", graft.multimodal.MediaOps.AlignDim,
             graft.multimodal.MediaOps.SignatureDim,
             graft.multimodal.MediaOps.AlignSeed)} AS pr FROM su),
         |pu AS (SELECT doc_id,
         |  CASE WHEN sqrt(${dotSql("pr", "pr")}) = 0.0
         |       THEN list_transform(pr, x -> 0.0)
         |       ELSE list_transform(pr, x -> x / sqrt(${dotSql("pr", "pr")})) END AS pv
         |  FROM pj),
         |$UNIT_CTE,
         |al AS (
         |  SELECT CASE CAST(pu.doc_id % 3 AS INT)
         |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    ${dotSql("pu.pv", "u.nv")} AS align
         |  FROM pu JOIN u ON u.vec_id = pu.doc_id)
         |SELECT kind, CAST(floor(align * 10) AS INT) AS align_band,
         |  count(*) AS n_pairs, round(avg(align), 4) AS avg_align
         |FROM al GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // cross-modal retrieval: align's projection CTEs, probe assets < 5,
    // exact cosine top-5 docs per asset
    "media_text_search" ->
      s"""WITH ${sigCtes("s", "text")},
         |pj AS (SELECT doc_id,
         |  ${projSql("nv", graft.multimodal.MediaOps.AlignDim,
             graft.multimodal.MediaOps.SignatureDim,
             graft.multimodal.MediaOps.AlignSeed)} AS pr
         |  FROM su WHERE doc_id < 5),
         |pu AS (SELECT doc_id,
         |  CASE WHEN sqrt(${dotSql("pr", "pr")}) = 0.0
         |       THEN list_transform(pr, x -> 0.0)
         |       ELSE list_transform(pr, x -> x / sqrt(${dotSql("pr", "pr")})) END AS pv
         |  FROM pj),
         |$UNIT_CTE,
         |mts AS (
         |  SELECT pu.doc_id AS asset_id, u.vec_id,
         |    ${dotSql("pu.pv", "u.nv")} AS cos
         |  FROM pu, u),
         |r AS (
         |  SELECT asset_id, vec_id, cos,
         |    CAST(row_number() OVER (
         |      PARTITION BY asset_id ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM mts)
         |SELECT asset_id, rank, vec_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5""".stripMargin,
    // caption-alignment gate: asset signature vs own caption signature and
    // vs the doc_id-ordered shifted decoy; both sides the same sig CTE
    "media_caption_gate" ->
      s"""WITH ${sigCtes("a", "text")},
         |${sigCtes("c", s"substring(text, 1, ${graft.multimodal.MediaOps.CaptionChars})")},
         |ids AS (SELECT doc_id,
         |  coalesce(lead(doc_id) OVER (ORDER BY doc_id),
         |           (SELECT min(doc_id) FROM documents)) AS decoy_id
         |  FROM documents),
         |sc AS (
         |  SELECT au.doc_id,
         |    CASE CAST(au.doc_id % 3 AS INT)
         |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    ${dotSql("au.nv", "co.nv")} AS cos_genuine,
         |    ${dotSql("au.nv", "dx.nv")} AS cos_decoy
         |  FROM au
         |  JOIN cu co ON co.doc_id = au.doc_id
         |  JOIN ids ON ids.doc_id = au.doc_id
         |  JOIN cu dx ON dx.doc_id = ids.decoy_id)
         |SELECT kind, count(*) AS n_pairs,
         |  round(avg(cos_genuine), 4) AS avg_genuine,
         |  round(avg(cos_decoy), 4) AS avg_decoy,
         |  CAST(sum(CASE WHEN cos_genuine >= ${graft.multimodal.MediaOps.CaptionGate} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_genuine,
         |  CAST(sum(CASE WHEN cos_decoy >= ${graft.multimodal.MediaOps.CaptionGate} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_decoy
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // snapshot diff: both synthetic versions re-derive in SQL (same mod
    // arithmetic, same seed-7 content fingerprint), full-outer join on id
    "snapshot_diff" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS c FROM documents),
         |oldsnap AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 THEN text || ' stale edition'
         |         ELSE text END AS text
         |  FROM documents, cut WHERE doc_id <= c),
         |ofp AS (SELECT doc_id, ${polyFold(cps(NORM))} AS fp FROM oldsnap),
         |nfp AS (SELECT doc_id, ${polyFold(cps(NORM))} AS fp FROM documents
         |        WHERE doc_id % 101 <> 0),
         |d AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.fp IS NULL THEN 'added'
         |         WHEN n.fp IS NULL THEN 'removed'
         |         WHEN o.fp <> n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id)
         |SELECT status, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(d.doc_id) AS min_doc_id, max(d.doc_id) AS max_doc_id
         |FROM d JOIN documents USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vocab_merge_pairs" ->
      s"""WITH toks AS (SELECT $TOKS AS t FROM documents),
         |pairs AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |                               i -> t[i] || ' ' || t[i + 1])) AS pair
         |  FROM toks WHERE len(t) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "vocab_coverage" ->
      s"""WITH tok AS (SELECT lang, unnest($TOKS) AS word FROM documents),
         |vocab AS (
         |  SELECT word FROM (SELECT word, count(*) AS wf FROM tok GROUP BY 1)
         |  ORDER BY wf DESC, word LIMIT 1000)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_covered,
         |  round(1 - CAST(sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END)
         |                 AS DOUBLE) / count(*), 4) AS oov_rate
         |FROM tok LEFT JOIN vocab v USING (word)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // iterative BPE: the full 8-round training loop unrolled — per round
    // the argmax pair is a scalar subquery, so the oracle re-learns the
    // merges itself rather than trusting Spark's collected choices
    "vocab_bpe_merges" ->
      s"""WITH wf AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($TOKS) AS w FROM documents)
         |  GROUP BY 1 ORDER BY f DESC, w LIMIT 200),
         |up AS (SELECT w, f, unnest(range(0, length(w))) AS pos FROM wf),
         |u0 AS MATERIALIZED (
         |  SELECT w, f, pos, substring(w, CAST(pos AS INT) + 1, 1) AS unit
         |  FROM up
         |  UNION ALL SELECT w, f, length(w) AS pos, '</w>' FROM wf)
         |${bpeRoundCtes(8)}
         |SELECT * FROM (
         |${(0 until 8).map(i =>
             s"  SELECT ${i + 1} AS step, l AS left_unit, r AS right_unit, " +
               s"l || r AS merged, pf AS pair_freq FROM b$i")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY step""".stripMargin,
    // BPE encode: the training chain (u/b CTEs) re-learns the merge table,
    // then the v-chain applies it to ALL distinct corpus words
    "vocab_bpe_encode" ->
      s"""WITH wf AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($TOKS) AS w FROM documents)
         |  GROUP BY 1 ORDER BY f DESC, w LIMIT 200),
         |up AS (SELECT w, f, unnest(range(0, length(w))) AS pos FROM wf),
         |u0 AS MATERIALIZED (
         |  SELECT w, f, pos, substring(w, CAST(pos AS INT) + 1, 1) AS unit
         |  FROM up
         |  UNION ALL SELECT w, f, length(w) AS pos, '</w>' FROM wf)
         |${bpeRoundCtes(8)},
         |lw AS (
         |  SELECT lang, word AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT lang, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dw AS (SELECT DISTINCT w FROM lw),
         |vp AS (SELECT w, unnest(range(0, length(w))) AS pos FROM dw),
         |v0 AS MATERIALIZED (
         |  SELECT w, pos, substring(w, CAST(pos AS INT) + 1, 1) AS unit
         |  FROM vp
         |  UNION ALL SELECT w, length(w) AS pos, '</w>' FROM dw)
         |${bpeApplyCtes(8)},
         |enc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_units
         |        FROM v8 GROUP BY 1)
         |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(n * n_units) AS BIGINT) AS n_subwords,
         |  round(CAST(sum(n * n_units) AS DOUBLE) / sum(n), 4)
         |    AS subwords_per_token
         |FROM lw JOIN enc USING (w) GROUP BY 1 ORDER BY 1""".stripMargin,
    // multinomial NB: priors, the complete word×class likelihood grid
    // (unseen cells carry backoff mass), per-doc argmax on 6-dp-rounded
    // log-posteriors (summation-order-insensitive on both engines)
    "txt_nb_confusion" ->
      s"""WITH $NB_BEST_CTES
         |SELECT d.lang, b.pred_lang, count(*) AS n_docs
         |FROM best b JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-class metrics from the same confusion: F1 as one exact integer
    // ratio 2tp/(2tp+fp+fn), null precision for never-predicted classes
    // BM25 over the tokenized corpus: postings/doc-length/df all derived
    // from the same $TOKS term space; idf = ln(1+(N-df+.5)/(df+.5)),
    // k1/b from RetrievalOps so Spark and oracle share one constant
    "search_bm25" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |q AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |s AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * (tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * dl / avgdl))) AS score
         |  FROM q JOIN tf USING (word)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfq USING (word), st
         |  WHERE tf.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM s)
         |SELECT query_id, rank, doc_id, round(score, 4) AS bm25
         |FROM r WHERE rank <= 5""".stripMargin,
    // exact phrase via the positional index: zipped unnests give
    // (doc, pos, word); a (query, doc, start) group matching count ==
    // PhraseLen means every offset hit — integer-only end to end
    "search_phrase" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |ppos AS (
         |  SELECT doc_id, unnest(toks) AS word,
         |    CAST(unnest(range(len(toks))) AS INT) AS pos
         |  FROM dt),
         |ph AS (
         |  SELECT doc_id AS query_id,
         |    unnest(toks[1:${RetrievalOps.PhraseLen}]) AS word,
         |    CAST(unnest(range(${RetrievalOps.PhraseLen})) AS INT) AS off
         |  FROM dt
         |  WHERE doc_id < 8 AND len(toks) >= ${RetrievalOps.PhraseLen}),
         |m AS (
         |  SELECT query_id, doc_id, pos - off AS st
         |  FROM ph JOIN ppos USING (word)
         |  GROUP BY 1, 2, 3
         |  HAVING count(*) = ${RetrievalOps.PhraseLen})
         |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(min(st) AS BIGINT) AS first_start
         |FROM m GROUP BY 1, 2""".stripMargin,
    // windowed proximity: (first, last) probe tokens, position-pair join
    // per (query, doc), min distance gate at ProxWindow — integer-only
    "search_proximity" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |ppos AS (
         |  SELECT doc_id, unnest(toks) AS word,
         |    CAST(unnest(range(len(toks))) AS INT) AS pos
         |  FROM dt),
         |pt AS (
         |  SELECT doc_id AS query_id, toks[1] AS w1, toks[-1] AS w2
         |  FROM dt
         |  WHERE doc_id < 8 AND len(toks) >= 2 AND toks[1] <> toks[-1]),
         |a AS (SELECT query_id, p.doc_id, pos AS p1
         |      FROM pt JOIN ppos p ON p.word = pt.w1),
         |b AS (SELECT query_id, p.doc_id, pos AS p2
         |      FROM pt JOIN ppos p ON p.word = pt.w2),
         |d AS (SELECT query_id, a.doc_id, abs(p1 - p2) AS dist
         |      FROM a JOIN b USING (query_id, doc_id))
         |SELECT query_id, doc_id, CAST(min(dist) AS BIGINT) AS min_dist,
         |  CAST(sum(CASE WHEN dist <= ${RetrievalOps.ProxWindow}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_close_pairs
         |FROM d GROUP BY 1, 2
         |HAVING min(dist) <= ${RetrievalOps.ProxWindow}""".stripMargin,
    // Dirichlet QL in the matched-terms decomposition: per-pair sum of
    // ln(1 + tf/(μ·cf/|C|)) + |q|·ln(μ/(dl+μ)) over matched postings only
    "search_ql" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |coll AS (SELECT CAST(sum(tf) AS BIGINT) AS c_total FROM tf),
         |cf AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         |q AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |ql AS (SELECT query_id, CAST(count(*) AS BIGINT) AS q_len FROM q GROUP BY 1),
         |mp AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(ln(1.0 + tf / (${RetrievalOps.QlMu} * cf / c_total))) AS match_part
         |  FROM q JOIN tf USING (word)
         |  JOIN cf USING (word), coll
         |  WHERE tf.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |s AS (
         |  SELECT mp.query_id, mp.doc_id,
         |    match_part + q_len * ln(${RetrievalOps.QlMu}
         |      / (dl + ${RetrievalOps.QlMu})) AS score
         |  FROM mp JOIN dl ON dl.doc_id = mp.doc_id
         |  JOIN ql ON ql.query_id = mp.query_id),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM s)
         |SELECT query_id, rank, doc_id, round(score, 4) AS ql
         |FROM r WHERE rank <= 5""".stripMargin,
    // PRF: the BM25 CTEs run twice — feedback pass at depth 3, expansion
    // term mining (integer fb-tf × idf, word tie-break), union, rescore
    "search_prf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |q AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |s1 AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * (tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * dl / avgdl))) AS score
         |  FROM q JOIN tf USING (word)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfq USING (word), st
         |  WHERE tf.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |fb AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |    FROM s1)
         |  WHERE rk <= ${RetrievalOps.PrfFbDocs}),
         |ft AS (
         |  SELECT fb.query_id, tf.word, CAST(sum(tf.tf) AS BIGINT) AS fb_tf
         |  FROM fb JOIN tf ON tf.doc_id = fb.doc_id
         |  GROUP BY 1, 2),
         |exp AS (
         |  SELECT query_id, word FROM (
         |    SELECT ft.query_id, ft.word,
         |      row_number() OVER (PARTITION BY ft.query_id
         |        ORDER BY ft.fb_tf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |          DESC, ft.word) AS erk
         |    FROM ft JOIN dfq USING (word), st)
         |  WHERE erk <= ${RetrievalOps.PrfFbTerms}),
         |q2 AS (SELECT query_id, word FROM q
         |       UNION SELECT query_id, word FROM exp),
         |s2 AS (
         |  SELECT q2.query_id, tf.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * (tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * dl / avgdl))) AS score
         |  FROM q2 JOIN tf USING (word)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfq USING (word), st
         |  WHERE tf.doc_id <> q2.query_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM s2)
         |SELECT query_id, rank, doc_id, round(score, 4) AS bm25
         |FROM r WHERE rank <= 5""".stripMargin,
    // frozen-stats drift: the percolate chain twice (A-frozen terms vs
    // B-fresh terms), order-pinned folds, per-doc argmax flip count
    "search_stats_drift" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS c FROM documents),
         |olddocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 THEN text || ' stale edition'
         |         ELSE text END AS text
         |  FROM documents, cut WHERE doc_id <= c),
         |newdocs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 0),
         |tfa AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM olddocs)
         |  GROUP BY 1, 2),
         |dla AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfa GROUP BY 1),
         |sta AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dla),
         |dfa AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tfa GROUP BY 1),
         |terma AS (
         |  SELECT query_id, q.word,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf,
         |    avgdl
         |  FROM (SELECT DISTINCT doc_id AS query_id, word FROM tfa
         |        WHERE doc_id < 8) q
         |  JOIN dfa USING (word), sta),
         |tfb AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM newdocs)
         |  GROUP BY 1, 2),
         |dlb AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfb GROUP BY 1),
         |stb AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dlb),
         |dfb AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tfb GROUP BY 1),
         |termb AS (
         |  SELECT query_id, q.word,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf,
         |    avgdl
         |  FROM (SELECT DISTINCT doc_id AS query_id, word FROM tfb
         |        WHERE doc_id < 8) q
         |  JOIN dfb USING (word), stb),
         |itf AS (
         |  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS word FROM (
         |      SELECT doc_id, $TOKS AS toks FROM newdocs
         |      WHERE doc_id % 7 = 3 AND doc_id >= 8))
         |  GROUP BY 1, 2, 3),
         |sca AS (
         |  SELECT t.query_id, i.doc_id,
         |    list_reduce(list_prepend(0.0, list(
         |      t.idf * (i.tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (i.tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * i.dl / t.avgdl))
         |      ORDER BY word)), (acc, x) -> acc + x) AS score
         |  FROM itf i JOIN terma t USING (word)
         |  GROUP BY 1, 2),
         |scb AS (
         |  SELECT t.query_id, i.doc_id,
         |    list_reduce(list_prepend(0.0, list(
         |      t.idf * (i.tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (i.tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * i.dl / t.avgdl))
         |      ORDER BY word)), (acc, x) -> acc + x) AS score
         |  FROM itf i JOIN termb t USING (word)
         |  GROUP BY 1, 2),
         |ba AS (
         |  SELECT doc_id, query_id AS q_frozen FROM (
         |    SELECT doc_id, query_id,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, query_id) AS rk FROM sca)
         |  WHERE rk = 1),
         |bb AS (
         |  SELECT doc_id, query_id AS q_fresh FROM (
         |    SELECT doc_id, query_id,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, query_id) AS rk FROM scb)
         |  WHERE rk = 1),
         |j AS (SELECT ba.doc_id, q_frozen, q_fresh
         |      FROM ba JOIN bb ON ba.doc_id = bb.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN q_frozen <> q_fresh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flips,
         |  round(sum(CASE WHEN q_frozen <> q_fresh THEN 1 ELSE 0 END) * 1.0
         |    / count(*), 4) AS flip_rate,
         |  sum(CASE WHEN q_frozen <> q_fresh THEN 1 ELSE 0 END) * 1.0
         |    / count(*) > ${RetrievalOps.StatsDriftThreshold} AS rebuild_due
         |FROM j""".stripMargin,
    // percolation: frozen standing terms (idf at build time) score a
    // stateless ingest sample; best query per doc, gate at PercolateMin,
    // per-query report
    "search_percolate" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qt AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |terms AS (
         |  SELECT query_id, qt.word,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
         |  FROM qt JOIN dfq USING (word), st),
         |inc AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, $TOKS AS toks FROM documents
         |    WHERE doc_id % 7 = 3 AND doc_id >= 8)),
         |itf AS (
         |  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS word FROM inc)
         |  GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT t.query_id, i.doc_id,
         |    list_reduce(list_prepend(0.0, list(
         |      t.idf * (i.tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (i.tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * i.dl / avgdl))
         |      ORDER BY word)), (acc, x) -> acc + x) AS score
         |  FROM itf i JOIN terms t USING (word), st
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT query_id, doc_id, score FROM (
         |    SELECT query_id, doc_id, score,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, query_id) AS rk
         |    FROM sc)
         |  WHERE rk = 1 AND score >= ${RetrievalOps.PercolateMin}),
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS qrk
         |  FROM best)
         |SELECT query_id, CAST(count(*) AS BIGINT) AS n_matched,
         |  max(CASE WHEN qrk = 1 THEN doc_id END) AS top_doc,
         |  max(CASE WHEN qrk = 1 THEN round(score, 4) END) AS top_score
         |FROM ranked GROUP BY 1""".stripMargin,
    // incremental BM25: maintained-index ≡ rebuild, so the oracle IS the
    // from-scratch BM25 over corpus B (documents minus ids ≡ 0 mod 101)
    "search_bm25_incremental" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 0),
         |tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM b)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |q AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |s AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * (tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * dl / avgdl))) AS score
         |  FROM q JOIN tf USING (word)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfq USING (word), st
         |  WHERE tf.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM s)
         |SELECT query_id, rank, doc_id, round(score, 4) AS bm25
         |FROM r WHERE rank <= 5""".stripMargin,
    // MMR diversification: unrolled greedy (one scored/pick/sel CTE
    // triple per step). Every step is products + max — no double sums —
    // so ten steps are bit-stable by construction; λ and 1−λ are
    // interpolated from RetrievalOps (1.0−0.7 is not the literal 0.3)
    "sim_mmr_diverse" -> {
      val L = RetrievalOps.MmrLambda
      val C = RetrievalOps.MmrComp
      val steps = (2 to RetrievalOps.MmrK).map { i =>
        s"""scored$i AS MATERIALIZED (
           |  SELECT c.query_id, c.vec_id,
           |    $L * c.rel - $C * max(p.sim) AS mmr
           |  FROM cand c
           |  JOIN pw p ON p.query_id = c.query_id AND p.va = c.vec_id
           |  JOIN sel${i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.vb
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
           |  GROUP BY c.query_id, c.vec_id, c.rel),
           |pick$i AS MATERIALIZED (
           |  SELECT query_id, vec_id, mmr, $i AS pos FROM (
           |    SELECT query_id, vec_id, mmr,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY mmr DESC, vec_id) AS rk
           |    FROM scored$i) WHERE rk = 1),
           |sel$i AS MATERIALIZED (SELECT query_id, vec_id FROM sel${i - 1}
           |          UNION ALL SELECT query_id, vec_id FROM pick$i)""".stripMargin
      }.mkString(",\n")
      val unionAll = (1 to RetrievalOps.MmrK)
        .map(i => s"SELECT query_id, pos, vec_id, mmr FROM pick$i")
        .mkString("\n  UNION ALL ")
      s"""WITH $UNIT_CTE,
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |cand AS MATERIALIZED (
         |  SELECT query_id, vec_id, cos AS rel FROM (
         |    SELECT query_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, vec_id) AS rk
         |    FROM sc) WHERE rk <= ${RetrievalOps.MmrCandDepth}),
         |pw AS MATERIALIZED (
         |  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         |    ${dotSql("ua.nv", "ub.nv")} AS sim
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |  JOIN u ua ON ua.vec_id = a.vec_id
         |  JOIN u ub ON ub.vec_id = b.vec_id),
         |pick1 AS MATERIALIZED (
         |  SELECT query_id, vec_id, $L * rel AS mmr, 1 AS pos FROM (
         |    SELECT query_id, vec_id, rel,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $L * rel DESC, vec_id) AS rk
         |    FROM cand) WHERE rk = 1),
         |sel1 AS MATERIALIZED (SELECT query_id, vec_id FROM pick1),
         |$steps
         |SELECT query_id, pos, vec_id, round(mmr, 6) AS score
         |FROM ($unionAll)""".stripMargin
    },
    // IVF rank-quality: the recall face's brute/probe CTEs with ranks
    // kept; DCG folds the literal discount table in rank order (the
    // discounts are Scala-computed constants — no transcendental runs in
    // SQL, so libm-vs-JVM ulp drift can't exist)
    "sim_eval_rank" ->
      s"""WITH $UNIT_CTE,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 10),
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 5),
         |pr AS (
         |  SELECT query_id, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("ivf_centroids")} c)),
         |s2 AS (
         |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("ivf_assign")} ix USING (list)
         |  JOIN u cu ON cu.vec_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> ix.vec_id),
         |an AS (
         |  SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s2)
         |  WHERE rk <= 10),
         |g AS (
         |  SELECT an.query_id, an.rk,
         |    CASE WHEN br.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
         |    CASE WHEN br.vec_id IS NOT NULL THEN 1 ELSE 0 END
         |      * (${RetrievalOps.NdcgDiscounts.mkString("[", ", ", "]")})[an.rk] AS gain
         |  FROM an LEFT JOIN br
         |    ON br.query_id = an.query_id AND br.vec_id = an.vec_id)
         |SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_hits,
         |  round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rk END), 0.0), 6) AS mrr,
         |  round(list_reduce(list_prepend(0.0, list(gain ORDER BY rk)),
         |    (acc, x) -> acc + x) / ${RetrievalOps.NdcgIdeal}, 6) AS ndcg
         |FROM g GROUP BY 1""".stripMargin,
    // hybrid RRF: the BM25 CTEs at depth 20 + the brute-cosine CTEs at
    // depth 20, full-outer fused on (query_id, doc_id), 1/(60+rank) sums
    "search_hybrid_rrf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |q AS (SELECT DISTINCT doc_id AS query_id, word FROM tf WHERE doc_id < 8),
         |sbm AS (
         |  SELECT q.query_id, tf.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * (tf * ${RetrievalOps.Bm25K1 + 1.0})
         |        / (tf + ${RetrievalOps.Bm25K1} * (1.0 - ${RetrievalOps.Bm25B}
         |             + ${RetrievalOps.Bm25B} * dl / avgdl))) AS score
         |  FROM q JOIN tf USING (word)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfq USING (word), st
         |  WHERE tf.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |lr AS (
         |  SELECT query_id, doc_id,
         |    1.0 / (${RetrievalOps.RrfK} + row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id)) AS lex_rrf
         |  FROM sbm
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id)
         |      <= ${RetrievalOps.HybridDepth}),
         |$UNIT_CTE,
         |sd AS (
         |  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
         |    ${dotSql("qv.nv", "c.nv")} AS cos
         |  FROM u qv JOIN u c ON qv.vec_id <> c.vec_id
         |  WHERE qv.vec_id < 8),
         |dr AS (
         |  SELECT query_id, doc_id,
         |    1.0 / (${RetrievalOps.RrfK} + row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, doc_id)) AS dense_rrf
         |  FROM sd
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, doc_id)
         |      <= ${RetrievalOps.HybridDepth}),
         |f AS (
         |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |    coalesce(l.doc_id, d.doc_id) AS doc_id,
         |    CAST(l.doc_id IS NOT NULL AS INT)
         |      + CAST(d.doc_id IS NOT NULL AS INT) AS n_sources,
         |    coalesce(l.lex_rrf, 0.0) + coalesce(d.dense_rrf, 0.0) AS rrf
         |  FROM lr l FULL OUTER JOIN dr d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
         |r AS (
         |  SELECT query_id, doc_id, n_sources, rrf,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank
         |  FROM f)
         |SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf, n_sources
         |FROM r WHERE rank <= ${RetrievalOps.HybridK}""".stripMargin,
    // TextRank: unrolled power iteration (one CTE per round); neighbor
    // contributions fold in dst-ascending order via list(... ORDER BY) so
    // the double math is bit-identical to the driver-local foldLeft; the
    // damping constants are interpolated from TextRankOps (round-trip-
    // exact literals — 1.0-0.85 is NOT the same double as 0.15)
    "txt_textrank" -> {
      // AS MATERIALIZED on every iteration CTE (and on ed/deg below): the
      // documented DuckDB trap — chained non-materialized CTEs re-inline
      // their upstream subtrees, so p10 would otherwise carry ~10 copies
      // of the ed/deg/n bigram scan (the MMR oracle's convention)
      val iterCtes = (1 to TextRankOps.TrIters).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT e.src AS word,
           |    ${TextRankOps.TrBase} / n.n + ${TextRankOps.TrDamping}
           |      * list_reduce(list_prepend(0.0,
           |          list(p.rank / dg.deg ORDER BY e.dst)),
           |        (acc, x) -> acc + x) AS rank
           |  FROM ed e
           |  JOIN p${i - 1} p ON p.word = e.dst
           |  JOIN deg dg ON dg.src = e.dst, n
           |  GROUP BY e.src, n.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT $TOKS AS toks FROM documents),
         |bi AS (
         |  SELECT string_split(bigram, ' ')[1] AS w1,
         |         string_split(bigram, ' ')[2] AS w2
         |  FROM (
         |    SELECT bigram, count(*) AS c12 FROM (
         |      SELECT unnest(CASE WHEN len(toks) >= 2
         |        THEN list_transform(range(1, len(toks)),
         |               i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])
         |        ELSE [] END) AS bigram FROM d)
         |    GROUP BY 1 HAVING count(*) >= ${TextRankOps.TrMinCount})
         |  WHERE string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]),
         |ed AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT w1 AS src, w2 AS dst FROM bi
         |    UNION ALL SELECT w2, w1 FROM bi)),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM ed),
         |p0 AS (SELECT src AS word, 1.0 / n.n AS rank
         |       FROM (SELECT DISTINCT src FROM ed), n),
         |$iterCtes,
         |r AS (
         |  SELECT word, rank,
         |    CAST(row_number() OVER (ORDER BY rank DESC, word) AS INT) AS pos
         |  FROM p${TextRankOps.TrIters})
         |SELECT pos, word, round(rank, 6) AS score
         |FROM r WHERE pos <= ${TextRankOps.TrTopK}""".stripMargin
    },
    // adjacent-pair PMI at min-count 5: same bigram construction as the
    // ctfidf (1,2)-gram face; T/B totals from the staged token lists
    "txt_collocations" ->
      s"""WITH d AS (SELECT $TOKS AS toks FROM documents),
         |tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t_uni,
         |               CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS t_bi
         |        FROM d),
         |uni AS (SELECT word, CAST(count(*) AS BIGINT) AS c1
         |        FROM (SELECT unnest(toks) AS word FROM d) GROUP BY 1),
         |bi AS (
         |  SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM (
         |    SELECT unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |             i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])
         |      ELSE [] END) AS bigram FROM d)
         |  GROUP BY 1 HAVING count(*) >= 5),
         |s AS (SELECT string_split(bigram, ' ')[1] AS w1,
         |             string_split(bigram, ' ')[2] AS w2, c12 FROM bi),
         |p AS (
         |  SELECT w1, w2, c12,
         |    ln((c12 * 1.0 / t_bi)
         |       / ((u1.c1 * 1.0 / t_uni) * (u2.c1 * 1.0 / t_uni))) AS pmi
         |  FROM s JOIN uni u1 ON u1.word = w1 JOIN uni u2 ON u2.word = w2, tot)
         |SELECT w1, w2, c12, round(pmi, 4) AS pmi
         |FROM p ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,
    "txt_nb_metrics" ->
      s"""WITH $NB_BEST_CTES,
         |conf AS (
         |  SELECT d.lang, b.pred_lang, count(*) AS n
         |  FROM best b JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |tpt AS (SELECT lang AS clazz, n AS tp FROM conf
         |        WHERE lang = pred_lang),
         |act AS (SELECT lang AS clazz, CAST(sum(n) AS BIGINT) AS n_actual
         |        FROM conf GROUP BY 1),
         |prd AS (SELECT pred_lang AS clazz,
         |          CAST(sum(n) AS BIGINT) AS n_predicted
         |        FROM conf GROUP BY 1)
         |SELECT coalesce(a.clazz, p.clazz) AS lang,
         |  coalesce(n_actual, 0) AS n_actual,
         |  coalesce(n_predicted, 0) AS n_predicted,
         |  coalesce(tp, 0) AS tp,
         |  CASE WHEN coalesce(n_predicted, 0) > 0
         |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_predicted, 4)
         |    END AS "precision",
         |  CASE WHEN coalesce(n_actual, 0) > 0
         |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_actual, 4)
         |    END AS recall,
         |  CASE WHEN coalesce(n_predicted, 0) + coalesce(n_actual, 0) > 0
         |    THEN round(2.0 * coalesce(tp, 0)
         |      / (coalesce(n_predicted, 0) + coalesce(n_actual, 0)), 4)
         |    END AS f1
         |FROM act a
         |FULL OUTER JOIN prd p ON a.clazz = p.clazz
         |LEFT JOIN tpt t ON t.clazz = coalesce(a.clazz, p.clazz)
         |ORDER BY 1""".stripMargin,
    // bigram-LM NLL: the whole model (counts, contexts, vocab, add-0.5
    // smoothing, ln) re-derived relationally; self-scoring, so every
    // scored bigram hits the trained table (no backoff branch needed)
    "txt_lm_nll" ->
      s"""WITH toks AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
         |big AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(t)),
         |                          i -> t[i] || ' ' || t[i + 1])) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |bg AS (
         |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM big),
         |counts AS (
         |  SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
         |vocab AS (
         |  SELECT lang, count(DISTINCT word) AS v
         |  FROM (SELECT lang, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1),
         |logp AS (
         |  SELECT c.lang, c.w1, c.w2,
         |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
         |  FROM counts c
         |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
         |  JOIN vocab v ON c.lang = v.lang),
         |inst AS (
         |  SELECT doc_id, lang, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3, 4),
         |nll AS (
         |  SELECT i.doc_id, i.lang,
         |    round(-sum(l.logp * i.n) / sum(i.n), 6) AS nll
         |  FROM inst i
         |  JOIN logp l ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
         |  GROUP BY 1, 2)
         |SELECT lang, CAST(floor(nll) AS INT) AS nll_band,
         |  CAST(count(*) AS BIGINT) AS n_docs, round(avg(nll), 4) AS avg_nll
         |FROM nll GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // CCNet terciles: same per-doc nll derivation as txt_lm_nll, then
    // rank-based (type-1) per-lang cuts at ceil(n/3) / ceil(2n/3) over the
    // (lang, distinct nll) histogram — integer ranks, exact value compares
    "quality_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
         |big AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(t)),
         |                          i -> t[i] || ' ' || t[i + 1])) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |bg AS (
         |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM big),
         |counts AS (
         |  SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
         |vocab AS (
         |  SELECT lang, count(DISTINCT word) AS v
         |  FROM (SELECT lang, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1),
         |logp AS (
         |  SELECT c.lang, c.w1, c.w2,
         |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
         |  FROM counts c
         |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
         |  JOIN vocab v ON c.lang = v.lang),
         |inst AS (
         |  SELECT doc_id, lang, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3, 4),
         |nll AS (
         |  SELECT i.doc_id, i.lang,
         |    round(-sum(l.logp * i.n) / sum(i.n), 6) AS nll
         |  FROM inst i
         |  JOIN logp l ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
         |  GROUP BY 1, 2),
         |hist AS (SELECT lang, nll, count(*) AS hn FROM nll GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, nll,
         |    sum(hn) OVER (PARTITION BY lang ORDER BY nll) AS cum,
         |    sum(hn) OVER (PARTITION BY lang) AS nk
         |  FROM hist),
         |thr AS (
         |  SELECT lang,
         |    min(CASE WHEN cum >= (nk + 2) // 3 THEN nll END) AS t1,
         |    min(CASE WHEN cum >= (2 * nk + 2) // 3 THEN nll END) AS t2
         |  FROM cum GROUP BY 1)
         |SELECT n.lang,
         |  CASE WHEN n.nll <= t1 THEN 'head'
         |       WHEN n.nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(n.nll), 4) AS avg_nll,
         |  min(n.nll) AS min_nll, max(n.nll) AS max_nll
         |FROM nll n JOIN thr USING (lang)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // cross-corpus LM scoring: model from the held-in 80%, held-out 20%
    // scored through the full backoff chain (seen -> (lang,w1) backoff ->
    // per-lang floor), with the miss mass reported per band
    "txt_lm_cross" ->
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
         |            WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
         |trt AS (SELECT doc_id, lang, $TOKS AS t FROM tr),
         |tet AS (SELECT doc_id, lang, $TOKS AS t FROM te),
         |trbg AS (
         |  SELECT lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM trt WHERE len(t) >= 2)),
         |tebg AS (
         |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT doc_id, lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM tet WHERE len(t) >= 2)),
         |counts AS (
         |  SELECT lang, w1, w2, count(*) AS c12 FROM trbg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
         |vocab AS (
         |  SELECT lang, count(DISTINCT word) AS v
         |  FROM (SELECT lang, unnest($TOKS) AS word FROM tr) GROUP BY 1),
         |logp AS (
         |  SELECT c.lang, c.w1, c.w2,
         |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
         |  FROM counts c
         |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
         |  JOIN vocab v ON c.lang = v.lang),
         |miss AS (
         |  SELECT x.lang, x.w1, ln(0.5 / (x.cx + 0.5 * v.v)) AS logp
         |  FROM ctx x JOIN vocab v ON x.lang = v.lang),
         |flr AS (SELECT lang, min(logp) AS floor_lp FROM miss GROUP BY 1),
         |inst AS (
         |  SELECT doc_id, lang, w1, w2, count(*) AS n
         |  FROM tebg GROUP BY 1, 2, 3, 4),
         |scoredrows AS (
         |  SELECT i.doc_id, i.lang, i.n,
         |    coalesce(l.logp, m.logp, f.floor_lp) AS logp,
         |    CASE WHEN l.logp IS NULL THEN i.n ELSE 0 END AS miss_n
         |  FROM inst i
         |  LEFT JOIN logp l
         |    ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
         |  LEFT JOIN miss m ON i.lang = m.lang AND i.w1 = m.w1
         |  JOIN flr f ON i.lang = f.lang),
         |nll AS (
         |  SELECT doc_id, lang,
         |    round(-sum(logp * n) / sum(n), 6) AS nll,
         |    CAST(sum(miss_n) AS BIGINT) AS n_miss,
         |    CAST(sum(n) AS BIGINT) AS n_trans
         |  FROM scoredrows GROUP BY 1, 2)
         |SELECT lang, CAST(floor(nll) AS INT) AS nll_band,
         |  CAST(count(*) AS BIGINT) AS n_docs, round(avg(nll), 4) AS avg_nll,
         |  CAST(sum(n_miss) AS BIGINT) AS n_miss,
         |  CAST(sum(n_trans) AS BIGINT) AS n_trans
         |FROM nll GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the ingest quality gate's batch face: same trained-on-80% model and
    // backoff chain as txt_lm_cross, per-doc verdict at the committed
    // NllGateMax, per-lang counts
    "stream_quality_gate" ->
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
         |            WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
         |trt AS (SELECT doc_id, lang, $TOKS AS t FROM tr),
         |tet AS (SELECT doc_id, lang, $TOKS AS t FROM te),
         |trbg AS (
         |  SELECT lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM trt WHERE len(t) >= 2)),
         |tebg AS (
         |  SELECT doc_id, lang, split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2
         |  FROM (SELECT doc_id, lang,
         |          unnest(list_transform(range(1, len(t)),
         |                                i -> t[i] || ' ' || t[i + 1])) AS pair
         |        FROM tet WHERE len(t) >= 2)),
         |counts AS (
         |  SELECT lang, w1, w2, count(*) AS c12 FROM trbg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, sum(c12) AS cx FROM counts GROUP BY 1, 2),
         |vocab AS (
         |  SELECT lang, count(DISTINCT word) AS v
         |  FROM (SELECT lang, unnest($TOKS) AS word FROM tr) GROUP BY 1),
         |logp AS (
         |  SELECT c.lang, c.w1, c.w2,
         |    ln((c.c12 + 0.5) / (x.cx + 0.5 * v.v)) AS logp
         |  FROM counts c
         |  JOIN ctx x ON c.lang = x.lang AND c.w1 = x.w1
         |  JOIN vocab v ON c.lang = v.lang),
         |miss AS (
         |  SELECT x.lang, x.w1, ln(0.5 / (x.cx + 0.5 * v.v)) AS logp
         |  FROM ctx x JOIN vocab v ON x.lang = v.lang),
         |flr AS (SELECT lang, min(logp) AS floor_lp FROM miss GROUP BY 1),
         |nll AS (
         |  SELECT i.doc_id, i.lang,
         |    round(-sum(coalesce(l.logp, m.logp, f.floor_lp))
         |          / count(*), 6) AS nll
         |  FROM tebg i
         |  LEFT JOIN logp l
         |    ON i.lang = l.lang AND i.w1 = l.w1 AND i.w2 = l.w2
         |  LEFT JOIN miss m ON i.lang = m.lang AND i.w1 = m.w1
         |  JOIN flr f ON i.lang = f.lang
         |  GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN nll <= ${LmOps.NllGateMax} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_passed,
         |  round(avg(nll), 4) AS avg_nll
         |FROM nll GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stream-stream attribution join stated declaratively: per-user
    // equi-join with the two-sided event-time bound; micros cross engines
    "rel_attribution" ->
      """SELECT c.user_id, t.event_id AS trigger_id, c.event_id AS conv_id,
        | epoch_us(t.ts) AS trigger_us, epoch_us(c.ts) AS conv_us,
        | round(c.value, 2) AS value
        |FROM events t JOIN events c ON t.user_id = c.user_id
        |WHERE t.event_type = 'view' AND c.event_type = 'purchase'
        |  AND c.ts >= t.ts AND c.ts <= t.ts + INTERVAL 30 MINUTE""".stripMargin,
    // top-k keywords per (1h window, class) under the synthetic ingest
    // clock doc_id -> minute (StreamOps.DocClockEpoch); window(ts,'1 hour')
    // is epoch-aligned == date_trunc (session TZ UTC)
    "stream_topk_keywords" ->
      s"""WITH toks AS (
         |  SELECT lang AS cls,
         |    make_timestamp(${graft.streaming.StreamOps.DocClockEpoch}000000
         |                   + doc_id * 60000000) AS ts,
         |    unnest($TOKS) AS word
         |  FROM documents),
         |wc AS (
         |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |    cls, word, count(*) AS n
         |  FROM toks GROUP BY 1, 2, 3)
         |SELECT hour, cls, CAST(rank AS INT) AS rank, word, n
         |FROM (SELECT hour, cls, word, n,
         |        row_number() OVER (PARTITION BY hour, cls
         |                           ORDER BY n DESC, word) AS rank
         |      FROM wc)
         |WHERE rank <= 5""".stripMargin,
    // window(ts, '1 hour') tumbling windows are epoch-aligned == date_trunc
    "stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "txt_word_topn" ->
      s"""SELECT word, count(*) AS freq
         |FROM (SELECT unnest($TOKS) AS word FROM documents)
         |GROUP BY 1 ORDER BY freq DESC, word LIMIT 100""".stripMargin,
    "txt_wordfreq_stats" ->
      s"""WITH wc AS (
         |  SELECT word, count(*) AS freq
         |  FROM (SELECT unnest($TOKS) AS word FROM documents) GROUP BY 1)
         |SELECT count(*) AS n_words,
         | round(avg(freq),4) AS mean_freq,
         | round(median(freq),4) AS median_freq,
         | round(stddev_samp(freq),4) AS std_freq,
         | max(freq) AS max_freq, min(freq) AS min_freq
         |FROM wc""".stripMargin,
    "txt_prep_summary" ->
      """WITH dd AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |                 FROM documents) WHERE rn = 1),
        |f AS (SELECT * FROM dd WHERE text IS NOT NULL AND length(trim(text)) > 10)
        |SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc_id,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | round(avg(length(text)),4) AS avg_len
        |FROM f GROUP BY 1""".stripMargin,
    "txt_clean_normalize" ->
      s"""SELECT doc_id,
         | trim(regexp_replace(regexp_replace(coalesce(text,''),
         |   '[^가-힣a-zA-Z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS cleaned,
         | $NORM AS norm
         |FROM documents WHERE doc_id < 20""".stripMargin,
    "txt_token_stats" ->
      s"""WITH d AS (SELECT lang, $TOKS AS toks FROM documents),
         |vol AS (SELECT lang, count(*) AS n_docs,
         |          CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |          round(avg(len(toks)),4) AS avg_tokens
         |        FROM d GROUP BY 1),
         |voc AS (SELECT lang, count(DISTINCT word) AS n_distinct_words
         |        FROM (SELECT lang, unnest(toks) AS word FROM d) GROUP BY 1)
         |SELECT lang, n_docs, n_tokens, avg_tokens, n_distinct_words
         |FROM vol JOIN voc USING (lang)""".stripMargin,
    "txt_langid" ->
      s"""WITH d AS (SELECT text, $TOKS_ALL AS toks FROM documents),
         |s AS (SELECT text,
         |  len(list_filter(toks, t -> t IN ${inList(TextAnalysisOps.langMarkers("de"))})) AS s_de,
         |  len(list_filter(toks, t -> t IN ${inList(TextAnalysisOps.langMarkers("en"))})) AS s_en,
         |  len(list_filter(toks, t -> t IN ${inList(TextAnalysisOps.langMarkers("es"))})) AS s_es,
         |  len(list_filter(toks, t -> t IN ${inList(TextAnalysisOps.langMarkers("fr"))})) AS s_fr
         |  FROM d),
         |p AS (SELECT CASE
         |  WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh'
         |  WHEN regexp_matches(text, '[\\x{AC00}-\\x{D7A3}]') THEN 'ko'
         |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |  WHEN s_fr > 0 THEN 'fr'
         |  ELSE 'und' END AS pred_lang FROM s)
         |SELECT pred_lang, count(*) AS n_docs FROM p GROUP BY 1""".stripMargin,
    "txt_quality" ->
      s"""WITH d AS (
         |  SELECT source, text, $NORM AS norm, $TOKS_ALL AS toks FROM documents),
         |q AS (SELECT source,
         |  $qualityCaseSql AS q
         |  FROM d)
         |SELECT source, count(*) AS n_docs, round(avg(q),4) AS avg_quality,
         | CAST(sum(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
         |FROM q GROUP BY 1""".stripMargin,
    "txt_dup_clusters" ->
      s"""SELECT fp_set, count(*) AS n_docs, min(doc_id) AS min_doc_id,
         | max(doc_id) AS max_doc_id
         |FROM (SELECT md5(array_to_string(list_sort(list_distinct($TOKS)), ' ')) AS fp_set,
         |             doc_id FROM documents)
         |GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "txt_token_budget" ->
      s"""WITH d AS (
         |  SELECT source,
         |    len($TOKS_ALL) AS ws,
         |    CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(
         |        regexp_extract_all(lower(coalesce(text, '')),
         |          '[0-9]+|[a-z]+|[가-힣]+|[^a-z0-9가-힣\\s]+'),
         |        r -> CAST(ceil(length(r) / 8.0) AS BIGINT)))) AS BIGINT) AS bpe,
         |    CAST(ceil(length(coalesce(text, '')) / 4.0) AS BIGINT) AS est
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |  CAST(sum(bpe) AS BIGINT) AS bpeish_tokens,
         |  CAST(sum(est) AS BIGINT) AS est_tokens
         |FROM d GROUP BY 1""".stripMargin,
    // Gopher-family repetition fractions: 1 - distinct/total over tokens
    // and adjacent bigrams, averaged per source
    "txt_repetition" ->
      s"""WITH d AS (SELECT source, $TOKS_ALL AS toks FROM documents),
         |b AS (
         |  SELECT source, toks,
         |    list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]) AS bg
         |  FROM d),
         |f AS (
         |  SELECT source,
         |    CASE WHEN len(toks) > 0 THEN
         |      1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |    ELSE 0.0 END AS dup_tok,
         |    CASE WHEN len(bg) > 0 THEN
         |      1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
         |    ELSE 0.0 END AS dup_big
         |  FROM b)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(dup_tok), 4) AS avg_dup_token_frac,
         |  round(avg(dup_big), 4) AS avg_dup_bigram_frac,
         |  CAST(sum(CASE WHEN dup_big > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM f GROUP BY 1""".stripMargin,
    "txt_countmin" ->
      s"""WITH toks AS (SELECT unnest($TOKS) AS word FROM documents),
         |h AS (SELECT ${polyFold(cps("word"))} AS h FROM toks),
         |cells AS (
         |  SELECT i AS rw,
         |    ((h * (8191 * i)) + (524287 * i)) % $MOD % 1024 AS bucket
         |  FROM h, range(1, 5) t(i)),
         |sketch AS (SELECT rw, bucket, count(*) AS n FROM cells GROUP BY 1, 2),
         |freq AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
         |top AS (SELECT word, freq FROM freq ORDER BY freq DESC, word LIMIT 10),
         |probe AS (
         |  SELECT word, freq, i AS rw,
         |    ((${polyFold(cps("word"))} * (8191 * i)) + (524287 * i)) % $MOD % 1024 AS bucket
         |  FROM top, range(1, 5) t(i)),
         |est AS (
         |  SELECT word, freq, min(coalesce(n, 0)) AS est
         |  FROM probe LEFT JOIN sketch USING (rw, bucket)
         |  GROUP BY 1, 2)
         |SELECT word, freq, est FROM est
         |ORDER BY freq DESC, word""".stripMargin,
    "txt_distinct_sketch" ->
      s"""WITH toks AS (SELECT unnest($TOKS) AS word FROM documents),
         |occ AS (
         |  SELECT count(*) AS occupied FROM (
         |    SELECT DISTINCT ${polyFold(cps("word"))} % 4096 AS bucket
         |    FROM toks)),
         |ex AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_exact FROM toks)
         |SELECT n_exact, occupied,
         |  round(-4096.0 * ln((4096 - occupied) / 4096.0), 4) AS est
         |FROM ex, occ""".stripMargin,
    // HLL: the rank is integer compares against shifted constants and the
    // harmonic sum folds as Σ 2^(21-r) (an integer), so the only float ops
    // are one fixed literal expression — both engines land the same double
    "txt_hll_distinct" -> hllDistinctSql,
    // incremental HLL: registers max-merge losslessly, so stored-90% ∪
    // delta-10% equals the whole-corpus sketch — same oracle
    "hll_incremental" -> hllDistinctSql,
    // grouped HLL: registers carry the group key; same arithmetic per group
    "hll_by_lang" ->
      s"""WITH toks AS (SELECT lang, unnest($TOKS) AS word FROM documents),
         |h AS (SELECT lang, ${polyFold(cps("word"))} AS h FROM toks),
         |g AS (SELECT lang,
         |        (((h * h) % $MOD) * 8191 + h * 524287 + 12289) % $MOD AS g
         |      FROM h),
         |rk AS (
         |  SELECT lang, g % 1024 AS bucket,
         |    1 + len(list_filter(range(0, 20),
         |          j -> (g // 1024) < (CAST(1 AS BIGINT) << j))) AS rank
         |  FROM g),
         |regs AS (SELECT lang, bucket, max(rank) AS r FROM rk GROUP BY 1, 2),
         |st AS (
         |  SELECT lang, count(*) AS occupied,
         |    CAST(sum(CAST(1 AS BIGINT) << (21 - r)) AS BIGINT) AS s_present
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
         |       FROM toks GROUP BY 1),
         |sel AS (
         |  SELECT ex.lang, n_exact, occupied, (1024 - occupied) AS zeros,
         |    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 2097152.0 /
         |      (coalesce(s_present, 0) + (1024 - occupied) * 2097152) *
         |      (1000000007.0 / 1073741824.0) AS raw
         |  FROM ex JOIN st USING (lang))
         |SELECT lang, n_exact, occupied,
         |  round(CASE WHEN raw <= 2560.0 AND zeros > 0
         |             THEN 1024.0 * ln(1024.0 / zeros) ELSE raw END, 4) AS est
         |FROM sel ORDER BY lang""".stripMargin,
    // drift: per-word JS contributions — log2 rendered as ln(x)/ln(2.0) on
    // both sides so the IEEE op sequence is identical; ordering on the
    // ROUNDED contribution with a word tie-break
    "txt_drift" ->
      s"""WITH ka AS (
         |  SELECT word, count(*) AS n FROM (
         |    SELECT unnest($TOKS) AS word FROM documents WHERE lang = 'en') t
         |  GROUP BY 1),
         |ea AS (
         |  SELECT word, count(*) AS n FROM (
         |    SELECT unnest($TOKS) AS word FROM documents WHERE lang = 'de') t
         |  GROUP BY 1),
         |pa AS (SELECT word, n / (SELECT sum(n) FROM ka) AS p FROM ka),
         |pb AS (SELECT word, n / (SELECT sum(n) FROM ea) AS p FROM ea),
         |j AS (
         |  SELECT coalesce(pa.word, pb.word) AS word,
         |    coalesce(pa.p, 0.0) AS p_a, coalesce(pb.p, 0.0) AS p_b
         |  FROM pa FULL OUTER JOIN pb ON pa.word = pb.word)
         |SELECT word, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
         |  round((CASE WHEN p_a > 0
         |              THEN p_a * ln(p_a / ((p_a + p_b) / 2)) / ln(2.0)
         |              ELSE 0.0 END
         |       + CASE WHEN p_b > 0
         |              THEN p_b * ln(p_b / ((p_a + p_b) / 2)) / ln(2.0)
         |              ELSE 0.0 END) / 2, 6) AS js
         |FROM j ORDER BY js DESC, word LIMIT 15""".stripMargin,
    // PSI length drift: Laplace-smoothed rates are exact integer ratios,
    // contributions per-row arithmetic — deterministic on both engines
    "txt_len_drift" ->
      """WITH ha AS (
        |  SELECT CAST(n_chars AS BIGINT) // 64 AS bucket, count(*) AS n
        |  FROM documents WHERE lang = 'en' GROUP BY 1),
        |hb AS (
        |  SELECT CAST(n_chars AS BIGINT) // 64 AS bucket, count(*) AS n
        |  FROM documents WHERE lang = 'de' GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
        |    coalesce(ha.n, 0) AS n_a, coalesce(hb.n, 0) AS n_b
        |  FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
        |        CAST(sum(n_b) AS BIGINT) AS tot_b,
        |        count(*) AS n_buckets FROM j)
        |SELECT bucket,
        |  round((n_a + 1) / (tot_a + n_buckets), 6) AS p_a,
        |  round((n_b + 1) / (tot_b + n_buckets), 6) AS p_b,
        |  round(((n_a + 1) / (tot_a + n_buckets) - (n_b + 1) / (tot_b + n_buckets))
        |    * ln(((n_a + 1) / (tot_a + n_buckets)) / ((n_b + 1) / (tot_b + n_buckets))), 6)
        |    AS psi
        |FROM j, t ORDER BY bucket""".stripMargin,
    // resemblance: exact token-set Jaccard next to the 32-seed MinHash
    // sketch estimate — the sketch arithmetic is the MinHash family at
    // corpus granularity, integer end-to-end
    "txt_resemblance" ->
      s"""WITH kh AS (
         |  SELECT DISTINCT ${polyFold(cps("word"))} AS h FROM (
         |    SELECT unnest($TOKS) AS word FROM documents WHERE lang = 'en') t),
         |eh AS (
         |  SELECT DISTINCT ${polyFold(cps("word"))} AS h FROM (
         |    SELECT unnest($TOKS) AS word FROM documents WHERE lang = 'de') t),
         |inter AS (SELECT count(*) AS n_inter FROM kh JOIN eh USING (h)),
         |un AS (SELECT count(*) AS n_union FROM
         |        (SELECT h FROM kh UNION SELECT h FROM eh) u),
         |sa AS (SELECT i AS seed,
         |         min((h * (8191 * i) + 524287 * i) % $MOD) AS mn_a
         |       FROM kh, range(1, 33) t(i) GROUP BY 1),
         |sb AS (SELECT i AS seed,
         |         min((h * (8191 * i) + 524287 * i) % $MOD) AS mn_b
         |       FROM eh, range(1, 33) t(i) GROUP BY 1),
         |m AS (SELECT CAST(sum(CASE WHEN mn_a = mn_b THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_match
         |      FROM sa JOIN sb USING (seed))
         |SELECT round(n_inter / n_union, 6) AS j_exact,
         |  round(n_match / 32.0, 6) AS j_est, n_match
         |FROM inter, un, m""".stripMargin,
    // heavy hitters: count-min estimates UPPER-BOUND true counts, so the
    // sketch-pruned plan provably returns exactly the words with true
    // count >= 900 — the oracle is the plain exact HAVING query
    "txt_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($TOKS) AS word FROM documents)
         |SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks
         |GROUP BY 1 HAVING count(*) >= 900
         |ORDER BY n DESC, word""".stripMargin,
    // funnel: stage times are sequential minima (strictly-after chain);
    // only counts cross engines, never raw timestamps
    "rel_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        |c AS (
        |  SELECT 1 AS stage, 'view' AS event_type,
        |    CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3),
        |b AS (SELECT n_users AS n_base FROM c WHERE stage = 1)
        |SELECT stage, event_type, n_users,
        |  round(n_users / n_base, 4) AS rate
        |FROM c, b ORDER BY stage""".stripMargin,
    // bloom semi-join: no false negatives, and survivors are exact-verified,
    // so the output equals the plain IN-subquery semi-join
    "rel_bloom_semi" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // histogram-sketch quantiles: same bucketing, same ceil-rank, same
    // linear interpolation — deterministic arithmetic on both sides
    "txt_len_quantiles" ->
      """WITH h AS (
        |  SELECT CAST(n_chars AS BIGINT) // 64 AS bucket, count(*) AS n
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT bucket, n,
        |    coalesce(sum(n) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM h),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
        |qs AS (SELECT CAST(x AS DOUBLE) AS q
        |       FROM (SELECT unnest([0.5, 0.9, 0.99]) AS x)),
        |r AS (SELECT q, CAST(ceil(q * total) AS BIGINT) AS rk, total
        |      FROM qs, t)
        |SELECT q,
        |  round(bucket * 64 + 64 * (rk - cum_before) / n, 4) AS est_chars,
        |  total AS n_docs
        |FROM r JOIN c ON cum_before < rk AND rk <= cum_before + n""".stripMargin,
    // broadcast-CDF exact ranks: ANSI percent_rank/cume_dist semantics
    // reproduced from histogram counts — the oracle uses the real windows
    "txt_len_pctrank" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    percent_rank() OVER (ORDER BY n_chars) AS pr,
        |    cume_dist() OVER (ORDER BY n_chars) AS cd
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT CAST(least(CAST(floor(pr * 10) AS BIGINT), 9) AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  round(avg(pr), 4) AS avg_pct_rank,
        |  round(avg(cd), 4) AS avg_cume_dist
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // constraint report: every rule's violation count from one conditional
    // aggregate, mirrored as CASE sums; uniqueness = rows - distinct
    "data_quality" ->
      """WITH a AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_text,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_lang_null,
        |  CAST(sum(CASE WHEN lang IS NULL
        |    OR lang NOT IN ('en','ko','de','es','fr') THEN 1 ELSE 0 END) AS BIGINT) AS v_lang_set,
        |  CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 30
        |    OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |  CAST(sum(CASE WHEN source IS NULL
        |    OR NOT regexp_matches(source, '^[a-z0-9_.-]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_src,
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v_uniq
        | FROM documents)
        |SELECT rule, col_name, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM (
        |  SELECT 'unique' AS rule, 'doc_id' AS col_name, n_checked, v_uniq AS n_violations FROM a
        |  UNION ALL SELECT 'not_null', 'text', n_checked, v_text FROM a
        |  UNION ALL SELECT 'not_null', 'lang', n_checked, v_lang_null FROM a
        |  UNION ALL SELECT 'in_set', 'lang', n_checked, v_lang_set FROM a
        |  UNION ALL SELECT 'in_range', 'n_chars', n_checked, v_range FROM a
        |  UNION ALL SELECT 'matches', 'source', n_checked, v_src FROM a)
        |ORDER BY rule, col_name""".stripMargin,
    // cross-table constraints: orphans (incl. null keys) via NOT EXISTS,
    // the decorrelated twin of the anti join
    "rel_ref_integrity" ->
      """SELECT rule, col_name, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM (
        |  SELECT 'ref_integrity' AS rule, 'o_custkey' AS col_name,
        |    CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked,
        |    CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_violations
        |  UNION ALL
        |  SELECT 'ref_integrity', 'l_orderkey',
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        |  UNION ALL
        |  SELECT 'ref_integrity', 'user_id',
        |    CAST((SELECT count(*) FROM events) AS BIGINT),
        |    CAST((SELECT count(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS BIGINT)
        |  UNION ALL
        |  SELECT 'in_population', 'user_id',
        |    CAST((SELECT count(*) FROM events) AS BIGINT),
        |    CAST((SELECT count(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_mktsegment = 'BUILDING'
        |         AND c.c_custkey = e.user_id)) AS BIGINT))
        |ORDER BY rule, col_name""".stripMargin,
    // the grouped diagnosis face: same conditional sums, keyed by source
    "data_quality_by_source" ->
      """WITH a AS (SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_text,
        |  CAST(sum(CASE WHEN lang IS NULL
        |    OR lang NOT IN ('en','ko','de','es','fr') THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
        |  CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 30
        |    OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS v_range
        | FROM documents GROUP BY 1)
        |SELECT source, rule, col_name, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM (
        |  SELECT source, 'not_null' AS rule, 'text' AS col_name, n_checked, v_text AS n_violations FROM a
        |  UNION ALL SELECT source, 'in_set', 'lang', n_checked, v_lang FROM a
        |  UNION ALL SELECT source, 'in_range', 'n_chars', n_checked, v_range FROM a)
        |ORDER BY source, rule, col_name""".stripMargin,
    // the embedding-table admission gate: dim drift, NaN poisoning, key
    // uniqueness, label range — same one-aggregate shape as data_quality
    "embedding_quality" ->
      """WITH a AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |  CAST(sum(CASE WHEN embedding IS NULL
        |    OR len(embedding) != 64 THEN 1 ELSE 0 END) AS BIGINT) AS v_dim,
        |  CAST(sum(CASE WHEN embedding IS NULL
        |    OR len(list_filter(embedding, v -> v IS NULL OR isnan(v))) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_fin,
        |  CAST(sum(CASE WHEN label IS NULL OR label < 0 OR label > 9
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_lab,
        |  CAST(count(*) - count(DISTINCT vec_id) AS BIGINT) AS v_uniq
        | FROM embeddings)
        |SELECT rule, col_name, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM (
        |  SELECT 'unique' AS rule, 'vec_id' AS col_name, n_checked, v_uniq AS n_violations FROM a
        |  UNION ALL SELECT 'not_null', 'embedding', n_checked, v_null FROM a
        |  UNION ALL SELECT 'vec_dim', 'embedding', n_checked, v_dim FROM a
        |  UNION ALL SELECT 'vec_finite', 'embedding', n_checked, v_fin FROM a
        |  UNION ALL SELECT 'in_range', 'label', n_checked, v_lab FROM a)
        |ORDER BY rule, col_name""".stripMargin,
    // JSONL sink→source roundtrip: totals must equal the parquet truth and
    // the quarantine must be empty (nothing lost, nothing corrupted)
    "src_jsonl_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(0 AS BIGINT) AS n_quarantined
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_csv_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180.0)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    // exact grouped quantiles: both engines implement ANSI percentile_cont
    // (type-7) — DuckDB's quantile_cont is the reference implementation
    "txt_len_quantiles_exact" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
        |  round(quantile_cont(n_chars, 0.5), 4) AS q50,
        |  round(quantile_cont(n_chars, 0.75), 4) AS q75,
        |  round(quantile_cont(n_chars, 0.95), 4) AS q95
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // sort-free exact median: interpolating (even-n averages the middle two),
    // matching DuckDB's median() over integers
    "txt_len_median" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  round(CAST(median(n_chars) AS DOUBLE), 1) AS median_chars
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_split" ->
      s"""WITH s AS (
         |  SELECT lang, doc_id, ${sampleBucket("doc_id")} AS b FROM documents)
         |SELECT CASE WHEN b < 9000 THEN 'train'
         |            WHEN b < 9500 THEN 'val' ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM s GROUP BY 1, 2""".stripMargin,
    // leakage-safe split: same minhash cluster unroll as dedup_minhash_
    // clusters, split hashed on the group label so clusters never span
    "sample_split_safe" ->
      s"""WITH cpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp FROM documents),
         |shc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM cpc),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM shc WHERE len(sh) > 0),
         |withbands AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM sigs),
         |b AS MATERIALIZED (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM withbands, range(0, 8) t(j)),
         |${propagationCtes(DedupOps.ClusterRounds)},
         |g AS (
         |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS gk
         |  FROM documents d
         |  LEFT JOIN l${DedupOps.ClusterRounds} l USING (doc_id)),
         |a AS (
         |  SELECT doc_id, gk,
         |    CASE WHEN ${sampleBucket("gk")} < 9000 THEN 'train'
         |         WHEN ${sampleBucket("gk")} < 9500 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CASE WHEN ${sampleBucket("doc_id")} < 9000 THEN 'train'
         |         WHEN ${sampleBucket("doc_id")} < 9500 THEN 'val'
         |         ELSE 'test' END AS naive_split
         |  FROM g)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT gk) AS n_groups,
         |  CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_stratified" ->
      s"""WITH k AS (
         |  SELECT lang, count(*) AS n_kept FROM documents
         |  WHERE ${sampleBucket("doc_id")} <
         |    CASE lang WHEN 'ko' THEN 3000 WHEN 'en' THEN 6000 ELSE 10000 END
         |  GROUP BY 1),
         |t AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1)
         |SELECT t.lang, coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept, n_total,
         |  round(coalesce(n_kept, CAST(0 AS BIGINT)) / n_total, 4) AS keep_rate
         |FROM t LEFT JOIN k ON t.lang = k.lang""".stripMargin,
    "sample_fixed_k" ->
      s"""WITH s AS (
         |  SELECT lang, doc_id FROM documents
         |  ORDER BY ((doc_id % $MOD) * 8191 + 524287) % $MOD, doc_id
         |  LIMIT 100)
         |SELECT lang, count(*) AS n_docs,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM s GROUP BY 1""".stripMargin,
    // per-group top-k by id hash: sum_doc_id pins membership, not just size
    "sample_group_k" ->
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ((doc_id % $MOD) * 8191 + 524287) % $MOD, doc_id) AS rk
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         |FROM r WHERE rk <= 50 GROUP BY 1""".stripMargin,
    // eval slice = 5% hash bucket; gram hashes replay the integer kernels
    "decontam_13gram" -> decontamSql,
    // bloom-prefiltered decontamination: no false negatives + exact verify
    // on survivors, so the output provably equals the broadcast-set face
    "decontam_bloom" -> decontamSql,
    // skew diagnostic: integer stats + two rounded double ratios
    "rel_skew_profile" ->
      """WITH k AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(n) AS BIGINT) AS n_rows,
        |        CAST(max(n) AS BIGINT) AS max_n FROM k),
        |h AS (SELECT CAST(count(*) AS BIGINT) AS n_heavy FROM k, s
        |      WHERE n > 2 * (n_rows / n_keys))
        |SELECT n_keys, n_rows, max_n,
        |  round(n_rows / n_keys, 4) AS mean_n,
        |  round(max_n / (n_rows / n_keys), 4) AS skew_ratio,
        |  n_heavy
        |FROM s, h""".stripMargin,
    // PII is PLANTED deterministically from doc_id on both sides (the
    // fixture has none), then scrubbed; scrubbed_len pins the replacement
    // output itself, not just the match counts
    "txt_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT lang, text
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || doc_id || '@mail.example' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0
         |         THEN ' see https://example.org/p/' || doc_id ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' tel +82 10-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234'
         |         ELSE '' END AS t
         |  FROM documents),
         |s AS (
         |  SELECT lang,
         |    len(regexp_extract_all(t, '$PII_EMAIL')) AS n_email,
         |    len(regexp_extract_all(t, '$PII_URL')) AS n_url,
         |    len(regexp_extract_all(t, '$PII_PHONE')) AS n_phone,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$PII_EMAIL', '[EMAIL]', 'g'), '$PII_URL', '[URL]', 'g'),
         |      '$PII_PHONE', '[PHONE]', 'g') AS scrubbed
         |  FROM p)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_email) AS BIGINT) AS emails,
         |  CAST(sum(n_url) AS BIGINT) AS urls,
         |  CAST(sum(n_phone) AS BIGINT) AS phones,
         |  CAST(sum(length(scrubbed)) AS BIGINT) AS scrubbed_len
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // quality buckets cumsum top-down; boundary bucket hash-fills the rest
    "budget_select" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, $NORM AS norm, $TOKS_ALL AS toks FROM documents),
         |q AS (SELECT doc_id, $qualityCaseSql AS quality,
         |        $BPE_COUNT AS n_tokens FROM d),
         |b AS (SELECT quality, count(*) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS tokens FROM q GROUP BY 1),
         |c AS (SELECT quality, n_docs, tokens,
         |        CAST(coalesce(sum(tokens) OVER (ORDER BY quality DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cum_above
         |      FROM b),
         |r AS (SELECT quality, n_docs, tokens,
         |        CASE WHEN cum_above + tokens <= 20000 THEN 10000
         |             WHEN cum_above >= 20000 THEN 0
         |             ELSE CAST(floor((20000 - cum_above) * 1.0 / tokens * 10000)
         |                       AS BIGINT) END AS keep_bp
         |      FROM c),
         |k AS (SELECT quality, count(*) AS n_kept,
         |        CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
         |      FROM q JOIN r USING (quality)
         |      WHERE ${sampleBucket("doc_id")} < keep_bp GROUP BY 1)
         |SELECT r.quality, n_docs, tokens, keep_bp,
         |  coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |  coalesce(tokens_kept, CAST(0 AS BIGINT)) AS tokens_kept
         |FROM r LEFT JOIN k USING (quality)""".stripMargin,
    // Gopher rule audit: every rule is integer or single-division
    // arithmetic over the shared token list — bit-deterministic, no float
    // sums anywhere (mirrors CurationOps.gopherRules)
    "quality_gopher_rules" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT source, coalesce(text, '') AS text, $NORM AS norm,
         |    $TOKS_ALL AS toks
         |  FROM documents),
         |f AS (
         |  SELECT source,
         |    CASE WHEN len(toks) >= ${CurationOps.GopherMinWords}
         |         AND len(toks) <= ${CurationOps.GopherMaxWords}
         |         THEN 1 ELSE 0 END AS p_wc,
         |    CASE WHEN len(toks) > 0
         |         AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |             >= ${CurationOps.GopherMinMeanLen}
         |         AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |             <= ${CurationOps.GopherMaxMeanLen}
         |         THEN 1 ELSE 0 END AS p_ml,
         |    CASE WHEN len(toks) > 0
         |         AND $symbolRuleSql
         |         THEN 1 ELSE 0 END AS p_sym,
         |    CASE WHEN len(toks) > 0
         |         AND len(list_filter(toks,
         |               t -> regexp_matches(t, '[a-z가-힣]'))) * 1.0
         |             / len(toks) >= ${CurationOps.GopherMinAlphaFrac}
         |         THEN 1 ELSE 0 END AS p_al,
         |    CASE WHEN len(list_intersect(list_distinct(toks),
         |               ${CurationOps.GopherStopWords.map(w => s"'$w'").mkString("[", ", ", "]")}))
         |             >= ${CurationOps.GopherMinStopHits}
         |         THEN 1 ELSE 0 END AS p_st,
         |    CASE WHEN $dupBigramSql <= ${CurationOps.GopherMaxDupBigram}
         |         THEN 1 ELSE 0 END AS p_rep
         |  FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(1 - p_wc) AS BIGINT) AS fail_wordcount,
         |  CAST(sum(1 - p_ml) AS BIGINT) AS fail_meanlen,
         |  CAST(sum(1 - p_sym) AS BIGINT) AS fail_symbol,
         |  CAST(sum(1 - p_al) AS BIGINT) AS fail_alpha,
         |  CAST(sum(1 - p_st) AS BIGINT) AS fail_stop,
         |  CAST(sum(1 - p_rep) AS BIGINT) AS fail_repeat,
         |  CAST(sum(p_wc * p_ml * p_sym * p_al * p_st * p_rep) AS BIGINT)
         |    AS n_pass
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the end-to-end curation funnel: Gopher structural rules -> CCNet
    // head+middle -> minhash keep-first; every stage re-derived from the
    // fragments its standalone face already verifies
    "curation_funnel" ->
      s"""WITH gd AS MATERIALIZED (
         |  SELECT doc_id, coalesce(text, '') AS text, $NORM AS norm,
         |    $TOKS_ALL AS toks
         |  FROM documents),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id FROM gd
         |  WHERE len(toks) >= ${CurationOps.GopherMinWords}
         |    AND len(toks) <= ${CurationOps.GopherMaxWords}
         |    AND len(toks) > 0
         |    AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |        >= ${CurationOps.GopherMinMeanLen}
         |    AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |        <= ${CurationOps.GopherMaxMeanLen}
         |    AND $symbolRuleSql
         |    AND len(list_filter(toks,
         |          t -> regexp_matches(t, '[a-z가-힣]'))) * 1.0
         |        / len(toks) >= ${CurationOps.GopherMinAlphaFrac}
         |    AND $dupBigramSql <= ${CurationOps.GopherMaxDupBigram}),
         |$nllThrCtes,
         |s2 AS MATERIALIZED (
         |  SELECT s1.doc_id
         |  FROM s1 LEFT JOIN (SELECT n.doc_id, n.nll, thr.t2
         |                     FROM nll n JOIN thr ON n.lang = thr.lang) x
         |    USING (doc_id)
         |  WHERE x.nll IS NULL OR x.nll <= x.t2),
         |$minhashLabelCtes,
         |s3g AS (
         |  SELECT coalesce(l.label, s2.doc_id) AS grp
         |  FROM s2 LEFT JOIN l${DedupOps.ClusterRounds} l USING (doc_id)),
         |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
         |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2),
         |c3 AS (SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n FROM s3g)
         |SELECT stage, n_in, n_out, n_in - n_out AS n_dropped,
         |  CASE WHEN n_in = 0 THEN NULL
         |       ELSE round((n_in - n_out) * 1.0 / n_in, 4) END AS drop_rate
         |FROM (
         |  SELECT '1_gopher_struct' AS stage, c0.n AS n_in, c1.n AS n_out
         |  FROM c0, c1
         |  UNION ALL
         |  SELECT '2_ppl_head_middle', c1.n, c2.n FROM c1, c2
         |  UNION ALL
         |  SELECT '3_neardup_keep_first', c2.n, c3.n FROM c2, c3)
         |ORDER BY stage""".stripMargin,
    // the FIVE-stage production funnel over the train slice: gopher ->
    // 13-gram decontam vs the 5% eval slice -> ppl head+middle (pass-
    // through for unscoreable) -> minhash keep-BEST (quality keeper) ->
    // pii scrub (transform; token recount over the scrubbed text); every
    // stage re-derived from fragments standalone faces already verify,
    // token sums via the BPE-ish counter
    "curation_funnel_full" ->
      s"""WITH gd AS MATERIALIZED (
         |  SELECT doc_id, coalesce(text, '') AS text, $NORM AS norm,
         |    $TOKS_ALL AS toks, ${sampleBucket("doc_id")} AS bkt
         |  FROM documents),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id FROM gd
         |  WHERE bkt >= 500
         |    AND len(toks) >= ${CurationOps.GopherMinWords}
         |    AND len(toks) <= ${CurationOps.GopherMaxWords}
         |    AND len(toks) > 0
         |    AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |        >= ${CurationOps.GopherMinMeanLen}
         |    AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |        <= ${CurationOps.GopherMaxMeanLen}
         |    AND $symbolRuleSql
         |    AND len(list_filter(toks,
         |          t -> regexp_matches(t, '[a-z가-힣]'))) * 1.0
         |        / len(toks) >= ${CurationOps.GopherMinAlphaFrac}
         |    AND $dupBigramSql <= ${CurationOps.GopherMaxDupBigram}),
         |gg AS MATERIALIZED (
         |  SELECT doc_id, ${sampleBucket("doc_id")} AS bkt,
         |    ${windowHashSql(tokenHashes(TOKS), 13)} AS grams
         |  FROM documents),
         |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM gg WHERE bkt < 500),
         |hit AS (
         |  SELECT DISTINCT sg.doc_id
         |  FROM (SELECT g2.doc_id, unnest(g2.grams) AS gram
         |        FROM gg g2 JOIN s1 USING (doc_id)) sg
         |  JOIN ev USING (gram)),
         |s2 AS MATERIALIZED (
         |  SELECT s1.doc_id FROM s1 LEFT JOIN hit ON s1.doc_id = hit.doc_id
         |  WHERE hit.doc_id IS NULL),
         |$nllThrCtes,
         |s3 AS MATERIALIZED (
         |  SELECT s2.doc_id
         |  FROM s2 LEFT JOIN (SELECT n.doc_id, n.nll, thr.t2
         |                     FROM nll n JOIN thr ON n.lang = thr.lang) x
         |    USING (doc_id)
         |  WHERE x.nll IS NULL OR x.nll <= x.t2),
         |$minhashLabelCtes,
         |grp AS (
         |  SELECT s3.doc_id, coalesce(lb.label, s3.doc_id) AS label
         |  FROM s3 LEFT JOIN l${DedupOps.ClusterRounds} lb
         |    ON s3.doc_id = lb.doc_id),
         |qv AS (
         |  SELECT doc_id, $qualityCaseSql AS q
         |  FROM (SELECT doc_id, text, $NORM AS norm, $TOKS_ALL AS toks
         |        FROM documents)),
         |jq AS (SELECT grp.doc_id, grp.label, qv.q FROM grp JOIN qv USING (doc_id)),
         |best AS (SELECT label, max(q) AS bq FROM jq GROUP BY 1),
         |s4 AS MATERIALIZED (
         |  SELECT min(jq.doc_id) AS doc_id
         |  FROM jq JOIN best ON jq.label = best.label AND jq.q = best.bq
         |  GROUP BY jq.label),
         |tok AS (SELECT doc_id, $BPE_COUNT AS tkc FROM documents),
         |strn AS (SELECT doc_id FROM gd WHERE bkt >= 500),
         |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(tkc), 0) AS BIGINT) AS t
         |       FROM strn JOIN tok USING (doc_id)),
         |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(tkc), 0) AS BIGINT) AS t
         |       FROM s1 JOIN tok USING (doc_id)),
         |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(tkc), 0) AS BIGINT) AS t
         |       FROM s2 JOIN tok USING (doc_id)),
         |c3 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(tkc), 0) AS BIGINT) AS t
         |       FROM s3 JOIN tok USING (doc_id)),
         |c4 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(tkc), 0) AS BIGINT) AS t
         |       FROM s4 JOIN tok USING (doc_id)),
         |sc AS (SELECT CAST(coalesce(sum(${bpeCountOf("scrubbed")}), 0)
         |           AS BIGINT) AS t
         |       FROM (SELECT regexp_replace(regexp_replace(regexp_replace(
         |               d.text, '$PII_EMAIL', '[EMAIL]', 'g'),
         |               '$PII_URL', '[URL]', 'g'),
         |               '$PII_PHONE', '[PHONE]', 'g') AS scrubbed
         |             FROM documents d JOIN s4 USING (doc_id)))
         |SELECT stage, n_in, n_out, n_in - n_out AS n_dropped,
         |  CASE WHEN n_in = 0 THEN NULL
         |       ELSE round((n_in - n_out) * 1.0 / n_in, 4) END AS drop_rate,
         |  tokens_in, tokens_out
         |FROM (
         |  SELECT '1_gopher_struct' AS stage, c0.n AS n_in, c1.n AS n_out,
         |    c0.t AS tokens_in, c1.t AS tokens_out
         |  FROM c0, c1
         |  UNION ALL
         |  SELECT '2_decontam_13gram', c1.n, c2.n, c1.t, c2.t FROM c1, c2
         |  UNION ALL
         |  SELECT '3_ppl_head_middle', c2.n, c3.n, c2.t, c3.t FROM c2, c3
         |  UNION ALL
         |  SELECT '4_neardup_keep_best', c3.n, c4.n, c3.t, c4.t FROM c3, c4
         |  UNION ALL
         |  SELECT '5_pii_scrub', c4.n, c4.n, c4.t, sc.t FROM c4, sc)
         |ORDER BY stage""".stripMargin,
    // the composed ingest gate's batch face: arrivals (last id decile)
    // against a history-frozen model + stored band index; chained per-lang
    // counts (structural -> not-dup -> LM pass). LM scoring reuses the
    // txt_lm_cross backoff chain; bands reuse the dedup_index_flags shape
    "stream_ingest_gate" ->
      s"""WITH $ingestGateCtes,
         |v AS (
         |  SELECT sf.doc_id, sf.lang, sf.pass_struct,
         |    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
         |    nll.nll,
         |    CASE WHEN nll.nll IS NOT NULL
         |         AND nll.nll <= ${graft.operators.LmOps.NllGateMax}
         |         THEN 1 ELSE 0 END AS pass_lm
         |  FROM sf
         |  LEFT JOIN dup ON sf.doc_id = dup.doc_id
         |  LEFT JOIN nll ON sf.doc_id = nll.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_arrivals,
         |  CAST(sum(pass_struct) AS BIGINT) AS n_struct,
         |  CAST(sum(pass_struct * pass_lm) AS BIGINT) AS n_lm,
         |  round(avg(CASE WHEN pass_struct * pass_lm = 1
         |                 THEN nll END), 4) AS avg_nll_lm,
         |  CAST(sum(pass_struct * (1 - is_dup) * pass_lm) AS BIGINT) AS n_pass
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // the FIVE-stage ingest gate's audit (stream_ingest_full): the shared
    // three-gate CTEs plus the frozen eval gram set (the funnel's
    // bkt < 500 slice), per-arrival contamination probe, and the scrub
    // stage's redaction/token accounting over ADMITTED docs
    "stream_ingest_full" ->
      s"""WITH $ingestGateCtes,
         |egg AS (
         |  SELECT ${sampleBucket("doc_id")} AS bkt,
         |    ${windowHashSql(tokenHashes(TOKS), 13)} AS grams
         |  FROM documents),
         |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM egg WHERE bkt < 500),
         |ag AS (
         |  SELECT doc_id, ${windowHashSql(tokenHashes(TOKS), 13)} AS grams
         |  FROM documents, cut WHERE doc_id > cut),
         |cont AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM (SELECT doc_id, unnest(grams) AS gram FROM ag) a
         |  JOIN eg USING (gram)),
         |pii AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(text, '$PII_EMAIL'))
         |      + len(regexp_extract_all(text, '$PII_URL'))
         |      + len(regexp_extract_all(text, '$PII_PHONE')) AS n_pii,
         |    $BPE_COUNT AS tk_orig,
         |    ${bpeCountOf(
              s"""regexp_replace(regexp_replace(regexp_replace(
                 |      text, '$PII_EMAIL', '[EMAIL]', 'g'),
                 |      '$PII_URL', '[URL]', 'g'),
                 |      '$PII_PHONE', '[PHONE]', 'g')""".stripMargin)} AS tk_scrub
         |  FROM ar),
         |v AS (
         |  SELECT sf.doc_id, sf.lang, sf.pass_struct,
         |    CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_cont,
         |    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
         |    nll.nll,
         |    CASE WHEN nll.nll IS NOT NULL
         |         AND nll.nll <= ${graft.operators.LmOps.NllGateMax}
         |         THEN 1 ELSE 0 END AS pass_lm,
         |    pii.n_pii, pii.tk_orig, pii.tk_scrub
         |  FROM sf
         |  LEFT JOIN cont ON sf.doc_id = cont.doc_id
         |  LEFT JOIN dup ON sf.doc_id = dup.doc_id
         |  LEFT JOIN nll ON sf.doc_id = nll.doc_id
         |  JOIN pii ON sf.doc_id = pii.doc_id),
         |w AS (
         |  SELECT v.*, pass_struct * (1 - is_cont) * (1 - is_dup) * pass_lm
         |           AS passed
         |  FROM v)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_arrivals,
         |  CAST(sum(pass_struct) AS BIGINT) AS n_struct,
         |  CAST(sum(pass_struct * (1 - is_cont)) AS BIGINT) AS n_clean,
         |  CAST(sum(pass_struct * (1 - is_cont) * pass_lm) AS BIGINT) AS n_lm,
         |  CAST(sum(passed) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN passed = 1 THEN n_pii ELSE 0 END) AS BIGINT)
         |    AS n_pii_redacted,
         |  CAST(coalesce(sum(CASE WHEN passed = 1 THEN tk_orig - tk_scrub END),
         |                0) AS BIGINT) AS token_delta
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // cross-gate agreement: the funnel's gopher-struct flags and nll
    // terciles joined per doc with the exact-quarters quality score
    "quality_gate_agreement" ->
      s"""WITH gd AS MATERIALIZED (
         |  SELECT doc_id, coalesce(text, '') AS text, $NORM AS norm,
         |    $TOKS_ALL AS toks
         |  FROM documents),
         |gf AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= ${CurationOps.GopherMinWords}
         |      AND len(toks) <= ${CurationOps.GopherMaxWords}
         |      AND len(toks) > 0
         |      AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |          >= ${CurationOps.GopherMinMeanLen}
         |      AND coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
         |          <= ${CurationOps.GopherMaxMeanLen}
         |      AND $symbolRuleSql
         |      AND len(list_filter(toks,
         |            t -> regexp_matches(t, '[a-z가-힣]'))) * 1.0
         |          / len(toks) >= ${CurationOps.GopherMinAlphaFrac}
         |      AND $dupBigramSql <= ${CurationOps.GopherMaxDupBigram}
         |    THEN 1 ELSE 0 END AS pass_struct
         |  FROM gd),
         |qv AS (
         |  SELECT doc_id, $qualityCaseSql AS q
         |  FROM (SELECT doc_id, text, $NORM AS norm, $TOKS_ALL AS toks
         |        FROM documents)),
         |$nllThrCtes,
         |bk AS (
         |  SELECT n.doc_id, n.lang, n.nll,
         |    CASE WHEN n.nll <= t1 THEN 'head'
         |         WHEN n.nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM nll n JOIN thr USING (lang))
         |SELECT bk.lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(pass_struct) AS BIGINT) AS n_gopher_pass,
         |  round(avg(q), 4) AS avg_quality, round(avg(nll), 4) AS avg_nll
         |FROM bk JOIN gf USING (doc_id) JOIN qv USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DSIR weights: add-one-smoothed hashed-unigram bag models, target =
    // en docs, raw = the whole corpus; per-doc log-ratio sum 6-dp
    // pre-rounded before the band floor (mirrors SamplingOps.dsirWeights)
    "select_dsir" ->
      s"""WITH inst AS (
         |  SELECT doc_id, lang, h % ${SamplingOps.DsirBuckets} AS b,
         |    count(*) AS n
         |  FROM (SELECT doc_id, lang, unnest(${tokenHashes(TOKS)}) AS h
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT)
         |           AS ttot,
         |    CAST(sum(n) AS BIGINT) AS rtot
         |  FROM inst),
         |tc AS (SELECT b, CAST(sum(n) AS BIGINT) AS tc FROM inst
         |       WHERE lang = 'en' GROUP BY 1),
         |rc AS (SELECT b, CAST(sum(n) AS BIGINT) AS rc FROM inst GROUP BY 1),
         |lr AS (
         |  SELECT rc.b,
         |    ln((coalesce(tc.tc, 0) + 1) * 1.0
         |       / (ttot + ${SamplingOps.DsirBuckets}))
         |    - ln((rc.rc + 1) * 1.0 / (rtot + ${SamplingOps.DsirBuckets}))
         |      AS lrat
         |  FROM rc LEFT JOIN tc USING (b), tot),
         |w AS (
         |  SELECT doc_id, lang, round(sum(lrat * n), 6) AS w
         |  FROM inst JOIN lr USING (b) GROUP BY 1, 2)
         |SELECT lang, CAST(floor(w) AS INT) AS w_band,
         |  CAST(count(*) AS BIGINT) AS n_docs, round(avg(w), 4) AS avg_w
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // feasible total T* = min(supply/w); keep rates derived, then the same
    // deterministic id-hash selection the sampling tier uses
    "mix_domains" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, $BPE_COUNT AS n_tokens FROM documents),
         |w AS (SELECT * FROM (VALUES ('de', 0.1), ('en', 0.5), ('es', 0.1),
         |                            ('fr', 0.1), ('zh', 0.2)) AS t(lang, w)),
         |s AS (SELECT d.lang, w, count(*) AS n_total,
         |        CAST(sum(n_tokens) AS BIGINT) AS supply
         |      FROM d JOIN w USING (lang) GROUP BY 1, 2),
         |t AS (SELECT min(supply / w) AS tstar FROM s),
         |r AS (SELECT lang, n_total, supply,
         |        CAST(CASE WHEN supply / w = tstar THEN 10000
         |             ELSE least(10000, floor(w * tstar / supply * 10000)) END
         |          AS BIGINT) AS keep_bp
         |      FROM s, t),
         |k AS (SELECT d.lang, count(*) AS n_kept,
         |        CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
         |      FROM d JOIN r USING (lang)
         |      WHERE ${sampleBucket("doc_id")} < keep_bp GROUP BY 1)
         |SELECT r.lang, n_total, supply, keep_bp,
         |  coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |  coalesce(tokens_kept, CAST(0 AS BIGINT)) AS tokens_kept
         |FROM r LEFT JOIN k USING (lang) ORDER BY 1""".stripMargin,
    // temperature mixing: q_i ∝ p_i^0.7, rate = (q/p)·min(p/q) — the
    // most-up-weighted domain keeps everything, the rest downsample
    "mix_temperature" ->
      s"""WITH s AS (
         |  SELECT lang, CAST(sum($BPE_COUNT) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |p AS (
         |  SELECT lang, n_tokens,
         |    n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s) AS p
         |  FROM s),
         |q AS (
         |  SELECT lang, n_tokens, p, pow(p, 0.7) AS q_raw FROM p),
         |qn AS (
         |  SELECT lang, n_tokens, p,
         |    q_raw / (SELECT sum(q_raw) FROM q) AS q
         |  FROM q)
         |SELECT lang, n_tokens, round(p, 4) AS share,
         |  round(q, 4) AS target_share,
         |  round(least(1.0, q / p * (SELECT min(p / q) FROM qn)), 4) AS rate
         |FROM qn ORDER BY 1""".stripMargin,
    // the packing prefix sum collapses to one ordered window at oracle scale
    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, $BPE_COUNT AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
         |  FROM d)
         |SELECT strt // 2048 AS seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1""".stripMargin,
    // token-granularity packing: cut the concatenated stream at every
    // 2048 tokens; docs spanning a cut contribute a row per covered seq
    "pack_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, $BPE_COUNT AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
         |  FROM d),
         |e AS (SELECT doc_id, strt, strt + n_tokens AS fin
         |      FROM c WHERE n_tokens > 0),
         |x AS (
         |  SELECT doc_id, strt, fin,
         |    unnest(generate_series(strt // 2048, (fin - 1) // 2048)) AS seq_id
         |  FROM e)
         |SELECT seq_id, count(*) AS n_docs,
         |  CAST(sum(least(fin, (seq_id + 1) * 2048)
         |         - greatest(strt, seq_id * 2048)) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN strt < seq_id * 2048 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_continued
         |FROM x GROUP BY 1""".stripMargin,
    // per-doc sliding windows: same integer ceil arithmetic, final window
    // clamped to end at the doc's last token
    "pack_chunks_overlap" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, $BPE_COUNT AS t FROM documents),
         |d2 AS (
         |  SELECT doc_id, lang, t,
         |    CASE WHEN t <= 512 THEN 1
         |         ELSE (t - 512 + 384 - 1) // 384 + 1 END AS k
         |  FROM d WHERE t > 0),
         |c AS (
         |  SELECT doc_id, lang, t, k,
         |    unnest(range(0, k)) AS chunk_idx
         |  FROM d2),
         |cc AS (SELECT *, least(t, 512) AS chunk_len FROM c)
         |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN chunk_idx = 0 THEN t ELSE 0 END) AS BIGINT)
         |    AS n_tokens,
         |  CAST(sum(chunk_len) AS BIGINT) AS n_emitted,
         |  round(CAST(sum(chunk_len) AS DOUBLE)
         |    / sum(CASE WHEN chunk_idx = 0 THEN t ELSE 0 END), 4) AS dup_factor
         |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full assembly pipeline: exact-fp keep-first dedup -> quality +
    // repetition gate -> 90/5/5 hash split -> per-split token accounting
    "train_assembly" ->
      s"""WITH n AS (
         |  SELECT doc_id, text, ${polyFold(cps(NORM))} AS fp FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY fp),
         |d AS (
         |  SELECT doc_id, text, $NORM AS norm, $TOKS_ALL AS toks
         |  FROM documents JOIN keep USING (doc_id)),
         |scored AS (
         |  SELECT doc_id, text,
         |    $qualityCaseSql AS q,
         |    $dupBigramSql AS dup_big
         |  FROM d),
         |kept AS (SELECT doc_id, text, q FROM scored
         |         WHERE q >= 0.5 AND dup_big <= 0.2),
         |s AS (
         |  SELECT CASE WHEN ${sampleBucket("doc_id")} < 9000 THEN 'train'
         |              WHEN ${sampleBucket("doc_id")} < 9500 THEN 'val'
         |              ELSE 'test' END AS split,
         |    $BPE_COUNT AS bpe, q
         |  FROM kept)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(bpe) AS BIGINT) AS n_tokens,
         |  round(avg(q), 4) AS avg_quality
         |FROM s GROUP BY 1""".stripMargin,
    // bounded-round label propagation unrolled to ClusterRounds rounds of
    // bucket-min -> member-min, exactly DedupOps.propagateLabels
    "dedup_minhash_clusters" ->
      s"""WITH cpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp FROM documents),
         |shc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM cpc),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM shc WHERE len(sh) > 0),
         |withbands AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM sigs),
         |b AS MATERIALIZED (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM withbands, range(0, 8) t(j)),
         |${propagationCtes(DedupOps.ClusterRounds)}
         |SELECT label AS cluster_rep, count(*) AS n_docs,
         |  max(doc_id) AS max_doc_id
         |FROM l${DedupOps.ClusterRounds} GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // canonical selection: same cluster unroll, then keeper = max quality,
    // ties to min doc_id — exact algebra (max, filter, min), no arg_max
    "dedup_keep_best" ->
      s"""WITH cpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp FROM documents),
         |shc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM cpc),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM shc WHERE len(sh) > 0),
         |withbands AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM sigs),
         |b AS MATERIALIZED (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM withbands, range(0, 8) t(j)),
         |${propagationCtes(DedupOps.ClusterRounds)},
         |q AS (
         |  SELECT doc_id, $qualityCaseSql AS q
         |  FROM (SELECT doc_id, text, $NORM AS norm, $TOKS_ALL AS toks
         |        FROM documents)),
         |j AS (SELECT l.doc_id, l.label, q.q
         |      FROM l${DedupOps.ClusterRounds} l JOIN q USING (doc_id)),
         |best AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
         |    max(q) AS best_score
         |  FROM j GROUP BY 1)
         |SELECT label AS cluster_rep, n_docs, min(doc_id) AS keep_id,
         |  round(best_score, 2) AS best_quality, n_docs - 1 AS n_removed
         |FROM j JOIN best USING (label)
         |WHERE q = best_score AND n_docs > 1
         |GROUP BY label, n_docs, best_score""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH cpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp FROM documents),
         |shc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM cpc),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, sh, ${minhashSigSql("sh")} AS sig
         |  FROM shc WHERE len(sh) > 0),
         |withbands AS MATERIALIZED (
         |  SELECT doc_id, sh, sig, ${lshBandsSql("sig")} AS bands FROM sigs),
         |buckets AS (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM withbands, range(0, 8) t(j)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    len(list_filter(range(1, 33), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) / 32.0 AS est,
         |    len(list_intersect(sa.sh, sb.sh)) * 1.0
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
         |  FROM cands
         |  JOIN withbands sa ON sa.doc_id = doc_a
         |  JOIN withbands sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(est, 4) AS est_jaccard, round(jac, 4) AS jaccard
         |FROM scored WHERE est >= 0.5""".stripMargin,
    // index+delta near-dup: the last decile arrives as the new batch and
    // band-joins the PERSISTED signature index of the first 90% (the
    // build-once/probe-many shape — the index artifact is an export of the
    // frame the Spark probe itself read); cut = metadata boundary, no sort
    "dedup_incremental" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |idx AS (SELECT old_id, sh_hashes AS sh, sig, bands
         |        FROM ${Artifacts.ref("dedup_index")}),
         |ncpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp
         |  FROM documents, cut WHERE doc_id > cut),
         |nshc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM ncpc),
         |nsigs AS MATERIALIZED (
         |  SELECT doc_id, sh, ${minhashSigSql("sh")} AS sig
         |  FROM nshc WHERE len(sh) > 0),
         |nwb AS MATERIALIZED (
         |  SELECT doc_id, sh, sig, ${lshBandsSql("sig")} AS bands FROM nsigs),
         |ib AS (
         |  SELECT old_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM idx, range(0, 8) t(j)),
         |nb AS (
         |  SELECT doc_id AS new_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM nwb, range(0, 8) t(j)),
         |cands AS (SELECT DISTINCT new_id, old_id FROM nb JOIN ib USING (band, band_hash)),
         |scored AS (
         |  SELECT new_id, cands.old_id AS old_id,
         |    len(list_filter(range(1, 33), i -> sn.sig[CAST(i AS INT)] = so.sig[CAST(i AS INT)])) / 32.0 AS est,
         |    len(list_intersect(sn.sh, so.sh)) * 1.0
         |      / len(list_distinct(list_concat(sn.sh, so.sh))) AS jac
         |  FROM cands
         |  JOIN nwb sn ON sn.doc_id = new_id
         |  JOIN idx so ON so.old_id = cands.old_id),
         |best AS (
         |  SELECT new_id, old_id AS dup_of, est, jac,
         |    row_number() OVER (PARTITION BY new_id ORDER BY jac DESC, old_id) AS rk
         |  FROM scored WHERE jac >= 0.5)
         |SELECT new_id, dup_of, round(est, 4) AS est_jaccard, round(jac, 4) AS jaccard
         |FROM best WHERE rk = 1""".stripMargin,
    // the streaming ingest flag's batch face: delta docs sharing >=1 LSH
    // band with the historical index — the cand probe without the jaccard
    // re-rank (both index and delta sides self-contained, no artifact)
    "dedup_index_flags" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |icpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp
         |  FROM documents, cut WHERE doc_id <= cut),
         |ishc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM icpc),
         |isigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM ishc WHERE len(sh) > 0),
         |iwb AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM isigs),
         |ib AS MATERIALIZED (
         |  SELECT DISTINCT j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM iwb, range(0, 8) t(j)),
         |ncpc AS MATERIALIZED (
         |  SELECT doc_id, ${cps(NORM)} AS cp
         |  FROM documents, cut WHERE doc_id > cut),
         |nshc AS MATERIALIZED (
         |  SELECT doc_id, ${windowHashSql("cp", 5)} AS sh FROM ncpc),
         |nsigs AS MATERIALIZED (
         |  SELECT doc_id, ${minhashSigSql("sh")} AS sig
         |  FROM nshc WHERE len(sh) > 0),
         |nwb AS MATERIALIZED (
         |  SELECT doc_id, ${lshBandsSql("sig")} AS bands FROM nsigs),
         |nb AS (
         |  SELECT doc_id, j AS band, bands[CAST(j AS INT) + 1] AS band_hash
         |  FROM nwb, range(0, 8) t(j))
         |SELECT DISTINCT doc_id FROM nb JOIN ib USING (band, band_hash)""".stripMargin,
    "dedup_simhash" ->
      s"""WITH fps AS (
         |  SELECT doc_id, ${simhashSql(tokenHashes("toks"))} AS simhash
         |  FROM (SELECT doc_id, $TOKS AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |buckets AS (
         |  SELECT doc_id, simhash, j AS band,
         |    (simhash % CAST(power(2, j*15 + 15) AS BIGINT))
         |      - (simhash % CAST(power(2, j*15) AS BIGINT)) AS band_val
         |  FROM fps, range(0, 4) t(j)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
    // hamming-verified pair edges as 2-member buckets, then the same
    // bounded bucket-min propagation as dedup_minhash_clusters
    "dedup_simhash_clusters" ->
      s"""WITH fps AS (
         |  SELECT doc_id, ${simhashSql(tokenHashes("toks"))} AS simhash
         |  FROM (SELECT doc_id, $TOKS AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |buckets AS (
         |  SELECT doc_id, simhash, j AS band,
         |    (simhash % CAST(power(2, j*15 + 15) AS BIGINT))
         |      - (simhash % CAST(power(2, j*15) AS BIGINT)) AS band_val
         |  FROM fps, range(0, 4) t(j)),
         |e AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |    FROM buckets a JOIN buckets b
         |      ON a.band = b.band AND a.band_val = b.band_val
         |     AND a.doc_id < b.doc_id)
         |  WHERE hamming <= 3),
         |b AS MATERIALIZED (
         |  SELECT doc_a AS doc_id, doc_a AS band, doc_b AS band_hash FROM e
         |  UNION ALL
         |  SELECT doc_b AS doc_id, doc_a AS band, doc_b AS band_hash FROM e),
         |${propagationCtes(DedupOps.ClusterRounds)}
         |SELECT label AS cluster_rep, count(*) AS n_docs,
         |  max(doc_id) AS max_doc_id
         |FROM l${DedupOps.ClusterRounds} GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH grams AS (
         |  SELECT doc_id, g AS grams FROM (
         |    SELECT doc_id, ${windowHashSql(tokenHashes("toks"), 3)} AS g
         |    FROM (SELECT doc_id, $TOKS AS toks FROM documents))
         |  WHERE len(g) > 0),
         |inverted AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
         |rare AS (SELECT gram FROM inverted GROUP BY 1
         |         HAVING count(*) <= greatest(10, least(${DedupOps.MaxNgramDf},
         |                  (SELECT count(*) FROM documents) // 500))
         |            AND count(*) >= 2),
         |postings AS (SELECT i.doc_id, i.gram FROM inverted i JOIN rare USING (gram)),
         |cands AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM postings a JOIN postings b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(ga.grams, gb.grams)) * 1.0
         |      / len(list_distinct(list_concat(ga.grams, gb.grams))) AS jac
         |  FROM cands
         |  JOIN grams ga ON ga.doc_id = doc_a
         |  JOIN grams gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jac, 4) AS jaccard
         |FROM scored WHERE jac >= 0.5""".stripMargin,
    "dedup_containment" ->
      s"""WITH grams AS (
         |  SELECT doc_id, g AS grams FROM (
         |    SELECT doc_id, ${windowHashSql(tokenHashes("toks"), 3)} AS g
         |    FROM (SELECT doc_id, $TOKS AS toks FROM documents))
         |  WHERE len(g) > 0),
         |inverted AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
         |rare AS (SELECT gram FROM inverted GROUP BY 1
         |         HAVING count(*) <= greatest(10, least(${DedupOps.MaxNgramDf},
         |                  (SELECT count(*) FROM documents) // 500))
         |            AND count(*) >= 2),
         |postings AS (SELECT i.doc_id, i.gram FROM inverted i JOIN rare USING (gram)),
         |cands AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM postings a JOIN postings b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    greatest(
         |      len(list_intersect(ga.grams, gb.grams)) * 1.0 / len(ga.grams),
         |      len(list_intersect(ga.grams, gb.grams)) * 1.0 / len(gb.grams)) AS cont
         |  FROM cands
         |  JOIN grams ga ON ga.doc_id = doc_a
         |  JOIN grams gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(cont, 4) AS containment
         |FROM scored WHERE cont >= 0.8""".stripMargin,
    // substring tier: positional gram inventory -> global occurrence count
    // -> join back -> per-doc interval union over the sorted start offsets
    // (covered = k + sum(min(gap, k)); a new span opens when a gap > k)
    "dedup_span_profile" ->
      s"""WITH d AS (SELECT doc_id, $TOKS_ALL AS toks FROM documents),
         |h AS (SELECT doc_id, len(toks) AS n_tok,
         |  ${windowHashListSql(tokenHashes("toks"), SpanDedupOps.SpanK)} AS ghs FROM d),
         |inv AS (SELECT doc_id, unnest(range(len(ghs))) AS pos,
         |               unnest(ghs) AS gram FROM h),
         |dupg AS (SELECT gram FROM inv GROUP BY 1 HAVING count(*) >= 2),
         |starts AS (SELECT doc_id, pos FROM inv JOIN dupg USING (gram)),
         |perdoc AS (SELECT doc_id, list_sort(list(pos)) AS ps,
         |                  count(*) AS dup_starts FROM starts GROUP BY 1),
         |st AS (SELECT doc_id, dup_starts,
         |  list_transform(range(2, len(ps) + 1),
         |    i -> ps[CAST(i AS INT)] - ps[CAST(i AS INT) - 1]) AS gaps
         |  FROM perdoc)
         |SELECT st.doc_id AS doc_id, CAST(h.n_tok AS BIGINT) AS n_tokens,
         |  CAST(dup_starts AS BIGINT) AS dup_starts,
         |  CAST(1 + len(list_filter(gaps, x -> x > ${SpanDedupOps.SpanK})) AS BIGINT) AS n_spans,
         |  CAST(${SpanDedupOps.SpanK} + coalesce(list_sum(list_transform(gaps,
         |    x -> least(x, ${SpanDedupOps.SpanK}))), 0) AS BIGINT) AS dup_tokens,
         |  round((${SpanDedupOps.SpanK} + coalesce(list_sum(list_transform(gaps,
         |    x -> least(x, ${SpanDedupOps.SpanK}))), 0)) * 1.0 / h.n_tok, 4) AS dup_frac
         |FROM st JOIN h ON st.doc_id = h.doc_id""".stripMargin,
    // incremental span flags: delta windows probed against the first
    // 90%'s distinct-gram inventory (derived from the same cut in SQL)
    "dedup_span_flags" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |d AS (SELECT doc_id, $TOKS_ALL AS toks FROM documents),
         |h AS (SELECT doc_id,
         |  ${windowHashListSql(tokenHashes("toks"), SpanDedupOps.SpanK)} AS ghs FROM d),
         |idx AS (SELECT DISTINCT unnest(ghs) AS gram
         |        FROM h, cut WHERE doc_id <= cut),
         |delta AS (SELECT doc_id, unnest(ghs) AS gram
         |          FROM h, cut WHERE doc_id > cut),
         |hits AS (SELECT doc_id, count(*) AS n_hits
         |         FROM delta JOIN idx USING (gram) GROUP BY 1)
         |SELECT hits.doc_id AS doc_id,
         |  CAST(len(h2.ghs) AS BIGINT) AS n_windows,
         |  CAST(n_hits AS BIGINT) AS n_hits
         |FROM hits JOIN h h2 ON h2.doc_id = hits.doc_id""".stripMargin,
    // the action face: tokens inside any duplicated span removed, text
    // rebuilt in position order; fully-covered docs stay with empty text
    "dedup_span_scrub" ->
      s"""WITH d AS (SELECT doc_id, $TOKS_ALL AS toks FROM documents),
         |h AS (SELECT doc_id, toks, len(toks) AS n_tok,
         |  ${windowHashListSql(tokenHashes("toks"), SpanDedupOps.SpanK)} AS ghs FROM d),
         |inv AS (SELECT doc_id, unnest(range(len(ghs))) AS pos,
         |               unnest(ghs) AS gram FROM h),
         |dupg AS (SELECT gram FROM inv GROUP BY 1 HAVING count(*) >= 2),
         |starts AS (SELECT doc_id, pos FROM inv JOIN dupg USING (gram)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS pos
         |        FROM starts, range(0, ${SpanDedupOps.SpanK}) t(j)),
         |aff AS (SELECT DISTINCT doc_id FROM cov),
         |tp AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
         |              unnest(toks) AS tok FROM h),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
         |         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
         |agg AS (SELECT doc_id, count(*) AS kept_tokens,
         |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY 1)
         |SELECT aff.doc_id AS doc_id, CAST(h.n_tok AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  coalesce(agg.clean_text, '') AS clean_text
         |FROM aff JOIN h ON aff.doc_id = h.doc_id
         |LEFT JOIN agg ON aff.doc_id = agg.doc_id""".stripMargin,
    "dedup_embed_cosine" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |u AS (
         |  SELECT vec_id, label,
         |    CASE WHEN sqrt(${dotSql("v", "v")}) = 0.0
         |         THEN list_transform(v, x -> 0.0)
         |         ELSE list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) END AS nv
         |  FROM e),
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${dotSql("a.nv", "b.nv")} AS cos,
         |    CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same_label
         |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(cos, 4) AS cos, same_label
         |FROM p WHERE cos >= 0.4""".stripMargin,
    "dedup_embed_lsh" ->
      s"""WITH $UNIT_CTE,
         |sk AS (SELECT vec_id, label, nv,
         |  ${bandsSql("nv", SimilarityOps.DedupBands, "bits")} AS bands
         |  FROM u, (SELECT ${bandBitsSql("count(*)")} AS bits FROM embeddings)),
         |b AS (${bandRowsSql(SimilarityOps.DedupBands)}),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |  FROM b a JOIN b b2
         |    ON a.band = b2.band AND a.band_val = b2.band_val
         |   AND a.vec_id < b2.vec_id),
         |p AS (
         |  SELECT vec_a, vec_b, ${dotSql("sa.nv", "sb.nv")} AS cos,
         |    CASE WHEN sa.label = sb.label THEN 1 ELSE 0 END AS same_label
         |  FROM cands
         |  JOIN sk sa ON sa.vec_id = vec_a
         |  JOIN sk sb ON sb.vec_id = vec_b)
         |SELECT vec_a, vec_b, round(cos, 4) AS cos, same_label
         |FROM p WHERE cos >= 0.4""".stripMargin,
    // cosine-verified pair edges + the bounded propagation unroll — the
    // embedding tier's cluster view, same shape as the minhash/simhash ones
    // (body shared with dedup_embed_real, which renders the twin's bits)
    "dedup_embed_clusters" ->
      embedClustersOracleBody,
    // SemDeDup: edges = within-kmeans-cluster cosine pairs (assignment from
    // the persisted fit, dots the exact left fold), same propagation
    // unroll, keeper = min centroid-cosine against the persisted centroid
    // doubles (exact algebra: min, filter, min — no arg_max)
    "dedup_semdedup" ->
      s"""WITH $UNIT_CTE,
         |a AS (SELECT vec_id, cluster FROM ${Artifacts.ref("semdedup_assign")}),
         |uv AS (SELECT u.vec_id, a.cluster, u.nv FROM u JOIN a USING (vec_id)),
         |edges AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM uv x JOIN uv y
         |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE ${dotSql("x.nv", "y.nv")} >= ${SemDedupOps.Tau}),
         |b AS MATERIALIZED (
         |  SELECT vec_a AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges
         |  UNION ALL
         |  SELECT vec_b AS doc_id, vec_a AS band, vec_b AS band_hash FROM edges),
         |${propagationCtes(DedupOps.ClusterRounds)},
         |cc AS (
         |  SELECT uv.vec_id AS doc_id,
         |    round(${dotSql("uv.nv", "c.centroid")}
         |          / sqrt(${dotSql("c.centroid", "c.centroid")}), 6) AS ccos
         |  FROM uv JOIN ${Artifacts.ref("semdedup_centroids")} c
         |    USING (cluster)),
         |j AS (SELECT l.doc_id, l.label, cc.ccos
         |      FROM l${DedupOps.ClusterRounds} l JOIN cc USING (doc_id)),
         |grp AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |    min(ccos) AS keep_cos
         |  FROM j GROUP BY 1 HAVING count(*) > 1)
         |SELECT label AS group_rep, n_vecs, min(doc_id) AS keep_id,
         |  round(keep_cos, 4) AS keep_cos, n_vecs - 1 AS n_removed
         |FROM j JOIN grp USING (label)
         |WHERE ccos = keep_cos
         |GROUP BY label, n_vecs, keep_cos""".stripMargin,
    // SSL-prototype pruning: same persisted assignment/centroids, rank by
    // 6-dp centroid cosine (ties to vec_id), drop the top 25% per cluster
    "select_prototypes" ->
      s"""WITH $UNIT_CTE,
         |a AS (SELECT vec_id, cluster FROM ${Artifacts.ref("semdedup_assign")}),
         |uv AS (SELECT u.vec_id, a.cluster, u.nv FROM u JOIN a USING (vec_id)),
         |cc AS (
         |  SELECT uv.vec_id, uv.cluster,
         |    round(${dotSql("uv.nv", "c.centroid")}
         |          / sqrt(${dotSql("c.centroid", "c.centroid")}), 6) AS ccos
         |  FROM uv JOIN ${Artifacts.ref("semdedup_centroids")} c
         |    USING (cluster)),
         |rk AS (
         |  SELECT cluster, ccos,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY ccos DESC, vec_id) AS rk
         |  FROM cc),
         |nc AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(floor(count(*) * ${SemDedupOps.PrototypePruneRate})
         |         AS BIGINT) AS n_pruned
         |  FROM cc GROUP BY 1)
         |SELECT cluster, n_vecs, n_pruned,
         |  round(max(CASE WHEN rk > n_pruned THEN ccos END), 4) AS cut_cos,
         |  round(avg(CASE WHEN rk > n_pruned THEN ccos END), 4)
         |    AS avg_kept_cos
         |FROM rk JOIN nc USING (cluster)
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "topic_ctfidf" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word, score,
         |    CAST(row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS INT) AS rank
         |  FROM scored)
         |SELECT cls, rank, word, round(score, 4) AS score
         |FROM r WHERE rank <= 10""".stripMargin,
    // same scoring over the (1,2)-gram term space (unigrams ++ bigrams)
    "topic_ctfidf_bigrams" ->
      s"""WITH d AS (SELECT lang, $TOKS AS toks FROM documents),
         |ex AS (
         |  SELECT lang AS cls, unnest(toks ||
         |    CASE WHEN len(toks) >= 2
         |         THEN list_transform(range(1, len(toks)),
         |                i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])
         |         ELSE [] END) AS word
         |  FROM d),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word, score,
         |    CAST(row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS INT) AS rank
         |  FROM scored)
         |SELECT cls, rank, word, round(score, 4) AS score
         |FROM r WHERE rank <= 10""".stripMargin,
    "topic_diversity" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |  FROM scored)
         |SELECT CAST(count(DISTINCT cls) AS BIGINT) AS n_topics,
         |  count(*) AS n_keywords,
         |  round(count(DISTINCT word) * 1.0 / count(*), 4) AS diversity
         |FROM r WHERE rank <= 10""".stripMargin,
    "topic_keyword_dedup" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word, score,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |claimed AS (
         |  SELECT cls, word, rank,
         |    row_number() OVER (PARTITION BY word ORDER BY cls, rank) AS claim
         |  FROM r QUALIFY claim = 1),
         |reranked AS (
         |  SELECT cls, word,
         |    CAST(row_number() OVER (PARTITION BY cls ORDER BY rank) AS INT) AS new_rank
         |  FROM claimed QUALIFY new_rank <= 5)
         |SELECT cls, new_rank, word FROM reranked""".stripMargin,
    "topic_umass" ->
      s"""WITH freq AS (
         |  SELECT word, count(*) AS freq
         |  FROM (SELECT unnest($TOKS) AS word FROM documents) GROUP BY 1),
         |tw AS (
         |  SELECT word, CAST(rank AS INT) AS rank FROM (
         |    SELECT word, row_number() OVER (ORDER BY freq DESC, word) AS rank
         |    FROM freq) WHERE rank <= 10),
         |presence AS (
         |  SELECT doc_id, word, rank
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS word FROM documents)
         |  JOIN tw USING (word)),
         |dj AS (SELECT word, rank, count(*) AS d FROM presence GROUP BY 1, 2),
         |dij AS (
         |  SELECT a.word AS wi, b.word AS wj, count(*) AS dij
         |  FROM presence a JOIN presence b
         |    ON a.doc_id = b.doc_id AND a.rank > b.rank
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT i.word AS wi, j.word AS wj
         |  FROM tw i, tw j WHERE i.rank > j.rank),
         |scored AS (
         |  SELECT ln((coalesce(dij, 0) + 1.0) / d) AS ps
         |  FROM pairs
         |  LEFT JOIN dij USING (wi, wj)
         |  JOIN (SELECT word AS wj, d FROM dj) USING (wj))
         |SELECT count(*) AS n_pairs, round(avg(ps), 4) AS umass
         |FROM scored""".stripMargin,
    "topic_umass_by_class" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |tw AS (
         |  SELECT cls, word, CAST(rank AS INT) AS rank FROM (
         |    SELECT cls, word,
         |      row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |    FROM scored) WHERE rank <= 10),
         |presence AS (
         |  SELECT doc_id, cls, word, rank
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS word FROM documents)
         |  JOIN tw USING (word)),
         |dj AS (SELECT cls, word, rank, count(*) AS d FROM presence GROUP BY 1, 2, 3),
         |dij AS (
         |  SELECT a.cls AS cls, a.word AS wi, b.word AS wj, count(*) AS dij
         |  FROM presence a JOIN presence b
         |    ON a.doc_id = b.doc_id AND a.cls = b.cls AND a.rank > b.rank
         |  GROUP BY 1, 2, 3),
         |pairs AS (
         |  SELECT i.cls AS cls, i.word AS wi, j.word AS wj
         |  FROM tw i JOIN tw j ON i.cls = j.cls AND i.rank > j.rank),
         |ps AS (
         |  SELECT cls, ln((coalesce(dij, 0) + 1.0) / d) AS ps
         |  FROM pairs
         |  LEFT JOIN dij USING (cls, wi, wj)
         |  JOIN (SELECT cls, word AS wj, d FROM dj) USING (cls, wj))
         |SELECT cls, count(*) AS n_pairs, round(avg(ps), 4) AS umass
         |FROM ps GROUP BY 1""".stripMargin,
    "topic_cnpmi" ->
      s"""WITH ${coherenceCtes(10)},
         |scored AS (
         |  SELECT ln((pij + 1e-12) / (pi * pj)) / (-ln(pij + 1e-12)) AS npmi
         |  FROM probs)
         |SELECT count(*) AS n_pairs, round(avg(npmi), 4) AS c_npmi
         |FROM scored""".stripMargin,
    "topic_cuci" ->
      s"""WITH ${coherenceCtes(10)},
         |scored AS (
         |  SELECT ln((pij + 1e-12) / (pi * pj)) AS pmi FROM probs)
         |SELECT count(*) AS n_pairs, round(avg(pmi), 4) AS c_uci
         |FROM scored""".stripMargin,
    "topic_cv" ->
      s"""WITH ${coherenceCtes(110)},
         |npmis AS (
         |  SELECT wi, wj,
         |    ln((pij + 1e-12) / (pi * pj)) / (-ln(pij + 1e-12)) AS s
         |  FROM probs),
         |marg AS (SELECT word, cw * 1.0 / n_windows AS p FROM pw, tot),
         |diag AS (
         |  SELECT word AS wi, word AS wj,
         |    ln((p + 1e-12) / (p * p)) / (-ln(p + 1e-12)) AS s
         |  FROM marg),
         |allscores AS (
         |  SELECT wi, wj, s FROM npmis
         |  UNION ALL SELECT wj, wi, s FROM npmis
         |  UNION ALL SELECT wi, wj, s FROM diag),
         |v AS (SELECT wj, sum(s) AS vj FROM allscores GROUP BY 1),
         |di AS (
         |  SELECT wi, sum(s * vj) AS dot, sum(s * s) AS ni2
         |  FROM allscores JOIN v USING (wj) GROUP BY 1),
         |vn AS (SELECT sum(vj * vj) AS vn2 FROM v)
         |SELECT count(*) AS n_words,
         |  round(avg(dot / (sqrt(ni2) * sqrt(vn2))), 4) AS c_v
         |FROM di, vn""".stripMargin,
    "topic_overlap" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |sets AS (SELECT cls, list(DISTINCT word) AS words FROM r GROUP BY 1)
         |SELECT a.cls AS cls_a, b.cls AS cls_b,
         |  round(CASE WHEN len(list_distinct(list_concat(a.words, b.words))) = 0
         |             THEN 0.0
         |             ELSE len(list_intersect(a.words, b.words)) * 1.0
         |                  / len(list_distinct(list_concat(a.words, b.words))) END,
         |        4) AS overlap
         |FROM sets a JOIN sets b ON a.cls < b.cls""".stripMargin,
    "topic_similarity" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |norms AS (SELECT cls, sum(score * score) AS n2 FROM scored GROUP BY 1),
         |dots AS (
         |  SELECT a.cls AS cls_a, b.cls AS cls_b, sum(a.score * b.score) AS dot
         |  FROM scored a JOIN scored b
         |    ON a.word = b.word AND a.cls < b.cls
         |  GROUP BY 1, 2)
         |SELECT cls_a, cls_b,
         |  round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos
         |FROM dots
         |JOIN norms na ON na.cls = cls_a
         |JOIN norms nb ON nb.cls = cls_b""".stripMargin,
    "topic_interpret" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |kw AS (SELECT cls, list(word) AS words FROM r GROUP BY 1),
         |m AS (
         |  SELECT cls,
         |    len(list_intersect(words, ['join','filter','scan','agg','sort'])) > 0 AS m_rel,
         |    len(list_intersect(words, ['fast','slow','big','small'])) > 0 AS m_perf,
         |    len(list_intersect(words, ['spark','batch','hash','merge'])) > 0 AS m_inf
         |  FROM kw),
         |lbl AS (
         |  SELECT cls,
         |    concat_ws('+', CASE WHEN m_rel THEN 'relational' END,
         |                   CASE WHEN m_perf THEN 'performance' END,
         |                   CASE WHEN m_inf THEN 'infra' END) AS l,
         |    CAST(m_rel AS INT) + CAST(m_perf AS INT) + CAST(m_inf AS INT) AS n_matched
         |  FROM m)
         |SELECT cls, CASE WHEN length(l) > 0 THEN l ELSE 'general' END AS label,
         |  n_matched
         |FROM lbl""".stripMargin,
    "topic_examples" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |kw AS (SELECT cls, list(DISTINCT word) AS kw FROM r GROUP BY 1),
         |d AS (
         |  SELECT doc_id, lang AS cls, list_distinct($TOKS) AS s,
         |    substring(text, 1, 200) AS example
         |  FROM documents),
         |s AS (
         |  SELECT cls, doc_id, example,
         |    CASE WHEN len(list_distinct(list_concat(s, kw))) = 0 THEN 0.0
         |         ELSE len(list_intersect(s, kw)) * 1.0
         |              / len(list_distinct(list_concat(s, kw))) END AS score
         |  FROM d JOIN kw USING (cls)),
         |rr AS (
         |  SELECT cls, doc_id, example, score,
         |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, doc_id) AS rk
         |  FROM s)
         |SELECT cls, CAST(rk AS INT) AS rank, doc_id, round(score, 4) AS score,
         |  example
         |FROM rr WHERE rk <= 3""".stripMargin,
    "topic_examples_tfidf" ->
      s"""WITH ex AS (SELECT lang AS cls, unnest($TOKS) AS word FROM documents),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |dtf AS (
         |  SELECT doc_id, cls, word, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, lang AS cls, unnest($TOKS) AS word FROM documents)
         |  GROUP BY 1, 2, 3),
         |dn AS (SELECT doc_id, sqrt(sum(tf * tf)) AS dn FROM dtf GROUP BY 1),
         |cn AS (SELECT cls, sqrt(sum(score * score)) AS cn FROM scored GROUP BY 1),
         |dots AS (
         |  SELECT doc_id, cls, sum(tf * score) AS dot
         |  FROM dtf JOIN scored USING (cls, word) GROUP BY 1, 2),
         |rr AS (
         |  SELECT cls, doc_id, dot / (dn.dn * cn.cn) AS score01
         |  FROM dots JOIN dn USING (doc_id) JOIN cn USING (cls)),
         |rk AS (
         |  SELECT cls, doc_id, score01,
         |    row_number() OVER (PARTITION BY cls ORDER BY score01 DESC, doc_id) AS rk
         |  FROM rr)
         |SELECT cls, CAST(rk AS INT) AS rank, doc_id, round(score01, 4) AS score01
         |FROM rk WHERE rk <= 3""".stripMargin,
    "txt_tfidf" ->
      s"""WITH d AS (SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id < 20),
         |tf AS (SELECT doc_id, word, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS word FROM d) GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         |s AS (
         |  SELECT doc_id, word,
         |    tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
         |  FROM tf JOIN dfreq USING (word), n),
         |r AS (
         |  SELECT doc_id, word, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
         |  FROM s)
         |SELECT doc_id, CAST(rk AS INT) AS rank, word, round(tfidf, 4) AS tfidf
         |FROM r WHERE rk <= 5""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH $UNIT_CTE,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, round(cos, 4) AS cos
         |FROM r WHERE rk <= 10""".stripMargin,
    "sim_lsh_ann" ->
      s"""WITH $UNIT_CTE,
         |sk AS (SELECT vec_id, nv,
         |  ${bandsSql("nv", SimilarityOps.AnnBands, s"${SimilarityOps.AnnBandBits}")} AS bands FROM u),
         |b AS (${bandRowsSql(SimilarityOps.AnnBands)}),
         |fl AS (SELECT unnest(${SimilarityOps.AnnFlips.mkString("[", ", ", "]")}) AS flip),
         |qp AS (
         |  SELECT vec_id AS query_id, band, xor(band_val, flip) AS band_val
         |  FROM b, fl WHERE vec_id < 50),
         |cands AS (
         |  SELECT DISTINCT query_id, c.vec_id AS vec_id
         |  FROM qp JOIN b c ON qp.band = c.band AND qp.band_val = c.band_val
         |  WHERE query_id <> c.vec_id),
         |s AS (
         |  SELECT query_id, cands.vec_id, ${dotSql("uq.nv", "uc.nv")} AS cos
         |  FROM cands
         |  JOIN sk uq ON uq.vec_id = query_id
         |  JOIN sk uc ON uc.vec_id = cands.vec_id),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, round(cos, 4) AS cos
         |FROM r WHERE rk <= 3""".stripMargin,
    // recall@10: the brute chain and the LSH chain of the two queries
    // above, re-cut at the same query set and k, intersected per query
    "sim_recall" ->
      s"""WITH $UNIT_CTE,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 10),
         |sk AS (SELECT vec_id, nv,
         |  ${bandsSql("nv", SimilarityOps.AnnBands, s"${SimilarityOps.AnnBandBits}")} AS bands FROM u),
         |b AS (${bandRowsSql(SimilarityOps.AnnBands)}),
         |fl AS (SELECT unnest(${SimilarityOps.AnnFlips.mkString("[", ", ", "]")}) AS flip),
         |qp AS (
         |  SELECT vec_id AS query_id, band, xor(band_val, flip) AS band_val
         |  FROM b, fl WHERE vec_id < 5),
         |cands AS (
         |  SELECT DISTINCT query_id, c.vec_id AS vec_id
         |  FROM qp JOIN b c ON qp.band = c.band AND qp.band_val = c.band_val
         |  WHERE query_id <> c.vec_id),
         |s2 AS (
         |  SELECT query_id, cands.vec_id, ${dotSql("uq.nv", "uc.nv")} AS cos
         |  FROM cands
         |  JOIN sk uq ON uq.vec_id = query_id
         |  JOIN sk uc ON uc.vec_id = cands.vec_id),
         |an AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s2)
         |  WHERE rk <= 10)
         |SELECT br.query_id, count(*) AS n_brute,
         |  CAST(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall,
         |  '${SimilarityOps.AnnBands}x${SimilarityOps.AnnBandBits}' AS index_cfg
         |FROM br LEFT JOIN an
         |  ON br.query_id = an.query_id AND br.vec_id = an.vec_id
         |GROUP BY 1""".stripMargin,
    // IVF recall gauge: brute top-10 is SQL-exact; the IVF side re-derives
    // probe ranking + in-list re-rank from the persisted quantizer
    // artifacts (same seeded fit as sim_ivf_ann => identical tables)
    "sim_ivf_recall" ->
      s"""WITH $UNIT_CTE,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 10),
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 5),
         |pr AS (
         |  SELECT query_id, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("ivf_centroids")} c)),
         |s2 AS (
         |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("ivf_assign")} ix USING (list)
         |  JOIN u cu ON cu.vec_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> ix.vec_id),
         |an AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s2)
         |  WHERE rk <= 10)
         |SELECT br.query_id, count(*) AS n_brute,
         |  CAST(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall,
         |  '${SimilarityOps.IvfLists}/${SimilarityOps.IvfProbe}' AS index_cfg
         |FROM br LEFT JOIN an
         |  ON br.query_id = an.query_id AND br.vec_id = an.vec_id
         |GROUP BY 1""".stripMargin,
    // Balanced-IVF recall gauge: same shape as sim_ivf_recall over the
    // ivf_bal_* artifacts at the nProbe-scaled operating point (derived
    // from the exported centroid table's row count); n_residual re-derives the
    // guard's give-up indicator from the persisted assignment (lists
    // still over the 2x-fair-share cap). Body shared verbatim with the
    // realistic twin via ivfBalancedOracleBody.
    "sim_ivf_balanced" -> ivfBalancedOracleBody(""),
    // IVF-PQ: coarse probe + ADC over the exported codes (fixed-order sum
    // fold) + shortlist + exact re-rank — all re-derived from the pq_*
    // artifacts (same seeded fits as the Spark side => identical tables)
    "sim_ivfpq_ann" ->
      s"""WITH $UNIT_CTE,
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 50),
         |pr AS (
         |  SELECT query_id, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("pq_centroids")} c)),
         |cand AS (
         |  SELECT query_id, lx.vec_id AS vec_id
         |  FROM pr JOIN ${Artifacts.ref("pq_lists")} lx USING (list)
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> lx.vec_id),
         |$PQ_QSUB_CTE,
         |qd AS (SELECT query_id, qs.m AS m, cb.cid AS cid,
         |         ${dotSql("qsub", "cb.centroid")} AS d
         |       FROM qs JOIN ${Artifacts.ref("pq_codebooks")} cb ON cb.m = qs.m),
         |sc AS (
         |  SELECT c.query_id AS query_id, c.vec_id AS vec_id,
         |    list_reduce(list_prepend(0.0, list(d ORDER BY pc.m)),
         |                (acc, x) -> acc + x) AS adc
         |  FROM cand c
         |  JOIN ${Artifacts.ref("pq_codes")} pc ON pc.vec_id = c.vec_id
         |  JOIN qd ON qd.query_id = c.query_id AND qd.m = pc.m AND qd.cid = pc.cid
         |  GROUP BY 1, 2),
         |sh AS (SELECT query_id, vec_id, adc,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS srk
         |       FROM sc),
         |rr AS (SELECT sh.query_id AS query_id, sh.vec_id AS vec_id, sh.adc AS adc,
         |         ${dotSql("q.qv", "cu.nv")} AS cos
         |       FROM sh JOIN q ON q.query_id = sh.query_id
         |       JOIN u cu ON cu.vec_id = sh.vec_id
         |       WHERE srk <= ${PqOps.PqShortlist * 3}),
         |r AS (SELECT query_id, vec_id, adc, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |      FROM rr)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id,
         |  round(adc, 4) AS adc, round(cos, 4) AS cos
         |FROM r WHERE rk <= 3""".stripMargin,
    // both PQ recall gauges (pure-ADC and re-ranked) against the exact
    // brute answer, from the same artifact chain
    "sim_ivfpq_recall" ->
      s"""WITH $UNIT_CTE,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM u q JOIN u c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 5),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 10),
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 5),
         |pr AS (
         |  SELECT query_id, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("pq_centroids")} c)),
         |cand AS (
         |  SELECT query_id, lx.vec_id AS vec_id
         |  FROM pr JOIN ${Artifacts.ref("pq_lists")} lx USING (list)
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> lx.vec_id),
         |$PQ_QSUB_CTE,
         |qd AS (SELECT query_id, qs.m AS m, cb.cid AS cid,
         |         ${dotSql("qsub", "cb.centroid")} AS d
         |       FROM qs JOIN ${Artifacts.ref("pq_codebooks")} cb ON cb.m = qs.m),
         |sc AS (
         |  SELECT c.query_id AS query_id, c.vec_id AS vec_id,
         |    list_reduce(list_prepend(0.0, list(d ORDER BY pc.m)),
         |                (acc, x) -> acc + x) AS adc
         |  FROM cand c
         |  JOIN ${Artifacts.ref("pq_codes")} pc ON pc.vec_id = c.vec_id
         |  JOIN qd ON qd.query_id = c.query_id AND qd.m = pc.m AND qd.cid = pc.cid
         |  GROUP BY 1, 2),
         |sh AS (SELECT query_id, vec_id, adc,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS srk
         |       FROM sc),
         |adctop AS (SELECT query_id, vec_id FROM sh WHERE srk <= 10),
         |rr AS (SELECT sh.query_id AS query_id, sh.vec_id AS vec_id,
         |         ${dotSql("q.qv", "cu.nv")} AS cos
         |       FROM sh JOIN q ON q.query_id = sh.query_id
         |       JOIN u cu ON cu.vec_id = sh.vec_id
         |       WHERE srk <= ${PqOps.PqShortlist * 10}),
         |rertop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM rr)
         |  WHERE rk <= 10)
         |SELECT br.query_id, count(*) AS n_brute,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_adc,
         |  CAST(sum(CASE WHEN rt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_rerank,
         |  round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall_adc,
         |  round(sum(CASE WHEN rt.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall_rerank,
         |  '${SimilarityOps.IvfLists}/${SimilarityOps.IvfProbe} pq${PqOps.PqM}x${PqOps.PqCents}' AS index_cfg
         |FROM br
         |LEFT JOIN adctop a ON br.query_id = a.query_id AND br.vec_id = a.vec_id
         |LEFT JOIN rertop rt ON br.query_id = rt.query_id AND br.vec_id = rt.vec_id
         |GROUP BY 1""".stripMargin,
    "dedup_exact_fp" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    list_reduce(
         |      list_prepend(CAST(7 AS BIGINT),
         |        list_transform(list_filter(string_split($NORM, ''), c -> c <> ''),
         |                       c -> CAST(unicode(c) AS BIGINT))),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         |  FROM documents)
         |SELECT fp, min(doc_id) AS keeper, count(*) AS n_copies
         |FROM n GROUP BY 1""".stripMargin,
    "txt_fingerprints" ->
      s"""WITH n AS (SELECT doc_id, $NORM AS norm FROM documents WHERE doc_id < 50)
         |SELECT doc_id, md5(norm) AS fp_md5,
         | list_reduce(
         |   list_prepend(CAST(7 AS BIGINT),
         |     list_transform(list_filter(string_split(norm, ''), c -> c <> ''),
         |                    c -> CAST(unicode(c) AS BIGINT))),
         |   (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_roll
         |FROM n""".stripMargin,

    // --- model-artifact oracles: the seeded fits persist their artifacts
    //     (Artifacts.scala) and DuckDB re-derives the relational downstream —
    //     assignment joins, argmax/threshold rules, centroid cosines, probe
    //     rankings — from those exact parquet doubles. Only the iterative
    //     fits themselves stay rows-only (lda_grid, topic_reduce).
    "lda_topics" ->
      s"""SELECT d.topic, CAST(d.pos + 1 AS INT) AS rank, v.term,
         |  round(d.weight, 6) AS weight
         |FROM ${Artifacts.ref("lda_topic_desc")} d
         |JOIN ${Artifacts.ref("lda_vocab")} v USING (termId)""".stripMargin,
    "lda_dominant" ->
      s"""WITH dt AS (
         |  SELECT doc_id, list_max(dist) AS maxp,
         |    CAST(list_position(dist, list_max(dist)) - 1 AS INT) AS topic
         |  FROM ${Artifacts.ref("lda_doc_topics")})
         |SELECT topic, count(*) AS n_docs, round(avg(maxp), 4) AS avg_prob
         |FROM dt WHERE maxp > 0.3 GROUP BY 1""".stripMargin,
    "lda_top_docs" ->
      s"""WITH dt AS (
         |  SELECT doc_id, list_max(dist) AS prob,
         |    CAST(list_position(dist, list_max(dist)) - 1 AS INT) AS topic
         |  FROM ${Artifacts.ref("lda_doc_topics")}),
         |r AS (
         |  SELECT topic, doc_id, prob,
         |    row_number() OVER (PARTITION BY topic ORDER BY prob DESC, doc_id) AS rk
         |  FROM dt)
         |SELECT topic, CAST(rk AS INT) AS rank, doc_id, round(prob, 4) AS prob,
         |  substring(text, 1, 200) AS example
         |FROM r JOIN documents USING (doc_id) WHERE rk <= 3""".stripMargin,
    // u_mass ⋈ c_npmi per fitted topic — the same presence/window CTEs the
    // c-TF-IDF coherence queries verify, word lists from the fit artifact
    "lda_topic_coherence" ->
      s"""WITH tw AS (
         |  SELECT cls, word, CAST(rank AS INT) AS rank
         |  FROM ${Artifacts.ref("lda_topic_words")}),
         |words AS (SELECT DISTINCT word FROM tw),
         |pairs AS (
         |  SELECT i.cls AS cls, i.word AS wi, j.word AS wj
         |  FROM tw i JOIN tw j ON i.cls = j.cls AND i.rank > j.rank),
         |dpres AS (
         |  SELECT doc_id, word
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS word FROM documents)
         |  JOIN words USING (word)),
         |dj AS (SELECT word, count(*) AS d FROM dpres GROUP BY 1),
         |dij AS (
         |  SELECT a.word AS wa, b.word AS wb, count(*) AS dij
         |  FROM dpres a JOIN dpres b
         |    ON a.doc_id = b.doc_id AND a.word < b.word
         |  GROUP BY 1, 2),
         |um AS (
         |  SELECT cls, count(*) AS n_pairs, round(avg(ps), 4) AS umass
         |  FROM (
         |    SELECT cls, ln((coalesce(dij, 0) + 1.0) / d) AS ps
         |    FROM pairs
         |    LEFT JOIN dij ON wa = least(wi, wj) AND wb = greatest(wi, wj)
         |    JOIN dj ON dj.word = wj)
         |  GROUP BY 1),
         |toks AS (
         |  SELECT doc_id, toks FROM (SELECT doc_id, $TOKS AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |tot AS (
         |  SELECT CAST(sum(greatest(len(toks) - 9, 1)) AS BIGINT) AS n_windows
         |  FROM toks),
         |hits AS (
         |  SELECT h.doc_id, h.t, h.word, h.p
         |  FROM (SELECT doc_id, len(toks) AS t, unnest(toks) AS word,
         |          generate_subscripts(toks, 1) AS p
         |        FROM toks) h JOIN words USING (word)),
         |wpres AS (
         |  SELECT DISTINCT doc_id, word,
         |    unnest(range(greatest(1, p - 9),
         |                 least(p, greatest(t - 9, 1)) + 1)) AS ws
         |  FROM hits),
         |pw AS (SELECT word, count(*) AS cw FROM wpres GROUP BY 1),
         |pij AS (
         |  SELECT a.word AS wa, b.word AS wb, count(*) AS cij
         |  FROM wpres a JOIN wpres b
         |    ON a.doc_id = b.doc_id AND a.ws = b.ws AND a.word < b.word
         |  GROUP BY 1, 2),
         |np AS (
         |  SELECT cls, round(avg(ln((p_ij + 1e-12) / (p_i * p_j))
         |                      / (-ln(p_ij + 1e-12))), 4) AS c_npmi
         |  FROM (
         |    SELECT cls,
         |      coalesce(cij, 0) * 1.0 / n_windows AS p_ij,
         |      pi.cw * 1.0 / n_windows AS p_i,
         |      pj.cw * 1.0 / n_windows AS p_j
         |    FROM pairs
         |    LEFT JOIN pij ON wa = least(wi, wj) AND wb = greatest(wi, wj)
         |    JOIN pw pi ON pi.word = wi
         |    JOIN pw pj ON pj.word = wj, tot)
         |  GROUP BY 1)
         |SELECT um.cls AS topic, um.n_pairs, um.umass, np.c_npmi
         |FROM um JOIN np ON um.cls = np.cls""".stripMargin,
    // the grid's scoring downstream — per-class u_mass of each k's fitted
    // word lists, class-averaged, argmax marked — over the per-k artifacts
    "lda_grid" ->
      s"""WITH tw AS (
         |  SELECT 2 AS k, cls, word, CAST(rank AS INT) AS rank
         |  FROM ${Artifacts.ref("lda_grid_words_2")}
         |  UNION ALL SELECT 3, cls, word, CAST(rank AS INT)
         |  FROM ${Artifacts.ref("lda_grid_words_3")}
         |  UNION ALL SELECT 5, cls, word, CAST(rank AS INT)
         |  FROM ${Artifacts.ref("lda_grid_words_5")}
         |  UNION ALL SELECT 8, cls, word, CAST(rank AS INT)
         |  FROM ${Artifacts.ref("lda_grid_words_8")}),
         |words AS (SELECT DISTINCT word FROM tw),
         |dpres AS (
         |  SELECT doc_id, word
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS word FROM documents)
         |  JOIN words USING (word)),
         |dj AS (SELECT word, count(*) AS d FROM dpres GROUP BY 1),
         |dij AS (
         |  SELECT a.word AS wa, b.word AS wb, count(*) AS dij
         |  FROM dpres a JOIN dpres b
         |    ON a.doc_id = b.doc_id AND a.word < b.word
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT i.k AS k, i.cls AS cls, i.word AS wi, j.word AS wj
         |  FROM tw i JOIN tw j
         |    ON i.k = j.k AND i.cls = j.cls AND i.rank > j.rank),
         |perclass AS (
         |  SELECT k, cls, round(avg(ps), 4) AS umass
         |  FROM (
         |    SELECT k, cls, ln((coalesce(dij, 0) + 1.0) / d) AS ps
         |    FROM pairs
         |    LEFT JOIN dij ON wa = least(wi, wj) AND wb = greatest(wi, wj)
         |    JOIN dj ON dj.word = wj)
         |  GROUP BY 1, 2),
         |perk AS (SELECT k, round(avg(umass), 4) AS umass FROM perclass GROUP BY 1)
         |SELECT k, umass, CAST(umass = max(umass) OVER () AS INT) AS best
         |FROM perk""".stripMargin,
    "kmeans_profile" ->
      s"""WITH a AS (SELECT vec_id, cluster, label FROM ${Artifacts.ref("kmeans_assign")}),
         |bl AS (SELECT cluster, label, count(*) AS n FROM a GROUP BY 1, 2),
         |top AS (
         |  SELECT cluster, label AS top_label, n AS top_n
         |  FROM (SELECT cluster, label, n,
         |          row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rk
         |        FROM bl) WHERE rk = 1),
         |sz AS (SELECT cluster, count(*) AS n_vecs FROM a GROUP BY 1)
         |SELECT cluster, n_vecs, top_label,
         |  round(top_n * 1.0 / n_vecs, 4) AS purity
         |FROM sz JOIN top USING (cluster)""".stripMargin,
    // the mean+2σ noise relabel re-derived from the persisted PCA coords:
    // centroids, ordered-fold distances, thresholds, and shares all in SQL
    "cluster_noise" ->
      s"""WITH a AS (SELECT vec_id, cluster, p FROM ${Artifacts.ref("kmeans_pca_assign")}),
         |cents AS (
         |  SELECT cluster, list(m ORDER BY dim) AS centroid
         |  FROM (SELECT cluster, dim, avg(x) AS m
         |        FROM (SELECT cluster, generate_subscripts(p, 1) AS dim,
         |                unnest(p) AS x FROM a)
         |        GROUP BY 1, 2)
         |  GROUP BY 1),
         |d AS (
         |  SELECT vec_id, a.cluster,
         |    sqrt(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, len(p) + 1),
         |        i -> (p[i] - centroid[i]) * (p[i] - centroid[i]))),
         |      (acc, x) -> acc + x)) AS d
         |  FROM a JOIN cents USING (cluster)),
         |thr AS (
         |  SELECT cluster, avg(d) + 2.0 * stddev_pop(d) AS thr
         |  FROM d GROUP BY 1),
         |lab AS (
         |  SELECT CASE WHEN d.d > thr.thr THEN -1 ELSE d.cluster END AS cluster
         |  FROM d JOIN thr USING (cluster)),
         |tot AS (SELECT count(*) AS n_total FROM lab)
         |SELECT cluster, count(*) AS n_vecs,
         |  round(count(*) * 1.0 / n_total, 4) AS share
         |FROM lab, tot GROUP BY cluster, n_total""".stripMargin,
    // c-TF-IDF over the noise-filtered fitted clusters — the same scoring
    // CTEs as topic_ctfidf, classes from the assignment artifact
    "bertopic_keywords" ->
      s"""WITH cl AS (
         |  SELECT vec_id AS doc_id, cluster
         |  FROM ${Artifacts.ref("kmeans_noisy_assign")} WHERE cluster <> -1),
         |ex AS (
         |  SELECT cluster AS cls, unnest($TOKS) AS word
         |  FROM documents JOIN cl USING (doc_id)),
         |tf AS (SELECT cls, word, count(*) AS tf FROM ex GROUP BY 1, 2),
         |ft AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         |sc AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS a FROM tf),
         |scored AS (
         |  SELECT cls, word, tf * ln(1.0 + a / ft) AS score
         |  FROM tf JOIN ft USING (word), sc),
         |r AS (
         |  SELECT cls, word, score,
         |    CAST(row_number() OVER (PARTITION BY cls ORDER BY score DESC, word) AS INT) AS rank
         |  FROM scored)
         |SELECT cls, rank, word, round(score, 4) AS score
         |FROM r WHERE rank <= 10""".stripMargin,
    // IVF probe + in-list re-rank from the persisted quantizer artifacts —
    // unit vectors and ordered-fold dots are bit-exact, so this one is
    // hash-exact end to end, not just rounding-stable
    "sim_ivf_ann" ->
      s"""WITH $UNIT_CTE,
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM u WHERE vec_id < 50),
         |pr AS (
         |  SELECT query_id, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qv, list, ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("ivf_centroids")} c)),
         |s AS (
         |  SELECT query_id, ix.vec_id AS vec_id, ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("ivf_assign")} ix USING (list)
         |  JOIN u cu ON cu.vec_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND query_id <> ix.vec_id),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, round(cos, 4) AS cos
         |FROM r WHERE rk <= 3""".stripMargin,
    // hard negatives: the sim_ivf_ann probe with same-label rows dropped
    // before the exact re-rank
    "sim_hard_negatives" ->
      s"""WITH $UNIT_CTE,
         |q AS (SELECT vec_id AS query_id, nv AS qv, label AS qlabel
         |      FROM u WHERE vec_id < 50),
         |pr AS (
         |  SELECT query_id, qlabel, qv, list,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, list) AS prk
         |  FROM (SELECT query_id, qlabel, qv, list,
         |          ${dotSql("qv", "centroid")} AS cdot
         |        FROM q, ${Artifacts.ref("ivf_centroids")} c)),
         |s AS (
         |  SELECT query_id, ix.vec_id AS vec_id, cu.label AS neg_label,
         |    ${dotSql("qv", "cu.nv")} AS cos
         |  FROM pr JOIN ${Artifacts.ref("ivf_assign")} ix USING (list)
         |  JOIN u cu ON cu.vec_id = ix.vec_id
         |  WHERE prk <= ${SimilarityOps.IvfProbe} AND cu.label <> qlabel),
         |r AS (
         |  SELECT query_id, vec_id, neg_label, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, neg_label,
         |  round(cos, 4) AS cos
         |FROM r WHERE rk <= 3""".stripMargin,
    // incremental index maintenance: the A→B version diff re-derived (same
    // mod arithmetic, unit vectors bit-equal), kept postings read from the
    // PERSISTED index artifact, delta re-assigned at the artifact centroids
    "sim_ivf_incremental" ->
      s"""WITH $UNIT_CTE,
         |cutv AS (SELECT CAST(floor(max(vec_id) * 0.9) AS BIGINT) AS c FROM u),
         |oldv AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 97 = 0 THEN list_transform(nv, x -> -x)
         |         ELSE nv END AS nv
         |  FROM u, cutv WHERE vec_id <= c),
         |newv AS (SELECT vec_id, nv FROM u WHERE vec_id % 101 <> 0),
         |d AS (
         |  SELECT coalesce(o.vec_id, n.vec_id) AS vec_id, o.nv AS nv_old,
         |    n.nv AS nv_new
         |  FROM oldv o FULL OUTER JOIN newv n ON o.vec_id = n.vec_id),
         |kept AS (
         |  SELECT d.vec_id, ix.list, 'kept' AS origin
         |  FROM d JOIN ${Artifacts.ref("ivf_inc_index")} ix
         |    ON ix.vec_id = d.vec_id
         |  WHERE d.nv_old IS NOT NULL AND d.nv_new IS NOT NULL
         |    AND d.nv_old = d.nv_new),
         |fresh AS (
         |  SELECT vec_id, list, 'reassigned' AS origin FROM (
         |    SELECT d.vec_id, c.list,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY ${dotSql("d.nv_new", "c.centroid")} DESC, c.list) AS rk
         |    FROM d, ${Artifacts.ref("ivf_inc_centroids")} c
         |    WHERE d.nv_new IS NOT NULL
         |      AND (d.nv_old IS NULL OR d.nv_old <> d.nv_new))
         |  WHERE rk = 1),
         |m AS (SELECT * FROM kept UNION ALL SELECT * FROM fresh)
         |SELECT list, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN origin = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN origin = 'reassigned' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_reassigned,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // drift gauge: corpus B re-derived, brute ground truth, one probe
    // chain per persisted world (frozen A-quantizer + maintained postings
    // vs retrained-on-B), micro-avg recall as an exact integer ratio
    "sim_ivf_drift" -> {
      def tierSql(tier: String, centsRef: String, indexRef: String) =
        s"""SELECT '$tier' AS tier,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  sum(n_hits) / sum(n_brute) AS avg_r,
           |  min(n_hits / n_brute) AS min_r
           |FROM (
           |  SELECT br.query_id,
           |    CAST(count(*) AS DOUBLE) AS n_brute,
           |    CAST(sum(CASE WHEN an.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |      AS DOUBLE) AS n_hits
           |  FROM br LEFT JOIN (
           |    SELECT query_id, vec_id FROM (
           |      SELECT query_id, ix.vec_id AS vec_id,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY ${dotSql("qv", "cu.nv")} DESC, ix.vec_id) AS rk
           |      FROM (
           |        SELECT query_id, qv, list FROM (
           |          SELECT query_id, qv, list,
           |            row_number() OVER (PARTITION BY query_id
           |              ORDER BY cdot DESC, list) AS prk
           |          FROM (SELECT query_id, qv, c.list,
           |                  ${dotSql("qv", "c.centroid")} AS cdot
           |                FROM q, $centsRef c))
           |        WHERE prk <= ${SimilarityOps.IvfProbe}) pr
           |      JOIN $indexRef ix USING (list)
           |      JOIN newv cu ON cu.vec_id = ix.vec_id
           |      WHERE query_id <> ix.vec_id)
           |    WHERE rk <= 10) an
           |    ON br.query_id = an.query_id AND br.vec_id = an.vec_id
           |  GROUP BY 1)""".stripMargin
      s"""WITH $UNIT_CTE,
         |cutv AS (SELECT CAST(floor(max(vec_id) * 0.9) AS BIGINT) AS c FROM u),
         |newv AS (SELECT vec_id, nv FROM u WHERE vec_id % 101 <> 0),
         |q AS (SELECT vec_id AS query_id, nv AS qv FROM newv WHERE vec_id < 50),
         |br AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dotSql("q.qv", "c.nv")} DESC, c.vec_id) AS rk
         |    FROM q JOIN newv c ON q.query_id <> c.vec_id)
         |  WHERE rk <= 10),
         |tiers AS (
         |${tierSql("frozen", Artifacts.ref("ivf_drift_cents_frozen"),
             Artifacts.ref("ivf_drift_index_frozen"))}
         |UNION ALL
         |${tierSql("retrained", Artifacts.ref("ivf_drift_cents_retrained"),
             Artifacts.ref("ivf_drift_index_retrained"))})
         |SELECT tier, n_queries,
         |  round(avg_r, 4) AS avg_recall,
         |  round(min_r, 4) AS min_recall,
         |  round((SELECT avg_r FROM tiers WHERE tier = 'retrained') - avg_r, 4)
         |    AS recall_drop,
         |  CAST((SELECT avg_r FROM tiers WHERE tier = 'retrained') - avg_r
         |    > ${IndexMaintOps.DriftRetrainThreshold} AS INT) AS retrain_due
         |FROM tiers ORDER BY tier""".stripMargin
    },
    // centroid-cosine example ranking over the fitted k=8 assignment
    "topic_examples_embed" ->
      s"""WITH $UNIT_CTE,
         |a AS (
         |  SELECT ka.vec_id, ka.cluster, u.nv
         |  FROM ${Artifacts.ref("kmeans_assign")} ka JOIN u ON u.vec_id = ka.vec_id),
         |cents AS (
         |  SELECT cluster, list(m ORDER BY dim) AS c
         |  FROM (SELECT cluster, dim, avg(x) AS m
         |        FROM (SELECT cluster, generate_subscripts(nv, 1) AS dim,
         |                unnest(nv) AS x FROM a)
         |        GROUP BY 1, 2)
         |  GROUP BY 1),
         |cu AS (
         |  SELECT cluster,
         |    CASE WHEN sqrt(${dotSql("c", "c")}) = 0.0
         |         THEN list_transform(c, x -> 0.0)
         |         ELSE list_transform(c, x -> x / sqrt(${dotSql("c", "c")})) END AS nc
         |  FROM cents),
         |s AS (
         |  SELECT a.cluster, a.vec_id,
         |    (${dotSql("a.nv", "cu.nc")} + 1.0) / 2.0 AS score01
         |  FROM a JOIN cu USING (cluster)),
         |r AS (
         |  SELECT cluster, vec_id, score01,
         |    row_number() OVER (PARTITION BY cluster ORDER BY score01 DESC, vec_id) AS rk
         |  FROM s)
         |SELECT cluster, CAST(rk AS INT) AS rank, vec_id, round(score01, 4) AS score01
         |FROM r WHERE rk <= 3""".stripMargin,
    // the reduction's distributed downstream (relabel join + sizes); the
    // driver-side K×K agglomerative merge itself is the fit analog and
    // exports its merge map as the artifact
    "topic_reduce" ->
      s"""SELECT m.new_cluster AS cluster, count(*) AS n_docs
         |FROM ${Artifacts.ref("kmeans_assign")} a
         |JOIN ${Artifacts.ref("topic_reduce_map")} m USING (cluster)
         |GROUP BY 1""".stripMargin,
    // exact neighbor ranking over the fitted Word2Vec unit vectors
    "w2v_neighbors" ->
      s"""WITH a AS (SELECT vec_id, nv FROM ${Artifacts.ref("w2v_vectors")}),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${dotSql("q.nv", "c.nv")} AS cos
         |  FROM a q JOIN a c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 3),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM s)
         |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, round(cos, 4) AS cos
         |FROM r WHERE rk <= 5""".stripMargin,
    // both embedders through the same norm profile: the precomputed side
    // re-derives from the embeddings table, the w2v side from its artifact
    "embedder_compare" ->
      s"""WITH pre AS (
         |  SELECT list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id < 100),
         |w2v AS (SELECT embedding AS emb FROM ${Artifacts.ref("w2v_doc100")}),
         |uni AS (
         |  SELECT 'precomputed' AS embedder, emb FROM pre
         |  UNION ALL SELECT 'word2vec' AS embedder, emb FROM w2v),
         |n AS (SELECT embedder, sqrt(${dotSql("emb", "emb")}) AS norm FROM uni)
         |SELECT embedder, count(*) AS n_docs, round(avg(norm), 4) AS avg_norm
         |FROM n GROUP BY 1""".stripMargin,
  )
}
