package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Realistic fixture dimension (r15): the synthetic documents corpus is
  * structurally complete but behaviorally flat for five production paths —
  * it has no PII, no eval-set contamination, a stop-word-free 31-word
  * vocabulary shared by every language (so DSIR reports no separation and
  * Gopher's stop-word rule fails every doc). This derives a REALISTIC
  * corpus from the fixture with a deterministic, SQL-expressible text
  * transform (planted stop words, per-language vocabulary blocks, planted
  * eval-slice 13-gram contamination, planted PII spans), so that:
  *
  *   - the transform is ORACLE-CHECKABLE: the identical augmentation is
  *     prepended to an existing oracle's SQL as a `documents` CTE
  *     (shadowing the fixture view — DuckDB resolves the base table via
  *     `main.documents`), so the realistic faces reuse the battle-tested
  *     oracle bodies verbatim;
  *   - the Spark side materializes the transformed corpus once per session
  *     into a content-keyed temp dir and runs the UNCHANGED operators on
  *     it — no realistic-only code paths in the engine, and every fit
  *     registry (NLL scores, minhash labels, postings) keys off the new
  *     dir's fingerprint exactly as a second corpus would in production.
  *
  * Planting plan (bkt = SamplingOps.hashBucket(doc_id, 10000), the house
  * basis-point hash — the same bucketing the funnel's eval/train split and
  * every sampled face already use):
  *
  *   - STOP WORDS: docs with bkt % 7 < 5 (~71%) append six list words —
  *     Gopher's stop rule (≥ 2 hits) now passes most docs and fails the
  *     rest, instead of failing the whole corpus.
  *   - PER-LANG VOCABULARY: every doc appends three lang-derived tokens
  *     (qq<lang>one …) — languages stop sharing one vocabulary, giving
  *     DSIR's importance estimator real separation to find.
  *   - CONTAMINATION: docs with bkt < 250 (inside the funnel's bkt < 500
  *     eval slice) AND docs with 500 ≤ bkt < 800 (train) append the same
  *     13-token phrase — the train planting collides with the eval gram
  *     set, so the funnel's decontam stage drops REAL docs (~3%).
  *   - PII: docs with bkt % 13 ≥ 10 (~23%) append an email + URL + phone
  *     span — the funnel's scrub stage now has a non-zero token delta and
  *     every PiiPatterns category matches.
  *
  * All appended tokens are lowercase ASCII in the house token band
  * (2-15 chars), so tokenize/normalize parity between the Spark kernels
  * and the DuckDB renderings is untouched.
  */
object RealisticCorpus {

  /** Bump to invalidate previously materialized corpora when the
    * transform changes.
    */
  val Version = 11

  /** Six distinct Gopher stop-list words (≥ GopherMinStopHits = 2). */
  val StopPhrase = "to of and that have with"

  /** Exactly 13 distinct tokens → exactly one planted 13-gram. */
  val ContamPhrase =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"

  /** One match for each PiiPatterns category (email, URL, phone). The
    * email LOCAL PART is per-doc unique (user<doc_id>@…): with a constant
    * email the whole phrase is exactly 13 kept tokens (the 1-char `x`
    * falls out of the 2-15 band), so the eval slice's PII docs put the
    * phrase's 13-gram into the eval gram set and decontam killed EVERY
    * train PII doc — stage 5 then had nothing to scrub (v3's measured
    * trap). The unique token caps any shared run at 9 tokens < 13.
    */
  val PiiPhraseTail =
    "@example.com or https://example.com/x or call 010-1234-5678"

  /** Per-doc unique hash pairs / pairs fused per mega-token — see UNIQUE
    * MASS in the scaladoc. 64 pairs fuse into 8 tokens of ~137 chars.
    */
  val UniquePairs = 64
  val PairsPerToken = 8

  /** Width of the family's shared mega-token — see FAMILY MASS in
    * `transform`. Sized to lift within-family signature cosine into the
    * band-recall-robust region on the SMALLEST fixture while keeping the
    * family's Gopher mean-word-length under the 10.0 cap at sf0.1.
    */
  val FamMassChars = 300

  private val P = 1000000007L

  /** The Spark transform: deterministic per-doc appends keyed on the
    * basis-point hash bucket. Keep in lockstep with `cteSql`.
    *
    * Two shape notes beyond the planting plan:
    *   - UNIQUE MASS: every non-family doc appends `UniqueTokens` tokens
    *     derived from its own doc_id. The raw fixture's
    *     shared 31-word vocabulary makes nearly all docs pairwise
    *     near-duplicates (84% of the corpus in ONE minhash cluster — the
    *     r14-recorded artifact that left keep-best and the stream dup gate
    *     degenerate); real documents are mostly unique content, and the
    *     unique block restores that, so the dedup stages act on PLANTED
    *     structure instead of corpus-wide saturation.
    *   - DUP FAMILY: train docs with bkt ≥ 1000 and bkt % 100 = 37
    *     (~0.9%) instead REPLACE their
    *     text with doc 0's text plus a per-doc copymark, the stop phrase
    *     (always — constant, so no within-family divergence, and the
    *     family passes Gopher's stop rule into the funnel's keep-best
    *     stage), and a shared FamMassChars mega-token; never the PII
    *     span. A realistic boilerplate family (in-vocabulary, so it
    *     survives the perplexity gate) for keep-best, the stream
    *     near-dup gate, AND the dense tier (the realistic embeddings are
    *     hash-projected from this text) to catch — see the FAMILY MASS
    *     and family-append notes below for the measured divergence
    *     budget.
    *
    * The stop/PII plant moduli are 7 and 13, NOT 10: `source` is periodic
    * in doc_id and 8191 ≡ 1 (mod 10), so a mod-10 plant would be constant
    * per source and the per-source Gopher profile would degenerate to
    * all-or-nothing rows (observed in the v1 transform).
    */
  def transform(docs: DataFrame): DataFrame = {
    val bkt = graft.operators.SamplingOps.hashBucket(col("doc_id"), 10000)
    val t0 = docs.orderBy("doc_id").limit(1)
      .select(coalesce(col("text"), lit("")).as("t0text"))
    // bkt >= 1000 keeps the family out of the eval slice: an eval-side
    // member would put doc 0's whole token stream into the eval gram set
    // and decontam would erase the family (and doc 0) before keep-best
    // ever saw the planted cluster (v3's second measured trap)
    val fam = bkt >= 1000 && bkt % 100 === 37
    val base = when(fam,
      concat(col("t0text"), lit(" copymark"),
        (col("doc_id") % 7).cast("string")))
      .otherwise(coalesce(col("text"), lit("")))
    // The unique mass must be (a) high-entropy PER CHARACTER — a
    // low-entropy block (v<doc_id>q<i>) shares its shingle skeleton across
    // docs and measured NO saturation break (max minhash cluster stayed
    // 400+ of 500) — and (b) OUTSIDE every token band the text gates read:
    // short unique tokens entered the LM bigram stream as per-doc
    // singletons and floor-scored every arrival to nll ≈ 7 (measured, v3);
    // 18-char tokens escaped the 2-15 LM band but sat in Gopher's
    // TOKS_ALL (1-100) and dragged mean word length over the 10.0 cap —
    // stage 1 dropped 84% of the corpus (measured, v5). Fusing the 64
    // zero-padded hash pairs into 8 mega-tokens of ~137 chars puts the
    // mass above BOTH bands: dedup still sees every shingle (char-level),
    // while word-level gates (Gopher, LM, DSIR, decontam) see none of it.
    // FAMILY MASS (r16): the family's slot in the mass position is a
    // SHARED 300-char mega-token — doc 0's text squashed (spaces removed)
    // and rpad-cycled to exactly FamMassChars. Why: the dense tier reads
    // this text as hash-projected vectors, and a 1-char copymark diff
    // against only ~200 shared chars put same-lang family cosine at ~0.95
    // — under the media tier's band-recall region (measured: keep-best
    // empty at sf0.001). The shared block lifts same-lang pairs to ~0.97
    // at every fixture size while staying word-level INVISIBLE (one
    // >100-char token — outside Gopher's token band, the LM's 2-15 band,
    // and the decontam gram stream), and 300 chars keeps the family's
    // Gopher mean-word-length ≤ 10 at sf0.1 (590 chars / 64 words ≈ 9.2)
    // so the funnel's keep-best stage still sees the family.
    val famMass = concat(lit(" "), expr(
      s"rpad(replace(t0text, ' ', ''), $FamMassChars, " +
        "replace(t0text, ' ', ''))"))
    val uniq = when(fam, famMass)
      .otherwise(concat_ws("", transform_(
        sequence(lit(0), lit(UniquePairs / PairsPerToken - 1)),
        j => concat(lit(" v"), concat_ws("", transform_(
          sequence(j * PairsPerToken, j * PairsPerToken + PairsPerToken - 1),
          i => concat(
            lpad(((col("doc_id") * 8191 + i * 524287) % 100000000)
              .cast("string"), 8, "0"),
            lit("x"),
            lpad(((col("doc_id") * 31 + i * 17) % 100000000)
              .cast("string"), 8, "0"))))))))
    // Family append discipline (r16, the DENSE-tier requirement): the
    // family is ALSO the realistic embeddings' planted structure (vectors
    // are hash-projected from this text), so within-family divergence
    // must stay far under the media tier's 0.9 cosine bar at EVERY
    // fixture size. Per-member OPTIONAL appends broke that on the
    // smallest fixture (doc 150's ~60-char PII span against a ~130-char
    // shared base → cosine 0.95, zero band collisions, media keep-best
    // empty — measured). So: the stop phrase goes to EVERY family member
    // (a constant shared append — no divergence, and the family keeps
    // passing Gopher's stop rule into the funnel's keep-best stage at
    // sf0.1), the PII span to NONE (it keeps its ~hundred non-family
    // carriers); members stay pairwise-distinct through the copymark.
    // Residual divergence: one copymark char + lang tokens ⇒ same-lang
    // pairs sit at cosine ≈ 0.995, robustly inside band recall.
    docs.crossJoin(broadcast(t0)).select(
      col("doc_id"),
      concat(
        base,
        when(fam || bkt % 7 < 5, lit(" " + StopPhrase)).otherwise(lit("")),
        concat(lit(" qq"), col("lang"), lit("one qq"), col("lang"),
          lit("two qq"), col("lang"), lit("three")),
        uniq,
        when(bkt < 250 || (bkt >= 500 && bkt < 800),
          lit(" " + ContamPhrase)).otherwise(lit("")),
        when(!fam && bkt % 13 >= 10,
          concat(lit(" reach user"), col("doc_id").cast("string"),
            lit(PiiPhraseTail))).otherwise(lit(""))
      ).as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  private def transform_(arr: org.apache.spark.sql.Column,
                         f: org.apache.spark.sql.Column =>
                           org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.transform(arr, f)

  /** The DuckDB rendering of `transform` — a SELECT over `main.documents`
    * (the schema-qualified base view; the unqualified name is shadowed by
    * the CTE this body becomes).
    */
  def cteSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN bkt >= 1000 AND bkt % 100 = 37
       |       THEN t0text || ' copymark' || CAST(doc_id % 7 AS VARCHAR)
       |       ELSE coalesce(text, '') END
       |    || CASE WHEN (bkt >= 1000 AND bkt % 100 = 37)
       |            OR bkt % 7 < 5 THEN ' $StopPhrase' ELSE '' END
       |    || ' qq' || lang || 'one qq' || lang || 'two qq' || lang || 'three'
       |    || CASE WHEN bkt >= 1000 AND bkt % 100 = 37
       |       THEN ' ' || rpad(replace(t0text, ' ', ''), $FamMassChars,
       |                        replace(t0text, ' ', ''))
       |       ELSE array_to_string(list_transform(
       |              range(0, ${UniquePairs / PairsPerToken}),
       |              j -> ' v' || array_to_string(list_transform(
       |                     range(j * $PairsPerToken,
       |                           j * $PairsPerToken + $PairsPerToken),
       |                     i -> lpad(CAST((doc_id * 8191 + i * 524287)
       |                               % 100000000 AS VARCHAR), 8, '0')
       |                          || 'x' || lpad(CAST((doc_id * 31 + i * 17)
       |                               % 100000000 AS VARCHAR), 8, '0')),
       |                     '')), '') END
       |    || CASE WHEN bkt < 250 OR (bkt >= 500 AND bkt < 800)
       |            THEN ' $ContamPhrase' ELSE '' END
       |    || CASE WHEN NOT (bkt >= 1000 AND bkt % 100 = 37)
       |            AND bkt % 13 >= 10
       |            THEN ' reach user' || CAST(doc_id AS VARCHAR)
       |                 || '$PiiPhraseTail' ELSE '' END AS text,
       |  lang, source, n_chars
       |FROM (SELECT d.*, ((doc_id % $P) * 8191 + 524287) % $P % 10000 AS bkt,
       |        (SELECT coalesce(text, '') FROM main.documents
       |         ORDER BY doc_id LIMIT 1) AS t0text
       |      FROM main.documents d) rdoc""".stripMargin

  /** Rewrite an existing oracle so it runs over the realistic corpus:
    * prepend the transform as a CTE named `documents`, shadowing the
    * fixture view for every reference in the original body. The body is
    * reused VERBATIM — the realistic oracle can never drift from the base
    * face's semantics.
    */
  def realisticize(oracle: String): String = {
    require(oracle.startsWith("WITH "),
      "realisticize expects a WITH-prefixed oracle")
    // MATERIALIZED is load-bearing: the funnel/gate oracles reference
    // `documents` up to ~8 times, and DuckDB inlines a plain CTE per
    // reference — re-evaluating the transform's nested list lambdas per
    // use (measured: the oracle check went from minutes to tens of
    // minutes without it)
    s"WITH documents AS MATERIALIZED (\n$cteSql),\n" +
      oracle.stripPrefix("WITH ")
  }

  /** Wrap a (spark, dir) query face so it runs over the realistic twin
    * with artifact exports namespaced under `real/` — a realistic face can
    * never shadow a base face's artifact (saves are first-writer-wins, so
    * the oracle would otherwise check one corpus' face against the other
    * corpus' fit).
    */
  def over(op: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, d) => Artifacts.namespaced("real")(op(s, ensure(s, d)))

  private val materialized = Caching.Registry[String]("realistic.dirs")

  /** Materialize (once per corpus version per session) the realistic twin
    * of `dir` and return its path. Content-keyed like the fit registries:
    * an in-place fixture rewrite gets a fresh twin. The parquet write is
    * the whole cost — every downstream face then runs the stock operators
    * against a normal corpus directory.
    */
  def ensure(spark: SparkSession, dir: String): String = {
    // one listing serves both the registry key and the twin's path
    val hash = Fingerprint.listingHash(spark, dir)
    materialized.get(Fingerprint.dirKey(dir, hash)) {
      val out = s"${sys.props("java.io.tmpdir")}/graft_realistic_v$Version/${math.abs(hash)}"
      val marker = new java.io.File(s"$out/documents.parquet/_SUCCESS")
      if (!marker.isFile) {
        transform(Tables.documents(spark, dir))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$out/documents.parquet")
      }
      // Realistic EMBEDDINGS (r16): the dense tier's twin. Hash-projected
      // from the realistic text through the stub codec's 8-byte-gram
      // signature, then mean-centered — fully deterministic and mirrored
      // in SQL by SparkEntry's sigCtes chain, so the planted dup family
      // (shared doc-0 text) lands near-identical in vector space and the
      // unique mass spreads everything else apart (no corpus saturation).
      // Stored as DOUBLE (centering is double math on the float histogram;
      // a float re-round here would drift from the oracle's doubles).
      val markerEmb = new java.io.File(s"$out/embeddings.parquet/_SUCCESS")
      if (!markerEmb.isFile) {
        import graft.functions.HashExpressions.centerVector
        import graft.functions.VectorFunctions.asDouble
        graft.multimodal.MediaOps.extractSignatures(
            graft.multimodal.MediaOps.assetsFromDocuments(spark, out)).toDF()
          .select(col("asset_id").as("vec_id"),
            centerVector(asDouble(col("sv"))).as("embedding"),
            (col("asset_id") % 3).cast("int").as("label"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$out/embeddings.parquet")
      }
      out
    }
  }
}
