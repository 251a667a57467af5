package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.HashExpressions.rollingHash

/** Corpus-comparison operators — the monitoring tier of a training-data
  * pipeline: is today's snapshot distributed like yesterday's, and how much
  * content do two corpora share? Both run as plain aggregations (one
  * word-keyed agg per slice) so the comparison cost is bounded by the
  * VOCABULARY, never the corpus, and both are integer/fixed-float
  * arithmetic end-to-end so the DuckDB oracle replays them exactly.
  *
  *   - DRIFT: per-word Jensen–Shannon divergence contributions between two
  *     slices' unigram distributions. JS (unlike KL) is finite when a word
  *     exists in only one slice — the common case for drift — and the
  *     per-word contribution IS the diagnosis: which words drove the shift.
  *   - RESEMBLANCE: corpus-level token-set Jaccard, exact AND via the
  *     k-seed MinHash sketch of each slice. The sketch form is the one
  *     that scales: two snapshots compare by exchanging k longs each —
  *     resemblance between 100 TB corpora without co-locating either.
  */
object DriftOps {

  val P = 1000000007L

  /** (word, n, p) unigram distribution of a document slice — one
    * explode+agg; p = n / Σn computed against the slice total broadcast as
    * a single row.
    */
  def wordDist(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .select(col("word"), col("n"), (col("n") / col("total")).as("p"))
  }

  /** Per-word JS divergence contributions between two distributions:
    * js(w) = (p·log2(p/m) + q·log2(q/m)) / 2 with m = (p+q)/2 and the
    * 0·log(0) terms dropped. log2 is rendered as ln(x)/ln(2) so Spark and
    * DuckDB run the identical IEEE op sequence.
    */
  def jsContributions(a: DataFrame, b: DataFrame): DataFrame = {
    val pa = coalesce(col("p_a"), lit(0.0))
    val pb = coalesce(col("p_b"), lit(0.0))
    val m = (pa + pb) / 2
    val ln2 = log(lit(2.0))
    val termA = when(pa > 0, pa * log(pa / m) / ln2).otherwise(lit(0.0))
    val termB = when(pb > 0, pb * log(pb / m) / ln2).otherwise(lit(0.0))
    a.select(col("word"), col("p").as("p_a"))
      .join(b.select(col("word"), col("p").as("p_b")), Seq("word"), "full_outer")
      .select(col("word"),
        round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round((termA + termB) / 2, 6).as("js"))
  }

  /** Query: top-15 drift drivers between the en and de document slices —
    * the words whose usage differs most, with their per-slice rates.
    */
  def driftQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    jsContributions(
      wordDist(docs.filter(col("lang") === "en"), "text"),
      wordDist(docs.filter(col("lang") === "de"), "text"))
      .orderBy(desc("js"), col("word"))
      .limit(15)
  }

  private def spark_range(s: SparkSession, n: Int): DataFrame = s.range(n).toDF()

  /** Query: token-set resemblance of the en vs de slices — exact Jaccard
    * next to the k=32 sketch estimate (matching minima / k). The estimate's
    * expected error is ~1/√k; at corpus scale only the two k-row
    * signatures ever meet.
    */
  def resemblanceQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def hashes(lang: String) = graft.Caching.track(docs
      .filter(col("lang") === lang)
      .select(explode(tokens(col("text"))).as("word"))
      .select(rollingHash(col("word")).as("h")).distinct())
    val (kh, eh) = (hashes("en"), hashes("de"))
    val exact = kh.as("a")
      .join(eh.as("b"), col("a.h") === col("b.h"))
      .agg(count(lit(1)).as("n_inter"))
      .crossJoin(broadcast(kh.unionByName(eh).distinct()
        .agg(count(lit(1)).as("n_union"))))
      .select((col("n_inter") / col("n_union")).as("j_exact"))
    val matches = signatureOf(kh)
      .withColumnRenamed("mn", "mn_a")
      .join(signatureOf(eh).withColumnRenamed("mn", "mn_b"), "seed")
      .agg(sum(when(col("mn_a") === col("mn_b"), 1L).otherwise(0L)).as("n_match"))
    exact.crossJoin(broadcast(matches))
      .select(round(col("j_exact"), 6).as("j_exact"),
        round(col("n_match") / 32.0, 6).as("j_est"),
        col("n_match"))
  }

  /** PSI (population stability index) contributions between two histogram
    * frames (bucket, n) — the industry-standard numeric drift gauge.
    * Rates are Laplace-smoothed, p = (n+1)/(N+B) with B = distinct buckets
    * across both frames, so one-sided buckets stay finite WITHOUT the
    * ad-hoc epsilon most implementations hide — and the smoothing is exact
    * integer arithmetic, so the oracle replays it. Contribution
    * (p−q)·ln(p/q); PSI total = Σ, with the usual ≥0.2 "significant shift"
    * reading. Runs entirely over SKETCH rows (bounded by value range /
    * width), never the data.
    */
  def psiContributions(a: DataFrame, b: DataFrame): DataFrame = {
    val joined = a.select(col("bucket"), col("n").as("n_a"))
      .join(b.select(col("bucket"), col("n").as("n_b")), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(
      sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"),
      count(lit(1)).as("n_buckets"))
    val p = (col("n_a") + 1) / (col("tot_a") + col("n_buckets"))
    val q = (col("n_b") + 1) / (col("tot_b") + col("n_buckets"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(p, 6).as("p_a"), round(q, 6).as("p_b"),
        round((p - q) * log(p / q), 6).as("psi"))
  }

  /** Query: document-length drift between the en and de slices — PSI over
    * width-64 n_chars histograms, per-bucket contributions ordered by
    * bucket.
    */
  def lenDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    psiContributions(
      SketchOps.histogramSketch(docs.filter(col("lang") === "en"), "n_chars", 64),
      SketchOps.histogramSketch(docs.filter(col("lang") === "de"), "n_chars", 64))
      .orderBy("bucket")
  }

  /** Signature of an already-distinct hash frame (column `h`). */
  def signatureOf(hashFrame: DataFrame, k: Int = 32): DataFrame =
    hashFrame
      .crossJoin(broadcast(
        spark_range(hashFrame.sparkSession, k).select((col("id") + 1).as("seed"))))
      .groupBy("seed")
      .agg(min((col("h") * (lit(8191L) * col("seed")) +
        lit(524287L) * col("seed")) % P).as("mn"))
}
