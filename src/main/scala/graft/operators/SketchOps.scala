package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.HashExpressions.rollingHash

/** Mergeable frequency sketches — the approximate counting tier a 100 TB
  * word-frequency surface needs when even the (word, count) table is too
  * wide to materialize (SURVEY.md §2.5 A1's scale escape hatch; the brief's
  * "novel sketch" custom-operator family).
  *
  * Count-min sketch as a plain DataFrame program: depth×width counter grid,
  * row i bucketing each token by the engine's affine hash family
  * h_i(x) = (8191·i·x + 524287·i) mod P (the MinHash family,
  * HashKernels.minhashSig) folded onto `width` buckets. Every step is
  * integer arithmetic on codegen'd expressions, so the sketch — and the
  * estimates read from it — are bit-reproducible in the DuckDB oracle.
  *
  * Properties the plan keeps at scale: ONE explode+groupBy over (i, bucket)
  * — depth·width rows out regardless of vocabulary size; sketches of
  * partitions/days/shards merge by cell-wise addition (the groupBy IS the
  * merge); estimates are upper bounds (min over rows) with the usual
  * ε = e/width, δ = e^-depth guarantees.
  */
object SketchOps {

  val P = 1000000007L

  /** Build the sketch: (row, bucket, n) counters from one corpus scan.
    * The depth cells are UNROLLED into a literal array-of-structs (plain
    * codegen'd arithmetic) rather than a `transform` lambda — higher-order
    * functions evaluate interpreted outside whole-stage codegen, which
    * dominated the 10× scale probe.
    */
  def countMinSketch(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 1024): DataFrame = {
    val cells = (1 to depth).map { i =>
      struct(lit(i).as("row"),
        (((col("h") * (8191L * i)) + lit(524287L * i)) % P % width).as("bucket"))
    }
    docs
      .select(explode(tokens(col(textCol))).as("word"))
      .select(rollingHash(col("word")).as("h"))
      .select(explode(array(cells: _*)).as("cell"))
      .select(col("cell.row").as("row"), col("cell.bucket").as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Point estimates for `words` from a sketch: min over rows of the
    * word's bucket counter — always ≥ the true count.
    */
  def countMinEstimate(sketch: DataFrame, words: DataFrame, wordCol: String,
                       depth: Int = 4, width: Int = 1024): DataFrame = {
    val keyed = words
      .withColumn("h", rollingHash(col(wordCol)))
      .select(col(wordCol).as("word"), explode(expr(
        s"transform(sequence(1, $depth), i -> named_struct(" +
          s"'row', i, 'bucket', ((h * (8191 * i)) + (524287 * i)) % $P % $width))"))
        .as("cell"))
      .select(col("word"), col("cell.row").as("row"), col("cell.bucket").as("bucket"))
    keyed
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /** Linear-counting distinct sketch: an m-bucket occupancy bitmap over the
    * token hash — distinct-count estimate −m·ln(V) where V = empty fraction
    * (Whang et al. 1990). Mergeable by bitmap OR (union of occupied
    * buckets); deterministic arithmetic end-to-end, so oracle-exact.
    */
  def occupiedBuckets(docs: DataFrame, textCol: String,
                      m: Int = 4096): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("word"))
      .select((rollingHash(col("word")) % lit(m)).as("bucket"))
      .distinct()

  /** Query: linear-counting distinct-words estimate vs the exact count —
    * (n_exact, occupied, est); est within ~2% at this load factor.
    */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val m = 4096
    val docs = Tables.documents(spark, dir)
    val words = docs.select(explode(tokens(col("text"))).as("word"))
    val occupied = occupiedBuckets(docs, "text", m)
      .agg(count(lit(1)).as("occupied"))
    words.agg(countDistinct(col("word")).as("n_exact"))
      .crossJoin(broadcast(occupied))
      .withColumn("est",
        round(-lit(m.toDouble) * log((lit(m) - col("occupied")) / lit(m.toDouble)), 4))
  }

  /** Fixed-width histogram sketch over a numeric column: (bucket, n) with
    * bucket = value div width. Mergeable by cellwise addition like the
    * count-min grid; size is bounded by value-range/width, independent of
    * row count — the property that lets quantile reads stay cheap at any
    * corpus size.
    */
  def histogramSketch(df: DataFrame, valueCol: String, width: Int): DataFrame =
    df.select(expr(s"CAST($valueCol AS BIGINT) div $width").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** Quantile estimates read from a histogram sketch: rank = ceil(q·N),
    * walk the cumulative histogram to the covering bucket, interpolate
    * linearly inside it. Deterministic arithmetic → exact oracle. The
    * cumulative window runs over the SKETCH (bounded by construction), not
    * the data.
    */
  def quantileEstimates(sketch: DataFrame, width: Int,
                        qs: Seq[Double]): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val cum = sketch.withColumn("cum_before",
      coalesce(sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
    val ranked = qs.toDF("q")
      .crossJoin(broadcast(sketch.agg(sum(col("n")).as("total"))))
      .withColumn("rank", ceil(col("q") * col("total")).cast("long"))
    cum.join(broadcast(ranked),
        col("cum_before") < col("rank") && col("rank") <= col("cum_before") + col("n"))
      .select(col("q"),
        round(col("bucket") * width +
          lit(width) * (col("rank") - col("cum_before")) / col("n"), 4).as("est"),
        col("total"))
  }

  /** Query: document-length quantiles (p50/p90/p99 of n_chars) estimated
    * from a width-64 histogram sketch — one scan builds the sketch, the
    * estimates read only sketch rows.
    */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantileEstimates(
      histogramSketch(Tables.documents(spark, dir), "n_chars", 64),
      64, Seq(0.5, 0.9, 0.99))
      .select(col("q"), col("est").as("est_chars"), col("total").as("n_docs"))

  /** Query: count-min estimates vs exact counts for the corpus top-10 words
    * — `est >= freq` always; equality whenever the word's buckets are
    * collision-free. Both sides integer arithmetic → exact oracle.
    */
  def countMinTopWords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sketch = graft.Caching.track(countMinSketch(docs, "text"))
    val top = WordFreqOps.topWords(docs, "text", 10)
    countMinEstimate(sketch, top, "word")
      .join(top, "word")
      .select(col("word"), col("freq"), col("est"))
      .orderBy(desc("freq"), col("word"))
  }

  // ------------------------------------------------------------ HyperLogLog

  /** HLL rank of the post-bucket hash remainder `w = h div m`: one plus the
    * number of leading zero bits of w read in a 20-bit window (P div 1024 <
    * 2^20, so bit-length(w) <= 20; rank ∈ [1, 21], w = 0 → 21). Pure
    * integer compares against shifted constants — no float log, so Spark
    * and the DuckDB mirror agree bit-for-bit.
    */
  private def hllRankExpr(w: String): String =
    s"1 + size(filter(sequence(0, 19), j -> $w < shiftleft(CAST(1 AS BIGINT), j)))"

  /** HyperLogLog register frame over a pre-hashed BIGINT column: (bucket,
    * r) with bucket = g mod m and r = max HLL rank seen in the bucket,
    * where g is a quadratic POST-MIX of the input hash — the engine's
    * affine/polynomial mod-P hashes are uniform as integers but have no
    * bit avalanche, which skews the leading-zero statistic badly (measured
    * 4.8× overestimate on an affine-hashed id sequence); the quadratic
    * scramble mod P restores integer equidistribution of g div m
    * (Weyl-type), after which the only remaining bias is the known window
    * factor corrected in `hllEstimate`. The groupBy carries at most m
    * reduce keys with map-side partial max — the register frame is the only
    * thing that ever shuffles, regardless of corpus size, and shard
    * registers merge by the same bucket-wise max. The 20-bit rank window is
    * tuned to m = 1024 (P div m < 2^20), the estimator's operating point.
    */
  def hllRegisters(hashed: DataFrame, hashCol: String, m: Int = 1024): DataFrame =
    hashed
      .select(expr(
        s"((($hashCol * $hashCol) % $P) * 8191 + $hashCol * 524287 + 12289) % $P")
        .as("g"))
      .select((col("g") % m).as("bucket"),
        expr(s"${hllRankExpr(s"(g div $m)")}").as("rank"))
      .groupBy("bucket").agg(max(col("rank")).as("r"))

  /** Single-row (occupied, est) readout of an HLL register frame. The
    * harmonic sum is folded as Σ 2^(21-r) — an INTEGER (r ≤ 21), so the
    * only float ops are a fixed literal expression over exact integers and
    * both engines produce the identical double. Small-range correction:
    * raw ≤ 2.5m with empty registers → linear counting (Flajolet et al.
    * 2007); the 2^32-collision large-range branch does not apply to a
    * mod-P hash domain. The raw readout carries one engine-specific exact
    * correction: the rank reads a 20-bit window but w is uniform on
    * [0, P/m) ≈ 0.9313·2^20, so P(rank ≥ r) = 2^(1-r) · 2^20/(P/m) — a
    * constant factor the standard estimator inverts by multiplying raw by
    * P/(m·2^20) = P/2^30 (measured: within 2% of truth at 20k–200k true
    * cardinality, vs the 3.25% stderr of m = 1024).
    */
  def hllEstimate(regs: DataFrame, m: Int = 1024): DataFrame =
    hllEstimateBy(regs, Nil, m)

  /** Per-group (keyCols, occupied, est) readout — register frames group
    * cleanly because each group's registers are independent; per-group
    * state stays bounded at m rows.
    */
  def hllEstimateBy(regs: DataFrame, keyCols: Seq[String],
                    m: Int = 1024): DataFrame = {
    val twoPow21 = 1L << 21
    regs
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("occupied"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 21 - r)")).as("s_present"))
      .withColumn("zeros", lit(m.toLong) - col("occupied"))
      .withColumn("raw",
        lit(0.7213 / (1.0 + 1.079 / m)) * lit(m.toDouble) * lit(m.toDouble) *
          lit(twoPow21.toDouble) /
          (coalesce(col("s_present"), lit(0L)) + col("zeros") * lit(twoPow21)) *
          lit(1000000007.0 / 1073741824.0))
      .withColumn("est",
        round(when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")), 4))
      .select((keyCols.map(col) ++ Seq(col("occupied"), col("est"))): _*)
  }

  /** Query: HyperLogLog distinct-words estimate vs the exact count —
    * (n_exact, occupied, est). At fixture cardinality the small-range
    * correction fires (est = linear counting over the registers); the raw
    * harmonic branch is pinned by SketchOpsSpec at 50k distinct keys. Next
    * to `distinctSketch` this is the tier that survives saturation: linear
    * counting dies when occupancy → m, HLL registers keep resolving to
    * ~1.04/√m relative error at any cardinality.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val m = 1024
    val docs = Tables.documents(spark, dir)
    val words = docs.select(explode(tokens(col("text"))).as("word"))
    val est = hllEstimate(
      hllRegisters(words.select(rollingHash(col("word")).as("h")), "h", m), m)
    words.agg(countDistinct(col("word")).as("n_exact"))
      .crossJoin(broadcast(est))
  }

  /** Query: per-language distinct-word cardinality — the grouped form of
    * the HLL sketch. Registers carry the group key, so per-group state is
    * bounded at m rows and the single groupBy((lang, bucket)) shuffle
    * replaces one full-vocabulary shuffle PER GROUP; exact counts ride
    * along as the fixture-scale gauge.
    */
  def hllByLang(spark: SparkSession, dir: String): DataFrame = {
    val m = 1024
    val docs = Tables.documents(spark, dir)
    val words = docs.select(col("lang"), explode(tokens(col("text"))).as("word"))
    val regs = words
      .select(col("lang"), rollingHash(col("word")).as("h"))
      .select(col("lang"), expr(
        s"(((h * h) % $P) * 8191 + h * 524287 + 12289) % $P").as("g"))
      .select(col("lang"), (col("g") % m).as("bucket"),
        expr(s"${hllRankExpr(s"(g div $m)")}").as("rank"))
      .groupBy("lang", "bucket").agg(max(col("rank")).as("r"))
    words.groupBy("lang").agg(countDistinct(col("word")).as("n_exact"))
      .join(hllEstimateBy(regs, Seq("lang"), m), "lang")
      .orderBy("lang")
  }

  /** Registry for the incremental face's STORED history registers — the
    * face's contract ("the register frame of the historical 90% is
    * PERSISTED ... history is never rescanned"), keyed by corpus
    * fingerprint like every stored-index registry; ≤ m rows per entry.
    */
  private val hllHistoryCache =
    graft.Caching.Registry[(DataFrame, Long)]("sketch.hllhistory")

  def clearHllHistoryCache(): Unit = hllHistoryCache.clear()

  /** Query: incremental cardinality — the register frame of the historical
    * 90% of the corpus is PERSISTED (registry) and the 10% delta batch
    * merges its own registers by bucket-wise max; history is never
    * rescanned. Because registers max-merge losslessly, the merged state
    * equals the whole-corpus sketch EXACTLY, so the oracle is the same SQL
    * as `txt_hll_distinct` — the same build-once/probe-many shape as
    * `dedup_incremental`, for the cardinality ledger a growing corpus
    * keeps (vocabulary size across ingest batches at 100 TB).
    */
  def hllIncremental(spark: SparkSession, dir: String): DataFrame = {
    val m = 1024
    val docs = Tables.documents(spark, dir)
    def registersOf(d: DataFrame) = hllRegisters(
      d.select(explode(tokens(col("text"))).as("word"))
        .select(rollingHash(col("word")).as("h")), "h", m)
    val (stored, cut) = hllHistoryCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val c = docs
        .agg(floor(max(col("doc_id")) * 0.9).cast("long"))
        .collect()(0).getLong(0)
      (graft.Caching.materialize(registersOf(docs.filter(col("doc_id") <= c))), c)
    }
    graft.Artifacts.save("hll_registers")(stored)
    val merged = stored
      .unionByName(registersOf(docs.filter(col("doc_id") > cut)))
      .groupBy("bucket").agg(max(col("r")).as("r"))
    docs.select(explode(tokens(col("text"))).as("word"))
      .agg(countDistinct(col("word")).as("n_exact"))
      .crossJoin(broadcast(hllEstimate(merged, m)))
  }

  // ------------------------------------------------- sketch-guided heavy hitters

  /** All words with true frequency ≥ `threshold`, EXACTLY — but the word
    * shuffle only carries occurrences that survive a count-min cell filter.
    * Pass 1 builds the depth×width sketch (bounded rows); its heavy cells
    * (n ≥ threshold) broadcast. Pass 2 keeps a token occurrence only if ALL
    * `depth` of its cells are heavy — count-min estimates upper-bound true
    * counts, so no word with true count ≥ threshold is ever dropped (zero
    * false negatives) — then exact-counts the survivors and applies the
    * threshold to remove false positives. The oracle is therefore the plain
    * exact `HAVING count(*) >= T` SQL, while the plan's groupBy shuffles
    * only candidate tokens: at 100 TB the heavy-cell set is ≤ depth·width
    * keys no matter the vocabulary, and the skim keeps the scan map-side.
    *
    * The depth-way AND is a CHAIN of per-row broadcast left-semi joins
    * (each a codegen'd hash probe against ≤ width keys), not a higher-order
    * `forall` over an array literal — HOFs run interpreted outside
    * whole-stage codegen and measured 10× slower on the 10× probe corpus.
    * Row 1's join runs first and already discards most of the stream; each
    * later row only tightens false positives.
    */
  def heavyHitters(docs: DataFrame, textCol: String, threshold: Long,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val heavy = graft.Caching.track(
      countMinSketch(docs, textCol, depth, width)
        .filter(col("n") >= threshold)
        .select(col("row"), col("bucket")))
    val toks = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .withColumn("h", rollingHash(col("word")))
    val survivors = (1 to depth).foldLeft(toks) { (d, i) =>
      d.withColumn("b",
        expr(s"((h * (8191 * $i)) + (524287 * $i)) % $P % $width"))
        .join(broadcast(heavy.filter(col("row") === i)
          .select(col("bucket").as("b"))), Seq("b"), "left_semi")
        .drop("b")
    }
    survivors
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(desc("n"), col("word"))
  }

  /** Query: exact heavy hitters (count ≥ 900) via the sketch-pruned plan. */
  def heavyHittersQuery(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.documents(spark, dir), "text", 900L)

  // ------------------------------------------------------------ Bloom filter

  /** The k bloom bit positions of a numeric key expression, via the
    * engine's affine hash family. Rendered as a SQL fragment so build and
    * probe sides (and the DuckDB oracle) share one definition.
    */
  private[operators] def bloomPosExpr(keyExpr: String, mBits: Int, k: Int): String =
    s"transform(sequence(1, $k), i -> " +
      s"((($keyExpr) % $P) * (8191 * i) + 524287 * i) % $P % $mBits)"

  /** The i-th bloom position alone — plain codegen'd arithmetic for the
    * probe side's semi-join chain (the `transform` form is for the compact
    * build-side explode, where it runs once per key, not per probed row).
    */
  private[operators] def bloomPos1(keyExpr: String, mBits: Int, i: Int): String =
    s"((($keyExpr) % $P) * ${8191L * i} + ${524287L * i}) % $P % $mBits"

  /** Map-side bloom membership prefilter: keeps rows of `df` whose key has
    * ALL k bit positions present in `positions` (the distinct set-bit
    * frame). Implemented as a chain of k broadcast left-semi joins — each a
    * codegen'd hash probe against ≤ mBits keys — NOT a higher-order
    * `forall` over an array literal, which runs interpreted outside
    * whole-stage codegen (the heavy-hitter lesson, 5× on the 10× probe).
    */
  private[operators] def bloomPrefilter(df: DataFrame, keyExpr: String,
                                        positions: DataFrame,
                                        mBits: Int, k: Int): DataFrame =
    (1 to k).foldLeft(df) { (d, i) =>
      d.withColumn("__bloom_b", expr(bloomPos1(keyExpr, mBits, i)))
        .join(broadcast(positions.select(col("b").as("__bloom_b"))),
          Seq("__bloom_b"), "left_semi")
        .drop("__bloom_b")
    }

  /** Shuffle-free semi-join: the small side's bloom bitset broadcasts and
    * the big side is pre-filtered MAP-SIDE (a row survives only if all k of
    * its key's bit positions are set — the `bloomPrefilter` semi-join
    * chain), then the survivors — already a tiny fraction — are verified
    * with an exact broadcast semi-join to remove bloom false positives.
    * The big side never shuffles and never feeds a join build; output is
    * EXACTLY the plain semi-join (bloom filters have no false negatives),
    * so the oracle is the plain `IN` subquery.
    */
  def bloomSemiJoin(big: DataFrame, small: DataFrame,
                    bigKey: String, smallKey: String,
                    mBits: Int = 65536, k: Int = 3): DataFrame = {
    val positions = graft.Caching.track(
      small.select(explode(expr(bloomPosExpr(smallKey, mBits, k))).as("b"))
        .distinct())
    val pre = bloomPrefilter(big, bigKey, positions, mBits, k)
    val smallKeys = small.select(col(smallKey)).distinct()
    pre.join(broadcast(smallKeys), pre(bigKey) === smallKeys(smallKey), "left_semi")
  }

  /** Query: revenue of orders placed by high-balance BUILDING-segment
    * customers, via the bloom-prefiltered semi-join — per-status order
    * count and total price.
    */
  def bloomSemiQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val vip = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
    bloomSemiJoin(orders, vip, "o_custkey", "c_custkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("o_orderstatus")
  }
}
