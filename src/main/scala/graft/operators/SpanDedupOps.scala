package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.HashExpressions.{rollingHashArray, windowHashList}

/** Exact duplicated-SPAN detection — the substring tier of the dedup family
  * (document-level tiers: DedupOps/SimilarityOps). A length-k token window
  * whose corpus-wide occurrence count is ≥ 2 is a duplicated span: the
  * training-data failure mode this catches is boilerplate REGIONS (cookie
  * banners, license headers, templated intros) pasted across otherwise
  * distinct documents — invisible to whole-document dedup (the reference's
  * own tier, /root/reference/preprocessing.py:344-346) and diluted below
  * threshold for the near-dup tiers once the surrounding text diverges.
  * The approach follows the published exact-substring-dedup recipe (Lee et
  * al. 2022, "Deduplicating Training Data Makes Language Models Better"),
  * re-expressed as relational algebra instead of a suffix array: positional
  * gram inventory → global occurrence count → join back → per-doc interval
  * union. Every stage is a hash-keyed shuffle or a per-doc HOF, so the plan
  * is linear in corpus token count — the suffix-array formulation needs a
  * global sort of every corpus position, which is exactly the
  * all-data-through-one-ordering shape that does not scale out.
  *
  * Span identity is the polynomial hash of the token-hash window (the
  * suite's gram convention — no gram strings materialize; the DuckDB oracle
  * mirrors the arithmetic bit-exactly). A hash collision could mark a
  * non-duplicated window (P = 1e9+7; at fixture scale the ~27k windows make
  * a collision ~4e-4-likely; production would widen to a 63-bit fold), and
  * within-doc repetition counts toward the ≥ 2 threshold by design — a doc
  * that repeats its own 8-token phrase is exhibiting the same boilerplate
  * pathology (TextAnalysisOps.dupFrac flags it statistically; this tier
  * locates it).
  *
  * Scale shape at 100 TB: the gram count and join-back shuffle on
  * fixed-width longs; a gram occurring m times joins back to exactly m
  * (doc, pos) rows — LINEAR in occurrences, never the C(m,2) of pair
  * emission, so viral boilerplate needs no hot-bucket cap here. The
  * interval union is per-doc arithmetic over sorted start offsets (HOFs,
  * no second shuffle beyond the doc-key aggregation), and the scrub face's
  * covered-position explode is a fixed k× of the duplicated starts.
  */
object SpanDedupOps {

  /** Span width in tokens. Lee et al. use 50 BPE tokens against web-scale
    * corpora; the fixture documents average ~54 whitespace tokens, so the
    * shipped width is 8 — long enough that a shared window is boilerplate,
    * not chance collocation (the fixture's 8-gram inventory is
    * collision-free), short enough that partial spans exist at fixture
    * scale. The knob trades recall for precision exactly like n in the
    * Jaccard tier; it does NOT change the plan shape.
    */
  val SpanK = 8

  /** Staged per-doc frame: (doc_id, toks, ghs) where ghs(i) is the hash of
    * the k-token window starting at token i. Tokens keep the TOKS_ALL
    * length band [1,100] — the span tier must see every token or start
    * offsets drift against the text it reports on.
    */
  private def staged(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    graft.Caching.track(docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol), 1, 100).as("toks"))
      .withColumn("ghs", windowHashList(rollingHashArray(col("toks")), k)))

  /** (doc_id, pos) of every duplicated-gram start: global occurrence count
    * over the positional gram inventory, then the ≥ 2 survivors join back.
    * Both shuffles key on the 64-bit gram hash.
    */
  private def dupStarts(st: DataFrame): DataFrame = {
    val inv = st.select(col("doc_id"),
      posexplode(col("ghs")).as(Seq("pos", "gram")))
    val dup = inv.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gram")
    inv.join(dup, "gram").select(col("doc_id"), col("pos"))
  }

  /** Consecutive-start gaps of the sorted start list — the interval-union
    * primitive: spans [p, p+k-1] merge while the gap stays ≤ k, and each
    * gap contributes min(gap, k) newly covered tokens.
    */
  private def gapsOf(ps: Column): Column =
    when(size(ps) > 1,
      zip_with(slice(ps, lit(2), size(ps) - 1), slice(ps, lit(1), size(ps) - 1),
        (a, b) => a - b))
      .otherwise(array().cast("array<int>"))

  /** Per-doc duplicated-span profile: for every doc with ≥ 1 duplicated
    * k-window — token count, duplicated window starts, merged span count,
    * tokens covered by the span union, and the covered fraction. The
    * interval union is closed-form over the sorted starts: covered =
    * k + Σ min(gap, k); a new span opens exactly when a gap exceeds k.
    */
  def spanProfile(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = SpanK): DataFrame = {
    val st = staged(docs, idCol, textCol, k)
    val perDoc = dupStarts(st).groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"),
        count(lit(1)).as("dup_starts"))
      .withColumn("gaps", gapsOf(col("ps")))
    perDoc
      .join(st.select(col("doc_id"), size(col("toks")).as("n_tok")), "doc_id")
      .withColumn("dup_tok",
        lit(k) + aggregate(col("gaps"), lit(0), (acc, g) => acc + least(g, lit(k))))
      .select(
        col("doc_id"),
        col("n_tok").cast("long").as("n_tokens"),
        col("dup_starts"),
        (lit(1) + size(filter(col("gaps"), g => g > k))).cast("long").as("n_spans"),
        col("dup_tok").cast("long").as("dup_tokens"),
        round(col("dup_tok").cast("double") / col("n_tok"), 4).as("dup_frac"))
  }

  /** The dedup ACTION face: rebuild each affected doc's text with every
    * token inside a duplicated span removed. Covered positions come from a
    * fixed k× explode of the duplicated starts (distinct across overlaps),
    * kept tokens survive an anti-join on (doc_id, pos), and the text
    * reassembles in position order. Fully-duplicated docs stay in the
    * output with empty text — a scrub that silently dropped them would
    * conflate "all boilerplate" with "untouched".
    */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                k: Int = SpanK): DataFrame = {
    val st = staged(docs, idCol, textCol, k)
    val covered = dupStarts(st)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val affected = covered.select("doc_id").distinct()
    val tokpos = st.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokpos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean"))
    affected
      .join(st.select(col("doc_id"), size(col("toks")).as("n_tok")), "doc_id")
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tok").cast("long").as("n_tokens"),
        coalesce(col("kept"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean"), lit("")).as("clean_text"))
  }

  /** The stored gram index of a corpus — the build-once half of
    * incremental SPAN dedup (the substring tier's sibling of
    * DedupOps.minhashIndex): every distinct k-window hash the historical
    * corpus contains. At 100 TB this is a warehouse table bucketed by the
    * gram hash; new batches probe it instead of re-gramming history.
    */
  def spanGramIndex(docs: DataFrame, textCol: String,
                    k: Int = SpanK): DataFrame =
    docs
      .select(explode(windowHashList(
        rollingHashArray(tokens(col(textCol), 1, 100)), k)).as("gram"))
      .distinct()

  /** Incremental span probe, batch face: per batch doc, how many of its
    * k-windows already exist in the stored index (n_hits counts WINDOWS,
    * so a doc repeating an indexed phrase counts each occurrence). Docs
    * with zero hits are absent — this is the ingest-time flag. One shuffle
    * join on the 64-bit gram hash; history is never re-grammed.
    */
  def spanHitBatch(batch: DataFrame, gramIndex: DataFrame, idCol: String,
                   textCol: String, k: Int = SpanK): DataFrame = {
    val st = staged(batch, idCol, textCol, k)
    st.select(col("doc_id"), explode(col("ghs")).as("gram"))
      .join(gramIndex, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .join(st.select(col("doc_id"),
        size(col("ghs")).cast("long").as("n_windows")), "doc_id")
      .select(col("doc_id"), col("n_windows"), col("n_hits"))
  }

  /** Query: the last decile of doc ids probed against the first 90%'s
    * gram index (same metadata-boundary cut as dedup_incremental); the
    * index exports via the Artifacts seam for the oracle.
    */
  def spanFlagsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs
      .agg(floor(max(col("doc_id")) * 0.9).cast("long"))
      .collect()(0).getLong(0)
    val index = spanGramIndex(docs.filter(col("doc_id") <= cut), "text")
    graft.Artifacts.save("span_gram_index")(index)
    spanHitBatch(docs.filter(col("doc_id") > cut), index, "doc_id", "text")
  }

  /** Query: duplicated-span profile over the documents fixture. */
  def spanProfileQuery(spark: SparkSession, dir: String): DataFrame =
    spanProfile(Tables.documents(spark, dir), "doc_id", "text")

  /** Query: span-scrubbed text of every affected doc in the fixture. */
  def spanScrubQuery(spark: SparkSession, dir: String): DataFrame =
    spanScrub(Tables.documents(spark, dir), "doc_id", "text")
}
