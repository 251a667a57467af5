package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens

/** Vocabulary induction over a training corpus — the tokenizer-side
  * operators a data pipeline runs before any model sees a byte: which
  * adjacent units should merge (the counting round at the heart of BPE
  * training, Sennrich et al. 2016, here at word level over the engine's
  * token chain), and how much of the corpus a fixed-size vocabulary
  * actually covers (the OOV-rate gauge that decides the vocab budget).
  * The reference's vocabulary handling is gensim's in-memory Dictionary
  * (/root/reference/LDA_Analysis.py:160-168) — these are the same
  * decisions as scale-safe relational plans.
  *
  * Scale shape: pair counting is one in-plan transform (no token strings
  * leave their row until the explode) + one map-side-combined aggregate;
  * the top-k never global-sorts (TakeOrdered). Coverage builds the
  * vocabulary as a k-row frame, BROADCASTS it, and scans the corpus once —
  * the corpus never shuffles on the word.
  */
object VocabOps {

  /** Adjacent-token pair counts — one BPE-style merge-candidate round.
    * Pairs materialize as "w1 w2" strings only inside the explode.
    */
  def mergePairCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))

  /** Query: the top 50 merge candidates by corpus frequency. */
  def mergePairsQuery(spark: SparkSession, dir: String): DataFrame =
    mergePairCounts(Tables.documents(spark, dir), "text")
      .orderBy(col("n").desc, col("pair"))
      .limit(50)

  /** Per-group coverage of a top-`vocabSize` vocabulary: token occurrences
    * covered vs total, and the OOV rate. The vocabulary is selected by
    * global frequency (ties to the lexicographically smaller token, so the
    * cut is deterministic at any scale).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, groupCol: String,
                    vocabSize: Int): DataFrame = {
    val tok = docs.select(col(groupCol),
      explode(tokens(col(textCol))).as("word"))
    val vocab = tok.groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .orderBy(col("wf").desc, col("word"))
      .limit(vocabSize)
      .select(col("word"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0))).cast("long").as("n_covered"))
      .withColumn("oov_rate",
        round(lit(1.0) - col("n_covered").cast("double") / col("n_tokens"), 4))
  }

  /** Query: per-language coverage of the global top-1000 vocabulary. */
  def coverageQuery(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "text", "lang", 1000)
      .orderBy(col("lang"))

  // --------------------------------------------------------------------
  // Iterative BPE training (Sennrich et al. 2016): character-level merge
  // learning over the WORD-FREQUENCY dictionary. The scale move: after one
  // corpus scan for word counts, every training round runs over the
  // vocabulary-bounded units frame — BPE training cost is independent of
  // corpus size. Each round is (a) one freq-weighted adjacent-pair
  // aggregate, (b) a 1-row argmax collect, (c) the leftmost-first
  // non-overlapping merge stated relationally: runs of consecutive
  // candidate starts (only possible when left = right) activate at odd
  // in-run ranks, active starts rewrite, their right neighbors drop,
  // positions renumber. All windows partition by word — no global sort.
  // --------------------------------------------------------------------

  /** Character units (plus the `</w>` end-of-word marker) of a (w, f)
    * word-frequency frame: one row per (w, f, pos, unit).
    */
  def charUnits(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("f"),
        posexplode(split(col("w"), "")).as(Seq("pos", "unit")))
      .unionByName(words.select(col("w"), col("f"),
        length(col("w")).cast("int").as("pos"), lit("</w>").as("unit")))

  /** Apply ONE merge (l, r) to a units frame, leftmost-first
    * non-overlapping: runs of consecutive candidate starts (only possible
    * when l = r) activate at odd in-run ranks; active starts rewrite to
    * the merged symbol, their right neighbors drop, positions renumber.
    */
  private def applyMerge(units: DataFrame, l: String, r: String): DataFrame = {
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val active = units.withColumn("nxt", lead(col("unit"), 1).over(wWin))
      .filter(col("unit") === l && col("nxt") === r)
      .withColumn("grp", col("pos") - row_number().over(wWin))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("w"), col("grp"))
          .orderBy(col("pos"))))
      .filter(col("rk") % 2 === 1)
      .select(col("w"), col("pos").as("mpos"))
    val starts = active.select(col("w").as("sw"), col("mpos").as("spos"))
    val consumed = active.select(col("w").as("cw"), col("mpos").as("cpos"))
    units
      .join(starts,
        col("w") === col("sw") && col("pos") === col("spos"), "left")
      .join(consumed,
        col("w") === col("cw") && col("pos") === col("cpos") + 1, "left")
      .filter(col("cpos").isNull)
      .select(col("w"), col("f"),
        (row_number().over(wWin) - 1).as("pos"),
        when(col("spos").isNotNull, lit(l + r))
          .otherwise(col("unit")).as("unit"))
  }

  /** One training round: the highest-frequency adjacent pair (ties →
    * smaller left, then right unit) merges everywhere. Returns the chosen
    * (left, right, freq) and the rewritten units frame — or None when no
    * adjacent pairs remain.
    */
  private def mergeRound(units: DataFrame): Option[((String, String, Long), DataFrame)] = {
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val best = units.withColumn("nxt", lead(col("unit"), 1).over(wWin))
      .filter(col("nxt").isNotNull)
      .groupBy(col("unit").as("l"), col("nxt").as("r"))
      .agg(sum(col("f")).as("pf"))
      .orderBy(col("pf").desc, col("l"), col("r"))
      .limit(1).collect()
    if (best.isEmpty) None
    else {
      val (l, r, pf) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      Some(((l, r, pf), applyMerge(units, l, r)))
    }
  }

  /** Encode: apply a learned merge table (training order, one
    * leftmost-first pass each) to the units of a (w, f) word frame and
    * return the final (w, f, pos, unit) rows. Deterministic contract: the
    * encode of the training dictionary is exactly the training loop's
    * final units (spec-pinned).
    */
  def bpeEncode(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    var units = charUnits(words).localCheckpoint(true)
    merges.foreach { case (l, r) =>
      val prev = units
      units = applyMerge(units, l, r).localCheckpoint(true)
      prev.unpersist(false)
    }
    units
  }

  /** Train `k` BPE merges over a (w, f) word-frequency frame — the
    * driver-side loop; returns the ordered merge tuples. Stops early when
    * no adjacent pairs remain.
    */
  private[graft] def bpeTrainSeq(words: DataFrame,
                                 k: Int): Seq[(Int, String, String, String, Long)] = {
    // localCheckpoint, not persist: each round's plan references the units
    // frame four times (pair count, starts, consumed, rewrite), so an
    // un-truncated lineage grows ~4^k and kills the ANALYZER long before
    // execution — checkpointing keeps every round's plan round-sized. The
    // frame itself is dictionary-bounded, so the materialization is tiny.
    var units = charUnits(words).localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var continue = true
    while (continue && step <= k) {
      mergeRound(units) match {
        case Some(((l, r, pf), next)) =>
          merges += ((step, l, r, l + r, pf))
          val prev = units
          units = next.localCheckpoint(true)
          prev.unpersist(false)
          step += 1
        case None => continue = false
      }
    }
    units.unpersist(false)
    merges.toSeq
  }

  /** Driver-local leftmost-first non-overlapping merge of ONE (l, r) pair —
    * the per-word mirror of `applyMerge` (candidate runs are only possible
    * when l = r; the greedy left-to-right scan activates exactly the odd
    * in-run ranks, so the two are provably the same rewrite).
    */
  private[operators] def applyMergeLocal(units: Array[String], l: String,
                                         r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < units.length) {
      if (i < units.length - 1 && units(i) == l && units(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += units(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-local BPE training over a collected (w, f) dictionary — the
    * scale-correct trainer for REAL merge counts (SURVEY §7.4 risk 5:
    * resist over-distributing K-bounded work). The dictionary is
    * vocabulary-bounded by construction, so after the one distributed
    * counting scan the merge loop is pure driver arithmetic: 32k merges
    * are 32k HashMap passes over a bounded dictionary, not 64k scheduled
    * Spark jobs of per-round latency. Semantics are spec-pinned equal to
    * the relational `bpeTrainSeq` (same argmax order: pair_freq desc,
    * left, right; same leftmost-first rewrite). Fixture-measured: k=1000
    * over the top-200 dictionary trains in well under a second.
    */
  def bpeTrainLocal(words: Seq[(String, Long)],
                    k: Int): Seq[(Int, String, String, String, Long)] = {
    var dict = words.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty) :+ "</w>", f)
    }.toArray
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var continue = true
    while (continue && step <= k) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (us, f) =>
        var i = 0
        while (i < us.length - 1) {
          val key = (us(i), us(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        // total order: freq desc, then (l, r) asc — hash-iteration-proof
        val ((l, r), pf) = counts.minBy { case ((cl, cr), cf) =>
          (-cf, cl, cr)
        }
        merges += ((step, l, r, l + r, pf))
        dict = dict.map { case (us, f) => (applyMergeLocal(us, l, r), f) }
        step += 1
      }
    }
    merges.toSeq
  }

  /** Distributed encode against a broadcast merge table: each word's
    * encode is the independent greedy merge chain, so the corpus side is
    * embarrassingly parallel — ONE pass, zero joins, zero per-merge Spark
    * jobs (the relational `bpeEncode` schedules one rewrite per merge and
    * stays as the spec-pinned semantics twin). This is the deploy-shape
    * tokenizer: merge table broadcast once, applied per row.
    */
  def bpeEncodeFast(words: DataFrame,
                    merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    words.select(col("w"), col("f")).as[(String, Long)]
      .flatMap { case (w, f) =>
        var units = w.split("").filter(_.nonEmpty) :+ "</w>"
        bc.value.foreach { case (l, r) =>
          // cheap containment pre-check keeps the pass k-bounded-but-lazy
          if (units.contains(l)) units = applyMergeLocal(units, l, r)
        }
        units.iterator.zipWithIndex.map { case (u, pos) => (w, f, pos, u) }
      }
      .toDF("w", "f", "pos", "unit")
  }

  /** Train `k` BPE merges over a (w, f) word-frequency frame. Returns the
    * ordered merge table (step, left_unit, right_unit, merged, pair_freq)
    * — the artifact a tokenizer applies at encode time. The dictionary is
    * collected (it is vocabulary-bounded — the caller's frame must be a
    * dictionary, not a corpus) and trained driver-local; `bpeTrainSeq`
    * remains the all-relational twin, spec-pinned equal.
    */
  def bpeTrain(words: DataFrame, k: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    bpeTrainLocal(collectDict(words), k)
      .toDF("step", "left_unit", "right_unit", "merged", "pair_freq")
  }

  private def collectDict(words: DataFrame): Seq[(String, Long)] = {
    import words.sparkSession.implicits._
    words.select(col("w"), col("f")).as[(String, Long)].collect().toSeq
  }

  /** Cross-query cache of the trained merge table keyed by (dir, k) —
    * same lifetime contract as TopicModelOps' fit registry (the training
    * loop is a deterministic seeded fit; Bench/Verify clear at teardown).
    * Entries are driver-side tuples only — no pinned frames.
    */
  private val bpeCache =
    graft.Caching.Registry[Seq[(Int, String, String, String, Long)]]("vocab.bpe")

  def clearBpeCache(): Unit = bpeCache.clear()

  private def topDict(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(200)

  private def trainedMerges(spark: SparkSession, dir: String,
                            k: Int): Seq[(Int, String, String, String, Long)] =
    bpeCache.get(s"${graft.Fingerprint.dirKey(spark, dir)}|$k")(
      bpeTrainLocal(collectDict(topDict(spark, dir)), k))

  /** Query: 8 BPE merges learned from the top-200-word dictionary of the
    * documents corpus (corpus scanned once for counts; training rounds are
    * dictionary-bounded). Deterministic: dictionary ties break
    * lexicographically, merge ties by (freq desc, left, right).
    */
  def bpeMergesQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir, 8)
      .toDF("step", "left_unit", "right_unit", "merged", "pair_freq")
  }

  /** Query: the learned tokenizer APPLIED — encode every distinct corpus
    * word with the 8 trained merges (dictionary-bounded: the corpus is
    * never re-walked, only its distinct words), then report the per-lang
    * subword token budget: occurrences, subword count (incl. the `</w>`
    * marker), and subwords per word occurrence.
    */
  def bpeEncodeQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = trainedMerges(spark, dir, 8).map(m => (m._2, m._3))
    val langWords = docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    val encoded = bpeEncodeFast(
      langWords.select(col("w")).distinct().withColumn("f", lit(1L)), merges)
      .groupBy(col("w")).agg(count(lit(1)).as("n_units"))
    langWords.join(encoded, "w")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("n_units")).as("n_subwords"),
        round(sum(col("n") * col("n_units")).cast("double") / sum(col("n")), 4)
          .as("subwords_per_token"))
      .orderBy(col("lang"))
  }
}
