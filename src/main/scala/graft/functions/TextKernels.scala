package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM kernels for the hot text primitives. The HOF
  * formulations (split + ArrayFilter/ArrayTransform/ArrayAggregate) are
  * CodegenFallback — interpreted per element with per-row lambda dispatch —
  * and they dominate every tokenize-heavy scan. Each kernel replicates its
  * HOF twin BIT-EXACTLY (TextKernelsProps proves equivalence on generated
  * Unicode inputs; the DuckDB oracles pin it end-to-end):
  *
  *   - tokens:   split(normalized(s), " ") filtered to length ∈ [min, max],
  *     where normalized = trim(collapse [^a-z0-9가-힣]+ of lower(s) to " ").
  *     Equivalently: the maximal runs of [a-z0-9가-힣] in lower(s).
  *   - qualityScore: the four 0.25-indicator components over raw + lower(s)
  *     (TextAnalysisOps.qualityScoreFrom's arithmetic, one pass).
  *   - bpeishTokenCount: Σ ceil(len/8) over the BPE-ish segment runs
  *     ([0-9]+ | [a-z]+ | [가-힣]+ | [^a-z0-9가-힣\s]+ of lower(s)).
  *
  * Lowercasing is `UTF8String.toLowerCase` — the exact call Spark's
  * `lower()` makes under the default UTF8_BINARY collation
  * (CollationSupport$Lower.execBinary), so token boundaries agree on every
  * Unicode input. Lengths count CODEPOINTS, matching Spark's `length()`.
  */
object TextKernels {

  /** Marker stopwords per language (single source — TextAnalysisOps and the
    * oracle SQL mirror both read these).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "en", "los", "del", "se", "las", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "und", "das", "den", "von", "zu", "mit", "ist", "des"))

  /** All marker words, deduped + sorted (deterministic for oracle SQL). */
  val allMarkers: Seq[String] = langMarkers.values.flatten.toSeq.distinct.sorted

  private val markerSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    allMarkers.foreach(s.add)
    s
  }
  private val maxMarkerLen: Int = allMarkers.map(_.length).max

  @inline private def isTokChar(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') ||
      (cp >= 0xAC00 && cp <= 0xD7A3)

  /** Tokens of `s` — maximal [a-z0-9가-힣] runs of lower(s) with codepoint
    * length in [minLen, maxLen].
    */
  def tokens(s: UTF8String, minLen: Int, maxLen: Int): ArrayData = {
    val low = s.toLowerCase.toString
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    var runStart = -1
    var runLen = 0
    def endRun(endIdx: Int): Unit = if (runLen > 0) {
      if (runLen >= minLen && runLen <= maxLen)
        out += UTF8String.fromString(low.substring(runStart, endIdx))
      runLen = 0; runStart = -1
    }
    while (i < low.length) {
      val cp = low.codePointAt(i)
      if (isTokChar(cp)) {
        if (runLen == 0) runStart = i
        runLen += 1
      } else endRun(i)
      i += Character.charCount(cp)
    }
    endRun(low.length)
    new GenericArrayData(out.toArray[Any])
  }

  /** Quality score — TextAnalysisOps.qualityScoreFrom's four indicators in
    * one pass: token-count band over tokens(1,100), mean token length over
    * ALL runs (the un-filtered charsNoSpace), marker-stopword ratio,
    * alphanumeric ratio over the RAW string.
    */
  def qualityScore(s: UTF8String): Double = {
    // c4 inputs scan the raw string (the HOF uses text, not lower(text))
    val raw = s.toString
    var alnum = 0L; var total = 0L
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || (cp >= 0xAC00 && cp <= 0xD7A3)) alnum += 1
      total += 1
      i += Character.charCount(cp)
    }
    // token-side inputs scan lower(s)
    val low = s.toLowerCase.toString
    var nToks = 0L; var sumRun = 0L; var stopHits = 0L
    var runLen = 0
    val sb = new java.lang.StringBuilder
    def endRun(): Unit = if (runLen > 0) {
      sumRun += runLen
      if (runLen <= 100) { // minLen = 1 always holds for a non-empty run
        nToks += 1
        if (runLen <= maxMarkerLen && markerSet.contains(sb.toString)) stopHits += 1
      }
      runLen = 0; sb.setLength(0)
    }
    var j = 0
    while (j < low.length) {
      val cp = low.codePointAt(j)
      if (isTokChar(cp)) {
        runLen += 1
        if (runLen <= maxMarkerLen) sb.appendCodePoint(cp)
      } else endRun()
      j += Character.charCount(cp)
    }
    endRun()
    val nT = nToks.toDouble
    val avgTokLen = if (nToks > 0) sumRun.toDouble / nT else 0.0
    val stopRatio = if (nToks > 0) stopHits.toDouble / nT else 0.0
    val alnumRatio = if (total > 0) alnum.toDouble / total.toDouble else 0.0
    (if (nToks >= 5 && nToks <= 1000) 0.25 else 0.0) +
      (if (avgTokLen >= 2.0 && avgTokLen <= 12.0) 0.25 else 0.0) +
      (if (stopRatio >= 0.01) 0.25 else 0.0) +
      (if (alnumRatio >= 0.6) 0.25 else 0.0)
  }

  private val markerMask: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    val order = Seq("de", "en", "es", "fr") // alphabetical — langId tie order
    order.zipWithIndex.foreach { case (lang, bit) =>
      langMarkers(lang).foreach { w =>
        val prev = m.getOrDefault(w, 0)
        m.put(w, prev | (1 << bit))
      }
    }
    m
  }

  /** Per-language marker-word hit counts of a token array, in alphabetical
    * language order [de, en, es, fr] — one pass instead of four interpreted
    * isin-filter HOFs (a word in several languages' sets counts for each).
    */
  def markerHits(toks: ArrayData): ArrayData = {
    val out = new Array[Long](4)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val mask = markerMask.getOrDefault(toks.getUTF8String(i).toString, 0)
      if (mask != 0) {
        var b = 0
        while (b < 4) { if ((mask & (1 << b)) != 0) out(b) += 1; b += 1 }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Count of tokens containing at least one NON-DIGIT byte. Over the
    * house token alphabet ([a-z0-9가-힣] — every array this kernel sees
    * comes from `tokens`, which normalizes) a non-digit byte can only
    * belong to a letter, so this equals the Gopher alpha-rule predicate
    * `t rlike '[a-z가-힣]'` exactly (spec-pinned in TextKernelsProps).
    * Replaces an interpreted ArrayFilter HOF running a regex per token
    * in the funnel's fused scan (guide §1.2 step 2: per-task work).
    * Byte test, not codepoint: ASCII digits are single bytes 0x30-0x39;
    * a-z are > 0x39 and Hangul UTF-8 bytes are negative, so any byte
    * outside ['0','9'] means a non-digit character.
    */
  def letterTokenCount(toks: ArrayData): Long = {
    val n = toks.numElements()
    var i = 0
    var out = 0L
    while (i < n) {
      val t = toks.getUTF8String(i)
      val nb = t.numBytes()
      var j = 0
      var has = false
      while (j < nb && !has) {
        val b = t.getByte(j)
        if (b < '0' || b > '9') has = true
        j += 1
      }
      if (has) out += 1
      i += 1
    }
    out
  }

  /** Per-document term-frequency map of a token array — pre-aggregating TF
    * inside the row means `explode(tfMap(toks))` yields final
    * (word, tf) pairs with NO token-level shuffle (one row per DISTINCT
    * word instead of one per occurrence, and no groupBy).
    */
  def tfMap(toks: ArrayData): org.apache.spark.sql.catalyst.util.MapData = {
    val n = toks.numElements()
    // boxed value type: with scala Long the absent-key null would unbox to
    // 0L and a null check could never fire
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      val w = toks.getUTF8String(i)
      val c = m.get(w)
      // clone on first insert: the element string may point into a reused
      // UnsafeArrayData buffer, and the map's keys outlive this iteration
      // (same copy discipline as the tokens kernel)
      if (c == null) m.put(w.clone(), java.lang.Long.valueOf(1L))
      else m.put(w, java.lang.Long.valueOf(c.longValue + 1L))
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey; vals(j) = e.getValue.longValue; j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  // ------------------------------------------------------------ intervals
  // Window-coverage intervals for the sliding-window coherence family:
  // a word occurring at (1-based) position p of a t-token doc sits in the
  // windows [max(1, p-w+1), min(p, max(t-w+1, 1))]. The kernels below
  // carry the UNION of those per-occurrence ranges as a packed
  // [lo1,hi1,lo2,hi2,…] long array, so window-containment counts become
  // interval arithmetic instead of an enumeration of (word, window) hits.

  /** Merged coverage intervals of sorted occurrence positions (packed). */
  def windowCover(sortedPos: Array[Int], t: Int, w: Int): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long](sortedPos.length * 2)
    val hiCap = math.max(t - w + 1, 1)
    var i = 0
    while (i < sortedPos.length) {
      val p = sortedPos(i)
      val lo = math.max(1, p - w + 1).toLong
      val hi = math.min(p, hiCap).toLong
      if (out.nonEmpty && lo <= out(out.length - 1) + 1) {
        if (hi > out(out.length - 1)) out(out.length - 1) = hi
      } else { out += lo; out += hi }
      i += 1
    }
    out.toArray
  }

  /** Total window count covered by a packed interval array. */
  def intervalTotal(a: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i + 1) - a(i) + 1; i += 2 }
    s
  }

  /** Size of the intersection of two packed interval arrays (both sorted,
    * disjoint within themselves) — the shared-window count of a word pair.
    */
  def intervalIntersect(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var s = 0L
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i), b(j))
      val hi = math.min(a(i + 1), b(j + 1))
      if (lo <= hi) s += hi - lo + 1
      if (a(i + 1) <= b(j + 1)) i += 2 else j += 2
    }
    s
  }

  /** BPE-ish token count — Σ ceil(run/8) over same-class segment runs of
    * lower(s); classes digit / ascii-lower / hangul / other-non-space, with
    * Java regex \s (the 6 ASCII whitespace chars) as the only separator.
    */
  def bpeishTokenCount(s: UTF8String): Long = {
    val low = s.toLowerCase.toString
    var sum = 0L; var run = 0; var cur = 0
    def cls(cp: Int): Int =
      if (cp >= '0' && cp <= '9') 1
      else if (cp >= 'a' && cp <= 'z') 2
      else if (cp >= 0xAC00 && cp <= 0xD7A3) 3
      else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r') 0
      else 4
    def endRun(): Unit = if (run > 0) { sum += (run + 7) / 8; run = 0 }
    var i = 0
    while (i < low.length) {
      val cp = low.codePointAt(i)
      val c = cls(cp)
      if (c == 0) { endRun(); cur = 0 }
      else if (c == cur) run += 1
      else { endRun(); cur = c; run = 1 }
      i += Character.charCount(cp)
    }
    endRun()
    sum
  }
}
