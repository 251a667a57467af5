package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic arithmetic hashing for dedup (SURVEY.md §2.3 + the
  * LLM-pipeline dedup north star).
  *
  * Everything is a 31-ary polynomial rolling hash mod P composed with affine
  * universal-hash transforms — pure integer arithmetic expressible identically
  * in Spark HOFs (codegen'd, no UDF) and in the DuckDB oracle's list
  * functions, so MinHash signatures / LSH buckets / SimHash values are
  * bit-for-bit checkable cross-engine. At cluster scale the same expressions
  * run inside WholeStageCodegen; the only shuffles are the final bucket
  * group-joins on small fixed-width keys.
  *
  * Reference anchor: the reference dedups exactly once, byte-equal contents
  * (/root/reference/preprocessing.py:344-346); these operators generalize it
  * to the near-duplicate family a 100 TB corpus needs.
  */
object HashFunctions {

  /** Modulus for all polynomial hashing (fits products in Long). */
  val P = 1000000007L

  /** Rolling polynomial hash of a string column: fold over code points,
    * acc = (acc*31 + cp) mod P, seed 7. Matches DuckDB
    * `list_reduce(list_prepend(7, codepoints), (a,x) -> (a*31+x) % P)`.
    */
  def rollingHash(s: Column): Column =
    aggregate(codepoints(s), lit(7L), (acc, x) => (acc * lit(31L) + x) % lit(P))

  /** Code points of a string as array<long> (one regex split per string —
    * hash from these, never per-substring).
    *
    * Supplementary-plane behavior: Spark 4's split("") segments on code
    * points (not UTF-16 units) and ascii() returns the true code point, so
    * this agrees with HashKernels' codePoints and DuckDB's unicode() even
    * for non-BMP characters — pinned by HashKernelsSpec. In the pipeline the
    * question is moot anyway: every caller feeds `TextFunctions.normalized`
    * output, whose [a-z0-9가-힣] class strips non-BMP input first.
    */
  def codepoints(s: Column): Column =
    transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long"))

  /** Distinct rolling hashes of all char n-shingles of a string, computed
    * from ONE codepoint array (no per-shingle substring/regex): shingle i is
    * the seed-7 poly fold over codepoints [i, i+n). Strings shorter than n
    * yield an empty set. This is the MinHash/Jaccard unit at scale — the
    * shingle *strings* are never materialized.
    */
  def shingleHashSet(s: Column, n: Int): Column = {
    val chars = codepoints(s)
    array_distinct(
      when(size(chars) < n, array().cast("array<long>"))
        .otherwise(
          transform(sequence(lit(0), size(chars) - n), i =>
            aggregate(slice(chars, i + 1, lit(n)), lit(7L),
              (acc, x) => (acc * lit(31L) + x) % lit(P)))))
  }

  /** MinHash signature (length k) over an array of element hashes.
    * Hash family i (1-based): h_i(x) = (8191·i·x + 524287·i) mod P.
    * Empty input → signature of all-P sentinels (never matches a real hash).
    */
  def minhashSignature(hashes: Column, k: Int): Column =
    transform(sequence(lit(1L), lit(k.toLong)), i =>
      coalesce(
        array_min(transform(hashes, h =>
          (lit(8191L) * i * h + lit(524287L) * i) % lit(P))),
        lit(P)))

  /** LSH band keys: split the signature into `bands` bands of `rows` values
    * and polynomial-hash each band. Docs sharing any (band_index, band_hash)
    * are candidate near-duplicates — the classic bucket-join that replaces
    * the O(n²) all-pairs comparison at scale.
    */
  def lshBandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      aggregate(
        slice(sig, j * lit(rows) + lit(1), lit(rows)),
        lit(7L),
        (acc, x) => (acc * lit(31L) + x) % lit(P)))

  /** Fraction of equal positions in two equal-length signatures — the
    * MinHash estimate of Jaccard similarity.
    */
  def signatureSimilarity(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0L), (acc, x) => acc + x).cast("double") / size(a)

  /** 32-bit SimHash over an array of element hashes (term-frequency
    * weighted: repeated tokens vote repeatedly). Bit b of the result is the
    * sign of Σ_tokens (±1 by bit b of the token hash). Pure integer ops:
    * bit test via `(h mod 2^(b+1)) >= 2^b`, exactly reproducible in SQL.
    */
  def simhash(hashes: Column): Column =
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) => {
        val p2 = pow(lit(2.0), b).cast("long")
        val votes = aggregate(hashes, lit(0L), (a2, h) =>
          a2 + when((h % (p2 * 2)) >= p2, 1L).otherwise(-1L))
        acc + when(votes > 0, p2).otherwise(0L)
      })

  /** HOF twin of HashKernels.simhashBits (the ScalaCheck bit-equality
    * reference): per-bit affine-rehash parity votes — see the kernel's
    * scaladoc for why raw bits beyond ~30 carry no signal.
    */
  def simhashBitsHof(hashes: Column, bits: Int): Column =
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, b) => {
        val votes = aggregate(hashes, lit(0L), (a2, h) =>
          a2 + when(((lit(8191L) * (b + 1) * h + lit(524287L) * (b + 1))
            % lit(1000000007L)) % 2 === 1, 1L).otherwise(-1L))
        acc + when(votes > 0, pow(lit(2.0), b).cast("long")).otherwise(0L)
      })

  /** Generalized band keys: value of the j-th `bandBits`-wide slice, kept
    * scaled by 2^(bandBits·j). The pigeonhole guarantee (Hamming < nBands ⇒
    * ≥1 shared band) holds for any widths; wider bands cut random bucket
    * collisions by 2^bandBits — the blocking knob that keeps candidate
    * volume ∝ genuine duplicates as the corpus grows.
    */
  def simhashBands(sh: Column, nBands: Int, bandBits: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)), j => {
      val lo = pow(lit(2.0), j * bandBits).cast("long")
      val hi = pow(lit(2.0), j * bandBits + bandBits).cast("long")
      (sh % hi) - (sh % lo)
    })
}
