package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector math over `array<float|double>` columns
  * (reference SURVEY.md §2.8 F9/F10 — cosine / Jaccard similarity).
  *
  * Implemented as higher-order-function chains (`zip_with` + `aggregate`) so
  * the arithmetic runs inside Catalyst with no UDF or deserialization. The
  * fold is strictly left-to-right, which makes results bit-reproducible for a
  * fixed row — important for oracle comparison and for deterministic top-k
  * tie-breaks.
  *
  * Reference semantics: BERTopic_Analysis.py:584-589 (manual dot/norm cosine),
  * BERTopic_Analysis.py:625-630 (token-set Jaccard).
  */
object VectorFunctions {

  /** Elementwise cast to double — embeddings ship as array<float>. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-to-right dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe via 0-norm guard. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** Argmax index (0-based) of a double array — dominant-topic extraction
    * (LDA_Analysis.py:655). array_position is 1-based, hence the -1.
    */
  def argmax(a: Column): Column =
    (array_position(a, array_max(a)) - 1).cast("int")
}
