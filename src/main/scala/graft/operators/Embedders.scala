package graft.operators

import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.HashExpressions.unitVector

/** M6 — the Embedder seam (SURVEY.md §2.9 M6, §7.1): the reference embeds
  * with sentence-transformers (/root/reference/BERTopic_Analysis.py:105,479),
  * which has no offline JVM equivalent, so the engine exposes a trait with
  * two self-contained implementations:
  *
  *   - PrecomputedEmbedder — joins a vectors table by id (the fixture's
  *     embeddings.parquet; in production, the output of any external
  *     embedding service landed to parquet).
  *   - Word2VecEmbedder — MLlib Word2Vec doc vectors (mean of word vectors),
  *     trained in-engine; the reference's own "no transformer available"
  *     fallback direction.
  *
  * Everything downstream (ANN search, clustering, near-dup, reduction) only
  * sees an `(id, embedding)` DataFrame, so swapping embedders changes no
  * other code.
  */
trait Embedder {
  /** Returns (idCol, embedding: array<double>) — one row per input doc. */
  def embed(docs: DataFrame, idCol: String, textCol: String): DataFrame
}

/** Look up precomputed vectors by id (inner join drops unembedded docs). */
class PrecomputedEmbedder(vectors: DataFrame, vecIdCol: String,
                          vecCol: String) extends Embedder {
  override def embed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol))
      .join(vectors.select(col(vecIdCol).as(idCol),
        transform(col(vecCol), x => x.cast("double")).as("embedding")), idCol)
}

/** Train Word2Vec on the corpus tokens; doc vector = mean word vector. */
class Word2VecEmbedder(dim: Int = 32, minCount: Int = 2, maxIter: Int = 3,
                       seed: Long = 42L) extends Embedder {
  override def embed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
    val model = new Word2Vec()
      .setInputCol("toks").setOutputCol("vec")
      .setVectorSize(dim).setMinCount(minCount).setMaxIter(maxIter).setSeed(seed)
      .fit(toks)
    model.transform(toks)
      .select(col(idCol), vector_to_array(col("vec")).as("embedding"))
  }
}

object Embedders {

  /** Fitted-embedding registry: the seeded Word2Vec fit over a fixture dir
    * is deterministic, so consumers share one persisted corpus (long-lived
    * cross-query cache — intentionally NOT scope-released, like
    * TopicModelOps' fitted models).
    */
  private val cache = graft.Caching.Registry[DataFrame]("embedders.w2v")

  /** Shared unit-vector Word2Vec corpus over the documents fixture. */
  private def w2vCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = cache.get(s"w2v:$dir") {
      val docs = Tables.documents(spark, dir)
      new Word2VecEmbedder().embed(docs, "doc_id", "text")
        .select(col("doc_id").as("vec_id"), unitVector(col("embedding")).as("nv"))
        .persist()
    }
    // fitted doc vectors for the oracle: the neighbor ranking downstream is
    // the same ordered-fold cosine SQL sim_topk_brute already verifies
    graft.Artifacts.save("w2v_vectors")(corpus)
    corpus
  }

  /** Query: Word2Vec-embedded documents → exact top-5 neighbors for the
    * first 3 docs (the Embedder seam feeding the similarity operator;
    * rows-only — iterative training).
    */
  def word2vecNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val corpus = w2vCorpus(spark, dir)
    SimilarityOps.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 3), 5)
  }

  /** Query: the two embedders plugged into the same downstream profile —
    * per-embedder count + mean vector norm over the first 100 docs.
    */
  def embedderComparison(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
    val pre = new PrecomputedEmbedder(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
      .embed(docs, "doc_id", "text")
      .withColumn("embedder", lit("precomputed"))
    // the seeded 100-doc fit joins the fitted-embedding registry like every
    // other deterministic fit (w2vCorpus, the LDA/KMeans caches) — repeat
    // invocations re-read the persisted vectors instead of re-training
    val w2v = cache.get(s"w2v100:$dir")(
        new Word2VecEmbedder().embed(docs, "doc_id", "text").persist())
      .withColumn("embedder", lit("word2vec"))
    // the w2v side's fitted vectors export for the oracle; the precomputed
    // side it re-derives straight from the embeddings table
    graft.Artifacts.save("w2v_doc100")(w2v.select("doc_id", "embedding"))
    pre.unionByName(w2v)
      .select(col("embedder"),
        sqrt(graft.functions.HashExpressions.dotK(
          col("embedding"), col("embedding"))).as("norm"))
      .groupBy("embedder")
      .agg(count(lit(1)).as("n_docs"), round(avg("norm"), 4).as("avg_norm"))
      .orderBy("embedder")
  }
}
