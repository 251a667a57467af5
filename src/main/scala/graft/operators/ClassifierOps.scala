package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens

/** Multinomial Naive Bayes text classification — the learned counterpart
  * to the n-gram lang-ID heuristic (`TextAnalysisOps.langIdCol`): class
  * priors and add-alpha word likelihoods trained relationally, documents
  * classified by argmax log-posterior. The same shape serves FastText-style
  * language ID, domain routing, or any label a curation pipeline trains
  * from its own metadata. The reference has no learned classifier (its
  * routing is a manual keyword table,
  * /root/reference/BERTopic_Analysis.py:693-717).
  *
  * Scale shape: the model is one (word × class) log-likelihood frame —
  * vocabulary-bounded, persistable, complete by construction (the grid
  * cross-joins distinct words with the class list, so unseen (w, class)
  * cells carry their backoff mass and scoring needs NO null branch).
  * Scoring pre-aggregates (doc, word) occurrences map-side, joins the
  * model on the word in ONE shuffle (a |classes|-fold fan-out, bounded),
  * and reduces per (doc, class). The argmax is a per-doc window over
  * |classes| rows. Scores are rounded to 6 decimals before ranking so the
  * argmax is insensitive to float summation order on either engine.
  */
object ClassifierOps {

  /** Train: returns (logPrior: (clazz, lp), logLik: (w, clazz, ll)) with
    * add-`alpha` smoothing over the full word × class grid.
    */
  def nbTrain(docs: DataFrame, textCol: String, classCol: String,
              alpha: Double = 0.5): (DataFrame, DataFrame) = {
    val n = docs.count()
    val prior = docs.groupBy(col(classCol).as("clazz"))
      .agg(count(lit(1)).as("nd"))
      .select(col("clazz"), log(col("nd").cast("double") / n).as("lp"))
    val occ = docs.select(col(classCol).as("clazz"),
      explode(tokens(col(textCol))).as("w"))
    val counts = occ.groupBy(col("w"), col("clazz")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("clazz")).agg(sum(col("c")).as("tot"))
    val vocab = counts.select(col("w")).distinct()
    val vSize = vocab.count()
    val grid = vocab.crossJoin(broadcast(totals))
    val logLik = grid
      .join(counts, Seq("w", "clazz"), "left")
      .select(col("w"), col("clazz"),
        log((coalesce(col("c"), lit(0L)) + alpha) /
          (col("tot") + lit(alpha) * vSize)).as("ll"))
    (prior, logLik)
  }

  /** Classify: per-doc argmax of rounded log-posterior (ties → smaller
    * class). Words outside the training vocabulary are ignored (standard
    * multinomial NB practice — no class receives evidence from them).
    * Documents with NO in-vocabulary tokens at all (including empty docs)
    * still get a verdict: the argmax-PRIOR class with the rounded log-prior
    * as the score — so the output partitions the input and downstream
    * joins assuming total coverage never lose rows (cross-corpus use; on a
    * self-trained corpus the branch is empty). Returns
    * (idCol, clazz = predicted, score).
    */
  def nbClassify(logPrior: DataFrame, logLik: DataFrame, docs: DataFrame,
                 textCol: String, idCol: String): DataFrame = {
    val inst = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n"))
    val scored = inst.join(logLik, "w")
      .groupBy(col(idCol), col("clazz"))
      .agg(sum(col("ll") * col("n")).as("wsum"))
      .join(broadcast(logPrior), "clazz")
      .select(col(idCol), col("clazz"),
        round(col("wsum") + col("lp"), 6).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("clazz"))
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(idCol), col("clazz"), col("score"))
    // prior-only fallback for unscorable docs: anti-join on the scored id
    // set (re-planned from the same inst subtree, so ReuseExchange shares
    // the tokenize pass), cross-joined with the 1-row argmax prior
    val topPrior = logPrior
      .orderBy(col("lp").desc, col("clazz"))
      .limit(1)
      .select(col("clazz"), round(col("lp"), 6).as("score"))
    val unscorable = docs.select(col(idCol))
      .join(inst.join(logLik.select("w"), "w").select(col(idCol)),
        Seq(idCol), "left_anti")
      .crossJoin(broadcast(topPrior))
    best.unionByName(unscorable)
  }

  /** Query: self-train on the documents corpus with lang as the class and
    * report the confusion matrix (actual × predicted doc counts) — the
    * board a learned router is judged on. Output bounded by |langs|².
    */
  def nbLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    confusionRows(spark, dir).toSeq
      .toDF("lang", "pred_lang", "n_docs")
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Dir-keyed cache of the confusion rows (driver-side, |langs|² tuples) —
    * the train+classify pass is a deterministic fit shared by the
    * confusion and metrics faces; cleared at harness teardown.
    */
  private val confCache =
    graft.Caching.Registry[Seq[(String, String, Long)]]("classifier.nb")

  def clearNbCache(): Unit = confCache.clear()

  private def confusionRows(spark: SparkSession,
                            dir: String): Seq[(String, String, Long)] =
    confCache.get(graft.Fingerprint.dirKey(spark, dir)) {
      val docs = Tables.documents(spark, dir)
      val (prior, lik) = nbTrain(docs, "text", "lang")
      nbClassify(prior, lik, docs, "text", "doc_id")
        .withColumnRenamed("clazz", "pred_lang")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }

  /** Query: per-class precision / recall / F1 from the confusion matrix.
    * F1 computed as 2·tp / (2·tp + fp + fn) — one exact integer ratio, so
    * a single 4-dp round matches cross-engine. Classes never predicted
    * report null precision (0/0), the standard convention.
    */
  def nbLangMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = confusionRows(spark, dir).toSeq
      .toDF("lang", "pred_lang", "n")
    val tp = conf.filter(col("lang") === col("pred_lang"))
      .select(col("lang").as("clazz"), col("n").as("tp"))
    val actual = conf.groupBy(col("lang").as("clazz"))
      .agg(sum(col("n")).as("n_actual"))
    val predicted = conf.groupBy(col("pred_lang").as("clazz"))
      .agg(sum(col("n")).as("n_predicted"))
    actual
      .join(predicted, Seq("clazz"), "full_outer")
      .join(tp, Seq("clazz"), "left")
      .select(col("clazz").as("lang"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_predicted") > 0,
          round(col("tp").cast("double") / col("n_predicted"), 4)))
      .withColumn("recall",
        when(col("n_actual") > 0,
          round(col("tp").cast("double") / col("n_actual"), 4)))
      .withColumn("f1",
        when(col("n_predicted") + col("n_actual") > 0,
          round(lit(2.0) * col("tp") /
            (col("n_predicted") + col("n_actual")), 4)))
      .orderBy(col("lang"))
  }
}
