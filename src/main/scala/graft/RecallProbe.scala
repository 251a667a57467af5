package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** ANN recall/cost sweep: measures recall@10 against the exact brute-force
  * answer AND the fraction of the corpus each setting actually scans, per
  * (nLists, nProbe) point of the IVF tier — the committed evidence a
  * deployment needs to pick the probe knob (the LSH tier's equivalent
  * band-width frontier is measured in DEPLOY.md already). The sweep writes
  * the DEPLOY.md curve table; `sim_ivf_recall` ships the chosen default's
  * gauge and RecallBandSpec pins its floors.
  *
  *   MAIN=graft.RecallProbe tools/run_verify.sh /root/testdata/sf0.01 50
  *
  * (second arg = query-set size; the curve uses more queries than the
  * 5-query shipped gauge for a smoother estimate).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nQ = args.drop(1).headOption.map(_.toInt).getOrElse(50)

    val corpus = Caching.track(
      SimilarityOps.unitCorpus(Tables.embeddings(spark, dir)))
    val n = corpus.count()
    val queries = corpus.filter(col("vec_id") < nQ)
    val brute = Caching.track(
      SimilarityOps.bruteForceTopK(corpus, queries, 10)
        .select(col("query_id"), col("vec_id")))
    val nBrute = brute.count()
    println(s"[recall] corpus n=$n queries=$nQ brute ground truth $nBrute rows")
    def recalls(ann: org.apache.spark.sql.DataFrame): Array[Double] =
      SimilarityOps.recallAtK(brute, ann).collect().map(_.getAs[Double]("recall"))

    for (nLists <- Seq(16, 32)) {
      val (indexed0, cents) = SimilarityOps.ivfIndex(corpus, nLists)
      val indexed = Caching.track(indexed0)
      val listSizes = indexed.groupBy(col("list"))
        .agg(count(lit(1)).as("sz"))
      for (nProbe <- Seq(1, 2, 4, 8, 16) if nProbe <= nLists) {
        val t0 = System.nanoTime()
        val ann = SimilarityOps.ivfProbe(indexed, cents, queries, k = 10,
          nProbe = nProbe)
        val perQuery = recalls(ann)
        val wall = (System.nanoTime() - t0) / 1e9
        // cost: average fraction of corpus vectors inside the probed lists
        val scanned = SimilarityOps.probeAssignments(cents, queries, nProbe)
          .join(listSizes, "list")
          .agg(sum(col("sz"))).collect()(0).getLong(0)
        val frac = scanned.toDouble / (nQ.toLong * n)
        println(f"[recall] nLists=$nLists%2d nProbe=$nProbe%2d " +
          f"recall@10 mean=${perQuery.sum / perQuery.length}%.3f " +
          f"min=${perQuery.min}%.3f scan_frac=$frac%.3f wall=$wall%.2f s")
      }
    }
    // PQ sweep: recall of the compressed-domain (ADC) ranking and the
    // two-stage re-rank, per (codebook size, shortlist factor) at the
    // shipped coarse operating point — the evidence for the PqCents /
    // PqShortlist knobs (memory per vector = M·log2(cents) bits; re-rank
    // reads shortlist·k full vectors per query).
    {
      import graft.operators.PqOps
      val (indexed0, cents) = SimilarityOps.ivfIndex(corpus, SimilarityOps.IvfLists)
      val lists = Caching.track(indexed0.select(col("vec_id"), col("list")))
      val probed = SimilarityOps.probeAssignments(cents, queries, SimilarityOps.IvfProbe)
      val cands = Caching.track(probed.join(lists, "list")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id")))
      for (nCents <- Seq(16, 32, 64)) {
        val (codebooks, codes0, ds) = PqOps.pqFit(corpus, nCents)
        val codes = Caching.track(codes0)
        val qdot = PqOps.qdotOf(codebooks, queries
          .select(col("vec_id"), col("nv")), ds)
        val adc = Caching.track(PqOps.adcScores(cands, codes, qdot))
        val adcRecall = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
          recalls(adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10))
        }
        for (shortlist <- Seq(4, 8, 16)) {
          val t0 = System.nanoTime()
          val perQ = recalls(PqOps.pqSearch(corpus, lists, cents, codebooks, codes,
            ds, queries, k = 10, shortlist = shortlist))
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"[pq] cents=$nCents%2d shortlist=${shortlist}%2dx " +
            f"adc_recall mean=${adcRecall.sum / adcRecall.length}%.3f " +
            f"rerank_recall mean=${perQ.sum / perQ.length}%.3f " +
            f"min=${perQ.min}%.3f wall=$wall%.2f s")
        }
      }
    }
    Caching.releaseAll()
    spark.stop()
  }
}
