package graft

import graft.operators.TopicModelOps

/** Seeded-determinism and shape checks for the MLlib topic models (these
  * queries carry no SQL oracle, so the spec is their correctness gate).
  */
class TopicModelSpec extends SparkSuite {
  private val dir = SparkSpec.FixtureDir

  test("ldaTopicsQuery: k topics x topN ranked terms, weights descending per topic") {
    val rows = TopicModelOps.ldaTopicsQuery(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(rows.map(_._1).distinct.length == 5)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.length == 10)
      val w = g.sortBy(_._2).map(_._4)
      assert(w.zip(w.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("lda runs are deterministic under the fixed seed") {
    def topics() = {
      val c = TopicModelOps.ldaCorpus(Tables.documents(spark, dir), "text")
      TopicModelOps.describeJoined(spark, TopicModelOps.fitLda(c.vecs, 3, 5),
        c.vocab, 10).collect().map(_.toSeq)
    }
    val a = topics()
    val b = topics()
    Caching.releaseAll()
    assert(a.toSeq == b.toSeq)
  }

  test("dominant-topic histogram: counts bounded by corpus size, probs in (0.3, 1]") {
    val rows = TopicModelOps.ldaDominantTopics(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total > 0 && total <= 500)
    assert(rows.forall { r => val p = r.getDouble(2); p > 0.3 && p <= 1.0 })
  }

  test("kmeans profile: 8 clusters partition all 500 vectors, purity in (0,1]") {
    val rows = TopicModelOps.kmeansProfile(spark, dir).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == 500)
    assert(rows.forall { r => val p = r.getDouble(3); p > 0.0 && p <= 1.0 })
  }

  test("bertopic keywords: every cluster gets ranked keywords") {
    val rows = TopicModelOps.bertopicKeywords(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.map(_._1).distinct.length == 8)
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 10))
  }

  test("model save/load roundtrip preserves LDA topics and KMeans centers (S7/S8)") {
    import org.apache.spark.ml.clustering.{KMeans, LocalLDAModel, LDA}
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-models").toString
    val (vecs, _) = TopicModelOps.vectorize(Tables.documents(spark, dir), "text")
    val lda = new LDA().setK(3).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").fit(vecs)
    lda.write.overwrite().save(s"$tmp/lda")
    val ldaBack = LocalLDAModel.load(s"$tmp/lda")
    assert(ldaBack.describeTopics(5).collect().map(_.toSeq).toSeq ==
      lda.describeTopics(5).collect().map(_.toSeq).toSeq)

    val evecs = Tables.embeddings(spark, dir)
      .withColumn("vec", array_to_vector(col("embedding")))
    val km = new KMeans().setK(4).setSeed(42L).setFeaturesCol("vec").fit(evecs)
    km.write.overwrite().save(s"$tmp/km")
    val kmBack = org.apache.spark.ml.clustering.KMeansModel.load(s"$tmp/km")
    assert(kmBack.clusterCenters.toSeq == km.clusterCenters.toSeq)
  }

  test("lda grid search marks exactly one best k") {
    val rows = TopicModelOps.ldaGridSearch(spark, dir).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getInt(2)).sum == 1)
    assert(rows.forall(_.getDouble(1) <= 0.0)) // u_mass is non-positive
  }

  test("noise emulation: labels a small outlier share -1, keeps the rest partitioned") {
    val rows = TopicModelOps.clusterNoiseProfile(spark, dir).collect()
    val byCluster = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCluster.keySet.subsetOf((-1 to 7).toSet))
    assert(byCluster.values.sum === 500)
    val noise = byCluster.getOrElse(-1, 0L)
    assert(noise > 0, "2-sigma threshold should flag some outliers")
    assert(noise < 100, "noise must stay a small outlier share")
    // keyword extraction must not see the noise cluster (P9)
    val kwClusters = TopicModelOps.bertopicKeywords(spark, dir)
      .select("cls").distinct().collect().map(_.get(0).toString).toSet
    assert(!kwClusters.contains("-1"))
  }

  test("lda grid search is reproducible run-to-run (seed-42 contract)") {
    def run() = TopicModelOps.ldaGridSearch(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(run() === run())
  }

  test("clearModelCache evicts every fit and the engine refits cleanly after") {
    TopicModelOps.ldaTopicsQuery(spark, dir).collect() // populate
    assert(TopicModelOps.modelCacheSize > 0)
    TopicModelOps.clearModelCache()
    assert(TopicModelOps.modelCacheSize == 0)
    // a fresh seeded fit after eviction reproduces the same topics
    val rows = TopicModelOps.ldaTopicsQuery(spark, dir).collect()
    assert(rows.length == 50)
    assert(TopicModelOps.modelCacheSize > 0)
  }
}
