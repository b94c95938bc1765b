package graft

import org.apache.spark.mllib.recommendation.{ALS, Rating}

/** The saved mllib model behind `als_factors_topk`: a real
  * `MatrixFactorizationModel.save` (metadata JSON + user/product factor
  * parquet) at [[SparkEntry.MllibArtifactPath]]. The test JVM points
  * that path under `target/` (build.sbt), and the first use trains a
  * rank-4 model on the sf0.001 ratings and saves it there, so every
  * assertion runs against a genuine mllib save without the deployment
  * artifact.
  */
object MllibArtifact {
  lazy val path: String = {
    val p = SparkEntry.MllibArtifactPath
    if (!new java.io.File(p, "metadata").isDirectory) {
      val spark = TestSpark.spark
      val ratings = graft.ml.Recommender.ratings(spark, TestSpark.sf).rdd
        .map(r => Rating(r.getInt(0), r.getInt(1), r.getFloat(2).toDouble))
      val model = ALS.train(ratings, 4, 5, 0.1, 1, 5L)
      model.save(spark.sparkContext, p)
    }
    p
  }
}
