package graft

import graft.ml.Recommender
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ALS layer (SURVEY §2.11): reference protocol reproduced on the
  * sf0.001 events-derived ratings — seeded determinism, RMSE bound,
  * recommend-pipeline invariants, save/load roundtrip.
  */
class MlSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private val spark = TestSpark.spark

  test("ALS train is deterministic under a fixed seed") {
    val r = Recommender.ratings(spark, sf).cache()
    val m1 = Recommender.train(r, rank = 4, maxIter = 5)
    val m2 = Recommender.train(r, rank = 4, maxIter = 5)
    val f1 = m1.userFactors.orderBy("id").collect().map(_.toString)
    val f2 = m2.userFactors.orderBy("id").collect().map(_.toString)
    assert(f1.sameElements(f2))
  }

  test("ALS recovers a low-rank ratings matrix (RMSE << value scale)") {
    // the corpus's event values are structureless noise, so the model
    // quality check runs on a known rank-2 matrix instead: r(u,i) =
    // <p_u, q_i> with deterministic factors. ALS must reconstruct it.
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val users = (0 until 30).map(u => u -> Array.fill(2)(rng.nextDouble() + 0.5))
    val items = (0 until 40).map(i => i -> Array.fill(2)(rng.nextDouble() + 0.5))
    val rows = for {
      (u, pu) <- users; (i, qi) <- items
      if rng.nextDouble() < 0.5 // 50% observed
    } yield (u, i, (pu(0) * qi(0) + pu(1) * qi(1)).toFloat)
    val df = rows.toDF("userId", "songId", "rating")
    val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed = 0L)
    val m = Recommender.train(tr.cache(), rank = 2, regParam = 0.01)
    val alsRmse = Recommender.rmse(m, te.cache())
    val scale = rows.map(_._3.toDouble).sum / rows.size
    assert(alsRmse < 0.15 * scale,
      s"ALS rmse $alsRmse should be far below the mean rating $scale")
  }

  test("recommendTopK excludes already-rated songs and respects minCnt") {
    import spark.implicits._
    val r = Recommender.ratings(spark, sf).cache()
    val uid = r.groupBy($"userId").count()
      .orderBy($"count".desc, $"userId").limit(1).collect()(0).getInt(0)
    val m = Recommender.train(r, rank = 4, maxIter = 5)
    val recs = Recommender.recommendTopK(m, r, uid, k = 25, minCnt = 2)
    val recSongs = recs.select("songId").as[Int].collect().toSet
    val rated = r.filter($"userId" === uid).select("songId").as[Int].collect().toSet
    assert(recSongs.intersect(rated).isEmpty, "recommended a rated song")
    assert(recs.count() <= 25)
    val counts = r.groupBy($"songId").count()
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(recSongs.forall(s => counts(s) >= 2))
    // scores descending
    val scores = recs.select("prediction").collect().map(_.getFloat(0).toDouble)
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
  }

  test("model save/load roundtrip predicts identically") {
    import spark.implicits._
    val r = Recommender.ratings(spark, sf).cache()
    val m = Recommender.train(r, rank = 4, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("als_model").toString
    Recommender.save(m, dir)
    val m2 = Recommender.load(dir)
    val pairs = r.select("userId", "songId").distinct().limit(100).cache()
    val p1 = Recommender.predict(m, pairs).orderBy("userId", "songId").collect()
    val p2 = Recommender.predict(m2, pairs).orderBy("userId", "songId").collect()
    assert(p1.map(_.toString).sameElements(p2.map(_.toString)))
  }

  test("adapter consumes the reference's saved mllib artifact directly") {
    import spark.implicits._
    // the actual MatrixFactorizationModel the reference ships
    // (music_lens_als/: metadata JSON + user/product factor parquet)
    val f = Recommender.loadMllibFactors(spark, MllibArtifact.path)
    assert(f.rank == 4)
    val uSample = f.userFactors.limit(1).collect()(0)
    assert(uSample.getSeq[Double](1).length == f.rank)
    val userId = uSample.getInt(0)
    val recs = Recommender.recommendFromFactors(f, userId, k = 25).collect()
    assert(recs.length == 25)
    val scores = recs.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)),
      "top-25 must be score-descending")
    // scoring rule check: prediction(u, p) == <uf, pf> for one pair
    val uf = uSample.getSeq[Double](1)
    val (songId, pf) = f.itemFactors.limit(1).collect()(0) match {
      case r => (r.getInt(0), r.getSeq[Double](1))
    }
    val pair = Seq((userId, songId)).toDF("userId", "songId")
    val got = Recommender.predictFromFactors(f, pair).collect()(0).getDouble(2)
    val want = uf.zip(pf).map { case (a, b) => a * b }.sum
    assert(math.abs(got - want) < 1e-12)
  }

  test("factorsTopK: deterministic top-k per user from the saved artifact") {
    val rows = Recommender
      .factorsTopK(spark, MllibArtifact.path, nUsers = 7, k = 3)
      .collect()
    assert(rows.length == 7 * 3)
    val byUser = rows.groupBy(_.getInt(0))
    assert(byUser.size == 7)
    byUser.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.sameElements(Array(1, 2, 3)))
      val scores = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    }
    // stable across invocations (pure function of the artifact)
    val again = Recommender
      .factorsTopK(spark, MllibArtifact.path, nUsers = 7, k = 3)
      .collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("recommendTopKUsers == the candidates-minus-rated crossJoin form, " +
      "without a row-level cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val all = Recommender.ratings(spark, sf).cache()
    val model = Recommender.train(all, rank = 4, maxIter = 5)
    val users = all.select("userId").distinct()
      .orderBy("userId").limit(6).cache()

    // the reference M6 formulation (what recommendLoop used to build
    // explicitly): users x eligible minus rated, full transform, top-k
    def referenceForm(k: Int, minCnt: Long) = {
      val eligible = all.groupBy("songId")
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCnt)
      val cand = users.crossJoin(eligible.select("songId"))
        .join(all.select("userId", "songId").distinct(),
          Seq("userId", "songId"), "left_anti")
      val w = Window.partitionBy("userId")
        .orderBy(col("prediction").desc, col("songId"))
      Recommender.predict(model, cand)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select("userId", "songId", "rank")
    }

    // one config that converges in the first blocked pass and one whose
    // aggressive post-filter forces the numItems escalation path
    for ((k, minCnt) <- Seq((5, 1L), (3, 15L))) {
      val got = Recommender.recommendTopKUsers(model, all, users, k, minCnt)
      assert(!got.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "post-filter side must not nested-loop over the catalog")
      val g = got.select("userId", "songId").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      val w = referenceForm(k, minCnt).select("userId", "songId").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(g == w, s"k=$k minCnt=$minCnt: blocked top-k must equal " +
        s"the crossJoin formulation")
    }
  }

  test("grid search picks the rank with minimum validation RMSE") {
    val Array(tr, va) =
      Recommender.ratings(spark, sf).randomSplit(Array(0.7, 0.3), seed = 0L)
    tr.cache(); va.cache()
    val all = Recommender.gridEvaluate(tr, va, Seq(2, 4))
    val best = all.minBy(_._2)
    // gridSearch is defined as argmin over gridEvaluate; check the
    // evaluated RMSEs are finite and the argmin is well-defined
    assert(all.forall(t => java.lang.Double.isFinite(t._2) && t._2 > 0))
    assert(best._2 == all.map(_._2).min)
  }
}
