package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows (driver t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every query has matching oracle keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    MllibArtifact.path // als_factors_topk reads the saved mllib model
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("moving window: 3-row sum frame and first-row-zero delta") {
    import spark.implicits._
    val got = Relational.movingWindowFeatures(spark, sf).limit(0)
    // shape only from the driver form; exact values on a literal frame:
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
    val df = Seq((1L, 7L, 10.0), (2L, 7L, 20.0), (3L, 7L, 5.0), (4L, 7L, 1.0))
      .toDF("event_id", "user_id", "value")
    val dec = $"value".cast("decimal(18,2)")
    val out = df
      .withColumn("ms", org.apache.spark.sql.functions.sum(dec)
        .over(w.rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow))
        .cast("double"))
      .withColumn("d", (dec - org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.lag(dec, 1).over(w), dec))
        .cast("double"))
      .orderBy($"event_id").collect()
      .map(r => (r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq((10.0, 0.0), (30.0, 10.0), (35.0, -15.0), (26.0, -4.0)))
    assert(got.columns.toSeq ==
      Seq("event_id", "user_id", "value", "moving_sum_3", "delta"))
  }

  test("priority line counts: high+low partition the joined rows " +
    "exactly (no line counted twice or dropped)") {
    import spark.implicits._
    val rows = Relational.priorityLineCounts(spark, sf).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val lo = org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp")
    val hi = org.apache.spark.sql.functions.lit("1997-01-01").cast("timestamp")
    val joined = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" >= lo && $"l_shipdate" < hi)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .count()
    assert(total == joined && rows.nonEmpty)
  }

  test("TPC-H family invariants: Q4 semi-join counts distinct late " +
    "orders, Q7 pairs directed, Q14 ratio bounded, Q18 whales only") {
    import spark.implicits._
    // Q4: the semi join must count each qualifying order exactly once
    val q4 = Relational.lateOrderPriority(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lo = org.apache.spark.sql.functions.lit("1996-07-01").cast("timestamp")
    val hi = org.apache.spark.sql.functions.lit("1996-10-01").cast("timestamp")
    val recomputed = Tables.orders(spark, sf)
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .join(Tables.lineitem(spark, sf), $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + org.apache.spark.sql.functions
          .expr("INTERVAL 60 DAYS"))
      .select($"o_orderkey", $"o_orderpriority").distinct()
      .groupBy($"o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q4 == recomputed && q4.values.sum > 0)
    // Q7: only the configured pair, both directions possible, never
    // self (pair chosen to actually trade in the sf0.001 sample)
    val q7 = Relational.nationVolumeShipping(spark, sf,
        nationA = "NATION_12", nationB = "NATION_10").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(q7.nonEmpty && q7.forall { case (s, c) =>
      Set("NATION_12", "NATION_10")(s) && Set("NATION_12", "NATION_10")(c) &&
        s != c })
    // Q14: promo share is a valid percentage of a positive total
    val q14 = Relational.promoRevenueRatio(spark, sf).collect()(0)
    assert(q14.getDouble(0) >= 0 && q14.getDouble(0) <= q14.getDouble(1))
    assert(q14.getDouble(2) >= 0.0 && q14.getDouble(2) <= 100.0)
    // Q18: strictly-descending whales above the threshold
    val q18 = Relational.largeVolumeOrders(spark, sf).collect()
      .map(_.getDouble(4))
    assert(q18.forall(_ > 250.0) &&
      q18.sameElements(q18.sortBy(-(_: Double))))
  }

  test("pareto frontier: equals the brute-force dominance filter") {
    import spark.implicits._
    val got = Relational.paretoFrontier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val all = Tables.part(spark, sf)
      .select($"p_partkey", $"p_retailprice", $"p_size")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val want = all.filter { case (_, pr, sz) =>
      !all.exists { case (_, pr2, sz2) =>
        pr2 <= pr && sz2 <= sz && (pr2 < pr || sz2 < sz) }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("quantile normalize: histogram min-rank equals a direct RANK() " +
    "computation, bounds hold") {
    import spark.implicits._
    val got = Relational.quantileNormalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"cents")
    val direct = Tables.events(spark, sf)
      .select($"event_id", $"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rk", org.apache.spark.sql.functions.rank().over(w))
      .withColumn("n", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .selectExpr("event_id",
        "CASE WHEN n = 1 THEN 0L ELSE (rk - 1) * 1000000 div (n - 1) END AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == direct)
    assert(got.values.forall(p => p >= 0L && p <= 1000000L))
    assert(got.values.exists(_ == 0L) && got.values.exists(_ > 900000L))
  }

  test("cube report: the 2-D lattice is internally consistent (margins " +
    "sum their cells, grand total sums everything, no NULL keys)") {
    import spark.implicits._
    val rows = Relational.cubeReport(spark, sf).collect()
      .map(r => ((r.getInt(2), r.getInt(3), r.getString(0), r.getString(1)),
        r.getLong(4))).toMap
    assert(rows.keys.forall { case (_, _, s, p) => s != null && p != null })
    val cells = rows.filter(_._1._1 == 0).filter(_._1._2 == 0)
    val nStatus = cells.keys.map(_._3).toSet.size
    val nPrio = cells.keys.map(_._4).toSet.size
    assert(rows.size == cells.size + nStatus + nPrio + 1,
      "lattice must hold cells + both margins + grand total")
    // each status margin row sums its cells; same for priority margins
    for (((g1, g2, s, p), n) <- rows if (g1, g2) == (0, 1))
      assert(n == cells.collect { case ((_, _, `s`, _), c) => c }.sum, s"margin $s")
    for (((g1, g2, s, p), n) <- rows if (g1, g2) == (1, 0))
      assert(n == cells.collect { case ((_, _, _, `p`), c) => c }.sum, s"margin $p")
    assert(rows((1, 1, "ALL", "ALL")) == cells.values.sum)
    assert(rows((1, 1, "ALL", "ALL")) == Tables.orders(spark, sf).count())
  }

  test("supplier variety: blocked suppliers never counted, counts match " +
    "an independent recomputation") {
    import spark.implicits._
    val got = Relational.supplierPartVariety(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3)))
      .toMap
    val blocked = Tables.supplier(spark, sf)
      .filter($"s_acctbal" < 0).select($"s_suppkey").as[Long].collect().toSet
    val sizes = Set(1, 5, 10, 15, 20, 25, 30, 35)
    val want = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey").distinct()
      .join(Tables.part(spark, sf), $"l_partkey" === $"p_partkey")
      .select($"l_suppkey", $"p_brand", $"p_type", $"p_size")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .filter { case (sup, b, t, sz) =>
        !blocked(sup) && b != "Brand#45" && t != "STANDARD" && sizes(sz) }
      .groupBy { case (_, b, t, sz) => (b, t, sz) }
      .map { case (k, vs) => k -> vs.map(_._1).toSet.size.toLong }
    assert(got == want)
  }

  test("local supplier volume: equals an independent SQL statement of " +
    "Q5 and only returns the region's nations") {
    import spark.implicits._
    val got = Relational.localSupplierVolume(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // independent formulation: plain spark.sql over views, same-nation
    // stated as a WHERE predicate instead of a join condition
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")
      .foreach(t => Tables.table(spark, sf, t).createOrReplaceTempView(t))
    val want = spark.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want)
    val asiaNations = Tables.nation(spark, sf)
      .join(Tables.region(spark, sf).filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_name").as[String].collect().toSet
    assert(got.map(_._1).toSet.subsetOf(asiaNations))
  }

  test("temporal split: labels partition the events, the fences are in " +
    "time order, and no test row is within the embargo of any train row") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"event_id", org.apache.spark.sql.functions.expr("ts div 1000").as("tsu"))
    val labeled = Relational.temporalSplitEmbargo(spark, sf)
      .join(ev, "event_id")
    val byLabel = labeled.groupBy($"split")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"tsu").as("lo"),
        org.apache.spark.sql.functions.max($"tsu").as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val total = ev.count()
    assert(byLabel.values.map(_._1).sum == total, "every event labeled once")
    val (nTrain, _, trainHi) = byLabel("train")
    // ~70% of rows land in train (exact interpolated percentile cutoff)
    assert(math.abs(nTrain.toDouble / total - 0.7) < 0.02)
    // the fences, restated against an independently recomputed cutoff
    val cutoff = ev.agg(org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.percentile($"tsu",
          org.apache.spark.sql.functions.lit(0.7))).cast("long"))
      .collect()(0).getLong(0)
    assert(trainHi <= cutoff)
    for ((_, lo, hi) <- byLabel.get("embargo"))
      assert(lo > cutoff && hi <= cutoff + Relational.EmbargoUs)
    for ((_, lo, _) <- byLabel.get("test")) {
      assert(lo > cutoff + Relational.EmbargoUs,
        "temporal leakage: a test row within the embargo horizon")
      assert(lo - trainHi > Relational.EmbargoUs)
    }
  }

  test("cohort retention: offset-0 diagonal is the cohort size and " +
    "cells never exceed it") {
    import spark.implicits._
    val r = Relational.cohortRetention(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) <= row.getLong(3),
        "active_users must not exceed cohort_size")
      if (row.getLong(1) == 0L)
        assert(row.getLong(2) == row.getLong(3))
    }
    // cohort sizes partition the user population: every user is in
    // exactly one cohort and active at offset 0 by construction
    val totalUsers = Tables.events(spark, sf)
      .select($"user_id").distinct().count()
    val sumSizes = r.filter(_.getLong(1) == 0L).map(_.getLong(3)).sum
    assert(sumSizes == totalUsers)
  }

  test("scd2: versions are contiguous, intervals chain, one open row per user") {
    val rows = Relational.scd2Dimension(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4), r.getInt(5)))
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to vs.length).toSeq,
        "versions must be 1..n with no gaps")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3),
            "a version's valid_to must be the next version's valid_from")
          assert(a._2 != b._2, "consecutive versions must differ in value")
        case _ =>
      }
      assert(sorted.count(_._6 == 1) == 1 && sorted.last._6 == 1,
        "exactly the latest version is current")
      assert(sorted.init.forall(_._4.isDefined) && sorted.last._4.isEmpty,
        "only the current version's interval is open")
    }
  }

  test("top-k per group: at most k rows per group and rank 1 is the max spend") {
    import spark.implicits._
    val r = Relational.topkPerGroup(spark, sf, k = 3)
    val byNation = r.collect().groupBy(_.getString(0))
    byNation.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // independent recomputation of each nation's max spend
    val maxSpend = Tables.orders(spark, sf)
      .groupBy($"o_custkey").agg(graft.Fx.dsum($"o_totalprice").as("spend"))
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name").agg(org.apache.spark.sql.functions.max($"spend").as("mx"))
      .collect().map(r0 => r0.getString(0) -> r0.getDouble(1)).toMap
    byNation.foreach { case (n, rows) =>
      assert(rows.find(_.getInt(3) == 1).get.getDouble(2) == maxSpend(n))
    }
  }

  test("ratings decode: song_id in 0..99, no null decode") {
    val r = Relational.ratings(spark, sf)
    assert(r.filter("song_id IS NULL").count() == 0)
    val mm = r.selectExpr("min(song_id)", "max(song_id)").head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 99)
  }

  test("anti-join is disjoint from rated set") {
    val rated = Relational.ratings(spark, sf).select("song_id").distinct()
    val unrated = Relational.antiJoinUnrated(spark, sf)
    assert(unrated.join(rated,
      unrated("p_partkey") === rated("song_id")).count() == 0)
  }

  test("top-k is a prefix of the full sort") {
    val topk = Relational.topk25Parts(spark, sf).collect().map(_.getLong(0))
    val full = Relational.ratings(spark, sf) // just reuse session
    val all = Tables.lineitem(spark, sf).groupBy("l_partkey")
      .agg(Fx.dsum(org.apache.spark.sql.functions.col("l_quantity")).as("t"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .filter("cnt >= 3")
      .orderBy(org.apache.spark.sql.functions.desc("t"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(_.getLong(0))
    assert(topk.sameElements(all.take(topk.length)))
  }

  test("union keeps bag semantics: counts add up") {
    val total = Relational.unionRetrainInput(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("quantile levels are all in 1..5 and each user hits level 5") {
    val lv = Relational.quantileRatingLevels(spark, sf)
    assert(lv.filter("level < 1 OR level > 5").count() == 0)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(lv.filter("level = 5").select("user_id").distinct().count() == users)
  }

  test("event transitions: bigram counts sum to events minus users and " +
    "ppm probabilities are valid floors") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val t = Relational.eventTransitions(spark, sf)
    val totalPairs = t.agg(fsum("cnt")).head().getLong(0)
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(totalPairs == nEvents - nUsers)
    assert(t.filter("prob_ppm <= 0 OR prob_ppm > 1000000").count() == 0)
    // floors per from_type row-sum land within one ulp-per-row of 1e6
    val sums = t.groupBy("from_type")
      .agg(fsum("prob_ppm").as("s"), fsum("cnt").as("c")).collect()
    sums.foreach { r =>
      assert(r.getLong(1) <= 1000000L && r.getLong(1) > 1000000L - 25)
    }
  }

  test("winsorize: clip respects disc-percentile bounds and passes " +
    "in-range values through untouched") {
    val w = Relational.winsorize(spark, sf)
    assert(w.filter("clipped < lo OR clipped > hi").count() == 0)
    assert(w.filter("o_totalprice >= lo AND o_totalprice <= hi " +
      "AND clipped <> o_totalprice").count() == 0)
    // at most ~5% of each group sits strictly outside either bound
    val per = w.groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END")).as("below"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END")).as("above"))
      .collect()
    per.foreach { r =>
      val (n, below, above) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(below < 0.05 * n + 1, s"below=$below n=$n")
      assert(above <= 0.05 * n, s"above=$above n=$n")
    }
  }

  test("marker sessions: marker is a purchase event of the same user") {
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "user_id")
    val ms = Relational.markerSessions(spark, sf)
    val joined = ms.join(ev.withColumnRenamed("event_id", "marker_id")
      .withColumnRenamed("user_id", "m_user"), Seq("marker_id"))
    assert(joined.filter("event_type <> 'purchase' OR m_user <> user_id").count() == 0)
  }

  test("TPC-H tail: Q15 winner is the true max, Q17 matches brute " +
    "force, Q21 sole-late semantics, Q22 lapsed+above-avg only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Q15: the emitted supplier(s) carry exactly the max recomputed revenue
    val perSupp = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(Fx.dec2($"l_extendedprice") * (Fx.one - Fx.rate2($"l_discount")))
        .cast("double").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q15 = Relational.topSupplierRevenue(spark, sf).collect()
    assert(q15.nonEmpty)
    val best = perSupp.values.max
    assert(q15.forall(r => r.getDouble(2) == best && perSupp(r.getLong(0)) == best))
    assert(q15.length == perSupp.values.count(_ == best))
    // Q17: brute-force the correlated threshold on the brand slice
    val slice = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter($"p_brand" === "Brand#1"),
        $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val avgQty = slice.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).sum / xs.length }
    val kept = slice.filter { case (k, q, _) => q < 0.2 * avgQty(k) }
    val q17 = Relational.smallQuantityRevenue(spark, sf).collect()(0)
    assert(q17.getLong(1) == kept.length && kept.nonEmpty)
    assert(math.abs(q17.getDouble(0) - kept.map(_._3).sum / 7.0) < 1e-6)
    // Q21: every ranked supplier was the SOLE late supplier on some
    // multi-supplier finished order; counts match brute force
    val epoch = lit("1970-01-01").cast("date")
    val ordDate = Tables.orders(spark, sf)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", datediff($"o_orderdate".cast("date"), epoch))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lines = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey",
        datediff($"l_shipdate".cast("date"), epoch))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val latePairs = lines.collect { case (o, s, ship)
      if ordDate.contains(o) && ship > ordDate(o) + 60 =>
        (o, s) }.distinct
    val suppsPerOrder = lines.groupBy(_._1).map { case (o, xs) =>
      o -> xs.map(_._2).distinct.toSet }
    val latePerOrder = latePairs.groupBy(_._1).map { case (o, xs) =>
      o -> xs.map(_._2).toSet }
    val soleCounts = latePairs.filter { case (o, s) =>
      suppsPerOrder(o).exists(_ != s) && latePerOrder(o) == Set(s) }
      .groupBy(_._2).map { case (s, xs) => s -> xs.length.toLong }
    val q21 = Relational.waitingSupplierRanking(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(q21 == soleCounts && q21.nonEmpty)
    // Q22: group totals equal the brute-force lapsed+above-avg set
    val segs = Set("MACHINERY", "BUILDING", "FURNITURE")
    val custs = Tables.customer(spark, sf).collect().map(r =>
      (r.getLong(0), r.getInt(2).toLong, math.round(r.getDouble(3) * 100),
        r.getString(4))).filter(c => segs(c._4))
    val pos = custs.map(_._3).filter(_ > 0)
    val active = Tables.orders(spark, sf)
      .filter($"o_orderdate" >= lit("2000-07-01").cast("timestamp"))
      .select($"o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val chosen = custs.filter(c =>
      c._3 * pos.length > pos.sum && !active(c._1))
    val nations = Tables.nation(spark, sf).collect()
      .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val wantCounts = chosen.groupBy(c => nations(c._2))
      .map { case (n, xs) => n -> xs.length.toLong }
    val q22 = Relational.idleCustomerBalance(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q22 == wantCounts && q22.nonEmpty)
  }

  test("TPC-H Q8/Q13/Q19 invariants: share bounded, LEFT join keeps " +
    "every customer, envelope decomposition equals the raw disjunction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Q8: per-year nation slice never exceeds the total; share in [0,1]
    val q8 = Relational.nationMarketShare(spark, sf).collect()
    assert(q8.nonEmpty)
    q8.foreach { r =>
      val (nat, tot, share) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(nat >= 0.0 && nat <= tot && share >= 0.0 && share <= 1.0)
    }
    // Q13: histogram partitions the customer table exactly (the LEFT
    // join keeps zero-order customers), and weighted mass equals the
    // qualifying order count
    val q13 = Relational.customerOrderDistribution(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(q13.map(_._2).sum == Tables.customer(spark, sf).count())
    val qualifying = Tables.orders(spark, sf)
      .filter(!$"o_orderpriority".isin("5-LOW", "4-NOT SPECIFIED")).count()
    assert(q13.map { case (c, d) => c * d }.sum == qualifying)
    // Q19: the pushed-envelope + residual plan must equal the naive
    // undecomposed disjunction evaluated after an unfiltered join
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#1" && $"p_size".between(1, 10) &&
          $"l_quantity".between(1.0, 11.0)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(1, 20) &&
          $"l_quantity".between(10.0, 20.0)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 30) &&
          $"l_quantity".between(20.0, 30.0)))
      .agg(sum(Fx.dec2($"l_extendedprice") * (Fx.one - Fx.rate2($"l_discount")))
        .cast("double")).collect()(0).getDouble(0)
    val got = Relational.disjunctiveDiscountRevenue(spark, sf)
      .collect()(0).getDouble(0)
    assert(got == raw && got > 0.0)
  }
  test("topn+OTHER rollup: per-type mass is conserved and the report " +
    "is bounded at 4 rows per group") {
    import spark.implicits._
    val got = Relational.topnOtherRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val total = Tables.events(spark, sf).count()
    assert(got.map(_._4).sum === total, "no event lost or double-counted")
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 4)
      assert(rows.count(_._3 == "OTHER") <= 1)
      val named = rows.filter(_._3 != "OTHER").sortBy(_._2)
      assert(named.map(_._4).toSeq == named.map(_._4).sortBy(-_).toSeq,
        "top rows ranked by descending count")
    }
    // per-source duplicate rate: docs partition into unique + dups
    val dr = graft.operators.Dedup.dupRateBySource(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(dr.map(_._1).sum ===
      Tables.documents(spark, sf).count())
    dr.foreach { case (n, u, d) => assert(n === u + d && u > 0) }
  }

  test("unpivot: melt emits one row per (flag, metric), values match direct aggregates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val long = Relational.unpivotMetrics(spark, sf).collect()
    val flags = Tables.lineitem(spark, sf).select($"l_returnflag")
      .distinct().collect().map(_.getString(0)).toSet
    assert(long.length === flags.size * 3)
    assert(long.map(_.getString(1)).toSet ===
      Set("sum_qty", "sum_price", "n_items"))
    val n = long.filter(_.getString(1) == "n_items").map(_.getDouble(2)).sum
    assert(n === Tables.lineitem(spark, sf).count().toDouble)
    // melt is lossless: pivoting back reproduces the wide aggregate
    val back = Relational.unpivotMetrics(spark, sf)
      .groupBy($"l_returnflag").pivot($"metric").agg(first($"value"))
    val wide = Tables.lineitem(spark, sf).groupBy($"l_returnflag")
      .agg(graft.Fx.dsum($"l_quantity").as("sum_qty"),
        graft.Fx.dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
    assert(back.select($"l_returnflag", $"n_items", $"sum_price", $"sum_qty")
      .except(wide.select($"l_returnflag", $"n_items", $"sum_price", $"sum_qty"))
      .isEmpty)
  }

  test("min-cost supplier: every surviving offer IS its part's minimum " +
    "(decorrelation did not drop or fabricate winners)") {
    val rows = Relational.minCostSupplier(spark, sf, k = 1000000).collect()
    assert(rows.nonEmpty)
    // within the result, a part's rows all carry one identical price
    // (the min), possibly from several tied suppliers
    val byPart = rows.groupBy(_.getLong(3))
    byPart.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(5)).distinct.length == 1) }
    // independent recomputation of one part's true minimum
    val somePart = byPart.keys.head
    val want = spark.sql(
      s"""SELECT MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 10000 AS BIGINT)
         |  div CAST(l_quantity AS BIGINT))
         |FROM parquet.`$sf/lineitem.parquet` WHERE l_partkey = $somePart
         |""".stripMargin).head().getLong(0)
    // the catalog min over in-region suppliers can exceed the global
    // min but never undercut it
    assert(byPart(somePart).head.getLong(5) >= want)
  }

  test("important parts: threshold is mean-relative and exact on the boundary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = Relational.importantParts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val per = Tables.lineitem(spark, sf)
      .groupBy($"l_partkey")
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .as("v")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = per.map(_._2).map(BigInt(_)).sum
    val n = BigInt(per.length)
    val want = per.filter { case (_, v) =>
      BigInt(v) * n * 10 > BigInt(Relational.ImportantPartTenths) * total }
    assert(got === want.toMap)
    assert(got.nonEmpty && got.size < per.length)
  }

  test("windowed funnel: late stages break the chain; never beats unbounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val h = 3600L * 1000000000L  // an hour in nanos
    val ev = Seq(
      // u1: clean conversion inside every 24h window
      (1L, 0 * h, "signup"), (1L, 1 * h, "view"), (1L, 2 * h, "click"),
      (1L, 3 * h, "purchase"),
      // u2: click arrives 26h after view → window broken at stage 3;
      // the later purchase cannot resurrect it
      (2L, 0 * h, "signup"), (2L, 1 * h, "view"), (2L, 27 * h, "click"),
      (2L, 28 * h, "purchase"),
      // u3: the EARLIEST view is in-window, a second view is not —
      // earliest-qualifying must bind to the first
      (3L, 0 * h, "signup"), (3L, 2 * h, "view"), (3L, 30 * h, "view"),
      (3L, 3 * h, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Relational.funnelWindowedOf(ev, Relational.FunnelStages,
        Relational.FunnelWindowUs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 4, 2L -> 2, 3L -> 2))
    // u2's chain break is the window's doing, not the data's
    val unbounded = Relational.funnelStepsOf(ev, Relational.FunnelStages)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(unbounded(2L) == 4)
    // corpus-level: windowed progression is pointwise <= unbounded and
    // strictly below somewhere (the window must bite at this sf)
    val w = Relational.funnelWindowed(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val u = Relational.funnelSteps(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(w.keySet == u.keySet)
    assert(w.forall { case (k, n) => n <= u(k) })
    assert(w.exists { case (k, n) => n < u(k) })
  }

  test("twap: held durations weight the average; burst sampling skews only the mean") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // build a deliberately burst-sampled events relation through the
    // query's own loader contract (ts is NANOS-long after Tables.events
    // — here feed micros*1000 directly): value 100 held for 90 time
    // units, then three rapid samples at 200 in the last 10
    val us = 1000L  // 1 micro in nanos
    val ev = Seq(
      (1L, 0L, 1.00), (1L, 90L, 2.00), (1L, 94L, 2.00), (1L, 97L, 2.00),
      (1L, 100L, 9.99) // terminal sample: closes the last interval
    ).map { case (u, t, v) => (u, t, t * us, v) }
      .toDF("user_id", "event_id", "ts", "value")
    // twap = (100·90 + 200·(4+3+3)) / 100 = 110; mean of the 4 closed
    // samples = (100+200+200+200)/4 = 175
    val r = Relational.twapValueOf(ev).head()
    assert(r.getLong(1) == 110L, s"twap ${r.getLong(1)}")
    assert(r.getLong(2) == 175L, s"mean ${r.getLong(2)}")
    assert(r.getLong(3) == 100L)
  }

  test("range frame: trailing-7d sums are value-based, immune to calendar gaps") {
    val rows = Relational.rangeFrameRevenue(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDay = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val day = r.getLong(0)
      val want = (day - 6 to day).flatMap(byDay.get).sum
      assert(r.getLong(3) == want, s"day $day")
      // a ROWS(6) frame would instead sum the previous 7 PRESENT rows
      // regardless of their dates — equal only when the calendar has
      // no gaps in the window
    }
  }

  test("product profit: decimal-domain identity Σ(rev − cost) = Σrev − Σcost") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Relational.productProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    val profitTotal = rows.map(_.getDouble(2)).sum
    val parts = Tables.part(spark, sf)
      .filter($"p_name".contains("widget"))
      .select($"p_partkey", $"p_retailprice")
    val li = Tables.lineitem(spark, sf)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
    val rev = li.agg(sum(graft.Fx.dec2($"l_extendedprice") *
        (graft.Fx.one - graft.Fx.rate2($"l_discount"))).cast("double"))
      .head().getDouble(0)
    val cost = li.agg(sum(graft.Fx.dec2($"p_retailprice") *
        lit(BigDecimal("0.80")).cast(org.apache.spark.sql.types.DecimalType(3, 2)) *
        $"l_quantity".cast(org.apache.spark.sql.types.DecimalType(4, 0)))
      .cast("double")).head().getDouble(0)
    // all three sums are exact decimals cast to double at the end, so
    // the identity holds to double rounding of the final subtraction
    assert(math.abs(profitTotal - (rev - cost)) < 1e-6 * math.abs(rev))
  }

  test("listagg sessions: WITHIN GROUP order matches the event-time " +
    "order, the prefix cap binds, and token count equals n_events") {
    import org.apache.spark.sql.functions._
    val out = Relational.listaggSessions(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, seq) = (r.getLong(1), r.getString(2))
      assert(n >= 1 && n <= Relational.SeqCap)
      assert(seq.split(",", -1).length == n)
    }
    // cross-check one user against an independent sort-and-take
    val u = out.head.getLong(0)
    val expect = Tables.events(spark, sf)
      .where(col("user_id") === u)
      .orderBy(col("ts"), col("event_id"))
      .limit(Relational.SeqCap)
      .select(col("event_type")).collect().map(_.getString(0))
    val got = out.find(_.getLong(0) == u).get.getString(2).split(",", -1)
    assert(got.toSeq == expect.toSeq)
  }
}
