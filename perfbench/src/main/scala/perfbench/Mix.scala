package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort

import graft.SparkEntry

/** Closed-loop query mix, one client: each pass builds, plans and runs
  * every query of the mix to a noop sink, in a seed-permuted order. The
  * output gate runs once, untimed, before the timed passes; traced runs
  * alternate untraced and traced passes.
  */
object Mix {
  /** Read-only registry queries: one per operator object, plus a cheap
    * decode where planning dominates.
    */
  val Analytics = Seq("recommend_top25", "json_decode_ratings", "wordcount",
    "cosine_topk", "dedup_minhash_lsh")
  /** Table queries: durable commits to the engine's manifest tables. */
  val TableQueries = Seq("dsv2_write_roundtrip", "dsv2_merge_upsert")
  /** Stateful harness stream: offsets, commits and a state store. */
  val Streams = Seq("streaming_dedup_watermark")
  val Queries: Seq[String] = Analytics ++ TableQueries ++ Streams

  /** Operator object each analytics query's registry entry calls. */
  val Family: Map[String, String] = Map(
    "recommend_top25" -> "Relational", "json_decode_ratings" -> "Relational",
    "wordcount" -> "TextOps", "cosine_topk" -> "Similarity",
    "dedup_minhash_lsh" -> "Dedup")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val SetUps = 3

  final case class Exec(pass: Int, query: String, traced: Boolean, ok: Boolean,
      construct: Double, plan: Double, exec: Double) {
    def total: Double = construct + plan + exec
  }

  def run(c: Conf): Map[String, Any] = {
    val queries = Queries
    // set-up: session, every table resolved, one small job
    val (spark, _, setups) = Main.setUp(c, SetUps) { s =>
      Tables.foreach(t => s.read.parquet(s"${c.data}/$t.parquet").schema)
      s.read.parquet(s"${c.data}/region.parquet").collect()
    }
    val gate0 = System.nanoTime()
    val registry = SparkEntry.queries
    def order(pass: Int) = new scala.util.Random(c.seed * 7919 + pass).shuffle(queries)
    def tagged[T](unit: String)(f: => T): T = {
      spark.sparkContext.setLocalProperty(Tag.Key, unit)
      try f finally spark.sparkContext.setLocalProperty(Tag.Key, null)
    }

    // output gate: every result once, untimed, in a seed-permuted order
    val gateErrors = order(-1).flatMap { q =>
      val err = try {
        tagged(s"gate/$q")(registry(q)(spark, c.data).coalesce(1).write
          .mode("overwrite").parquet(s"${c.out}/gate/$q"))
        None
      } catch { case e: Throwable => Some(q -> String.valueOf(e.getMessage).take(300)) }
      spark.catalog.clearCache()
      err
    }.toMap
    Files.writeString(Paths.get(c.out, "oracle_sql.json"),
      Json.write(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    val gateS = (System.nanoTime() - gate0) / 1e9

    val tracer = new Tracer
    val engine = new EngineListener
    val progress = new ProgressListener
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    Main.resetHeapPeak()
    // traced runs go untraced, traced, untraced at least, so the warming
    // trend over passes does not bias the overhead
    val minPasses = if (c.trace) 3 else 1
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || System.nanoTime() - t0 < (c.seconds * 1e9).toLong) {
      val traced = c.trace && pass % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(engine); spark.streams.addListener(progress)
      }
      tracer.on = traced
      val gc0 = Main.gcSeconds()
      val p0 = System.nanoTime()
      order(pass).foreach { q =>
        val unit = s"$pass/$q"
        progress.unit = unit
        execs += tagged(unit)(execute(spark, c, tracer, pass, q, traced))
        spark.catalog.clearCache()
      }
      passWall += ((traced, (System.nanoTime() - p0) / 1e9, Main.gcSeconds() - gc0))
      if (traced) {
        spark.sparkContext.removeSparkListener(engine); spark.streams.removeListener(progress)
      }
      pass += 1
    }
    tracer.on = false
    val heapPeak = Main.heapPeakMb()

    val timed = execs.filter(e => !e.traced && e.ok).map(_.total).toSeq
    val untracedPasses = passWall.filter(!_._1).map(_._2).toSeq
    val perLayer =
      if (c.trace) layers(spark, c, queries, execs.toSeq, passWall.toSeq, engine,
        progress, heapPeak)
      else Map.empty[String, Any]
    if (c.trace) {
      Main.writeLines(Paths.get(c.out, "spans.jsonl"), tracer.toJsonLines(t0))
      Main.writeLines(Paths.get(c.out, "jobs.jsonl"), engine.jobLines)
    }
    Map(
      "workload" -> c.workload, "setup_s" -> setups,
      "attempted" -> execs.count(!_.traced), "failed" -> execs.count(e => !e.traced && !e.ok),
      "gate_errors" -> gateErrors,
      "executions" -> execs.filter(!_.traced).map(e => Map("pass" -> e.pass,
        "query" -> e.query, "ok" -> e.ok, "s" -> e.total)),
      "e2e" -> Map(
        "latency_p50_s" -> Stats.median(timed),
        "latency_p99_s" -> Stats.pct(timed, 99),
        "latency_geomean_s" -> Stats.geomean(timed),
        "throughput_per_s" -> timed.size / untracedPasses.sum),
      "detail" -> Map("passes" -> untracedPasses.size, "gate_s" -> gateS,
        "mix_s" -> Stats.median(untracedPasses), "queries" -> queries.size),
      "per_layer" -> perLayer)
  }

  /** One query: build (registry construct), then plan and run to a noop
    * sink. Traced executions time planning on its own.
    */
  private def execute(spark: SparkSession, c: Conf, tracer: Tracer, pass: Int,
      q: String, traced: Boolean): Exec = {
    val layer = Family.get(q).map(f => s"operators.$f")
      .getOrElse(if (q.startsWith("streaming_")) "streaming" else "sources")
    try {
      val t0 = System.nanoTime()
      val df = tracer.span(layer, s"construct:$q")(SparkEntry.queries(q)(spark, c.data))
      val t1 = System.nanoTime()
      if (traced) tracer.span("query", s"plan:$q")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      tracer.span("query", s"exec:$q")(noop(df))
      val t3 = System.nanoTime()
      Exec(pass, q, traced, ok = true, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    } catch {
      case _: Throwable => Exec(pass, q, traced, ok = false, 0, 0, 0)
    }
  }

  private def noop(df: DataFrame): scala.Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop the final presentation ORDER BY of a query's plan. */
  private def stripTopSort(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        val cls = Class.forName("org.apache.spark.sql.classic.Dataset$")
        val ofRows = cls.getMethods
          .find(m => m.getName == "ofRows" && m.getParameterCount == 2).get
        ofRows.invoke(cls.getField("MODULE$").get(null), df.sparkSession, s.child)
          .asInstanceOf[DataFrame]
      case _ => df
    }

  /** Per-layer figures of the traced passes (median over passes), per-query
    * times, the presentation sort's share and the tracing overhead.
    */
  private def layers(spark: SparkSession, c: Conf, queries: Seq[String],
      execs: Seq[Exec], passWall: Seq[(Boolean, Double, Double)],
      engine: EngineListener, progress: ProgressListener,
      heapPeak: Double): Map[String, Any] = {
    Thread.sleep(500) // let the listener buses deliver the last events
    val traced = execs.filter(e => e.traced && e.ok)
    val passes = traced.map(_.pass).distinct
    def inPass(p: Int)(u: String) = u.startsWith(s"$p/")
    val perPass: Seq[Map[String, Double]] = passes.map { p =>
      val ex = traced.filter(_.pass == p)
      val tables = ex.filter(e => TableQueries.contains(e.query))
      val counters = engine.byUnit.asScala.collect { case (u, cs) if inPass(p)(u) => cs }.toSeq
      Layers.streaming(progress.of(inPass(p))) ++ Layers.spark(counters) ++
        Layers.AnalyticsFamilies.map(f => s"operators.${f}_s" ->
          ex.filter(e => Family.get(e.query).contains(f)).map(_.total).sum) ++ Map(
        "query.construct_s" -> ex.map(_.construct).sum,
        "query.plan_s" -> ex.map(_.plan).sum,
        "query.exec_s" -> ex.map(_.exec).sum,
        "sources.write_s" -> tables.map(_.construct).sum,
        "sources.read_s" -> tables.map(e => e.plan + e.exec).sum)
    }
    val gc = passWall.filter(_._1).map(_._3)
    val medians = perPass.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    // presentation sort: each query once more with its top Sort stripped
    val sort = queries.map { q =>
      val full = Stats.median(traced.filter(_.query == q).map(_.exec))
      val stripped = try {
        val df = stripTopSort(SparkEntry.queries(q)(spark, c.data))
        val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => full }
      spark.catalog.clearCache()
      full - stripped
    }
    // each traced pass against the untraced pass after it, whose JIT is
    // warmer: an upper bound on the tracing cost
    val overhead = passWall.indices.dropRight(1).filter(i => passWall(i)._1)
      .map(i => passWall(i)._2 / passWall(i + 1)._2)
    Layers.names(Queries).map(_ -> 0.0).toMap ++ medians ++
      queries.map(q => s"q.${q}_s" -> Stats.median(traced.filter(_.query == q).map(_.total))) ++
      Map(
        "query.sort_s" -> sort.sum,
        "jvm.gc_s" -> Stats.median(gc),
        "jvm.heap_peak_mb" -> heapPeak,
        "trace_overhead" -> Stats.median(overhead))
  }
}
