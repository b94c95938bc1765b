package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.ml.Recommender
import graft.operators.TextOps
import graft.streaming.Streams

/** The paper's loop under open-loop load: a generator thread appends
  * Kafka-shaped rating lines to a MemoryStream on a fixed schedule, and
  * `Streams.recommendLoop` decodes each 1 s micro-batch, unions it with
  * the rating history, retrains ALS and emits the top 25 for each batch
  * user to a sink. Each rating is timed from its due time to the end of
  * the sink write of the batch that holds it.
  */
object RecommendStream {
  val RatePerS = 100.0
  val LimitS = 30.0
  val K = 25
  val MinCnt = 25L
  val SetUps = 3

  def run(c: Conf): Map[String, Any] = {
    val tracer = new Tracer
    // set-up: session, history load and cache, stream lines
    var cached: Option[DataFrame] = None
    val (spark, (history, lines, warmLines), setups) = Main.setUp(c, SetUps) { s =>
      cached.foreach(_.unpersist(blocking = true))
      val prepared = prepare(s, c)
      cached = Some(prepared._1)
      prepared
    }
    import spark.implicits._
    // warm-up, untimed: one micro-batch of lines the timed run does not
    // send, through the same loop and sink, so no timed batch pays
    // first-use costs
    val warmIn = MemoryStream[String](spark, c.cpus)
    warmIn.addData(warmLines.toIndexedSeq)
    val warmQuery = Streams.recommendLoop(warmIn.toDF(), history, s"${c.work}/warmup",
        K, MinCnt, Trigger.ProcessingTime("1 second")) { (recs: DataFrame, _: Long) =>
      sink(recs); ()
    }.start()
    warmQuery.processAllAvailable()
    warmQuery.stop()
    val n = lines.length
    val engine = new EngineListener
    // the loop's jobs all carry the query's start call site, so the time
    // inside the retrain and the top-k is sampled from the batch thread
    val sampler = new StackSampler("stream execution thread for recommend_stream",
      Seq("graft.ml.Recommender$" -> "train", "graft.ml.Recommender$" -> "recommendTopKUsers",
        "perfbench.RecommendStream$" -> "sink"), intervalMs = 20)
    if (c.trace) {
      spark.sparkContext.addSparkListener(engine); tracer.on = true; sampler.start()
    }
    Main.resetHeapPeak()
    val gc0 = Main.gcSeconds()

    // Kafka-shaped: each batch arrives in one partition per core, as from a
    // topic with that many partitions
    val in = MemoryStream[String](spark, c.cpus)
    val sinkEnd = new ConcurrentHashMap[Long, java.lang.Long]()
    val sinkEndMs = new ConcurrentHashMap[Long, java.lang.Long]()
    val recsOut = new PrintWriter(Files.newBufferedWriter(Paths.get(c.out, "recs.csv")))
    recsOut.println("batch,userId,songId,prediction")
    val query = Streams.recommendLoop(in.toDF(), history, s"${c.work}/checkpoint",
        K, MinCnt, Trigger.ProcessingTime("1 second")) { (recs: DataFrame, id: Long) =>
      tracer.span("streaming", "sink") {
        sink(recs).foreach(r => recsOut.println(s"$id,${r.get(0)},${r.get(1)},${r.get(2)}"))
        recsOut.flush()
      }
      sinkEnd.put(id, System.nanoTime()); sinkEndMs.put(id, System.currentTimeMillis())
      ()
    }.queryName("recommend_stream").start()

    // open-loop generator: once the idle query is waiting on the 1 s
    // trigger grid, start just after a trigger boundary so each run sees
    // the same batch phase
    while (query.status.isTriggerActive || !query.status.message.startsWith("Waiting"))
      Thread.sleep(10)
    Thread.sleep(1000)
    val nowMs = System.currentTimeMillis()
    val startNs = System.nanoTime() + ((nowMs / 1000 + 1) * 1000 + 50 - nowMs) * 1000000L
    val due = Array.tabulate(n)(i => startNs + (i * 1e9 / RatePerS).toLong)
    val sent = new Array[Long](n)
    val offsets = new Array[Long](n)
    val stallAt = n / 3
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        if (i == stallAt && c.stallMs > 0) Thread.sleep(c.stallMs) // injected stall
        var wait = due(i) - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due(i) - System.nanoTime() }
        offsets(i) = in.addData(lines(i)).json().toLong
        sent(i) = System.nanoTime()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val genEnd = System.nanoTime()

    // drain: wait until the last line is in a finished batch, or the limit
    def done = query.recentProgress.exists(p => endOffset(p) >= offsets(n - 1))
    while (!done && System.nanoTime() - due(n - 1) < (LimitS * 1e9).toLong)
      Thread.sleep(50)
    query.stop()
    sampler.stop()
    recsOut.close()
    val wallS = (System.nanoTime() - startNs) / 1e9
    require(offsets.indices.forall(i => offsets(i) == i),
      "MemoryStream offsets do not follow the send order")

    // map each rating to its batch through the MemoryStream offsets
    val batches = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val batchOf = new Array[Long](n).map(_ => -1L)
    batches.foreach { p =>
      (startOffset(p) + 1 to endOffset(p)).foreach(o => if (o < n) batchOf(o.toInt) = p.batchId)
    }
    val latency = (0 until n).map { i =>
      Option(sinkEnd.get(batchOf(i))).map(e => (e - due(i)) / 1e9).getOrElse(Double.PositiveInfinity)
    }
    val served = latency.filter(_ <= LimitS)
    val lastServed = (0 until n).filter(i => latency(i) <= LimitS)
      .map(i => sinkEnd.get(batchOf(i)).longValue).maxOption.getOrElse(startNs)
    val lagMs = (0 until n).map(i => (sent(i) - due(i)) / 1e6)
    val fromSent = (0 until n).map(i =>
      Option(sinkEnd.get(batchOf(i))).map(e => (e - sent(i)) / 1e9).getOrElse(Double.PositiveInfinity))

    Files.writeString(Paths.get(c.out, "batches.json"), Json.write(batches.map(p =>
      Map("batch" -> p.batchId, "start" -> startOffset(p), "end" -> endOffset(p)))))

    val perLayer: Map[String, Any] =
      if (!c.trace) Map.empty
      else {
        // per batch, from its trigger start to the end of its sink write;
        // the top-k result is lazy, so its execution in the sink counts
        val windows = batches.flatMap(p => Option(sinkEndMs.get(p.batchId)).map(e =>
          (java.time.Instant.parse(p.timestamp).toEpochMilli, e.longValue)))
        val train = windows.map { case (a, b) => sampler.seconds("train", a, b) }
        val recommend = windows.map { case (a, b) =>
          sampler.seconds("recommendTopKUsers", a, b) + sampler.seconds("sink", a, b)
        }
        // rows sent but not yet in a finished batch when the generator stopped
        val doneAtGenEnd = batches.filter(p =>
          Option(sinkEnd.get(p.batchId)).exists(_ <= genEnd)).map(rows).sum
        val tracingS = (engine.callbackNs.get + sampler.busyNs.get) / 1e9
        Thread.sleep(500) // let the listener bus deliver the last task events
        val counters = Layers.spark(Seq(engine.counters("-")))
        spark.sparkContext.removeSparkListener(engine)
        Layers.names(Mix.Queries).map(_ -> 0.0).toMap ++
          Layers.streaming(batches) ++ counters ++ Map(
            "ml.train_s_p50" -> Stats.median(train),
            "ml.recommend_s_p50" -> Stats.median(recommend),
            "streaming.backlog_rows_end" -> (n - doneAtGenEnd).toDouble,
            // numInputRows counts every re-read of the batch in foreachBatch
            "streaming.rows_per_trigger_p50" -> Stats.median(batches.map(rows(_).toDouble)),
            "streaming.decode_s_p50" -> Stats.median(decodeReplay(spark, lines, batches, n)),
            "generator.lag_ms_p99" -> Stats.pct(lagMs, 99),
            "generator.sent" -> n.toDouble,
            "jvm.gc_s" -> (Main.gcSeconds() - gc0),
            "jvm.heap_peak_mb" -> Main.heapPeakMb(),
            // 1 + the share of the run the listener and the sampler took
            "trace_overhead" -> (1.0 + tracingS / wallS))
      }
    if (c.trace) {
      Main.writeLines(Paths.get(c.out, "spans.jsonl"), tracer.toJsonLines(startNs))
      Main.writeLines(Paths.get(c.out, "jobs.jsonl"), engine.jobLines)
    }
    Map(
      "workload" -> c.workload, "setup_s" -> setups,
      "attempted" -> n, "failed" -> (n - served.size),
      "latencies_s" -> latency.map(x => if (x.isInfinite) -1.0 else x),
      "e2e" -> Map(
        "latency_p50_s" -> Stats.median(served),
        "latency_p99_s" -> Stats.pct(served, 99),
        "latency_geomean_s" -> Stats.geomean(served),
        "throughput_per_s" -> served.size / ((lastServed - startNs) / 1e9)),
      "detail" -> Map(
        "batches" -> batches.size,
        "batch_ms" -> batches.map(p => p.durationMs.get("triggerExecution").longValue),
        "batch_rows" -> batches.map(rows), "rate_per_s" -> RatePerS, "limit_s" -> LimitS,
        "generator_lag_ms_max" -> lagMs.max, "stall_ms" -> c.stallMs,
        "stall_latency_from_due_s" -> latency(stallAt),
        "stall_latency_from_send_s" -> fromSent(stallAt)),
      "per_layer" -> perLayer)
  }

  /** The sink: a batch's recommendations, collected in presentation order. */
  private def sink(recs: DataFrame): Array[org.apache.spark.sql.Row] =
    recs.orderBy(col("userId"), col("prediction").desc, col("songId"))
      .select("userId", "songId", "prediction").collect()

  private def rows(p: StreamingQueryProgress): Long = endOffset(p) - startOffset(p)
  private def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L)
  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L)

  /** History (the 90 % of ratings not streamed) decoded from the wire form
    * and cached; the stream's first lines in their seeded order, and the
    * lines after them for the warm-up.
    */
  private def prepare(spark: SparkSession, c: Conf): (DataFrame, Array[String], Array[String]) = {
    import spark.implicits._
    val order = spark.read.parquet(s"${c.data}/stream_order.parquet")
    val history = TextOps.pseudoJsonRoundtrip(spark, c.data)
      .join(order, Seq("event_id"), "left_anti")
      .selectExpr("userid AS userId", "songid AS songId", "CAST(rating AS FLOAT) AS rating")
      .cache()
    history.count()
    val n = (RatePerS * c.seconds).toInt
    // the timed run's lines, then as many again for the warm-up batch
    val all = TextOps.pseudoJsonWire(spark, c.data).join(order, "event_id")
      .filter($"seq" < 2 * n).orderBy($"seq").select($"value").as[String].collect()
    require(all.length == 2 * n, s"stream needs ${2 * n} lines, corpus has ${all.length}")
    (history, all.take(n), all.drop(n))
  }

  /** Decode cost per batch, replayed after the run on each batch's own
    * lines: inside the loop the decode is fused into the retrain's scan.
    */
  private def decodeReplay(spark: SparkSession, lines: Array[String],
      batches: Seq[StreamingQueryProgress], n: Int): Seq[Double] = {
    import spark.implicits._
    batches.map { p =>
      val slice = lines.slice((startOffset(p) + 1).toInt, (endOffset(p) + 1).toInt.min(n))
      val df = slice.toSeq.toDF("value")
      val t0 = System.nanoTime()
      Streams.decodeRateEvents(df).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }
}
