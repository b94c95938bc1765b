package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Local property naming the unit of benchmark work (pass and query) a
  * Spark job belongs to; streams started inside a unit inherit it.
  */
object Tag {
  val Key = "perfbench.unit"
}

/** Per-unit engine counters, summed from task, stage and job events. */
final class Counters {
  val jobs, stages, tasks, shuffleRead, shuffleWrite, input, output, spill,
      cpuNs, gcMs, fxJobs, fxMs = new AtomicLong()
}

/** One Spark job: when it ran, which batch or unit launched it, and the
  * call site of its result stage.
  */
final case class JobRec(unit: String, batch: String, startMs: Long,
    var endMs: Long, site: String)

/** SparkListener living in the benchmark: counts jobs, stages, tasks,
  * bytes, CPU and GC per unit, and keeps each job's call site so the
  * trace can attribute jobs to `Fx.materialized` without instrumenting
  * the engine.
  */
final class EngineListener extends SparkListener {
  val byUnit = new ConcurrentHashMap[String, Counters]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  val callbackNs = new AtomicLong()

  private def unitOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tag.Key))).getOrElse("-")
  def counters(u: String): Counters = byUnit.computeIfAbsent(u, _ => new Counters)

  private def timed(f: => scala.Unit): scala.Unit = {
    val t0 = System.nanoTime(); f; callbackNs.addAndGet(System.nanoTime() - t0)
  }

  /** Every job as one JSON line: unit, micro-batch, call site, times. */
  def jobLines: Iterator[String] = jobs.asScala.toSeq.sortBy(_._1).iterator.map {
    case (id, j) => Json.write(Map("job" -> id, "unit" -> j.unit, "batch" -> j.batch,
      "site" -> j.site, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
  }

  override def onJobStart(e: SparkListenerJobStart): scala.Unit = timed {
    val u = unitOf(e.properties)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val batch = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
    jobs.put(e.jobId, JobRec(u, batch, e.time, -1L, site))
    e.stageInfos.foreach(s => stageUnit.put(s.stageId, u))
    counters(u).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): scala.Unit = timed {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.site.contains("Fx.scala")) {
        val c = counters(j.unit)
        c.fxJobs.incrementAndGet(); c.fxMs.addAndGet(j.endMs - j.startMs)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): scala.Unit = timed {
    val u = unitOf(e.properties)
    stageUnit.put(e.stageInfo.stageId, u)
    counters(u).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): scala.Unit = timed {
    val c = counters(Option(stageUnit.get(e.stageId)).getOrElse("-"))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.input.addAndGet(m.inputMetrics.bytesRead)
      c.output.addAndGet(m.outputMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

/** StreamingQueryListener living in the benchmark: maps each query run
  * to the unit that started it (the started event is delivered on the
  * starting thread) and keeps every progress report.
  */
final class ProgressListener extends StreamingQueryListener {
  @volatile var unit: String = "-"
  private val runUnit = new ConcurrentHashMap[java.util.UUID, String]()
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): scala.Unit =
    runUnit.put(e.runId, unit)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): scala.Unit =
    progress.add((Option(runUnit.get(e.progress.runId)).getOrElse("-"), e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): scala.Unit = ()

  def of(units: String => Boolean): Seq[StreamingQueryProgress] =
    progress.asScala.collect { case (u, p) if units(u) => p }.toSeq
}

/** Span recorder: name, layer, start, end and parent span, kept in memory
  * and written out when the run ends.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long)

final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  @volatile var on = false

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet(); val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, layer, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def toJsonLines(t0: Long): Iterator[String] = spans.asScala.iterator.map(s =>
    Json.write(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
      "end_ms" -> (s.endNs - t0) / 1e6)))
}

/** Samples the stack of the first thread whose name starts with a prefix
  * and records, per sample, the first engine method of interest on it:
  * time spent inside a method whose jobs cannot be told apart by their
  * call site (a streaming query's jobs all carry its start site).
  */
final class StackSampler(threadPrefix: String, methods: Seq[(String, String)],
    val intervalMs: Long) {
  val samples = new ConcurrentLinkedQueue[(Long, String)]()
  val busyNs = new AtomicLong()
  @volatile private var running = true
  private val thread = new Thread(() => {
    var target: Option[Thread] = None
    while (running) {
      val t0 = System.nanoTime()
      if (target.forall(!_.isAlive))
        target = Thread.getAllStackTraces.keySet.asScala.find(_.getName.startsWith(threadPrefix))
      target.foreach { t =>
        t.getStackTrace.iterator.flatMap(f => methods.collectFirst {
          case (cls, m) if f.getClassName == cls && f.getMethodName == m => m
        }).nextOption().foreach(m => samples.add((System.currentTimeMillis(), m)))
      }
      busyNs.addAndGet(System.nanoTime() - t0)
      Thread.sleep(intervalMs)
    }
  }, "perfbench-stack-sampler")
  thread.setDaemon(true)

  def start(): scala.Unit = thread.start()
  def stop(): scala.Unit = if (thread.isAlive) { running = false; thread.join() }

  /** Seconds sampled inside `method` between two wall-clock instants. */
  def seconds(method: String, fromMs: Long, toMs: Long): Double =
    samples.asScala.count { case (t, m) => m == method && t >= fromMs && t <= toMs } *
      intervalMs / 1000.0
}
