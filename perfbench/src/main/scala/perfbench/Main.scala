package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run configuration, parsed from `--key value` arguments. */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, work: String, cpus: Int,
    stallMs: Long, scratch: Seq[String])

/** JVM side of the benchmark: runs one workload against the engine as a
  * library and writes `result.json` (plus gate outputs and, when traced,
  * `spans.jsonl`) into the run's output directory. The Python runner
  * (`perfbench/run.py`) generates the inputs, checks the outputs and
  * prints the metrics.
  */
object Main {
  def main(args: Array[String]): scala.Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("work"), kv("cpus").toInt,
      kv.getOrElse("stall-ms", "0").toLong,
      kv.getOrElse("scratch", "").split(",").filter(_.nonEmpty).toSeq)
    new File(c.out).mkdirs()
    val sampler = new ScratchSampler(c.scratch)
    if (c.trace) sampler.start()
    val result = try c.workload match {
      case "recommend_stream" => RecommendStream.run(c)
      case "query_mix" => Mix.run(c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally sampler.stop()
    val layers = if (c.trace) Map("sources.scratch_peak_mb" -> sampler.peakMb) else Map.empty
    val record = result ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "per_layer" -> (result.getOrElse("per_layer", Map.empty)
        .asInstanceOf[Map[String, Any]] ++ layers))
    Files.writeString(Paths.get(c.out, "result.json"), Json.write(record))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The engine session: one process, `local[cpus]`, UI off, warehouse,
    * local and metastore directories kept inside the run's work dir.
    */
  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `reps` times and keep the last session and whatever `prepare`
    * built in it. The first set-up starts the engine (JVM class loading,
    * SparkContext); later ones start a new session on the same context,
    * which isolates SQL configuration and temporary views. Returns the
    * seconds each set-up took.
    */
  def setUp[T](c: Conf, reps: Int)(prepare: SparkSession => T): (SparkSession, T, Seq[Double]) = {
    var last: Option[(SparkSession, T)] = None
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val s = last.map(_._1.newSession()).getOrElse(session(c))
      last = Some((s, prepare(s)))
      (System.nanoTime() - t0) / 1e9
    }
    (last.get._1, last.get._2, times)
  }

  def writeLines(path: java.nio.file.Path, lines: Iterator[String]): scala.Unit = {
    val w = new java.io.PrintWriter(Files.newBufferedWriter(path))
    try lines.foreach(w.println) finally w.close()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Cumulative JVM garbage-collection seconds across all collectors. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def resetHeapPeak(): scala.Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Linear-interpolated percentiles and other summaries of samples. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Samples the bytes held under the engine's scratch directories (its
  * tmpfs and temp-dir scratch, bound inside the run's work dir) and
  * keeps the peak.
  */
final class ScratchSampler(dirs: Seq[String]) {
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private val thread = new Thread(() => {
    while (running) {
      peakBytes = math.max(peakBytes, dirs.map(d => size(new File(d))).sum)
      Thread.sleep(200)
    }
  }, "perfbench-scratch-sampler")
  thread.setDaemon(true)

  private def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    else f.length()

  def start(): scala.Unit = thread.start()
  def stop(): scala.Unit = if (thread.isAlive) { running = false; thread.join() }
  def peakMb: Double = peakBytes / 1048576.0
}
