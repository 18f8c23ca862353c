package graft.perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Everything one run measured, written as one JSON file for
  * `run.py` (which adds the oracle verdicts and prints the result). */
final class Report(o: Options) {
  var setup: Setup = Setup(0, 0, 0)
  var host: Map[String, Any] = Map.empty
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  val verdicts = mutable.LinkedHashMap.empty[String, Verdict]
  /** Per-op wall seconds, one entry per timed pass. */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Micro-batch latencies of the stream twin in ms, every timed pass. */
  val batchMs = mutable.ArrayBuffer.empty[Double]
  /** Per pass: (rows fed, feed wall seconds) of the stream twin. */
  val feeds = mutable.LinkedHashMap.empty[Int, (Long, Double)]
  /** Store call timings and footprints, name -> samples. */
  val storeCalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val health = mutable.ArrayBuffer.empty[Health]
  var passes = 0
  var persistedLeft = 0L
  /** Per pass: the heap live after it (see [[Host.liveHeapMb]]). */
  val liveHeapMb = mutable.ArrayBuffer.empty[Double]
  var functionRates: Map[String, Double] = Map.empty
  var layers: Map[String, Double] = Map.empty
  /** Seconds since JVM start at each phase boundary of the run. */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStart) / 1e3
  def mark(name: String): Unit = marks(name) = sinceJvmStart()

  def microBatch(pass: Int, rows: Int, ms: Double): Unit = {
    batchMs += ms
    val (n, s) = feeds.getOrElse(pass, (0L, 0.0))
    feeds(pass) = (n + rows, s + ms / 1e3)
  }

  def fail(op: String, where: String, msg: String): Unit =
    failures += Map("op" -> op, "where" -> where, "msg" -> msg)

  def record(name: String, v: Double): Unit =
    storeCalls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def opMedians: Map[String, Double] =
    walls.iterator.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap

  /** The end-to-end metrics. `cpu_s` is the process CPU time of a
    * pass, median over the passes; `live_heap_mb` the heap live after a
    * pass, least over the passes (what the run keeps live however long
    * Spark's cleaners take to free a pass's leftovers). */
  def endToEnd: Map[String, Double] = {
    val med = opMedians.values.toSeq
    val gmean = if (med.isEmpty) 0.0
                else math.exp(med.map(v => math.log(math.max(v, 1e-9))).sum / med.size)
    Map(
      "setup_s" -> marks.getOrElse("timed_start", 0.0),
      "total_s" -> med.sum,
      "gmean_s" -> gmean,
      "cpu_s" -> Stats.median(health.map(_.cpuS).toSeq),
      "live_heap_mb" -> liveHeapMb.minOption.getOrElse(0.0))
  }

  /** The stream twin's rows fed per second of feed wall time (median
    * over passes) and its median micro-batch latency; 0 without one. */
  def stream: Map[String, Double] = Map(
    "rows_per_s" -> Stats.median(feeds.values.collect {
      case (n, s) if s > 0 => n / s }.toSeq),
    "batch_p50_ms" -> Stats.median(batchMs.toSeq))

  def write(path: String): Unit = {
    def spread(xs: Seq[Double]): Map[String, Double] = Map(
      "median" -> Stats.median(xs), "q1" -> Stats.quantile(xs, 0.25),
      "q3" -> Stats.quantile(xs, 0.75), "n" -> xs.size.toDouble)
    val verdictJson = verdicts.map {
      case (k, Verdict.Ok) => k -> Map("kind" -> "self", "ok" -> true)
      case (k, Verdict.Oracle(p, sql)) =>
        k -> Map("kind" -> "oracle", "path" -> p, "sql" -> sql)
      case (k, Verdict.Fail(m)) => k -> Map("kind" -> "self", "ok" -> false, "msg" -> m)
    }.toMap
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "host" -> host,
      "setup" -> Map("session_s" -> setup.sessionS, "touch_s" -> setup.touchS,
        "warmup_s" -> setup.warmupS),
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "verdicts" -> verdictJson, "passes" -> passes,
      "ops" -> walls.map { case (k, v) => k -> spread(v.toSeq) }.toMap,
      "op_walls" -> walls.map { case (k, v) => k -> v.toSeq }.toMap,
      "batch_ms" -> spread(batchMs.toSeq),
      "store_calls" -> storeCalls.map { case (k, v) => k -> spread(v.toSeq) }.toMap,
      "health" -> health.map(h => Map("pass" -> h.pass, "wall_s" -> h.wallS,
        "cpu_s" -> h.cpuS, "steal_s" -> h.stealS)).toSeq,
      "feeds" -> feeds.map { case (p, (n, s)) =>
        p.toString -> Map("rows" -> n, "wall_s" -> s) }.toMap,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "persisted_left" -> persistedLeft, "marks" -> marks.toMap,
      "metrics" -> endToEnd, "stream" -> stream,
      "per_layer" -> layers)
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(out))
  }
}

object Report {
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .take(400) + (if (root ne e) s" (cause: ${root.getClass.getSimpleName}: " +
        s"${Option(root.getMessage).getOrElse("").take(200)})" else "")
  }
}
