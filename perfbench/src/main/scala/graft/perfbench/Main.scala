package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** Command line of one benchmark run (see `perfbench/run.py`, which
  * builds the classpath and passes every option). */
final case class Options(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, dataDir: String, workDir: String, outFile: String,
    spanFile: String, srcDir: String)

object Options {
  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("data"),
      need("work"), need("out"), need("spans"), need("src"))
  }
}

/** The benchmark driver: one JVM, one `local[k]` session, one workload.
  *
  * A run has two phases:
  *  1. set-up: session build, table page-cache touch, building the
  *     workload's ops (store bases included), one verification pass over
  *     every op (batch gates dump their result for the DuckDB oracle
  *     compare, the stream twin and store lifecycles check themselves),
  *     and one untimed warm-up pass, so that the JIT is nearer its steady
  *     state when timing starts. `setup_s` runs from JVM start to the
  *     start of the first timed op;
  *  2. timed passes over the ops, each in a seeded order, until
  *     `--seconds` are spent, and at least [[MinPasses]]. Every pass is
  *     kept. A full collection after each pass, outside the timed ops,
  *     measures the heap the pass left live.
  *
  * With `--trace 1` the [[Tracer]] listeners are registered for phase 2
  * and the per-layer record and span file are written. */
object Main {
  val MinPasses = 3
  /** An op still running after this long is cancelled and failed. */
  val OpTimeoutSec = 90

  def main(args: Array[String]): Unit = {
    val o = Options.parse(args)
    val report = new Report(o)
    val spark = session(o)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sessionS = report.sinceJvmStart()
      report.host = Host.facts(spark, o.cores)
      val n1 = System.nanoTime()
      touch(spark, o.dataDir)
      val touchS = (System.nanoTime() - n1) / 1e9
      val ctx = new Ctx(spark, o, report)
      val ops = Workloads.of(o.workload, ctx)
      verifyPass(ctx, ops)
      warmUpPass(ctx, ops)
      val tracer = if (o.trace) Some(Tracer.register(spark, o)) else None
      ctx.tracer = tracer
      report.mark("timed_start")
      report.setup = Setup(sessionS, touchS,
        report.marks("timed_start") - sessionS - touchS)
      timedPasses(ctx, ops)
      report.mark("timed_end")
      tracer.foreach { t =>
        Tracer.unregister(spark, t)
        report.functionRates = FunctionBench.run(ctx)
        report.layers = t.layers(report)
        t.writeSpans(o.spanFile, report)
        report.mark("trace_end")
      }
    } finally {
      report.write(o.outFile)
      spark.stop()
    }
  }

  // --------------------------------------------------------------- set-up
  private def session(o: Options): SparkSession =
    Sessions.tune(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
      .config("spark.local.dir", s"${o.workDir}/local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"))
      .getOrCreate()

  /** Read every input file through a fixed buffer (page cache) and
    * parse its footer, as `graft.Bench` does before timing. */
  private def touch(spark: SparkSession, dataDir: String): Unit = {
    val files = Files.list(Paths.get(dataDir))
    try files.iterator.asScala.toList
      .filter(_.toString.endsWith(".parquet")).sorted.foreach { p =>
        val in = Files.newInputStream(p)
        try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () }
        finally in.close()
        spark.read.parquet(p.toString).schema
      }
    finally files.close()
  }

  // ------------------------------------------------------------- passes
  private def verifyPass(ctx: Ctx, ops: Seq[Op]): Unit =
    Stats.shuffled(ops, ctx.o.seed, 0).foreach { op =>
      ctx.report.attempted += 1
      val verdict =
        try { op.prepare(ctx); ctx.guarded(op.name, "verify")(op.verify(ctx)) }
        catch { case e: Throwable => Verdict.Fail(Report.describe(e)) }
      ctx.report.verdicts(op.name) = verdict
      verdict match {
        case Verdict.Fail(msg) => ctx.report.fail(op.name, "verify", msg)
        case _ => ()
      }
      ctx.reset()
    }

  private def warmUpPass(ctx: Ctx, ops: Seq[Op]): Unit =
    Stats.shuffled(ops, ctx.o.seed, -1).foreach { op =>
      ctx.report.attempted += 1
      try { op.prepare(ctx); ctx.guarded(op.name, "warm-up")(op.timed(ctx)) }
      catch { case e: Throwable => ctx.report.fail(op.name, "warm-up", Report.describe(e)) }
      ctx.reset()
    }

  private def timedPasses(ctx: Ctx, ops: Seq[Op]): Unit = {
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var lastWall = 0.0
    while (pass < MinPasses || elapsed + lastWall <= ctx.o.seconds) {
      pass += 1
      val health = Health.start()
      Stats.shuffled(ops, ctx.o.seed, pass).foreach { op =>
        ctx.report.attempted += 1
        ctx.pass = pass
        val wall =
          try {
            op.prepare(ctx)
            ctx.tracer.foreach(_.opStart(op.name, pass))
            val w0 = System.nanoTime()
            try ctx.guarded(op.name, "timed")(op.timed(ctx))
            finally ctx.tracer.foreach(_.opEnd(op.name, pass))
            Some((System.nanoTime() - w0) / 1e9)
          } catch { case e: Throwable =>
            ctx.report.fail(op.name, s"pass $pass", Report.describe(e)); None }
        wall.foreach(ctx.report.walls.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += _)
        ctx.report.persistedLeft += sc.getPersistentRDDs.size
        ctx.reset()
      }
      val h = health.finish(pass)
      lastWall = h.wallS
      ctx.report.health += h
      ctx.report.liveHeapMb += Host.liveHeapMb()
    }
    ctx.report.passes = pass
  }
}

/** Shared state handed to every op. */
final class Ctx(val spark: SparkSession, val o: Options, val report: Report) {
  var tracer: Option[Tracer] = None
  /** The timed pass running, from 1; 0 before timing starts. */
  var pass: Int = 0
  def timing: Boolean = pass > 0
  private val counter = new java.util.concurrent.atomic.AtomicInteger()

  /** Between ops: drop cached data and the state stores of finished
    * stream queries, so that ops stay independent. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    org.apache.spark.sql.PerfbenchAccess.unloadStateStores()
  }

  /** A fresh directory under the run's work directory. */
  def scratch(tag: String): String = {
    val p = Paths.get(o.workDir, "stores", s"$tag-${counter.incrementAndGet()}")
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Tag the jobs `body` launches with `op` and `phase` (the tracer
    * attributes them through these local properties). */
  def phase[T](op: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.phase", phase)
    sc.setLocalProperty("perfbench.pass", pass.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      tracer.foreach(_.phaseDone(op, phase, pass, t0, System.currentTimeMillis()))
      sc.setLocalProperty("perfbench.phase", null)
    }
  }

  /** Run `body` on a worker thread; past [[Main.OpTimeoutSec]] every
    * job is cancelled and the op fails with a timeout. */
  def guarded[T](op: String, what: String)(body: => T): T = {
    @volatile var result: Either[Throwable, T] = null
    val th = new Thread(() => {
      result = try Right(body) catch { case e: Throwable => Left(e) }
    }, s"perfbench-$op")
    th.setDaemon(true)
    th.start()
    th.join(Main.OpTimeoutSec * 1000L)
    if (th.isAlive) {
      spark.sparkContext.cancelAllJobs()
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      th.interrupt(); th.join(30000L)
      throw new java.util.concurrent.TimeoutException(
        s"$op $what exceeded ${Main.OpTimeoutSec} s")
    }
    result match {
      case Right(v) => v
      case Left(e) => throw e
    }
  }
}

/** One unit of a workload: a timed call and an untimed self-check,
  * each after an untimed `prepare`. */
final case class Op(name: String, timed: Ctx => Unit,
                    verify: Ctx => Verdict, prepare: Ctx => Unit = _ => ())

sealed trait Verdict
object Verdict {
  case object Ok extends Verdict
  /** A batch result dumped to `path`; run.py compares it with the
    * DuckDB oracle `sql`. */
  final case class Oracle(path: String, sql: String) extends Verdict
  final case class Fail(msg: String) extends Verdict
}

/** Set-up parts in seconds: session build (from JVM start), table
  * touch, and the rest up to the first timed op (the workload's ops and
  * the verification and warm-up pass). */
final case class Setup(sessionS: Double, touchS: Double, warmupS: Double)

/** Per-pass run health: process CPU and host steal over the pass. */
final case class Health(pass: Int, wallS: Double, cpuS: Double, stealS: Double)
object Health {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Cumulative steal seconds from /proc/stat (USER_HZ = 100). */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
  final class Open(w0: Long, c0: Long, s0: Double) {
    def finish(pass: Int): Health = Health(pass, (System.nanoTime() - w0) / 1e9,
      (os.getProcessCpuTime - c0) / 1e9, stealSec() - s0)
  }
  def start(): Open = new Open(System.nanoTime(), os.getProcessCpuTime, stealSec())
}

/** Host facts recorded with every result. */
object Host {
  private def procField(file: String, key: String): Option[Long] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    } catch { case _: Throwable => None }

  /** Heap in use after a full collection, MB: what the run keeps live
    * (caches, state stores, retained job and query records). */
  def liveHeapMb(): Double = {
    // the first collection hands unreachable broadcasts and shuffles to
    // Spark's context cleaner, which frees their blocks; the second
    // collects those
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def facts(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_kb" -> procField("/proc/meminfo", "MemTotal").getOrElse(0L),
    "k" -> cores,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jvm" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master)
}

object Stats {
  /** `xs` in the order the seed gives for `pass`. */
  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** Quantile by linear interpolation at position q·(n + 1) of the
    * sorted sample (the "exclusive" method), clamped to its range. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length == 1) s.head
    else {
      val pos = q * (s.length + 1) - 1
      val lo = math.max(0, math.min(s.length - 1, math.floor(pos).toInt))
      val hi = math.min(s.length - 1, lo + 1)
      val f = math.max(0.0, math.min(1.0, pos - lo))
      s(lo) + (s(hi) - s(lo)) * f
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
