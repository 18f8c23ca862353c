package graft

object Bench {

  /** Outcome of the sweep+retry measurement loop ([[measure]]). */
  private[graft] case class Measured(
      results: Map[String, Double],
      passes: Int,
      starved: Seq[String],
      isolated: Seq[String],
      outliers: Seq[String],
      starvedPasses: Int)

  /** Cross-round outlier rule: a clean reading is SUSPECT when a
    * prior committed artifact at the same SF read the query at less
    * than half the value — min-of-sweeps cannot help when a host-
    * contention window spans ALL sweep passes of one query without
    * tripping the per-pass starvation guard (the driver's round-14
    * artifact carried x87 at 9.49 s vs 3.56 s measured clean on the
    * same binary; both its passes were contended). The absolute floor
    * keeps the ambient band's sub-second swings (fixed overheads move
    * 1.3-1.8x run to run) out of the retry path. */
  private[graft] def isOutlier(value: Double, baseline: Double,
      factor: Double = 2.0, floorSec: Double = 1.5): Boolean =
    baseline > 0 && value > baseline * factor && value > floorSec

  /** The prior committed artifact's per-query readings, or empty when
    * the file is absent, unparseable, or measured a DIFFERENT SF (a
    * baseline from another scale says nothing about this run). */
  private[graft] def parseBaseline(json: String, sfDir: String)
      : Map[String, Double] =
    try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(json)
      if (root.path("sf").asText("") != sfDir) Map.empty
      else {
        val qs = root.path("queries")
        import scala.jdk.CollectionConverters._
        qs.properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble(-1.0))
          .filter(_._2 > 0).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The sweep + isolated-retry loop, seamed for the spec: `pass`
    * runs one timed pass of a query and reports (wallSec, starved);
    * `elapsed` is the wall budget clock; `settle` pauses between
    * retry rounds so a multi-second contention window can pass.
    *
    * Sweeps are interleaved (pass 1 over every query, then pass 2, …)
    * and each query reports its minimum CLEAN reading. Two guards
    * then route queries through dedicated isolated retries:
    *  - the per-pass STARVATION guard (a pass whose process-CPU or
    *    steal ticks say the machine withheld CPU never sets the min);
    *  - the CROSS-ROUND guard: a clean min that is >2x the prior
    *    committed artifact's reading at the same SF is retried
    *    isolated too — the round-14 blind spot, where contention hit
    *    every sweep pass of one query without tripping the per-pass
    *    guard and the artifact shipped a phantom 2.6x regression with
    *    nothing marking it suspect.
    * Any query whose REPORTED value was produced by a retry-phase
    * pass is named in `isolated`; queries still starved after every
    * retry are named in `starved`; queries still >2x baseline after
    * the retries are named in `outliers` — either a real regression
    * or an unresolved contention window, but never silent. */
  private[graft] def measure(
      names: Seq[String],
      pass: String => (Double, Boolean),
      reps: Int,
      budgetSec: Double,
      baseline: Map[String, Double],
      elapsed: () => Double,
      settle: () => Unit): Measured = {
    var minClean = Map.empty[String, Double]
    var minAny = Map.empty[String, Double]
    var starvedPasses = Map.empty[String, Int]
    var runs = Map.empty[String, Int]
    // queries whose reported value came from a retry-phase pass (a
    // first clean reading, or a retry beating a contended sweep min)
    var isolated = Set.empty[String]
    var inRetryPhase = false
    def record(name: String): Unit = {
      val (dt, starved) = pass(name)
      if (dt < minAny.getOrElse(name, Double.MaxValue))
        minAny = minAny.updated(name, dt)
      if (!starved && dt < minClean.getOrElse(name, Double.MaxValue)) {
        if (inRetryPhase) isolated += name
        minClean = minClean.updated(name, dt)
      }
      if (starved)
        starvedPasses = starvedPasses.updated(
          name, starvedPasses.getOrElse(name, 0) + 1)
      runs = runs.updated(name, runs.getOrElse(name, 0) + 1)
    }
    var sweep = 0
    while (sweep < reps && (sweep < 2 || elapsed() < budgetSec)) {
      names.foreach(record)
      sweep += 1
    }
    // dedicated ISOLATED retries, one query at a time after a settle
    // pause, for (a) queries every sweep starved and (b) clean-but-
    // suspect cross-round outliers
    def needsRetry(n: String): Boolean =
      !minClean.contains(n) ||
        baseline.get(n).exists(b => isOutlier(minClean(n), b))
    inRetryPhase = true
    var retry = 0
    while (retry < 6 && elapsed() < budgetSec && names.exists(needsRetry)) {
      if (retry > 0) settle()
      names.filter(needsRetry).foreach(record)
      retry += 1
    }
    val results = names.map { n =>
      n -> minClean.getOrElse(n, minAny.getOrElse(n, -1.0)) }.toMap
    val starvedFinal = names.filter(n =>
      !minClean.contains(n) && minAny.contains(n))
    val outliersFinal = names.filter(n =>
      minClean.contains(n) &&
        baseline.get(n).exists(b => isOutlier(minClean(n), b)))
    Measured(results, if (runs.nonEmpty) runs.values.min else 0,
      starvedFinal, isolated.toSeq.sorted.filter(n =>
        results.get(n) == minClean.get(n)),
      outliersFinal, starvedPasses.values.sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Pre-touch every table, untimed: read each parquet file's bytes
    // (OS page cache) and its footer (schema). A cold first sweep
    // otherwise charges the whole corpus's disk I/O to whichever
    // queries run first — one poisoned pass of min-of-2 was enough to
    // inflate the round-7 driver artifact's x19 by 3.5x. Scan-only:
    // no query work is warmed, just the storage layer under all of
    // them equally.
    try {
      import scala.util.Using
      import scala.jdk.CollectionConverters._
      // stream bytes through a fixed buffer (page-cache touch only —
      // a large SF must not be pulled into driver heap), and close
      // every directory stream (Files.list leaks an fd otherwise)
      def touch(f: java.nio.file.Path): Unit =
        Using.resource(java.nio.file.Files.newInputStream(f)) { in =>
          val buf = new Array[Byte](1 << 20)
          while (in.read(buf) >= 0) ()
        }
      val dir = java.nio.file.Paths.get(sfDir)
      Using.resource(java.nio.file.Files.list(dir))(_.iterator.asScala.toList)
        .filter(_.toString.endsWith(".parquet")).foreach { p =>
          if (java.nio.file.Files.isDirectory(p))
            Using.resource(java.nio.file.Files.list(p))(
              _.iterator.asScala.toList)
              .filter(_.toString.endsWith(".parquet")).foreach(touch)
          else touch(p)
          // footer parse through the reader the gates use, so its
          // schema memo is filled before anything is timed
          Tables.table(spark, sfDir,
            p.getFileName.toString.stripSuffix(".parquet")).schema
        }
    } catch { case scala.util.control.NonFatal(_) => () }
    // Warm the session before timing: JIT, codegen compiler, shuffle
    // and broadcast machinery otherwise land entirely in whichever
    // query happens to run first (~8s of non-query cost observed).
    try {
      val w = Tables.lineitem(spark, sfDir)
      w.groupBy(org.apache.spark.sql.functions.col("l_returnflag")).count().count()
      w.limit(10).join(org.apache.spark.sql.functions.broadcast(w.limit(10)),
        "l_orderkey").count()
    } catch { case _: Throwable => () }
    // This sandbox intermittently starves CPU (identical queries
    // measured 0.3s and 16s across runs with no code change), so a
    // single pass is not a measurement. Passes are interleaved as
    // FULL SWEEPS (pass 1 over every query, then pass 2, …) and each
    // query reports its MINIMUM: a multi-second starvation window
    // then inflates one pass of several queries — whose other sweeps
    // are clean — instead of ALL passes of whichever query it landed
    // on (measured: x14 18.1s with back-to-back passes inside one
    // window vs 1.9s isolated; the same run poisoned x19 7.7s on a
    // different attempt — the window strikes at random). Sweeps 2+
    // also ride warm codegen/page caches. Two sweeps are
    // UNCONDITIONAL; the wall budget only gates extra sweeps — so a
    // starved first sweep can never again collapse the whole bench to
    // a single-pass artifact (round 2's 991.9s run).
    val reps = math.max(2, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "4").toInt)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "420").toInt
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // dev-only: SPARK_GRAFT_BENCH_ONLY=x04_...,x19_... restricts the
    // run (isolating one query from suite-order effects); the driver
    // sets no filter and always measures the full gate
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val fnOf = names.toMap
    // CROSS-ROUND baseline: the previously committed artifact at the
    // same SF. Read BEFORE the run — the run overwrites the file.
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BASELINE", "BENCH_SELF.json")
    val baseline =
      try parseBaseline(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baselinePath)), "UTF-8"), sfDir)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Double] }
    // STARVATION GUARD: min-of-sweeps cannot help when EVERY pass of
    // a query lands in a contention window (round-11's driver
    // artifact read x95 at 42.6s on sf0.1 vs 24.9s on sf1 — 10x the
    // data — which is physically impossible as steady state). Each
    // pass therefore also measures what the machine actually gave
    // us: the JVM's process-CPU delta and /proc/stat's steal ticks.
    // A pass is STARVED when its wall time is non-trivial and either
    // the whole 32-thread process averaged under half of ONE core
    // (it wanted CPU and didn't get it — even a single-stream stage
    // keeps one core busy) or the hypervisor stole >25% of the
    // window. Starved passes never set a query's reported minimum
    // unless NO clean pass exists; queries left with only starved
    // readings get dedicated retries after the sweeps, and any that
    // STILL report a starved reading are named in the `starved`
    // field of the artifact so a consumer can discount them.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def stealTicks: Long =
      try {
        val line = scala.io.Source.fromFile("/proc/stat").getLines()
          .find(_.startsWith("cpu ")).getOrElse("")
        val f = line.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L // field 8 = steal
      } catch { case _: Throwable => 0L }
    val hz = 100.0 // USER_HZ: Linux fixes the /proc/stat tick at 100
    def timedPass(name: String): (Double, Boolean) = {
      // the gate's persisted intermediates are released when the scope
      // ends, after the clocks are read: dead entries would otherwise
      // pollute every later query's measurement (x19 read 10.3 s vs
      // 4 s isolated), and releasing them is not the gate's time
      val (dt, cpuSec, stealSec) = Cached.scope {
        val w0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
        val st0 = stealTicks
        // Evaluate the FULL contracted result (noop sink): a count()
        // action lets Catalyst prune computed columns and eliminate the
        // output sort, so projection-shaped gates measured scan-only
        // (x08 read 0.106 s; the round-15 per-row x96 would have read
        // 0.016 s at sf1 — pure fiction). The noop write produces every
        // output row as Verify's parquet write does, minus encode+IO.
        // NOT comparable to pre-round-15 artifacts for projection gates
        // (PERF.md documents the re-baseline).
        try {
          fnOf(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch { case _: Throwable => () }
        ((System.nanoTime() - w0) / 1e9,
          (osBean.getProcessCpuTime - c0) / 1e9, (stealTicks - st0) / hz)
      }
      val starved = dt > 0.5 &&
        (cpuSec < dt * 0.5 || stealSec > dt * 0.25)
      (dt, starved)
    }
    val m = measure(names.map(_._1), timedPass, reps, budgetSec,
      baseline, () => elapsed,
      // let the contention window pass between retry rounds
      () => Thread.sleep(3000))
    val results = m.results
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // the keep-list shares its signature/pair tables with the minhash
    // pair pass — the contract is x19 <= ~1.3x x04 (judged per round)
    val ratio = (results.get("x19_dedup_keep"), results.get("x04_dedup_minhash")) match {
      case (Some(a), Some(b)) if b > 0 => a / b
      case _ => -1.0
    }
    def jarr(xs: Seq[String]): String =
      xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","passes":${m.passes},"agg":"min-per-clean-pass","starved":${jarr(m.starved)},"isolated":${jarr(m.isolated)},"outliers":${jarr(m.outliers)},"starved_passes":${m.starvedPasses},"x19_over_x04":$ratio}"""
    println(json)
    // Write the full-name JSON to a file: the round driver captures
    // only the last ~2000 chars of stdout, which truncated the
    // 120-entry line in rounds 4-9 — the file artifact is the full
    // record.
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    // The driver's artifact is the LAST ~2000 stdout chars parsed as
    // JSON, so the final line must fit whole: abbreviate each query
    // name to its unique qNN/xNN prefix and round to ms. The full
    // names are in the file above (committed in-tree per round).
    def r3(v: Double): String = f"$v%.3f".reverse.dropWhile(_ == '0')
      .dropWhile(_ == '.').reverse
    val shortQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // "abbrev":true distinguishes this record from the full-name
    // "metric":"total" line above (same metric tag, different schema —
    // a grep-based consumer must be able to tell them apart)
    def short(xs: Seq[String]): String = jarr(xs.map(_.takeWhile(_ != '_')))
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","abbrev":true,"queries":$shortQs,"sf":"$sfDir","passes":${m.passes},"agg":"min-per-clean-pass","starved":${short(m.starved)},"isolated":${short(m.isolated)},"outliers":${short(m.outliers)},"starved_passes":${m.starvedPasses},"x19_over_x04":${r3(ratio)},"names":"qNN/xNN prefixes; full map in BENCH_SELF.json"}""")
  }
}
