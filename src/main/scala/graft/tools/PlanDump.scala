package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.regex.Pattern
import scala.util.matching.Regex

/** Optimization-round measurement harness (guide §1): for each named
  * gate query, runs the full contracted result through the noop sink
  * (min of `passes`), captures `.explain("formatted")` to
  * `<outDir>/<query>_<tag>.txt`, and reports per-query job/stage/task
  * counts plus shuffle read/write bytes from a SparkListener — the
  * plan-shape evidence (Exchange count, join strategy, scan pushdown)
  * next to the empirical cost (where the bytes actually move).
  *
  * The explain files are written [[canonical]], so two runs of one
  * plan give byte-equal files and `diff -r` of two dump directories
  * shows plan changes only.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag>
  *        <all|name1,name2,...> [passes]
  */
object PlanDump {

  private def renumber(text: String, re: Regex, prefix: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    re.replaceAllIn(text, m =>
      prefix + ids.getOrElseUpdate(m.group(1), ids.size))
  }

  private val TmpSuffix = (Pattern.quote(System.getProperty("java.io.tmpdir")) +
    """(/[\w.-]*?[A-Za-z_])\d+(?=[/\]\s,]|$)""").r

  /** `plan` with its per-run identities made canonical: expression ids
    * (`#n`) and `plan_id=n` renumbered in order of first appearance,
    * and lambda class names, RDD ids, the source lines of RDD call
    * sites and the random suffixes of temp directories masked. So are
    * the ids of AQE query stages and of their codegen stages: inside
    * an executed cached plan they follow the order in which
    * concurrent stages finished (the tree's `*` still marks every
    * codegen'd operator). */
  private def canonical(plan: String): String = {
    val ids = renumber(renumber(plan, """#(\d+)""".r, "#"),
      """plan_id=(\d+)""".r, "plan_id=")
    val masked = ids
      .replaceAll("""\$Lambda[^@\s]*@[0-9a-f]+""", Regex.quoteReplacement("$Lambda"))
      .replaceAll("""RDD\[\d+\]""", "RDD[_]")
      .replaceAll("""\.scala:\d+""", ".scala:_")
      .replaceAll("""\[codegen id : \d+\]""", "[codegen id : _]")
      .replaceAll("""(\(\d+\) \w+QueryStage\n(?:(?!Arguments: )[^\n]*\n)*?Arguments: )\d+""", "$1_")
    TmpSuffix.replaceAllIn(masked, m => Regex.quoteReplacement("<tmp>" + m.group(1) + "_"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val sel = args(3)
    val passes = if (args.length > 4) args(4).toInt else 2
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Sessions.local()

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val inBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    })
    // the listener runs on Spark's event thread: drain the bus before a
    // reset and before a read, so every pass counts exactly its own events
    def drain(): Unit =
      org.apache.spark.sql.classic.GraftBridge.drainListeners(spark.sparkContext)
    def resetCounters(): Unit = {
      drain()
      jobs.set(0); stages.set(0); tasks.set(0)
      shufR.set(0); shufW.set(0); inBytes.set(0)
    }

    // same warm-up discipline as Bench: page cache + JIT/codegen
    try {
      val w = graft.Tables.lineitem(spark, sfDir)
      w.groupBy(org.apache.spark.sql.functions.col("l_returnflag")).count().count()
    } catch { case _: Throwable => () }

    val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val names = if (sel == "all") all
      else { val want = sel.split(",").toSet; all.filter(p => want(p._1)) }
    println(f"${"query"}%-30s ${"min_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shufMB"}%8s ${"inMB"}%8s")
    val rows = names.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val plan = graft.Cached.scope {
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        canonical(plan).getBytes("UTF-8"))
      var best = Double.MaxValue
      var bj = 0; var bs = 0; var bt = 0; var bsh = 0L; var bin = 0L
      for (_ <- 1 to passes) graft.Cached.scope {
        resetCounters()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage.take(200)}") }
        val dt = (System.nanoTime() - t0) / 1e9
        drain()
        if (dt < best) {
          best = dt; bj = jobs.get; bs = stages.get; bt = tasks.get
          bsh = shufR.get + shufW.get; bin = inBytes.get
        }
      }
      println(f"$name%-30s $best%8.3f $bj%5d $bs%7d $bt%6d ${bsh / 1e6}%8.1f ${bin / 1e6}%8.1f")
      (name, best)
    }
    println(f"TOTAL ${rows.map(_._2).sum}%.3f s over ${rows.size} queries")
    spark.stop()
  }
}
