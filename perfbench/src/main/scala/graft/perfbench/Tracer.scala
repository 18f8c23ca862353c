package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: a `SparkListener` (jobs, stages,
  * tasks, SQL executions), a `QueryExecutionListener` (Catalyst phase
  * times) and a `StreamingQueryListener` (micro-batch progress), plus
  * the driver-side op and phase intervals [[Ctx.phase]] reports.
  *
  * Jobs carry the op, phase and pass as local properties; stages and
  * tasks reach their op through their job. [[layers]] folds it all into
  * per-pass workload totals, [[writeSpans]] into the span file
  * (op → build/action phase → SQL execution → job → stage). */
final class Tracer(k: Int, modules: Map[String, String]) {
  import Tracer._

  private val lock = new Object
  private val opOpen = mutable.Map.empty[(String, Int), Long]
  private val ops = mutable.ArrayBuffer.empty[Interval]
  private val phases = mutable.ArrayBuffer.empty[Interval]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  private val plannings = mutable.ArrayBuffer.empty[Planning]
  private val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  def opStart(op: String, pass: Int): Unit = lock.synchronized {
    opOpen((op, pass)) = System.currentTimeMillis() }
  def opEnd(op: String, pass: Int): Unit = lock.synchronized {
    ops += Interval(op, "op", pass, opOpen.remove((op, pass)).getOrElse(0L),
      System.currentTimeMillis()) }
  def phaseDone(op: String, phase: String, pass: Int, t0: Long, t1: Long): Unit =
    lock.synchronized { phases += Interval(op, phase, pass, t0, t1) }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(key: String): String = p.map(_.getProperty(key)).orNull
      val rec = JobRec(e.jobId, e.time, prop("perfbench.op"),
        prop("perfbench.phase"), Option(prop("perfbench.pass")).map(_.toInt).getOrElse(-1),
        Option(prop("spark.sql.execution.id")).map(_.toLong),
        // the result stage is named after the job's call site
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""),
        prop("sql.streaming.queryId") != null, e.stageIds)
      jobs(e.jobId) = rec
      e.stageInfos.foreach { si =>
        stages.getOrElseUpdate((si.stageId, si.attemptNumber()),
          new StageRec(si.stageId, si.attemptNumber(), e.jobId, si.name, si.numTasks))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        val s = stages.getOrElseUpdate((si.stageId, si.attemptNumber()),
          new StageRec(si.stageId, si.attemptNumber(), -1, si.name, si.numTasks))
        s.submitted = true
        s.start = si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        stages.get((si.stageId, si.attemptNumber())).foreach(
          _.end = si.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(e.stageId, e.stageAttemptId, -1, "", 0))
      s.tasks += 1
      s.overheadMs += math.max(0L, e.taskInfo.duration -
        Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqls(s.executionId) = new SqlRec(s.executionId, s.time, s.description,
          Option(s.details).getOrElse("")) }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqls.get(s.executionId).foreach(_.end = s.time) }
      case _ => ()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      lock.synchronized {
        plannings += Planning(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Module of the repo file that issued a job, from a call site such
    * as `count at Extensions.scala:4648`: the job's own, else (for the
    * stages adaptive execution launches from its thread pool) that of
    * its SQL execution, else the innermost repo frame of that
    * execution's call stack (for executions given a job description).
    * Micro-batch jobs belong to `streaming`. */
  private def moduleOf(j: JobRec): String = {
    def of(site: String) = CallSite.findFirstMatchIn(site).flatMap(m => modules.get(m.group(1)))
    lazy val sql = j.execId.flatMap(sqls.get)
    if (j.streaming) "streaming"
    else of(j.callSite)
      .orElse(sql.flatMap(s => of(s.description)))
      .orElse(sql.flatMap(s => Frame.findAllMatchIn(s.details)
        .flatMap(m => modules.get(m.group(1))).nextOption()))
      .getOrElse("other")
  }

  /** Per-pass workload totals of every per-layer metric. */
  def layers(r: Report): Map[String, Double] = lock.synchronized {
    val passes = math.max(1, r.passes).toDouble
    val tagged = jobs.values.filter(j => j.op != null && j.pass > 0).toSeq
    val jobIds = tagged.map(_.id).toSet
    val st = stages.values.filter(s => jobIds.contains(s.jobId)).toSeq
    val ran = st.filter(_.submitted)
    def sum(f: StageRec => Double): Double = ran.map(f).sum
    val opWall = ops.map(i => (i.end - i.start) / 1e3).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = m(k) = v

    put("setup.session_s", r.setup.sessionS)
    put("setup.touch_s", r.setup.touchS)
    put("setup.warmup_s", r.setup.warmupS)

    def phaseSec(p: String) = phases.filter(_.phase == p).map(i => (i.end - i.start) / 1e3).sum
    put("queries.build_s", phaseSec("build") / passes)
    put("queries.eager_jobs", tagged.count(_.phase == "build") / passes)
    put("queries.action_s", phaseSec("action") / passes)

    put("catalyst.analysis_ms", plannings.map(_.analysisMs).sum / passes)
    put("catalyst.optimization_ms", plannings.map(_.optimizationMs).sum / passes)
    put("catalyst.planning_ms", plannings.map(_.planningMs).sum / passes)
    put("catalyst.executions", plannings.size / passes)

    put("sched.jobs", tagged.size / passes)
    put("sched.stages", ran.size / passes)
    // a stage a job lists but did not run itself was skipped by that job
    val byId = stages.values.groupBy(_.id).view.mapValues(_.minBy(_.attempt)).toMap
    put("sched.skipped_stages", tagged.map(j => j.stageIds.count(id =>
      byId.get(id).forall(s => !s.submitted || s.jobId != j.id))).sum / passes)
    put("sched.tasks", sum(_.tasks.toDouble) / passes)
    put("sched.task_overhead_ms", sum(_.overheadMs.toDouble) / passes)
    // op wall time not covered by any of the op's jobs
    val gaps = ops.map { i =>
      val iv = tagged.filter(j => j.op == i.op && j.pass == i.pass && j.end > 0)
        .map(j => (math.max(j.start, i.start), math.min(j.end, i.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = i.start
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b } }
      (i.end - i.start - covered) / 1e3
    }
    put("sched.driver_gap_s", gaps.sum / passes)

    put("exec.run_s", sum(_.runMs / 1e3) / passes)
    put("exec.cpu_s", sum(_.cpuNs / 1e9) / passes)
    put("exec.gc_s", sum(_.gcMs / 1e3) / passes)
    put("exec.core_util", if (opWall > 0) sum(_.runMs / 1e3) / (opWall * k) else 0.0)

    put("scan.bytes", sum(_.inBytes.toDouble) / passes)
    put("scan.rows", sum(_.inRows.toDouble) / passes)
    put("shuffle.write_bytes", sum(_.shWriteBytes.toDouble) / passes)
    put("shuffle.read_bytes", sum(_.shReadBytes.toDouble) / passes)
    put("shuffle.fetch_wait_ms", sum(_.fetchWaitMs.toDouble) / passes)
    put("shuffle.write_ms", sum(_.shWriteNs / 1e6) / passes)
    put("mem.spill_bytes", sum(_.spillBytes.toDouble) / passes)
    put("mem.peak_exec_bytes", if (ran.isEmpty) 0.0 else ran.map(_.peakExec).max.toDouble)
    put("cache.persisted_left", r.persistedLeft / passes)

    val byModule = tagged.groupBy(moduleOf)
    val runByJob = ran.groupBy(_.jobId).view.mapValues(_.map(_.runMs).sum).toMap
    Modules.foreach { mod =>
      val js = byModule.getOrElse(mod, Nil)
      put(s"module.$mod.jobs", js.size / passes)
      put(s"module.$mod.exec_s", js.map(j => runByJob.getOrElse(j.id, 0L)).sum / 1e3 / passes)
    }

    FunctionBench.Names.foreach(f =>
      put(s"functions.$f.rows_per_s", r.functionRates.getOrElse(f, 0.0)))

    StoreKeys.foreach { key =>
      val xs = r.storeCalls.get(key).map(_.toSeq).getOrElse(Nil)
      put(key, Stats.median(xs))
    }

    val pr = progress.toSeq
    def dur(key: String): Double =
      pr.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    put("stream.add_batch_ms", dur("addBatch") / passes)
    put("stream.query_planning_ms", dur("queryPlanning") / passes)
    put("stream.get_batch_ms", dur("getBatch") / passes)
    put("stream.wal_commit_ms", dur("walCommit") / passes)
    put("stream.commit_offsets_ms", dur("commitOffsets") / passes)
    put("stream.jobs_per_batch",
      if (pr.isEmpty) 0.0 else tagged.count(_.streaming).toDouble / pr.size)
    val lags = pr.flatMap { p =>
      val et = p.eventTime
      for (w <- Option(et.get("watermark")) if !w.startsWith("1970");
           mx <- Option(et.get("max")))
        yield (java.time.Instant.parse(mx).toEpochMilli -
          java.time.Instant.parse(w).toEpochMilli).toDouble
    }
    put("stream.watermark_lag_ms", Stats.median(lags))
    val sops = pr.flatMap(_.stateOperators.toSeq)
    // state size: each query's last report, summed over the twins
    val lastState = pr.groupBy(_.name).values.map(_.maxBy(_.batchId))
      .flatMap(_.stateOperators.toSeq).toSeq
    put("state.rows_total", lastState.map(_.numRowsTotal.toDouble).sum / passes)
    put("state.memory_bytes", lastState.map(_.memoryUsedBytes.toDouble).sum / passes)
    put("state.commit_ms", sops.map(_.commitTimeMs.toDouble).sum / passes)
    put("state.update_ms", sops.map(_.allUpdatesTimeMs.toDouble).sum / passes)
    put("state.removal_ms", sops.map(_.allRemovalsTimeMs.toDouble).sum / passes)
    put("state.dropped_by_watermark",
      sops.map(_.numRowsDroppedByWatermark.toDouble).sum / passes)
    r.stream.foreach { case (k, v) => put(s"stream.$k", v) }
    put("trace.total_s", r.endToEnd("total_s"))
    m.toMap
  }

  /** One JSON object per line: id, parent, kind, name, start/end ms and
    * the span's own measurements. */
  def writeSpans(path: String, r: Report): Unit = lock.synchronized {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val out = mutable.ArrayBuffer.empty[String]
    def emit(id: String, parent: String, kind: String, name: String,
             start: Long, end: Long, attrs: Map[String, Any]): Unit =
      out += mapper.writeValueAsString(Map("id" -> id, "parent" -> parent,
        "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs)
    def opId(op: String, pass: Int) = s"op/$pass/$op"
    def phaseId(op: String, phase: String, pass: Int) = s"phase/$pass/$op/$phase"
    ops.foreach(i => emit(opId(i.op, i.pass), null, "op", i.op, i.start, i.end,
      Map("pass" -> i.pass)))
    phases.foreach(i => emit(phaseId(i.op, i.phase, i.pass), opId(i.op, i.pass),
      "phase", i.phase, i.start, i.end, Map("pass" -> i.pass)))
    // a SQL execution hangs under the phase its first job was tagged
    // with, or else under the phase whose interval contains its start
    val sqlParent = mutable.Map.empty[Long, String]
    jobs.values.foreach { j =>
      for (x <- j.execId if j.op != null && !sqlParent.contains(x))
        sqlParent(x) = phaseId(j.op, j.phase, j.pass)
    }
    sqls.values.foreach { s =>
      val parent = sqlParent.get(s.id).orElse(phases.find(i =>
        i.start <= s.start && s.start <= i.end).map(i => phaseId(i.op, i.phase, i.pass)))
      if (parent.nonEmpty)
        emit(s"sql/${s.id}", parent.get, "sql", s.description.take(120),
          s.start, s.end, Map.empty)
    }
    jobs.values.filter(_.op != null).foreach { j =>
      val parent = j.execId.filter(sqls.contains).map(x => s"sql/$x")
        .getOrElse(phaseId(j.op, j.phase, j.pass))
      emit(s"job/${j.id}", parent, "job", j.callSite, j.start, j.end,
        Map("module" -> moduleOf(j), "stages" -> j.stageIds.size))
    }
    stages.values.filter(s => jobs.get(s.jobId).exists(_.op != null)).foreach { s =>
      emit(s"stage/${s.id}.${s.attempt}", s"job/${s.jobId}", "stage", s.name,
        s.start, s.end, Map("skipped" -> !s.submitted, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000L, "gc_ms" -> s.gcMs,
          "input_bytes" -> s.inBytes, "shuffle_read_bytes" -> s.shReadBytes,
          "shuffle_write_bytes" -> s.shWriteBytes, "spill_bytes" -> s.spillBytes))
    }
    Files.writeString(Paths.get(path), out.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Interval(op: String, phase: String, pass: Int, start: Long, end: Long)
  final case class JobRec(id: Int, start: Long, op: String, phase: String,
      pass: Int, execId: Option[Long], callSite: String, streaming: Boolean,
      stageIds: Seq[Int]) { var end: Long = 0L }
  final class StageRec(val id: Int, val attempt: Int, val jobId: Int,
                       val name: String, val numTasks: Int) {
    var submitted = false; var start = 0L; var end = 0L
    var tasks = 0L; var overheadMs = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var inBytes = 0L; var inRows = 0L; var shWriteBytes = 0L
    var shWriteNs = 0L; var shReadBytes = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L; var peakExec = 0L
  }
  final class SqlRec(val id: Long, val start: Long, val description: String,
                     val details: String) {
    var end = 0L
  }
  final case class Planning(start: Long, analysisMs: Long, optimizationMs: Long,
                            planningMs: Long)

  private val CallSite = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  val Modules: Seq[String] = Seq("Tables", "Relational", "Extensions", "ops",
    "RegistryStore", "AnnStore", "Media", "streaming", "final")

  val StoreKeys: Seq[String] = Seq("registry.write_s", "registry.append_s",
    "registry.compact_s", "registry.read_s", "registry.files",
    "registry.bytes_per_input_byte", "ann.build_s", "ann.append_s",
    "ann.compact_s", "ann.read_s", "ann.files", "ann.bytes_per_input_byte")

  /** Source file name → module, from the library's source tree: the
    * `ops` and `streaming` packages are modules, as are the named
    * files; the benchmark's own files are `final`. */
  def modulesOf(srcDir: String): Map[String, String] = {
    val root = Paths.get(srcDir, "graft")
    val named = Map("Tables.scala" -> "Tables", "Relational.scala" -> "Relational",
      "Extensions.scala" -> "Extensions", "RegistryStore.scala" -> "RegistryStore",
      "AnnStore.scala" -> "AnnStore", "Media.scala" -> "Media")
    val walk = Files.walk(root)
    val lib = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val file = p.getFileName.toString
      val pkg = root.relativize(p).getParent
      val mod = named.get(file).orElse(Option(pkg).map(_.toString).collect {
        case "ops" => "ops"; case "streaming" => "streaming" })
      mod.map(file -> _)
    }.toMap finally walk.close()
    lib ++ Seq("Main.scala", "Workloads.scala", "Streams.scala", "Tracer.scala",
      "FunctionBench.scala", "Report.scala").map(_ -> "final")
  }

  def register(spark: SparkSession, o: Options): Tracer = {
    val t = new Tracer(o.cores, modulesOf(o.srcDir))
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    spark.streams.addListener(t.streamListener)
    t
  }

  /** Drain the listener bus, then remove the listeners. */
  def unregister(spark: SparkSession, t: Tracer): Unit = {
    org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
    spark.streams.removeListener(t.streamListener)
    spark.listenerManager.unregister(t.queryListener)
    spark.sparkContext.removeSparkListener(t.sparkListener)
  }
}
