package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.Cols._

/** Structured Streaming forms of the reference queries whose point is
  * incremental emission — running counters (Q3/Q4), per-window firing
  * (Q5-Q7), the time-bounded stream-stream join (Q8), and the CEP
  * sequence pattern (Q9) as an explicit keyed state machine.
  *
  * Inputs are streaming DataFrames with the commit schema
  * ([[graft.schema.Protocol.commitSchema]]). The reference assumes
  * in-order streams (its AscendingTimestampExtractor,
  * FlinkAssignment.scala:124-127), so watermarks here carry zero
  * slack; real deployments widen them.
  *
  * Scale: state is always keyed (hash-distributed across executors)
  * and bounded — watermarks expire window state, the CEP state holds
  * only pending 'added' timestamps inside the 1-day horizon, and the
  * running counters keep one long per key. Nothing buffers raw
  * events: the windowed summary (Q7) pre-aggregates per committer in
  * a first stateful level, so even its second level's state is one
  * row per (repo, day, committer) — bounded by committers, not
  * events.
  */
object CommitStreams {

  private val ts: Column = col("commit.committer.date")

  /** Q3 (FlinkAssignment.scala:83-97) running counts per extension.
    * `outputMode(Update)` emits a row per key per micro-batch — the
    * micro-batch analogue of Flink's one-row-per-input running sum;
    * [[runningCountsPerRecord]] reproduces exact per-record emission. */
  def runningCounts(commits: DataFrame): DataFrame =
    commits.select(explode(col("files")).as("file"))
      .select(fileExtension(col("file.filename")).as("ext"))
      .filter(col("ext").isin("java", "scala"))
      .groupBy(col("ext")).count()

  /** Q4 (:103-115) running composite-key totals (update mode): the
    * batch [[graft.queries.CommitQueries.q4]] plan itself, run on a
    * stream — each micro-batch re-emits the changed keys' sums. */
  def runningChanges(commits: DataFrame): DataFrame =
    graft.queries.CommitQueries.q4(commits)

  /** Exact per-input-record emission of the Q3 running counter
    * (`(java,1)(java,2)…` per reference README) via keyed state:
    * one output row per consumed element, state = one long per key. */
  def runningCountsPerRecord(commits: DataFrame): Dataset[(String, Long)] = {
    import commits.sparkSession.implicits._
    val exts = commits.select(explode(col("files")).as("file"))
      .select(fileExtension(col("file.filename")).as("ext"))
      .filter(col("ext").isin("java", "scala"))
      .as[String]
    exts.groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ext: String, in: Iterator[String], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = in.map { _ => n += 1; (ext, n) }.toVector
          state.update(n)
          out.iterator
      }
  }

  /** Q5 (:122-134) daily commit counts; append mode — a window's row
    * is emitted once, when the watermark passes its end. (Event time
    * is projected to a top-level column first: watermarks attach to
    * attributes, not nested paths.) */
  def dailyCounts(commits: DataFrame): DataFrame =
    commits.select(ts.as("ets"))
      .withWatermark("ets", "0 seconds")
      .groupBy(window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(dayKey(col("window.start")).as("date"), col("cnt"))

  /** Q6 (:141-155) sliding 48h/12h small/large counts. */
  def slidingTypeCounts(commits: DataFrame): DataFrame =
    commits.select(ts.as("ets"),
        when(coalesce(col("stats.total"), lit(0)) > 20, "large")
          .otherwise("small").as("commit_type"))
      .withWatermark("ets", "0 seconds")
      .groupBy(window(col("ets"), "48 hours", "12 hours"), col("commit_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("commit_type"), col("cnt"))

  /** Q7 (:172-239) streaming daily summaries as TWO chained stateful
    * aggregations (Spark's multiple-stateful-operator support: the
    * second level re-windows on the first level's `window` column),
    * mirroring the batch two-level rollup
    * ([[graft.queries.CommitQueries.q7]]):
    *
    *  - level 1 keys (window, repo, committer) and keeps ONE
    *    (count, total) row per key — raw commits are absorbed into
    *    map-side partials, never buffered;
    *  - level 2 keys (window, repo); its `collect_list` sees one row
    *    per COMMITTER, so state is bounded by committers-per-repo-day
    *    — not events — and the exact distinct-committer count is a
    *    plain row count (exact `countDistinct` stays unsupported in
    *    streaming; pre-grouping sidesteps it).
    *
    * Both levels emit in append mode when the watermark passes the
    * day's end; the tie-joined mode is an array expression over the
    * bounded per-committer list (CommitStreamsSpec pins the
    * georgios,jeroen tie against the batch gate). */
  def dailySummaries(commits: DataFrame): DataFrame = {
    val perCommitter = commits
      .select(ts.as("ets"), repoFromUrl(col("url")).as("repo"),
        col("commit.committer.name").as("committer"),
        coalesce(col("stats.total"), lit(0)).as("total"))
      .withWatermark("ets", "0 seconds")
      .groupBy(window(col("ets"), "1 day"), col("repo"), col("committer"))
      .agg(count(lit(1)).as("cnt"), sum(col("total")).as("tot"))
    val cc = col("cc")
    val mx = array_max(transform(cc, p => p.getField("cnt")))
    perCommitter
      .groupBy(window(col("window"), "1 day"), col("repo"))
      .agg(sum(col("cnt")).as("amountOfCommits"),
           count(lit(1)).as("amountOfCommitters"),
           sum(col("tot")).as("totalChanges"),
           collect_list(struct(col("cnt"), col("committer").as("name"))).as("cc"))
      .filter(col("amountOfCommits") > 20 && col("amountOfCommitters") <= 2)
      .select(col("repo"), dayKey(col("window.start")).as("date"),
        col("amountOfCommits"),
        col("amountOfCommitters").cast("long"),
        col("totalChanges"),
        array_join(array_sort(transform(
          filter(cc, p => p.getField("cnt") === mx),
          p => p.getField("name"))), ",").as("mostPopularCommitter"))
  }

  /** Q8 (:249-291) streaming interval join + weekly rollup: both
    * sides watermarked, range condition bounds the join state; the
    * downstream windowed aggregation is a second stateful operator
    * (append mode).
    *
    * Week-assignment divergence from Flink (like the watermark note
    * below): Flink timestamps each joined pair with
    * `max(commitTs, geoTs)`, so a pair whose geo event crosses a
    * 7-day boundary lands in the later week. Spark's post-join window
    * must be over a watermarked event-time attribute — a derived
    * `greatest(c_ts, createdAt)` column carries no watermark — so this
    * streaming form windows on `c_ts`. The batch form
    * ([[graft.queries.CommitQueries.q8]]) windows on the greatest and
    * is strictly reference-faithful. */
  def weeklyContinentChanges(commits: DataFrame, geo: DataFrame): DataFrame = {
    // Watermark divergence from Flink: Flink propagates watermarks
    // through filters as control events; Spark derives the watermark
    // from event rows observed at the watermark node AFTER plan
    // optimization — a predicate that can be pushed below the
    // watermark node starves the clock on fully-filtered stretches
    // (CommitStreamsSpec demonstrates the stall on the scalar-filter
    // shape). THIS form is safe by placement: the watermark sits
    // ahead of the explode, and the filename predicate depends on
    // the generated column, so it cannot cross the Generate — every
    // commit row reaches the clock. The structural (placement-
    // independent) fix is [[weeklyContinentChangesTicked]] /
    // [[WatermarkTicks]]: same output, no Filter node below the
    // clock at all.
    val javaFiles = commits
      .select(col("sha"), ts.as("c_ts"), col("files"))
      .withWatermark("c_ts", "0 seconds")
      .select(col("sha"), col("c_ts"), explode(col("files")).as("file"))
      .filter(col("file.filename").endsWith(".java"))
      .select(col("sha"), col("c_ts"), col("file.changes").as("changes"))
    val geoW = geo.withWatermark("createdAt", "0 seconds")
    javaFiles.join(geoW,
        javaFiles("sha") === geoW("sha") &&
          geoW("createdAt") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          geoW("createdAt") <= col("c_ts") + expr("INTERVAL 30 MINUTE"))
      .groupBy(window(col("c_ts"), "7 days"), col("continent"))
      .agg(sum(col("changes")).as("changes"))
      .select(col("window.start").as("week"), col("continent"), col("changes"))
  }

  /** [[weeklyContinentChanges]] with the watermark-stall fix: the
    * `.java` drop runs as [[WatermarkTicks.explodeFiltered]] — no
    * `Filter` node exists above the watermark node, and a commit
    * whose files ALL miss the predicate emits one zero-payload
    * heartbeat (null file ⇒ null join key) that advances the event
    * clock but joins to nothing. Output rows are identical to the
    * plain form whenever both emit; the difference is purely that a
    * fully-filtered stretch of commits still closes the open weekly
    * windows (CommitStreamsSpec drives the exact feed that stalls
    * the plain form and not this one). */
  def weeklyContinentChangesTicked(commits: DataFrame,
                                   geo: DataFrame): DataFrame = {
    val javaFiles = WatermarkTicks.explodeFiltered(
        commits.select(col("sha"), ts.as("c_ts"), col("files")),
        "files", "file", f => f.getField("filename").endsWith(".java"))
      .select(
        WatermarkTicks.keyed(col("file"), col("sha")).as("sha"),
        col("c_ts"), col("file.changes").as("changes"))
      .withWatermark("c_ts", "0 seconds")
    val geoW = geo.withWatermark("createdAt", "0 seconds")
    javaFiles.join(geoW,
        javaFiles("sha") === geoW("sha") &&
          geoW("createdAt") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          geoW("createdAt") <= col("c_ts") + expr("INTERVAL 30 MINUTE"))
      .groupBy(window(col("c_ts"), "7 days"), col("continent"))
      .agg(sum(col("changes")).as("changes"))
      .select(col("window.start").as("week"), col("continent"), col("changes"))
  }

  /** One (repo, filename) file event for the CEP state machine. */
  private[streaming] case class FileEvent(repo: String, filename: String,
                                          status: String, ets: java.sql.Timestamp)

  /** Q9 (:299-348): CEP "added followedBy removed within 1 day",
    * declared as a generic [[EventPattern]] and executed by the
    * [[Cep.detect]] keyed NFA — a 'removed' consumes every pending
    * in-horizon 'added' (first-match: a consumed partial can't match
    * again), event-time timeout prunes state one day after the newest
    * open 'added'. */
  def addedThenRemoved(commits: DataFrame): Dataset[(String, String)] = {
    import commits.sparkSession.implicits._
    val events = commits
      .select(repoFromUrl(col("url")).as("repo"), ts.as("ets"), col("files"))
      .withWatermark("ets", "0 seconds") // before explode/filter — see weeklyContinentChanges
      .select(col("repo"), col("ets"), explode(col("files")).as("file"))
      .filter(col("file.filename").isNotNull &&
              col("file.status").isin("added", "removed"))
      .select(col("repo"), col("file.filename").as("filename"),
              col("file.status").as("status"), col("ets"))
      .as[FileEvent]
    val pattern = EventPattern.begin[FileEvent]("added")
      .where(_.status == "added")
      .followedBy("removed").where(_.status == "removed")
      .within(java.time.Duration.ofDays(1))
    Cep.detect(events, (e: FileEvent) => (e.repo, e.filename),
               (e: FileEvent) => e.ets.getTime, pattern) { m =>
      val a = m("added").head
      (a.repo, a.filename)
    }
  }

  /** Exact per-input-record emission of the Q4 running change totals
    * (`(py, modified, 12) … (py, modified, 22)` per reference README
    * :103-109): one output row per consumed file record carrying the
    * key's new running sum; state = one long per (ext, status). */
  def runningChangesPerRecord(commits: DataFrame): Dataset[(String, String, Long)] = {
    import commits.sparkSession.implicits._
    val recs = commits.select(explode(col("files")).as("file"))
      .filter(col("file.filename").endsWith(".js") ||
              col("file.filename").endsWith(".py"))
      .select(
        when(col("file.filename").endsWith(".js"), ".js").otherwise(".py").as("ext"),
        coalesce(col("file.status"), lit("unknown")).as("status"),
        coalesce(col("file.changes"), lit(0)).cast("long").as("changes"))
      .as[(String, String, Long)]
    recs.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), in: Iterator[(String, String, Long)],
         state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val out = in.map { r => total += r._3; (key._1, key._2, total) }.toVector
          state.update(total)
          out.iterator
      }
  }
}
