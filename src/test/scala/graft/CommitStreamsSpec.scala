package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.streaming.CommitStreams
import graft.schema.Protocol._
import CommitFixtures._

/** Streaming semantics: update-mode running counters (incremental
  * emission across micro-batches, final totals equal to the batch
  * query), append-mode window firing on watermark, the stream-stream
  * interval join, and the keyed CEP state machine with first-match
  * consumption and timeout pruning. */
class CommitStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var sinkId = 0
  private def startQuery(df: DataFrame, mode: OutputMode): (StreamingQuery, String) = {
    sinkId += 1
    val name = s"sink$sinkId"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    (q, name)
  }

  test("running counts emit growing totals across micro-batches (update mode)") {
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(CommitStreams.runningCounts(in.toDF()), OutputMode.Update)
    in.addData(commit("a", t("2019-06-26T10:00:00Z"),
      files = Seq(file(Some("A.java")), file(Some("B.scala")))))
    q.processAllAvailable()
    val batch1 = spark.table(sink).as[(String, Long)].collect().toSet
    assert(batch1 == Set("java" -> 1L, "scala" -> 1L))
    in.addData(commit("b", t("2019-06-26T11:00:00Z"),
      files = Seq(file(Some("C.java")))))
    q.processAllAvailable()
    // update mode re-emits only the changed key, with its running total
    val all = spark.table(sink).as[(String, Long)].collect().toSeq
    assert(all.count(_ == ("java" -> 2L)) == 1)
    assert(all.toSet == Set("java" -> 1L, "scala" -> 1L, "java" -> 2L))
    q.stop()
  }

  test("per-record running counter reproduces the reference's (java,1)(java,2) emission") {
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(
      CommitStreams.runningCountsPerRecord(in.toDF()).toDF("ext", "n"),
      OutputMode.Append)
    in.addData(commit("a", t("2019-06-26T10:00:00Z"),
      files = Seq(file(Some("A.java")), file(Some("B.java")), file(Some("C.scala")))))
    q.processAllAvailable()
    in.addData(commit("b", t("2019-06-26T11:00:00Z"),
      files = Seq(file(Some("D.java")))))
    q.processAllAvailable()
    val got = spark.table(sink).as[(String, Long)].collect().toSet
    assert(got == Set(("java", 1L), ("java", 2L), ("java", 3L), ("scala", 1L)))
    q.stop()
  }

  test("per-record running changes reproduce the reference's (py, modified, 12)(py, modified, 22) emission") {
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(
      CommitStreams.runningChangesPerRecord(in.toDF()).toDF("ext", "status", "changes"),
      OutputMode.Append)
    in.addData(commit("a", t("2019-06-26T10:00:00Z"), files = Seq(
      file(Some("a.py"), Some("modified"), changes = 12),
      file(Some("b.js"), Some("added"), changes = 10),
      file(Some("c.java"), Some("modified"), changes = 7)))) // filtered out
    q.processAllAvailable()
    in.addData(commit("b", t("2019-06-26T11:00:00Z"), files = Seq(
      file(Some("d.py"), Some("modified"), changes = 10),
      file(Some("e.py"), None, changes = 3)))) // null status -> unknown
    q.processAllAvailable()
    val got = spark.table(sink).as[(String, String, Long)].collect().toSet
    assert(got == Set(
      (".py", "modified", 12L), (".js", "added", 10L),
      (".py", "modified", 22L), (".py", "unknown", 3L)))
    q.stop()
  }

  test("running changes: the last update-mode row per key equals batch q4 over the whole feed") {
    val batches = Seq(
      Seq(commit("a", t("2019-06-26T10:00:00Z"), files = Seq(
        file(Some("a.py"), Some("modified"), changes = 12),
        file(Some("b.js"), Some("added"), changes = 10),
        file(Some("c.java"), Some("modified"), changes = 7)))),
      Seq(commit("b", t("2019-06-26T11:00:00Z"), files = Seq(
        file(Some("d.py"), Some("modified"), changes = 10),
        file(Some("e.py"), None, changes = 3),
        file(None, Some("added"), changes = 5)))),
      Seq(commit("c", t("2019-06-26T12:00:00Z"), files = Seq(
        file(Some("f.js"), Some("added"), changes = 4)))))
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(CommitStreams.runningChanges(in.toDF()), OutputMode.Update)
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    // the memory sink appends each micro-batch's changed keys in
    // batch order, so the last row per key is its final total
    val last = spark.table(sink).as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = graft.queries.CommitQueries.q4(batches.flatten.toDS().toDF())
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(want == Map((".py", "modified") -> 22L, (".js", "added") -> 14L,
      (".py", "unknown") -> 3L), s"fixture premise: $want")
    assert(last == want)
  }

  test("sliding type counts: append mode emits exactly q6's windows the watermark has closed") {
    val st = (n: Int) => Some(graft.schema.Protocol.Stats(n, 0, 0))
    // time-ordered batches (zero-slack watermark: nothing is late);
    // no 48h/12h window ends at the last event, so "closed" is exact
    val batches = Seq(
      Seq(commit("a", t("2019-06-24T01:00:00Z")),
          commit("b", t("2019-06-24T13:00:00Z"), stats = st(30))),
      Seq(commit("c", t("2019-06-25T05:00:00Z"), stats = st(5)),
          commit("d", t("2019-06-26T10:00:00Z"), stats = st(21))),
      Seq(commit("e", t("2019-06-27T07:00:00Z"))),
      Seq(commit("f", t("2019-06-28T18:30:00Z"), stats = st(40))))
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(CommitStreams.slidingTypeCounts(in.toDF()), OutputMode.Append)
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table(sink).as[(java.sql.Timestamp, String, Long)].collect().toSeq
      .sortBy(r => (r._1.getTime, r._2))
    val watermark = t("2019-06-28T18:30:00Z").getTime
    val all = graft.queries.CommitQueries.q6(batches.flatten.toDS().toDF())
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    val closed = all.filter(_._1.getTime + 48L * 3600 * 1000 <= watermark)
      .sortBy(r => (r._1.getTime, r._2))
    assert(closed.nonEmpty && closed.size < all.size,
      s"fixture premise: some windows closed, some still open — $all")
    assert(got == closed)
  }

  test("daily counts fire once per window when the watermark passes (append mode)") {
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(CommitStreams.dailyCounts(in.toDF()), OutputMode.Append)
    in.addData(
      commit("a", t("2019-06-26T10:00:00Z")),
      commit("b", t("2019-06-26T12:00:00Z")))
    q.processAllAvailable()
    assert(spark.table(sink).count() == 0) // window still open
    in.addData(commit("c", t("2019-06-27T00:00:01Z"))) // advances watermark past day 26
    q.processAllAvailable()
    val got = spark.table(sink).as[(String, Long)].collect().toSet
    assert(got == Set(("26-06-2019", 2L)))
    q.stop()
  }

  test("streaming interval join + weekly rollup honors the [-1h,+30m] bounds") {
    val commits = MemoryStream[Commit]
    val geos = MemoryStream[CommitGeo]
    val (q, sink) = startQuery(
      CommitStreams.weeklyContinentChanges(commits.toDF(), geos.toDF()),
      OutputMode.Append)
    commits.addData(commit("s1", t("2019-06-26T12:00:00Z"),
      files = Seq(file(Some("A.java"), Some("modified"), changes = 5))))
    geos.addData(
      geo("s1", t("2019-06-26T11:00:00Z"), "Europe"),  // -1h inclusive: in
      geo("s1", t("2019-06-26T12:30:00Z"), "Asia"),    // +30m inclusive: in
      geo("s1", t("2019-06-26T10:59:59Z"), "Africa"))  // out
    q.processAllAvailable()
    // advance both watermarks past the 7-day window end (2019-06-27).
    // Spark's watermark advances only on rows that reach the watermark
    // node post-filter (see CommitStreams.weeklyContinentChanges), so
    // the closing commits must themselves carry a java file; with
    // chained stateful operators propagation lags one micro-batch, so
    // push two closing batches.
    commits.addData(commit("s2", t("2019-07-05T00:00:00Z"),
      files = Seq(file(Some("Close.java"), Some("modified"), changes = 1))))
    geos.addData(geo("s2", t("2019-07-05T00:00:00Z"), "Europe"))
    q.processAllAvailable()
    commits.addData(commit("s3", t("2019-07-20T00:00:00Z"),
      files = Seq(file(Some("Close.java"), Some("modified"), changes = 1))))
    geos.addData(geo("s3", t("2019-07-20T00:00:00Z"), "Europe"))
    q.processAllAvailable()
    val firstWeek = t("2019-06-20T00:00:00Z")
    val got = spark.table(sink)
      .as[(java.sql.Timestamp, String, Long)].collect()
      .filter(_._1 == firstWeek).map(r => r._2 -> r._3).toSet
    assert(got == Set("Europe" -> 5L, "Asia" -> 5L))
    q.stop()
  }

  test("a 100%-filtered stretch stalls a post-watermark scalar filter " +
    "(pushdown moves it below the clock); WatermarkTicks heartbeats " +
    "close the window with identical output") {
    import graft.streaming.WatermarkTicks
    import org.apache.spark.sql.functions.{col, window => twindow}
    // the genuinely-stalling shape: filter AFTER withWatermark on a
    // predicate that does not reference the event-time column —
    // predicate pushdown moves the Filter below the watermark node,
    // so a fully-filtered stretch advances nothing and the open
    // window never closes
    def feed(mk: DataFrame => DataFrame): Set[(String, Long)] = {
      val in = MemoryStream[Commit]
      val (q, sink) = startQuery(
        mk(in.toDF().select(col("sha"),
          col("commit.committer.date").as("ets")))
          .groupBy(twindow(col("ets"), "1 day"), col("sha")).count()
          .select(col("sha"), col("count")),
        OutputMode.Append)
      in.addData(commit("keep1", t("2019-06-26T10:00:00Z")))
      q.processAllAvailable()
      in.addData(commit("drop1", t("2019-07-05T00:00:00Z")))
      q.processAllAvailable()
      in.addData(commit("drop2", t("2019-07-20T00:00:00Z")))
      q.processAllAvailable()
      val got = spark.table(sink).as[(String, Long)].collect().toSet
      q.stop()
      got
    }
    val keep = col("sha").startsWith("keep")
    val plain = feed(df =>
      df.withWatermark("ets", "0 seconds").filter(keep))
    assert(plain.isEmpty,
      s"pinning today's engine behavior: the filter is pushed below " +
        s"the watermark node and the window must stall — $plain")
    // the structural fix: no Filter node exists below the clock —
    // dropped rows become sentinel heartbeats, the watermark node
    // observes them, dropTicks removes them just above it
    val ticked = feed { df =>
      val hb = WatermarkTicks.filterTicked(df, keep, "ets", Seq("sha"))
        .withWatermark("ets", "0 seconds")
      WatermarkTicks.dropTicks(hb, "sha", "ets")
    }
    assert(ticked == Set(("keep1", 1L)),
      s"heartbeats must close the day-1 window and add NO spurious rows: $ticked")
  }

  test("the ticked weekly join emits exactly the plain form's rows " +
    "when data flows (heartbeats are output-invisible)") {
    val commits = MemoryStream[Commit]
    val geos = MemoryStream[CommitGeo]
    val (q, sink) = startQuery(
      CommitStreams.weeklyContinentChangesTicked(commits.toDF(), geos.toDF()),
      OutputMode.Append)
    commits.addData(commit("s1", t("2019-06-26T12:00:00Z"), files = Seq(
      file(Some("A.java"), Some("modified"), changes = 5),
      file(Some("skip.md"), Some("modified"), changes = 99)))) // dropped, not a heartbeat (a java sibling survives)
    geos.addData(
      geo("s1", t("2019-06-26T11:00:00Z"), "Europe"),  // -1h inclusive: in
      geo("s1", t("2019-06-26T12:30:00Z"), "Asia"),    // +30m inclusive: in
      geo("s1", t("2019-06-26T10:59:59Z"), "Africa"))  // out
    q.processAllAvailable()
    commits.addData(commit("s2", t("2019-07-05T00:00:00Z"),
      files = Seq(file(Some("closer.txt"), Some("modified"), changes = 1))))
    geos.addData(geo("s2", t("2019-07-05T00:00:00Z"), "Europe"))
    q.processAllAvailable()
    commits.addData(commit("s3", t("2019-07-20T00:00:00Z"),
      files = Seq(file(Some("closer2.txt"), Some("modified"), changes = 1))))
    geos.addData(geo("s3", t("2019-07-20T00:00:00Z"), "Europe"))
    q.processAllAvailable()
    val firstWeek = t("2019-06-20T00:00:00Z")
    val got = spark.table(sink)
      .as[(java.sql.Timestamp, String, Long)].collect()
      .filter(_._1 == firstWeek).map(r => r._2 -> r._3).toSet
    // same rows the plain-form bounds test pins — the .md file and the
    // heartbeat closers contribute nothing
    assert(got == Set("Europe" -> 5L, "Asia" -> 5L))
    q.stop()
  }

  test("streaming Q7 twin equals batch q7 on the tie fixture (chained stateful aggs)") {
    // 22 commits on one (repo, day): georgios 11, jeroen 11 — passes
    // the >20 / <=2-committers gate with a tie-joined mode. Same
    // fixture shape as the batch gate's tie case.
    val day = "2019-06-26"
    val st = (n: Int) => Some(graft.schema.Protocol.Stats(n, 0, 0))
    val commits = (1 to 11).flatMap { i =>
      Seq(commit(s"g$i", t(f"${day}T${i + 1}%02d:00:00Z"), committer = "georgios",
            repo = "tudelft/bdp", stats = st(2)),
          commit(s"j$i", t(f"${day}T${i + 1}%02d:30:00Z"), committer = "jeroen",
            repo = "tudelft/bdp", stats = st(3)))
    }
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(CommitStreams.dailySummaries(in.toDF()),
      OutputMode.Append)
    in.addData(commits)
    q.processAllAvailable()
    // both stateful levels need the watermark to pass the day's end
    // and propagate; trailing sentinel batches flush them
    (1 to 3).foreach { k =>
      in.addData(commit(s"s$k", t(f"2019-06-28T$k%02d:00:00Z")))
      q.processAllAvailable()
    }
    val got = spark.table(sink)
      .as[(String, String, Long, Long, Long, String)].collect().toSeq
    val want = graft.queries.CommitQueries.q7(commits.toDS().toDF())
      .as[(String, String, Long, Long, Long, String)].collect().toSeq
    assert(want.nonEmpty && got == want,
      s"streaming twin diverged: got=$got want=$want")
    assert(got.head._6 == "georgios,jeroen")
    q.stop()
  }

  test("CEP state machine: match within a day, first-match consumption, no stale matches") {
    val in = MemoryStream[Commit]
    val (q, sink) = startQuery(
      CommitStreams.addedThenRemoved(in.toDF()).toDF("repo", "filename"),
      OutputMode.Append)
    val mk = (sha: String, ts0: String, name: String, status: String) =>
      commit(sha, t(ts0), files = Seq(file(Some(name), Some(status))))
    in.addData(
      mk("a1", "2019-06-26T10:00:00Z", "doomed.txt", "added"),
      mk("a2", "2019-06-26T10:00:00Z", "stale.txt", "added"))
    q.processAllAvailable()
    in.addData(
      mk("r1", "2019-06-26T20:00:00Z", "doomed.txt", "removed"), // within day: match
      mk("r2", "2019-06-26T21:00:00Z", "doomed.txt", "removed")) // added consumed: no 2nd match
    q.processAllAvailable()
    in.addData(mk("r3", "2019-06-28T10:00:00Z", "stale.txt", "removed")) // > 1 day: no match
    q.processAllAvailable()
    val got = spark.table(sink).as[(String, String)].collect().toSeq
    assert(got == Seq(("apache/flink", "doomed.txt")))
    q.stop()
  }
}
