package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.{Knobs, Tables}
import graft.streaming.EventStreams

/** One `events` row as the stream twin is fed it. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** The `running_counts` stream twin of the reference's streaming
  * surface: the keyed running event-type count, fed through
  * `MemoryStream` micro-batches by one producer (this thread) into the
  * `noop` sink. A micro-batch's latency runs from `addData` until
  * `processAllAvailable` returns; a run's feed wall time is the sum of
  * its micro-batch latencies.
  *
  * The feed ends with two sentinel micro-batches far past the data: the
  * first advances the watermark beyond every real row, the second runs a
  * batch under that watermark. The final emitted rows are therefore
  * complete, and the verification pass checks them against the batch
  * counterpart over the same rows. */
object Streams {
  val DataBatches = 3
  val Name = "running_counts"
  private val Flush = "flush"

  /** The rows in event-time order, cut into [[DataBatches]]
    * micro-batches only where the event time changes (a time never
    * straddles two batches, so no row arrives at or behind the
    * watermark), each shuffled by the seed, then the sentinels. */
  def feed[T](rows: IndexedSeq[T], tsOf: T => Long, sentinels: Seq[T],
              seed: Long): Seq[Seq[T]] = {
    val n = rows.length
    val cuts = (1 until DataBatches).map { i =>
      var j = i * n / DataBatches
      while (j > 0 && j < n && tsOf(rows(j)) == tsOf(rows(j - 1))) j += 1
      j
    }
    val bounds = (0 +: cuts :+ n).distinct.sorted
    val chunks = bounds.sliding(2).collect {
      case Seq(a, b) if b > a => rows.slice(a, b) }.toSeq
    chunks.zipWithIndex.map { case (c, i) =>
      new scala.util.Random(seed * 7919L + i).shuffle(c).toSeq
    } ++ sentinels.map(Seq(_))
  }

  /** The twin over `events`, its batches cut and shuffled by the run's
    * seed. The sentinels sit ten days past the last row, one second
    * apart, on their own user and type so that they count nothing real. */
  def runningCounts(ctx: Ctx): Op = {
    val spark = ctx.spark
    import spark.implicits._
    val events = Tables.events(spark, ctx.o.dataDir).as[Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toIndexedSeq
    val far = events.last.ts.getTime + 10L * 86400000L
    val sentinels = Seq(0L, 1000L).map(d =>
      Ev(-1L - d, new Timestamp(far + d), -1L, Flush, 0.0, "{}"))
    val batches = feed[Ev](events, _.ts.getTime, sentinels, ctx.o.seed)
    val parts = Knobs.streamStateParts(8L, triggerRows = events.size / DataBatches)

    /** Feed every micro-batch; `sink` picks the stream's sink. */
    def run(c: Ctx, sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
      c.spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val in = MemoryStream[Ev]
        val df = c.phase(Name, "build")(EventStreams.runningTypeCounts(in.toDF()))
        c.phase(Name, "action") {
          val sq = sink(df.writeStream.outputMode("update")
            .queryName(s"${Name}_p${c.pass}")).start()
          try batches.foreach { b =>
            val t0 = System.nanoTime()
            in.addData(b)
            sq.processAllAvailable()
            if (c.timing) c.report.microBatch(c.pass, b.size, (System.nanoTime() - t0) / 1e6)
          } finally sq.stop()
        }
      } finally c.spark.conf.set("spark.sql.shuffle.partitions", c.o.cores.toString)
    }

    Op(Name,
      timed = c => run(c, _.format("noop")),
      verify = c => {
        val emitted = mutable.ArrayBuffer.empty[Row]
        val collect: (DataFrame, Long) => Unit =
          (df, _) => emitted.synchronized { emitted ++= df.collect() }
        run(c, _.foreachBatch(collect))
        // update mode re-emits a key when it changes: keep its last row
        val finalRows = emitted.toSeq.filterNot(_.getAs[String]("event_type") == Flush)
          .groupBy(_.get(0)).values.map(_.last).toSeq
        Workloads.same(s"$Name final rows vs batch counterpart",
          finalRows.map(_.toSeq.mkString("|")).sorted,
          Workloads.rowsOf(EventStreams.runningTypeCounts(events.toDF())))
      })
  }
}
