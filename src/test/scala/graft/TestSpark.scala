package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{CacheEntries, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** The session's cache entries, for checks that a run released what
    * it persisted. */
  def cacheEntries: Int = CacheEntries(spark)

  private val Sentinel = "tables-memo-sentinel"

  /** Spark jobs started while `body` runs, counted by a listener. A
    * sentinel job run after `body` marks the end, because a listener
    * gets its events in order. */
  def jobsOf[T](body: => T): (T, Int) = {
    val started = new LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var d = started.poll(60, TimeUnit.SECONDS)
      while (d != Sentinel) {
        assert(d != null, "the sentinel job never reached the listener")
        n += 1
        d = started.poll(60, TimeUnit.SECONDS)
      }
      (out, n)
    } finally sc.removeSparkListener(l)
  }
}
