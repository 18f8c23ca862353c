package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Cached]]: `fill` fills with one count, `keep` starts nothing,
  * and `scope` releases its own frames newest first, on a throw too. */
class CachedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  private val Sentinel = "cached-spec-sentinel"

  /** A fresh plan per `k`, so no test finds another's entry. */
  private def frame(k: Int): DataFrame =
    spark.range(0, 1000, 1, 2).select(col("id"), (col("id") * k).as("v"))

  private def entry(df: DataFrame) =
    cm.lookupCachedData(df.asInstanceOf[ClassicDataset[_]])

  private def loaded(df: DataFrame): Boolean =
    entry(df).exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def rddOf(df: DataFrame): Int =
    entry(df).get.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id

  /** The listener events `body` caused, in order: a sentinel job run
    * after `body` marks the end, because a listener gets its events in
    * order. */
  private def eventsOf[T](body: => T): (T, Seq[SparkListenerEvent]) = {
    val seen = new LinkedBlockingQueue[SparkListenerEvent]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.put(j)
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
        seen.put(u)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      def isSentinel(e: SparkListenerEvent) = e match {
        case j: SparkListenerJobStart =>
          Option(j.properties).exists(
            _.getProperty("spark.job.description") == Sentinel)
        case _ => false
      }
      val events = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { e => assert(e != null, "the sentinel job never arrived"); e }
        .takeWhile(!isSentinel(_)).toSeq
      (out, events)
    } finally sc.removeSparkListener(l)
  }

  private def jobs(events: Seq[SparkListenerEvent]): Int =
    events.count(_.isInstanceOf[SparkListenerJobStart])

  /** Unpersists of `ids`, in order (the context cleaner may unpersist
    * unrelated RDDs meanwhile). */
  private def unpersisted(events: Seq[SparkListenerEvent],
                          ids: Set[Int]): Seq[Int] =
    events.collect { case u: SparkListenerUnpersistRDD => u.rddId }
      .filter(ids)

  test("fill starts the jobs of one persist + count and leaves the " +
    "entry loaded") {
    val byHand = frame(101).persist()
    val (_, countEvents) =
      try eventsOf(byHand.count()) finally byHand.unpersist()
    val df = frame(1)
    Cached.scope {
      val (_, events) = eventsOf(Cached.fill(df))
      assert(jobs(events) > 0 && jobs(events) == jobs(countEvents))
      assert(loaded(df))
    }
    assert(entry(df).isEmpty)
  }

  test("fill of an already-loaded plan, or a projection of it, starts " +
    "no job and adds no entry") {
    val df = frame(2)
    Cached.scope {
      Cached.fill(df)
      val n = TestSpark.cacheEntries
      val (_, again) = eventsOf(Cached.fill(df))
      assert(jobs(again) == 0)
      val (_, renamed) = eventsOf(
        Cached.fill(df.select(col("id"), col("v").as("w"))))
      assert(jobs(renamed) == 0)
      assert(TestSpark.cacheEntries == n)
    }
    assert(entry(df).isEmpty)
  }

  test("keep starts no job and leaves the entry for the first action") {
    val df = frame(3)
    Cached.scope {
      val n = TestSpark.cacheEntries
      val (_, events) = eventsOf(Cached.keep(df))
      assert(jobs(events) == 0)
      assert(TestSpark.cacheEntries == n + 1)
      assert(!loaded(df))
      df.count()
      assert(loaded(df))
    }
    assert(entry(df).isEmpty)
  }

  test("scope releases newest first, on a normal exit and on a throw") {
    val n = TestSpark.cacheEntries
    val (ids, events) = eventsOf(Cached.scope {
      Cached.fill(frame(4))
      Cached.fill(frame(5))
      (rddOf(frame(4)), rddOf(frame(5)))
    })
    assert(unpersisted(events, Set(ids._1, ids._2)) == Seq(ids._2, ids._1))
    assert(TestSpark.cacheEntries == n)

    var thrownIds = (0, 0)
    val (_, thrown) = eventsOf(intercept[IllegalStateException] {
      Cached.scope {
        Cached.fill(frame(6))
        Cached.fill(frame(7))
        thrownIds = (rddOf(frame(6)), rddOf(frame(7)))
        throw new IllegalStateException("body failed")
      }
    })
    assert(unpersisted(thrown, Set(thrownIds._1, thrownIds._2)) ==
      Seq(thrownIds._2, thrownIds._1))
    assert(TestSpark.cacheEntries == n)
  }

  test("a nested scope releases only its own frames") {
    val outer = frame(8)
    val inner = frame(9)
    Cached.scope {
      Cached.fill(outer)
      Cached.scope(Cached.fill(inner))
      assert(entry(inner).isEmpty)
      assert(loaded(outer))
    }
    assert(entry(outer).isEmpty)
  }

  test("a fill outside any scope is left to its caller") {
    val free = frame(10)
    Cached.fill(free)
    try {
      Cached.scope(Cached.fill(frame(11)))
      assert(loaded(free))
      assert(entry(frame(11)).isEmpty)
    } finally free.unpersist()
  }
}
