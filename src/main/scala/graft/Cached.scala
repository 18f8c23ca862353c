package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

import scala.collection.mutable.ArrayBuffer

/** The one owner of persisted intermediates: every persist in the
  * library goes through [[fill]] or [[keep]], every release through
  * [[scope]].
  *
  * Eager or lazy. Several consumers of one plan (broadcast subtrees,
  * both sides of a self-join, a union's legs) read a persisted frame
  * concurrently: on a cold cache each of them misses and recomputes
  * the pipeline under it while the cache fills (PERF.md: x14 ran 83 s
  * for a plan whose stages sum to 11 s when forced in order). [[fill]]
  * therefore runs one `count()` before any consumer is built. [[keep]]
  * is for a frame whose first consuming action scans it once, and so
  * fills it race-free without the extra job.
  *
  * Lifetime. A returned plan reads the cached blocks when its caller
  * runs the action, so a builder cannot release what it persisted;
  * the caller wraps build and action in one [[scope]]. A frame
  * persisted outside any scope is the caller's, as a bare `persist()`
  * is.
  *
  * Only an entry a call creates is registered: a frame whose plan is
  * already cached (a projection of a cached frame canonicalizes to
  * it) stays with whoever cached it, and [[fill]] starts no job when
  * that entry is already loaded. */
object Cached {

  private val scopes =
    ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)

  /** Persist `df` and fill it with one `count()` now. */
  def fill(df: DataFrame): DataFrame = {
    entryLoaded(df) match {
      case Some(true) => ()
      case Some(false) => df.count()
      case None => own(df).count()
    }
    df
  }

  /** Persist `df` lazily: its first consuming action fills it. */
  def keep(df: DataFrame): DataFrame = {
    if (entryLoaded(df).isEmpty) own(df)
    df
  }

  /** Run `body`, then unpersist every frame [[fill]] or [[keep]]
    * persisted on this thread inside it — on a normal exit and on a
    * throw, newest first, so that no non-cascading uncache re-plans an
    * entry built over an older one. A nested scope releases only its
    * own frames. */
  def scope[T](body: => T): T = {
    val mine = ArrayBuffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.reverseIterator.foreach(_.unpersist())
    }
  }

  private def own(df: DataFrame): DataFrame = {
    df.persist()
    scopes.get.headOption.foreach(_ += df)
    df
  }

  /** `None` when no cache entry matches `df`'s plan, else whether its
    * column buffers are loaded. */
  private def entryLoaded(df: DataFrame): Option[Boolean] =
    df.sparkSession.asInstanceOf[ClassicSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[ClassicDataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
}
