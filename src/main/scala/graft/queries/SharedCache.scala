package graft.queries

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.operators.CacheScope

/** One session-shared persisted intermediate, memoized per (session, sf
  * dir). The first call for a key runs the build exactly once, even when
  * several threads make that first call together; later calls return the
  * same frame instance. Every frame is persisted (MEMORY_AND_DISK) and
  * [[CacheScope.pin]]ned, so a query-scoped [[CacheScope.persist]] of an
  * identical plan cannot evict it at the query's drain. Entries of stopped
  * sessions are evicted on every call, so neither their cached blocks nor
  * their session object graphs are retained forever.
  *
  * The key includes the session on purpose: a new session rebuilds cold
  * (the cold-build benchmark relies on it).
  *
  * @param twin the cache installed by the same build, if any
  *             ([[SharedCache.twin]]) */
final class SharedCache private (val name: String, val twin: Option[String],
    frames: SharedCache.Frames, slot: Int) {

  def apply(s: SparkSession, d: String): DataFrame = frames(s, d)(slot)

  /** Whether the frame for (s, d) has been built — never builds it. */
  def isBuilt(s: SparkSession, d: String): Boolean = frames.isBuilt(s, d)
}

object SharedCache {

  def apply(name: String)(build: (SparkSession, String) => DataFrame): SharedCache =
    new SharedCache(name, None, new Frames((s, d) => Seq(build(s, d))), 0)

  /** Two caches installed by ONE build (a training loop that mints both
    * artifacts at once): whichever is called first builds and installs
    * both. */
  def twin(a: String, b: String)(
      build: (SparkSession, String) => (DataFrame, DataFrame)): (SharedCache, SharedCache) = {
    val f = new Frames((s, d) => { val (x, y) = build(s, d); Seq(x, y) })
    (new SharedCache(a, Some(b), f, 0), new SharedCache(b, Some(a), f, 1))
  }

  private final class Frames(build: (SparkSession, String) => Seq[DataFrame]) {

    private final class Cell(s: SparkSession, d: String) {
      @volatile var built: Seq[DataFrame] = null
      def get: Seq[DataFrame] = {
        if (built == null) synchronized {
          if (built == null)
            built = build(s, d).map(f => CacheScope.pin(f.persist(StorageLevel.MEMORY_AND_DISK)))
        }
        built
      }
    }

    private val cells = TrieMap.empty[(SparkSession, String), Cell]

    def apply(s: SparkSession, d: String): Seq[DataFrame] = {
      cells.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      // atomic: racing first callers all get the one installed cell, whose
      // lock lets exactly one of them build
      cells.getOrElseUpdate((s, d), new Cell(s, d)).get
    }

    def isBuilt(s: SparkSession, d: String): Boolean =
      cells.get((s, d)).exists(_.built != null)
  }
}
