package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CacheScope, TextDedup}
import graft.queries.{SharedCache, SharedCaches}

/** The [[SharedCache]] contract: one build per (session, sf dir) even under
  * concurrent first access, twins installed by one build, and every
  * shared frame pinned against a query-scoped drain. */
class SharedCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs `f(i)` on `n` threads released together by a barrier. */
  private def race[T <: AnyRef](n: Int)(f: Int => T): Seq[T] = {
    val barrier = new CyclicBarrier(n)
    val out = new Array[AnyRef](n)
    val threads = (0 until n).map(i => new Thread(() => {
      barrier.await()
      out(i) = f(i)
    }))
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(out.forall(_ != null), "a racing thread failed or timed out")
    out.toSeq.map(_.asInstanceOf[T])
  }

  private def slowFrame(builds: AtomicInteger, s: SparkSession, tag: String): DataFrame = {
    builds.incrementAndGet()
    Thread.sleep(300)
    s.range(5).selectExpr(s"id AS shared_cache_probe_$tag")
  }

  test("concurrent first access builds once and every caller gets the same frame") {
    val builds = new AtomicInteger
    val c = SharedCache("probe")((s, _) => slowFrame(builds, s, "single"))
    val key = s"probe-${java.util.UUID.randomUUID()}"
    val got = race(8)(_ => c(spark, key))
    assert(builds.get == 1, s"build ran ${builds.get} times")
    assert(got.forall(_ eq got.head), "threads got different frames")
    assert(c.isBuilt(spark, key) && c(spark, key).eq(got.head))
    assert(got.head.storageLevel == StorageLevel.MEMORY_AND_DISK)
  }

  test("concurrent first access to either twin runs the shared build once") {
    val builds = new AtomicInteger
    val (a, b) = SharedCache.twin("probe_a", "probe_b") { (s, _) =>
      (slowFrame(builds, s, "a"), slowFrame(builds, s, "b"))
    }
    assert(a.name == "probe_a" && b.name == "probe_b")
    assert(a.twin.contains("probe_b") && b.twin.contains("probe_a"))
    val key = s"probe-${java.util.UUID.randomUUID()}"
    // even threads ask for a, odd ones for b
    val got = race(8)(i => (i % 2, if (i % 2 == 0) a(spark, key) else b(spark, key)))
    assert(builds.get == 2, s"twin build ran ${builds.get / 2.0} times")
    val (as, bs) = got.partition(_._1 == 0)
    assert(as.forall(_._2 eq as.head._2) && bs.forall(_._2 eq bs.head._2),
      "threads got different frames")
    assert(as.head._2.columns.sameElements(Array("shared_cache_probe_a")))
    assert(bs.head._2.columns.sameElements(Array("shared_cache_probe_b")))
    assert(a.isBuilt(spark, key) && b.isBuilt(spark, key))
  }

  test("a shared cache survives the drain of a query that persisted the identical plan") {
    // own copy of the corpus, so no other spec's cache entry matches the plan
    val dir = Files.createTempDirectory("shared-cache-pin")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val (s, d) = (spark.newSession(), dir.toString)
    // a query-scoped persist of the same operator call the cache makes...
    CacheScope.persist(TextDedup.ppjoinPairs(
      Graft.table(s, d, "documents"), "doc_id", "text", n = 12, threshold = 0.7))
    // ...so the shared build's persist adopts that cache entry
    val shared = SharedCaches.builders.toMap.apply("ppjoin_pairs")(s, d)
    assert(shared.storageLevel != StorageLevel.NONE)
    CacheScope.drain()
    assert(shared.storageLevel != StorageLevel.NONE,
      "the query's drain evicted the shared ppjoin_pairs cache")
  }
}
