package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry for the engine's SESSION-SCOPED memo caches — the
  * deliberate materialized views over immutable fixture data
  * (docFacts, shared signatures, graph edges, reach census, NB
  * predictions) and the driver-local model memos (Lloyd fits, IVF/PQ
  * codebooks, quantile edges).
  *
  * Why a registry (round-15 verdict items 1/3/7):
  *
  *  1. RELEASE PATH. Per-query persists drain through [[CacheScope]],
  *     but the session-scoped frames used to live until the JVM died —
  *     corpus-sized materialized views with no eviction policy,
  *     competing with per-query caches for the block manager. Every
  *     cache now registers here and [[releaseAll]] unpersists + clears
  *     them in one sweep (Bench/Verify call it at suite end; any
  *     embedding application can call it whenever memory pressure
  *     demands).
  *  2. HONEST BENCH NUMBERS. A query whose warm time is a memo readout
  *     hides the build cost in somebody's untimed warmup. Every cache
  *     access flips [[touched]]; the bench uses it to detect
  *     memo-backed queries and time a COLD run (caches released,
  *     build cost included) alongside the warm protocol numbers.
  *  3. KEY SOUNDNESS (round-15 advisory). Value caches key on the
  *     SparkSession REFERENCE itself (identity semantics — collision-
  *     free by construction, unlike `System.identityHashCode`, and
  *     `sessionUUID` is private[sql] on Spark 4.1.2). Entries of
  *     stopped sessions evict on the next access of the same cache.
  *
  * IMMUTABLE-DIR CONTRACT (round-15 advisory): every cache here keys
  * on the fixture directory path and assumes the data at that path
  * never changes within a JVM's lifetime. A tool that rewrites a
  * fixture in place must call [[releaseAll]] before reusing the path.
  */
object SessionCaches {

  /** A releasable cache. Implementations must tolerate stopped
    * sessions (unpersist of a stopped session's frame throws — swallow
    * it). */
  trait Releasable {
    def releaseAll(): Unit
    /** Live entry count (test hook). */
    def size: Int
  }

  private val registry = new ConcurrentLinkedQueue[Releasable]()

  /** Set by every cache access (hit or build); the bench consumes it
    * to find memo-backed queries. */
  private val touchedFlag = new AtomicBoolean(false)

  private[graft] def touch(): Unit = touchedFlag.set(true)

  /** Read-and-clear the touched flag. */
  def consumeTouched(): Boolean = touchedFlag.getAndSet(false)

  def register[C <: Releasable](c: C): C = { registry.add(c); c }

  /** Release every registered session cache: unpersist all frames,
    * clear all memoized values. Safe to call any time — the next
    * access simply rebuilds. */
  def releaseAll(): Unit = registry.forEach(_.releaseAll())

  /** Total live entries across all registered caches (test hook). */
  def totalEntries: Int = {
    var n = 0
    registry.forEach(c => n += c.size)
    n
  }

  /** Session-scoped cache keyed by (session, K) whose values carry
    * DataFrames (a bare frame, a tuple of frames, Option[DataFrame]).
    * The builder persists what it returns; `frames` lists the frames
    * release unpersists. Stopped-session entries evict on access, and
    * values whose frame set is empty (e.g. `None` census entries)
    * still evict with their session (the round-15 advisory: a vacuous
    * `forall` must not immortalize them). */
  final class ValueCache[K, V] private[SessionCaches] (frames: V => Seq[DataFrame])
      extends Releasable {
    private val m = TrieMap.empty[(SparkSession, K), V]

    def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V = {
      touch()
      evictStopped()
      m.getOrElseUpdate((spark, key), build)
    }

    private def evictStopped(): Unit =
      m.filterInPlace((k, _) => !k._1.sparkContext.isStopped)

    override def releaseAll(): Unit = {
      m.values.foreach(v => frames(v).foreach { df =>
        try df.unpersist(blocking = true)
        catch { case _: Throwable => () }
      })
      m.clear()
    }
    override def size: Int = m.size
  }

  /** Driver-local scalar memo (model fits, quantile edges, codebooks —
    * plain arrays, no Spark resources, valid across sessions). Keys on
    * the immutable fixture dir (plus cache-specific params); release
    * just clears the map so a cold rebuild is measurable. */
  final class ScalarCache[K, V] private[SessionCaches] () extends Releasable {
    private val m = TrieMap.empty[K, V]

    /** Drop-in TrieMap signature so existing memo sites read unchanged. */
    def getOrElseUpdate(key: K, build: => V): V = {
      touch()
      m.getOrElseUpdate(key, build)
    }

    override def releaseAll(): Unit = m.clear()
    override def size: Int = m.size
  }

  def valueCache[K, V](frames: V => Seq[DataFrame]): ValueCache[K, V] =
    register(new ValueCache[K, V](frames))
  def scalarCache[K, V](): ScalarCache[K, V] = register(new ScalarCache[K, V]())
}
