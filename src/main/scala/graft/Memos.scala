package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** The engine's one memo primitive for request-scoped build stages (the
  * miner/CC/fused-retrieval/indicator-finals one-shot builds, the
  * ordered-scan layouts, the quality-filter fit).
  *
  * The contract: an entry built for session `s` lives until the next
  * [[CacheScope.release]] of `s` (explicit, or the high-water
  * auto-release), which calls [[evict]] once. Session-lived state — the
  * temp-view registration and the plan memo in [[Tables]] — does not go
  * through here.
  *
  * A release that lands while a build is running (another session's
  * retain can trigger the auto-release at any time) would otherwise
  * leave the finished entry with no release left to evict it. Each
  * session therefore carries a release epoch: a build reads it before it
  * starts, and an entry whose session was released before the put is
  * dropped again. The caller still gets the built value — eviction is a
  * recompute, never a wrong answer.
  *
  * No lock is held across a build: two threads missing the same key may
  * both build, and the first put wins for both.
  *
  * Keys are typed values compared by `equals` — a DataFrame component
  * compares by reference, so two frames that merely look alike never
  * share an entry.
  */
object Memos {

  final case class Stats(hits: Long, misses: Long, evictions: Long,
      entries: Int)

  final class Scoped[K, V] private[Memos] (val name: String) {
    private val entries = TrieMap.empty[(SparkSession, K), V]
    private val hits = new AtomicLong
    private val misses = new AtomicLong
    private val evictions = new AtomicLong

    def apply(s: SparkSession, key: K)(build: => V): V =
      entries.get((s, key)) match {
        case Some(v) =>
          hits.incrementAndGet()
          v
        case None =>
          misses.incrementAndGet()
          val before = epoch(s)
          val v = build
          entries.putIfAbsent((s, key), v) match {
            case Some(winner) => winner
            case None =>
              if (epoch(s) != before && entries.remove((s, key), v))
                evictions.incrementAndGet()
              v
          }
      }

    private[Memos] def evict(s: SparkSession): Unit =
      entries.keysIterator.filter(_._1 eq s).foreach { k =>
        if (entries.remove(k).isDefined) evictions.incrementAndGet()
      }

    def stats: Stats =
      Stats(hits.get, misses.get, evictions.get, entries.size)
  }

  private val memos = scala.collection.mutable.ArrayBuffer.empty[Scoped[_, _]]

  /** Weak-keyed: a released session that is dropped must not be pinned. */
  private val epochs = new java.util.WeakHashMap[SparkSession, java.lang.Long]

  private def epoch(s: SparkSession): Long =
    epochs.synchronized { Option(epochs.get(s)).fold(0L)(_.longValue) }

  private[graft] def scoped[K, V](name: String): Scoped[K, V] = synchronized {
    require(!memos.exists(_.name == name), s"duplicate memo name $name")
    val m = new Scoped[K, V](name)
    memos += m
    m
  }

  /** Drops every entry of `s`. Called only by [[CacheScope.release]]; the
    * epoch moves first, so a build that has already read it and puts after
    * the sweep still sees the release.
    */
  private[graft] def evict(s: SparkSession): Unit = {
    epochs.synchronized { epochs.put(s, epoch(s) + 1) }
    synchronized(memos.toList).foreach(_.evict(s))
  }

  /** Total entries across every memo. */
  private[graft] def totalEntries: Int = synchronized { memos.map(_.stats.entries).sum }

  /** Hit, miss and eviction counts per memo name. */
  private[graft] def stats: Map[String, Stats] =
    synchronized { memos.map(m => m.name -> m.stats).toMap }
}
