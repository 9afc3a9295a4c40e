package graft.engine

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

/**
 * A bounded LRU cache of values computed from one index, valid for
 * exactly one registration epoch of that index and only under the
 * engine settings they were computed with — the one mechanism behind
 * the engine's FT.SEARCH reply, filtered-base and FT.AGGREGATE
 * wire-reply caches.
 *
 * Validity rests on the catalog contract: every results-affecting
 * mutation goes through `createIndex` or `dropIndex`, which bump the
 * index's epoch and then call [[dropIndex]] here. A [[Key]] carries the
 * epoch and the `settings()` string its request saw, so an entry
 * computed before a bump or under other settings is unreachable.
 *
 * `maxEntries` bounds the whole cache (LRU eviction); `admit` is the
 * per-entry bound (page rows, reply bytes) a value must meet to be
 * stored. `maxEntries = 0` turns the cache off: nothing is stored and
 * lookups are neither hits nor misses. `onDrop` runs exactly once for
 * every value the cache lets go — evicted, invalidated, rejected at
 * admission, or the loser of an insert race.
 *
 * Every hit, miss and LRU eviction also counts into `counters`, the
 * process-wide [[Metrics.CacheCounters]] the metrics snapshot reports
 * (the per-instance `hits`/`misses` count this cache alone).
 */
final class EpochCache[V](
    var maxEntries: Int,
    epochOf: String => Long,
    settings: () => String,
    admit: V => Boolean = (_: V) => true,
    onDrop: V => Unit = (_: V) => (),
    counters: Metrics.CacheCounters = new Metrics.CacheCounters("unlisted")) {
  import EpochCache.Key

  private final class Entry(val index: String, val value: V, @volatile var used: Long)
  private val entries = TrieMap.empty[String, Entry]
  private val clock = new AtomicLong
  private[graft] val hits = new AtomicLong
  private[graft] val misses = new AtomicLong
  private[graft] def size: Int = entries.size

  /** The key of one request: index, epoch, the settings string and the
    * request's parts, each length-prefixed — user-controlled strings
    * (query text, params, argv) may contain ANY character, so joining
    * them with a delimiter would let two requests collide on one key
    * and serve each other's entries. */
  def key(index: String, epoch: Long, parts: String*): Key = {
    val sb = new StringBuilder
    def add(s: String): Unit = { sb.append(s.length).append(':').append(s); () }
    add(index); add(epoch.toString); add(settings())
    parts.foreach(add)
    Key(index, epoch, sb.toString)
  }

  /** The first entry under `keys`, in order, that `accept` takes (a
    * side-effecting `accept` such as a reader acquire runs on each
    * candidate until one is taken). Counts one hit or one miss per
    * call; a cache that is off is not consulted and counts neither. */
  def get(keys: Seq[Key], accept: V => Boolean = (_: V) => true): Option[V] =
    if (maxEntries <= 0) None
    else keys.view.flatMap(k => entries.get(k.text)).find(e => accept(e.value)) match {
      case Some(e) =>
        e.used = clock.incrementAndGet()
        hits.incrementAndGet()
        counters.hit.incrementAndGet()
        Some(e.value)
      case None =>
        misses.incrementAndGet()
        counters.miss.incrementAndGet()
        None
    }

  /** Insert a freshly computed value. An entry stranded by a
    * re-registration that raced the compute (its epoch is no longer
    * current) is removed at once; then the LRU bound is restored. */
  def put(k: Key, value: V): Unit =
    if (maxEntries <= 0 || !admit(value)) onDrop(value)
    else {
      val e = new Entry(k.index, value, clock.incrementAndGet())
      entries.putIfAbsent(k.text, e) match {
        case Some(_) => onDrop(value)
        case None =>
          if (epochOf(k.index) != k.epoch) remove(k.text, e)
          while (entries.size > maxEntries)
            entries.minByOption(_._2.used) match {
              case Some((oldKey, old)) =>
                if (remove(oldKey, old)) counters.eviction.incrementAndGet()
              case None => return
            }
      }
    }

  /** Drop every entry of `index` (its registration changed). */
  def dropIndex(index: String): Unit =
    entries.foreach { case (k, e) => if (e.index == index) remove(k, e) }

  // conditional remove: whoever removes an entry runs its onDrop, once
  private def remove(k: String, e: Entry): Boolean =
    entries.remove(k, e) && { onDrop(e.value); true }
}

object EpochCache {
  /** A built key: `text` is the map key; `index` and `epoch` serve
    * invalidation and the post-insert epoch re-check. */
  final case class Key(index: String, epoch: Long, text: String)
}
