package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.EpochCache

/**
 * The engine's one reply-cache mechanism, without Spark: LRU order,
 * the post-insert epoch re-check, per-index invalidation, the onDrop
 * contract (exactly once per value the cache lets go) and the
 * `maxEntries = 0` off switch.
 */
class EpochCacheSpec extends AnyFunSuite {

  private class Fixture(maxEntries: Int) {
    val epochs = mutable.Map.empty[String, Long].withDefaultValue(1L)
    val dropped = mutable.ArrayBuffer.empty[String]
    val cache = new EpochCache[String](maxEntries, epochs(_), () => "s",
      onDrop = v => { dropped += v; () })
    def key(index: String, part: String): EpochCache.Key =
      cache.key(index, epochs(index), part)
  }

  test("LRU eviction keeps the most recently used entry") {
    val f = new Fixture(2)
    import f._
    cache.put(key("i", "a"), "a")
    cache.put(key("i", "b"), "b")
    assert(cache.get(Seq(key("i", "a"))).contains("a")) // a is now newer than b
    cache.put(key("i", "c"), "c")
    assert(cache.size == 2)
    assert(dropped == Seq("b"))
    assert(cache.get(Seq(key("i", "a"))).contains("a"))
    assert(cache.get(Seq(key("i", "b"))).isEmpty)
    assert(cache.hits.get() == 2 && cache.misses.get() == 1)
  }

  test("an insert that races an epoch bump is dropped") {
    val f = new Fixture(8)
    import f._
    val k = key("i", "q") // captured before the compute
    epochs("i") = 2L // a re-registration lands during the compute
    cache.put(k, "stale")
    assert(cache.size == 0)
    assert(dropped == Seq("stale"))
    assert(cache.get(Seq(k)).isEmpty)
  }

  test("dropIndex removes only that index's entries") {
    val f = new Fixture(8)
    import f._
    cache.put(key("i", "a"), "ia")
    cache.put(key("i", "b"), "ib")
    cache.put(key("j", "a"), "ja")
    cache.dropIndex("i")
    assert(cache.size == 1)
    assert(dropped.sorted == Seq("ia", "ib"))
    assert(cache.get(Seq(key("j", "a"))).contains("ja"))
  }

  test("onDrop runs once per removed entry: eviction, invalidation, lost insert race") {
    val f = new Fixture(1)
    import f._
    cache.put(key("i", "a"), "a")
    cache.put(key("i", "a"), "a-loser") // same key: the second insert loses
    cache.put(key("i", "b"), "b") // evicts a
    cache.dropIndex("i") // invalidates b
    cache.dropIndex("i") // nothing left to drop
    assert(dropped == Seq("a-loser", "a", "b"))
  }

  test("the key carries the settings and is unambiguous") {
    var settings = "x"
    val cache = new EpochCache[String](8, _ => 1L, () => settings)
    cache.put(cache.key("i", 1L, "a:b"), "v")
    assert(cache.get(Seq(cache.key("i", 1L, "a:b"))).contains("v"))
    assert(cache.get(Seq(cache.key("i", 1L, "a", "b"))).isEmpty)
    settings = "y"
    assert(cache.get(Seq(cache.key("i", 1L, "a:b"))).isEmpty)
  }

  test("the per-entry bound rejects oversized values") {
    val dropped = mutable.ArrayBuffer.empty[String]
    val cache = new EpochCache[String](8, _ => 1L, () => "",
      admit = _.length <= 3, onDrop = v => { dropped += v; () })
    cache.put(cache.key("i", 1L, "big"), "four")
    cache.put(cache.key("i", 1L, "ok"), "two")
    assert(cache.size == 1 && dropped == Seq("four"))
  }

  test("at maxEntries = 0 nothing is stored or counted") {
    val f = new Fixture(0)
    import f._
    cache.put(key("i", "a"), "a")
    assert(cache.size == 0)
    assert(dropped == Seq("a"), "a value the cache does not keep is dropped")
    assert(cache.get(Seq(key("i", "a"))).isEmpty)
    assert(cache.hits.get() == 0 && cache.misses.get() == 0)
  }
}
