package graft

/** A weight-bounded LRU map shared between threads: the one eviction
  * policy behind `QShared.statsCache` and `ParquetMeta`'s footer and
  * bloom-filter cache.
  *
  * Each entry weighs `weigh(value)`. An insert that would take the total
  * past `budget` first drops least-recently-used entries until the total
  * is at most half the budget, so a full cache pays one sweep per
  * half-budget of inserts, not one per insert; the map is access-ordered,
  * so a hit refreshes its entry and a hot long-lived entry survives churn.
  * An entry heavier than half the budget is never stored. Callers
  * compute values outside the lock: two threads missing the same key
  * both compute, and the first insert wins.
  */
private[graft] final class Lru[K, V <: AnyRef](budget: Long, weigh: V => Long) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true)
  private var total = 0L

  def get(key: K): Option[V] = synchronized(Option(map.get(key)))

  def contains(key: K): Boolean = synchronized(map.containsKey(key))

  def size: Int = synchronized(map.size())

  /** Stores `value` under `key` unless the key already holds a value;
    * returns what the key holds afterwards (`value` if it was too heavy
    * to store). */
  def putIfAbsent(key: K, value: V): V = synchronized {
    val prior = map.get(key)
    if (prior != null) prior
    else {
      val w = weigh(value)
      if (w <= budget / 2) {
        if (total + w > budget) {
          val it = map.values().iterator()
          while (total > budget / 2 && it.hasNext) { total -= weigh(it.next()); it.remove() }
        }
        map.put(key, value)
        total += w
      }
      value
    }
  }

  /** The value under `key`, computing and storing it on a miss. */
  def getOrElseUpdate(key: K)(compute: => V): V =
    get(key).getOrElse(putIfAbsent(key, compute))
}
