package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.Path

/** A bounded, JVM-wide driver-side memo: the one cache shape for the
  * engine's metadata (footer schemas, sidecar kinds and cardinalities,
  * add-version maps, probe results). The policy, stated once:
  *  - Bounded. A put that would take the memo past `maxEntries` first
  *    drops about 1/8 of the entries (arbitrary victims: every entry is
  *    a pure cache). A clear-all would make a working set just above the
  *    bound re-pay every entry on every pass.
  *  - Table-scoped invalidation. Each memo declares the paths its key
  *    depends on and registers itself; [[Memo.invalidateTable]] drops
  *    every registered entry under a table root, so a DROP + re-CREATE
  *    at one path is never served a dead table's metadata.
  *  - Loaders run outside any lock (get → load → put). They run Spark
  *    jobs and consult other memos, so a bin lock (`computeIfAbsent`)
  *    would stall unrelated keys and a recursive load would throw.
  *    Racing loads of one key may both run; the first put wins and every
  *    caller gets its value. A loader that throws leaves no entry.
  */
final class Memo[K, V] private (maxEntries: Int, pathsOf: K => Iterable[String]) {
  private val map = new ConcurrentHashMap[K, V]()
  val hits, misses, evictions = new LongAdder

  /** The memoized value of `key`, running `load` on a miss. */
  def apply(key: K)(load: => V): V = {
    val hit = map.get(key)
    if (hit != null) { hits.increment(); return hit }
    misses.increment()
    val v = load
    makeRoom()
    val won = map.putIfAbsent(key, v)
    if (won != null) won else v
  }

  def get(key: K): Option[V] = Option(map.get(key))
  def contains(key: K): Boolean = map.containsKey(key)
  def size: Int = map.size

  /** Record `v` for `key`, replacing any earlier value. */
  def put(key: K, v: V): Unit = { makeRoom(); map.put(key, v): Unit }

  def removeWhere(p: K => Boolean): Unit = { map.keySet.removeIf(k => p(k)): Unit }

  private[graft] def holdsUnder(rootNorm: String): Boolean =
    map.keySet.stream.anyMatch(dependsOn(_, rootNorm))

  private def invalidate(rootNorm: String): Unit = removeWhere(dependsOn(_, rootNorm))

  private def dependsOn(k: K, rootNorm: String): Boolean =
    pathsOf(k).exists { p =>
      val n = Memo.normPath(p)
      n == rootNorm || n.startsWith(rootNorm + "/")
    }

  private def makeRoom(): Unit =
    if (map.size >= maxEntries) {
      val it = map.keySet.iterator
      var n = math.max(1, maxEntries >> 3)
      while (n > 0 && it.hasNext) { it.next(); it.remove(); evictions.increment(); n -= 1 }
    }
}

object Memo {
  private val registry = new CopyOnWriteArrayList[Memo[_, _]]()

  def apply[K, V](maxEntries: Int)(pathsOf: K => Iterable[String]): Memo[K, V] = {
    val m = new Memo[K, V](maxEntries, pathsOf)
    registry.add(m)
    m
  }

  /** Scheme-free path: the one normalization for memo keys, table-scoped
    * invalidation and the snapshot format's manifest set algebra, so
    * `file:/x` and `/x` always name one table.
    */
  private[graft] def normPath(p: String): String = new Path(p).toUri.getPath

  private[graft] def registered: Seq[Memo[_, _]] =
    scala.jdk.CollectionConverters.ListHasAsScala(registry).asScala.toSeq

  /** Drop every registered entry that depends on a path under `root`:
    * DROP and RENAME free the path for a new table that reuses the
    * version numbers.
    */
  def invalidateTable(root: String): Unit = {
    val n = normPath(root)
    registry.forEach(_.invalidate(n))
  }
}
