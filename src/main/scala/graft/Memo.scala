package graft

import java.util.concurrent.ConcurrentHashMap

/** A build-once memo: `memo(key)(build)` runs `build` on the first call
  * for `key` in this JVM and returns its value on every later call.
  *
  * The registry builds its fixtures (persisted indexes, staged stream
  * sources, trained quantizers, scratch roots) through one of these, the
  * way the reference builds its index once and serves every query from
  * the stored tables.
  *
  * Per-key memoization: the map insert is the only globally synchronized
  * step; the multi-second build itself runs under a per-key lazy holder,
  * so first-call builds of UNRELATED keys proceed concurrently, and a
  * build that calls another key's build cannot deadlock on one object
  * monitor. The lazy val guarantees each key's build still runs exactly
  * once.
  *
  * A build that throws leaves nothing behind: its holder is removed, so
  * the next call builds again. `clear()` forgets every key, for a memo
  * whose values hold caches that a [[CacheRegistry.releaseAll]] drops.
  */
final class Memo[V] {

  private final class Cell(build: => V) {
    lazy val value: V = build
  }

  private val cells = new ConcurrentHashMap[String, Cell]()

  def apply(key: String)(build: => V): V = {
    val cell = cells.computeIfAbsent(key, _ => new Cell(build))
    try cell.value
    catch {
      case e: Throwable =>
        cells.remove(key, cell)
        throw e
    }
  }

  def clear(): Unit = cells.clear()
}
