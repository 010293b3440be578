package graft

import java.util.concurrent.ConcurrentHashMap

/** Get-or-build memo: the one in-process cache primitive behind the query
  * modules' staged trees, per-dataset scalars, fixture schemas and
  * [[graft.queries.BoundedMemo]].
  *
  *  - A hit is one lock-free `ConcurrentHashMap.get` plus a volatile read.
  *  - A miss takes a PER-KEY lock, checks again, builds, then publishes, so
  *    a concurrent caller of the same key waits for the build to complete
  *    instead of reading a half-written result or running a second build.
  *  - A build that throws publishes nothing; the next call rebuilds.
  *  - A build may call the memo for a DIFFERENT key (a staging body reads a
  *    memoized scalar, a codebook build reads the memoized sample). That is
  *    why this is not one shared `computeIfAbsent`: `ConcurrentHashMap`
  *    throws "Recursive update" when a mapping function touches the same
  *    map. The only `computeIfAbsent` here creates the key's empty cell and
  *    runs no caller code.
  */
final class Memo[K, V] {
  private final class Cell { @volatile var value: AnyRef = null }
  private val cells = new ConcurrentHashMap[K, Cell]()

  def apply(key: K)(build: => V): V = {
    val hit = cells.get(key)
    if (hit != null && hit.value != null) hit.value.asInstanceOf[V]
    else {
      val cell = if (hit != null) hit else cells.computeIfAbsent(key, _ => new Cell)
      cell.synchronized {
        if (cell.value == null) cell.value = build.asInstanceOf[AnyRef]
        cell.value.asInstanceOf[V]
      }
    }
  }

  /** Drop every key that matches; a build still running for one publishes
    * to its caller only. */
  def removeIf(p: K => Boolean): Unit = cells.keySet.removeIf(k => p(k))

  /** Number of published values. */
  def size: Int = { var n = 0; cells.values.forEach(c => if (c.value != null) n += 1); n }
}

object Memo {
  private val staged = new Memo[String, Unit]

  /** Run a side-effecting staging body once per JVM per target path. A
    * concurrent caller of the same path waits for the body to finish, and a
    * body that throws leaves the path unstaged so the next call retries.
    * Cross-process staleness (a tree left by an earlier JVM) is the body's
    * own business: each one overwrites or wipes its target first. */
  def stageOnce(path: String)(body: => Unit): Unit = staged(path)(body)

  /** `/tmp/graft_<area>/<sf>/<tag>`: the per-scale-factor staging path,
    * with the fixture dir flattened to `[a-z0-9.]` so each scale factor
    * stages under its own name. */
  def stagingDir(area: String, sfDir: String, tag: String): String =
    s"/tmp/graft_$area/${sfDir.replaceAll("[^a-z0-9.]", "_")}/$tag"
}
