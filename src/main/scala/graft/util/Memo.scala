package graft.util

import java.util.concurrent.ConcurrentHashMap

/** The memo shape every cache shares: the map holds one [[Memo.Cell]] per
  * key, published with `putIfAbsent`, and the cell's lazy val runs the
  * build.
  *  - A key builds at most once, even with concurrent callers: a caller
  *    that loses the publish waits on the winner's cell.
  *  - No map lock is held while a build runs (building inside the map's
  *    compute methods holds a bin lock: a nested build on the same map
  *    throws "Recursive update" and a slow build blocks its whole bin). A
  *    build may read other keys of the same map; it blocks only callers of
  *    its own key.
  *  - A build that throws is not cached: its cell leaves the map and the
  *    next call builds again. */
object Memo {
  final class Cell[V](build: => V) {
    lazy val value: V = build
  }

  def getOrBuild[K, V](cache: ConcurrentHashMap[K, Cell[V]], key: K)(build: => V): V = {
    val fresh = new Cell(build)
    val prev = cache.putIfAbsent(key, fresh)
    val cell = if (prev == null) fresh else prev
    try cell.value
    catch { case t: Throwable => cache.remove(key, cell); throw t }
  }
}
