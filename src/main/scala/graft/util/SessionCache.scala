package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** One cache for the derived state gates reuse across calls: memoized
  * frames, broadcasts, driver-side scalars and probe sets, and the dirs of
  * built indexes, staged copies, mirrors and tableset roots.
  *  - Keys compare by content: a tuple or case class led by a tag naming
  *    its site, such as `("ivf", "append", dir)`. Never a concatenated
  *    string, never a hash.
  *  - Scope: every entry belongs to one scope, the SparkContext's
  *    application id for the shared cache. A checkpointed frame or a
  *    broadcast dies with its context, so the first access from a new
  *    scope drops every entry of the old one. Values that only name files
  *    are rebuilt once per context too.
  *  - Builds follow [[Memo.getOrBuild]]: at most once per key, no map lock
  *    held while a build runs (builds nest), and a build that throws is
  *    not cached.
  *  - Eviction: [[clear]] drops every entry, for callers about to release
  *    the blocks memoized frames are backed by.
  * Inputs are assumed immutable within a scope: no entry is invalidated
  * when the files under a dir change. */
final class SessionCache {
  private val entries = new ConcurrentHashMap[(String, Any), Memo.Cell[Any]]()
  @volatile private var current = ""

  def getOrBuild[V](scope: String, key: Any)(build: => V): V = {
    if (scope != current) {
      current = scope
      entries.keySet.removeIf(_._1 != scope)
    }
    Memo.getOrBuild(entries, (scope, key))(build).asInstanceOf[V]
  }

  def clear(): Unit = entries.clear()
}

object SessionCache {
  private val shared = new SessionCache

  /** The value cached under `key` for `spark`'s context, built on first use. */
  def apply[V](spark: SparkSession, key: Any)(build: => V): V =
    shared.getOrBuild(spark.sparkContext.applicationId, key)(build)

  def clear(): Unit = shared.clear()
}
