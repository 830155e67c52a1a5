package graft.store

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Fault-injecting local FileSystem for crash-recovery testing (scheme
  * `faultfs`). Counts STORE-LEVEL mutating operations (create / rename /
  * delete on metadata paths, plus data-file unlinks) and throws an
  * IOException when the armed kill-point is reached — simulating a writer
  * killed mid-commit at every step of a temp-write + rename sequence.
  * Spark job-committer machinery (`_temporary`, `_SUCCESS`, `.spark-staging`)
  * is deliberately NOT faulted: its commit atomicity is the committer's
  * contract, the store's own crash-consistency contract is what this spec
  * exercises: the commit log, staged-file moves and the schema sidecar.
  *
  * Registered by setting `fs.faultfs.impl` on the Hadoop conf; the
  * FileSystem CACHE then serves one shared instance, so the companion's
  * static arm/disarm state governs all access, driver and executor alike
  * (local mode = one JVM). */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f, None, recursive = false)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f, None, recursive = false)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick("rename", src, Some(dst), recursive = false)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.tick("delete", p, Some(p), recursive)
    super.delete(p, recursive)
  }
}

object FaultFs {
  /** Ordinal of the next countable op (counting starts at arm time). */
  val counter = new AtomicInteger(0)
  /** Fault fires when `counter` reaches this value; negative = disarmed
    * (pure counting mode when `rootFilter` is set). */
  @volatile var armedAt: Int = -1
  /** Sticky kill: every countable op AT OR AFTER `armedAt` throws — a real
    * killed process never executes later FS mutations. One-shot mode
    * (sticky=false) only tests transient-error tolerance at steps the
    * store tolerates; the sweep runs BOTH modes (ADVICE r6) so "died at
    * tolerated step k, nothing after ran" states are exercised too. */
  @volatile var sticky: Boolean = false
  /** Only paths containing this substring are countable; empty = off. */
  @volatile var rootFilter: String = ""
  /** Count recursive deletes under /data/ too (dropPartitionsWhere sweeps —
    * off by default so Spark dynamic-overwrite partition replacement is
    * never faulted). */
  @volatile var includeRecursiveDataDeletes: Boolean = false
  /** Human-readable log of counted ops, for sweep diagnostics. */
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private val committerMarkers = Seq("_temporary", "_SUCCESS", ".spark-staging")
  private val metadataMarkers = Seq("/_log/", "/_staging/", "schema.json")

  private def countable(op: String, s: String, recursive: Boolean): Boolean = {
    if (rootFilter.isEmpty || !s.contains(rootFilter)) return false
    if (committerMarkers.exists(s.contains)) return false
    if (metadataMarkers.exists(s.contains)) return true
    if (s.contains("/data/") && op == "delete")
      return !recursive || includeRecursiveDataDeletes
    false
  }

  private[store] def tick(op: String, p: Path, other: Option[Path],
      recursive: Boolean): Unit = {
    val s = p.toString
    val o = other.map(_.toString).getOrElse("")
    if (committerMarkers.exists(m => s.contains(m) || o.contains(m))) return
    if (!(countable(op, s, recursive) || (o.nonEmpty && countable(op, o, recursive))))
      return
    val n = counter.getAndIncrement()
    log.add(s"$n:$op:$s${if (o.nonEmpty && o != s) s" -> $o" else ""}")
    if (armedAt >= 0 && (n == armedAt || (sticky && n > armedAt)))
      throw new java.io.IOException(s"FaultFs: injected crash at op $n ($op $s)")
  }

  /** Counting mode over `root` (no fault). */
  def startCounting(root: String): Unit = { counter.set(0); log.clear(); armedAt = -1; rootFilter = root }
  /** Arm a kill at countable op `k` over `root`; `stickyKill` suppresses
    * every later countable op too (process-death semantics). */
  def arm(root: String, k: Int, stickyKill: Boolean = false): Unit = {
    counter.set(0); log.clear(); armedAt = k; sticky = stickyKill; rootFilter = root
  }
  def counted: Int = counter.get()
  def disarm(): Unit = {
    armedAt = -1; sticky = false; rootFilter = ""; includeRecursiveDataDeletes = false
  }
}
