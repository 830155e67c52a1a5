package graft.store

import java.net.URI
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local FileSystem (scheme `pausefs`) that parks one chosen thread right
  * after its first directory listing under a chosen path, until the test
  * releases it: a deterministic way to let another thread commit between a
  * reader's listing and whatever the reader does with it. Registered like
  * [[FaultFs]], by setting `fs.pausefs.impl` on the Hadoop conf. */
class PauseFs extends RawLocalFileSystem {
  override def getScheme: String = "pausefs"
  override def getUri: URI = URI.create("pausefs:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    PauseFs.afterListing(f)
    out
  }
}

object PauseFs {
  @volatile private var thread: Thread = null
  @volatile private var under = ""
  @volatile private var listed = new CountDownLatch(1)
  @volatile private var resume = new CountDownLatch(1)

  /** Park `t` after its first listing of a path containing `pathPart`. */
  def arm(t: Thread, pathPart: String): Unit = {
    listed = new CountDownLatch(1); resume = new CountDownLatch(1)
    under = pathPart; thread = t
  }

  /** Wait until the armed thread has listed and parked. */
  def awaitListed(): Boolean = listed.await(60, TimeUnit.SECONDS)

  /** Let the parked thread go on. */
  def release(): Unit = resume.countDown()

  private def afterListing(f: Path): Unit =
    if ((Thread.currentThread eq thread) && f.toString.contains(under)) {
      thread = null
      listed.countDown()
      resume.await(60, TimeUnit.SECONDS)
    }
}
