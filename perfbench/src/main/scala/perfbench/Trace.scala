package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval around one public call. Spans of one benchmark
  * operation share `op`; `parent` is the enclosing span (0 at the root). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** One benchmark operation: its kind, the run phase it ran in, wall time,
  * output size and whether its result was correct. */
final case class Sample(kind: String, phase: String, ms: Double, n: Long, ok: Boolean,
    op: Int, startMs: Long, endMs: Long)

/** Records one sample per benchmark operation always, and spans and
  * engine counters only when tracing is on. Everything stays in memory
  * until the run ends. */
final class Recorder(val tracing: Boolean, sc: SparkContext) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val values = mutable.ArrayBuffer.empty[(String, Int, Double)]
  val listener: Option[OpListener] =
    if (tracing) { val l = new OpListener; sc.addSparkListener(l); Some(l) } else None

  var phase = "setup"
  /** Store invariants checked outside the timed operations. */
  var checks = 0
  private var nextOp = 0
  private var nextSpan = 0
  private var stack: List[Span] = Nil

  /** Times one benchmark operation and records its sample. `f` returns the
    * operation's output size and whether its result was correct; a throw
    * is recorded as a failed operation. */
  def op(kind: String)(f: => (Long, Boolean)): Unit = {
    nextOp += 1
    val id = nextOp
    if (tracing) sc.setLocalProperty(OpListener.Key, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (n, ok) =
      try span(s"op.$kind", id)(f)
      catch { case e: Exception =>
        fail(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        (0L, false)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    samples += Sample(kind, phase, ms, n, ok, id, wall0, System.currentTimeMillis())
    if (tracing) sc.setLocalProperty(OpListener.Key, null)
  }

  def fail(what: String, reason: String): Unit = {
    failures += (what -> reason)
    System.err.println(s"perfbench: FAILED $what: $reason")
  }

  /** A named value measured inside the current operation. */
  def value(name: String, v: Double): Unit = if (tracing) values += ((name, nextOp, v))

  def span[T](name: String)(f: => T): T =
    if (!tracing) f else span(name, stack.headOption.map(_.op).getOrElse(0))(f)

  private def span[T](name: String, op: Int)(f: => T): T = {
    if (!tracing) return f
    nextSpan += 1
    val s = Span(nextSpan, stack.headOption.map(_.id).getOrElse(0), op, name, System.nanoTime(), 0L)
    stack = s :: stack
    try f
    finally {
      stack = stack.tail
      spans += s.copy(endNs = System.nanoTime())
    }
  }
}

/** Engine work per benchmark operation, attributed through a local
  * property that [[Recorder.op]] sets on the driver thread. */
final class OpListener extends SparkListener {
  final class OpStats {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val ops = mutable.Map.empty[Int, OpStats]
  private val stageOp = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key))).foreach { o =>
      val op = o.toInt
      ops.getOrElseUpdate(op, new OpStats).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = ops.getOrElseUpdate(op, new OpStats)
      s.tasks += 1
      s.intervals += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object OpListener {
  val Key = "perfbench.op"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
