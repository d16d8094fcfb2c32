package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans around each call the benchmark makes into an engine
  * layer. Spans nest per thread; spans of one serving request share its
  * request id. Nothing is recorded while disabled. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, request: Long,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, request: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = current.get()
      current.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), name, request,
          start, System.nanoTime()))
        current.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def durations(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(_.seconds).toSeq
  def reset(): Unit = spans.clear()

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it covered by its child spans. */
  def selfSeconds(ss: Seq[Span] = all): Map[String, Double] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Intervals.covered(
          children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
          s.startNs, s.endNs)
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** One printable `self_s` line per span name, largest first. */
  def selfTimeLines(): Seq[String] =
    selfSeconds().toSeq.sortBy(-_._2).map { case (n, s) => f"self_s $n%-28s $s%10.4f" }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

final case class RuntimeSnapshot(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
    spillBytes: Long, busyMs: Long)

/** Spark runtime counters gathered by a benchmark-owned listener: jobs,
  * tasks, shuffle and spill bytes, task busy time, and task intervals for
  * the idle time of a window (wall time with no task running). */
final class RuntimeListener extends SparkListener {
  val jobsStarted = new AtomicLong()
  val jobsEnded = new AtomicLong()
  val tasks = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val busyMs = new AtomicLong()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) {
      busyMs.addAndGet(info.finishTime - info.launchTime)
      intervals.add((info.launchTime, info.finishTime))
    }
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < until)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  def snapshot(): RuntimeSnapshot = RuntimeSnapshot(jobsStarted.get(), tasks.get(),
    shuffleWriteBytes.get(), spillBytes.get(), busyMs.get())

  /** Milliseconds of [fromMs, toMs] (epoch) during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long =
    (toMs - fromMs) - Intervals.covered(intervals.asScala.toSeq, fromMs, toMs)
}
