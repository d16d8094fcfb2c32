package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** One request of an open loop: when it was due, when a client thread
  * started it, when it ended, and whether the call succeeded. */
final case class Sample(dueNs: Long, startNs: Long, endNs: Long, ok: Boolean) {
  /** Latency counted from the due time, so a stall also charges the
    * requests queued behind it. */
  def latencyMs: Double = (endNs - dueNs) / 1e6
  /** How late the generator started the request. */
  def lagMs: Double = (startNs - dueNs) / 1e6
}

/** Summary of a batch of open-loop samples against a request deadline. */
final case class LoadSummary(attempted: Long, failed: Long, p50Ms: Double,
    p99Ms: Double, lagP50Ms: Double, lagP99Ms: Double, backlog: Boolean)

object LoadSummary {
  /** A request fails when its call failed or it ended later than
    * `deadlineMs` after it was due. Samples are in issue order. */
  def of(samples: Seq[Sample], deadlineMs: Double): LoadSummary = {
    require(samples.nonEmpty, "no samples")
    val lat = samples.map(_.latencyMs)
    val lag = samples.map(_.lagMs)
    LoadSummary(samples.length,
      samples.count(s => !s.ok || s.latencyMs > deadlineMs).toLong,
      Stats.percentile(lat, 50), Stats.percentile(lat, 99),
      Stats.percentile(lag, 50), Stats.percentile(lag, 99),
      Stats.backlogGrowing(lag))
  }
}

/** Open-loop request generator: request `i` is due at `t0 + i / rate`
  * whatever happened to earlier requests, as independent users send.
  * `threads` client threads take requests in order; when all are busy a
  * due request waits, and that wait shows as start lag and latency.
  * `op(i)` returns false (or throws) when the request failed. */
final class OpenLoop(rate: Double, threads: Int, op: Long => Boolean) {
  require(rate > 0 && threads >= 1)
  private val intervalNs = 1e9 / rate
  private val next = new AtomicLong()
  @volatile private var stopAtNs = Long.MaxValue
  private val buffers = Array.fill(threads)(scala.collection.mutable.ArrayBuffer.empty[Sample])
  private var t0 = 0L
  private var workers: Seq[Thread] = Nil

  def start(): this.type = {
    t0 = System.nanoTime()
    workers = (0 until threads).map { w =>
      val t = new Thread(() => loop(buffers(w)), s"openloop-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    this
  }

  private def loop(out: scala.collection.mutable.ArrayBuffer[Sample]): Unit = {
    var running = true
    while (running) {
      val i = next.getAndIncrement()
      val due = t0 + (i * intervalNs).toLong
      if (due >= stopAtNs) running = false
      else {
        var now = System.nanoTime()
        while (now < due) {
          LockSupport.parkNanos(math.min(due - now, 200000L))
          now = System.nanoTime()
        }
        if (due >= stopAtNs) running = false
        else {
          val ok = try op(i) catch { case _: Exception => false }
          out += Sample(due, now, System.nanoTime(), ok)
        }
      }
    }
  }

  /** Stop issuing requests due after now, wait for those in flight, and
    * return every sample in issue order. */
  def stop(): Seq[Sample] = {
    stopAtNs = System.nanoTime()
    workers.foreach(_.join())
    buffers.toSeq.flatten.sortBy(_.dueNs)
  }

  /** Run for `seconds` and return the samples. */
  def runFor(seconds: Double): Seq[Sample] = {
    start()
    Thread.sleep((seconds * 1000).toLong)
    stop()
  }
}
