package perfbench

import java.nio.file.Files

/** Tests of the benchmark's own logic: generator determinism per seed,
  * percentile and capacity rules, and late-request accounting of the open
  * loop. Run with `python3 perfbench/test.py`; exits non-zero on failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def eventsEqual(a: Gen.Events, b: Gen.Events): Boolean =
    a.user.sameElements(b.user) && a.item.sameElements(b.item) &&
      a.tsMs.sameElements(b.tsMs) && a.value.sameElements(b.value) &&
      a.cat.sameElements(b.cat)

  def generator(): Unit = {
    def ev(seed: Long) = Gen.events(seed, 5000, 300, 50, Gen.Epoch0Ms, 3, 1.1)
    check("events: same seed, same events")(eventsEqual(ev(7), ev(7)))
    check("events: another seed, other events")(!eventsEqual(ev(7), ev(8)))
    check("events: strictly increasing unique times")(
      ev(7).tsMs.sliding(2).forall { case Array(a, b) => a < b })
    def sp(seed: Long) = Gen.spine(seed, 500, 300, 50, 0L, 1000000L, 1.1)
    check("spine: same seed, same rows") {
      val (a, b) = (sp(3), sp(3))
      a.user.sameElements(b.user) && a.item.sameElements(b.item) && a.tsMs.sameElements(b.tsMs)
    }
    def co(seed: Long) = Gen.corpus(seed, 600, 0.1, 0.3, 500)
    check("corpus: same seed, same documents") {
      val (a, b) = (co(5), co(5))
      a.text.sameElements(b.text) && a.kind.sameElements(b.kind) && a.cluster.sameElements(b.cluster)
    }
    check("corpus: another seed, other documents")(!co(5).text.sameElements(co(6).text))
    check("corpus: stated shares") {
      val c = co(5)
      c.n == 600 && c.kind.count(Gen.Kind.lowQuality) == 60 &&
        c.kind.count(_ == Gen.Kind.Clustered) == 180 &&
        c.cluster.filter(_ >= 0).groupBy(identity).values.forall(_.length >= 2)
    }
    check("files: same seed, same bytes") {
      val d = Files.createTempDirectory("perfbench-selftest")
      val a = d.resolve("a.csv").toFile
      val b = d.resolve("b.csv").toFile
      Gen.writeEvents(ev(9), a)
      Gen.writeEvents(ev(9), b)
      val same = java.util.Arrays.equals(Files.readAllBytes(a.toPath), Files.readAllBytes(b.toPath))
      a.delete(); b.delete(); d.toFile.delete()
      same
    }
    check("zipf: rank 0 is the most popular") {
      val z = new Gen.Zipf(100, 1.1)
      val r = Gen.rng(1, 0)
      val counts = new Array[Int](100)
      (0 until 20000).foreach(_ => counts(z.sample(r)) += 1)
      counts(0) == counts.max && counts(0) > 10 * counts(99)
    }
  }

  def stats(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("percentile: nearest rank")(Stats.percentile(xs, 99) == 99.0 &&
      Stats.percentile(xs, 50) == 50.0 && Stats.percentile(xs, 100) == 100.0)
    check("percentile: unsorted input")(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    check("median: odd and even")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    check("backlog: flat lags do not grow")(!Stats.backlogGrowing(Seq.fill(100)(0.3)))
    check("backlog: rising lags grow")(Stats.backlogGrowing((0 until 100).map(_ * 0.5)))
    check("backlog: too few samples never grow")(!Stats.backlogGrowing(Seq(0.0, 100.0)))
    import Stats.Step
    val ladder = Seq(Step(250, 4, false, 0), Step(500, 8, false, 0),
      Step(1000, 12, false, 0), Step(2000, 5, false, 0))
    check("max rate: stops at the first step over the limit")(Stats.maxRate(ladder, 10) == 500)
    check("max rate: a growing backlog disqualifies a step")(
      Stats.maxRate(ladder.updated(1, Step(500, 8, true, 0)), 10) == 250)
    check("max rate: failed requests disqualify a step")(
      Stats.maxRate(ladder.updated(1, Step(500, 8, false, 3)), 10) == 250)
    check("max rate: 0 when the first step misses")(Stats.maxRate(ladder, 3) == 0)
  }

  def accounting(): Unit = {
    val ms = 1000000L
    // due every 10 ms; the third request started 30 ms late behind a stall
    val samples = Seq(Sample(0, 0, 2 * ms, ok = true), Sample(10 * ms, 10 * ms, 12 * ms, ok = true),
      Sample(20 * ms, 50 * ms, 52 * ms, ok = true), Sample(30 * ms, 52 * ms, 54 * ms, ok = false))
    check("latency counts from the due time")(samples(2).latencyMs == 32.0 && samples(2).lagMs == 30.0)
    val s = LoadSummary.of(samples, deadlineMs = 25)
    check("late and failed requests both count as failed")(s.attempted == 4 && s.failed == 2)
    check("summary percentiles")(s.p50Ms == 2.0 && s.p99Ms == 32.0 && s.lagP99Ms == 30.0)
    check("nothing fails under a generous deadline but the failed call")(
      LoadSummary.of(samples, deadlineMs = 1000).failed == 1)

    // a server slower than the rate: one thread, 8 ms per call at 250/s
    val slow = new OpenLoop(250, 1, _ => { Thread.sleep(8); true }).runFor(0.6)
    val sl = LoadSummary.of(slow, deadlineMs = 1000)
    check("open loop: an overloaded server shows a growing backlog")(sl.backlog && slow.last.lagMs > 20)
    check("open loop: latency includes the start lag")(slow.forall(x => x.latencyMs >= x.lagMs + 7))
    check("open loop: requests are issued in due order")(
      slow.map(_.dueNs).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    val fast = new OpenLoop(100, 2, _ => true).runFor(0.5)
    val fl = LoadSummary.of(fast, deadlineMs = 1000)
    check("open loop: a fast server keeps up")(!fl.backlog && fl.lagP50Ms < 2 && fast.length >= 40)
  }

  def tracing(): Unit = {
    check("intervals: union clipped to the window")(
      Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (40L, 60L)), 0, 50) == 35)
    import Trace.Span
    val spans = Seq(Span(1, 0, "outer", 0, 0, 100), Span(2, 1, "inner", 0, 10, 40),
      Span(3, 1, "inner", 0, 30, 60), Span(4, 0, "other", 0, 200, 210))
    val self = Trace.selfSeconds(spans).map { case (k, v) => k -> math.round(v * 1e9) }
    check("self time subtracts children once")(
      self == Map("outer" -> 50L, "inner" -> 60L, "other" -> 10L))
    Trace.reset()
    Trace.enabled = true
    Trace.span("a")(Trace.span("b")(()))
    Trace.enabled = false
    Trace.span("c")(())
    val recorded = Trace.all
    check("spans nest per thread and stop when disabled")(recorded.length == 2 &&
      recorded.find(_.name == "b").exists(b => recorded.find(_.name == "a").exists(_.id == b.parent)))
    Trace.reset()
  }

  def main(args: Array[String]): Unit = {
    generator()
    stats()
    accounting()
    tracing()
    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
