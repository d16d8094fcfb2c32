package perfbench

import graft.model._
import graft.operators._
import graft.project.AnchorFeature
import graft.sources.{DataLocation, SourceResolver, TimestampParser}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.io.File

/** The production refresh-and-serve loop. Set-up bootstraps incremental
  * state from `HistoryDays` of events and publishes it online. Each cycle
  * lands one day's delta through `IncrementalMaterializer.refresh`, takes
  * the `snapshot` at the new day boundary (with `compact` every
  * `CompactEvery` cycles) and publishes the user- and item-keyed tables
  * through `Materializer.writeAll` to a `RespOnlineStore` backed by an
  * in-process `EmbeddedRespServer`. Meanwhile an open-loop generator sends
  * ranking requests (one user `get` plus a `getAll` of `ItemsPerRequest`
  * items) at `RefRate`; after the cycles a rate ladder starting at
  * `RefRate` finds the highest rate that keeps p99 within `P99LimitMs`.
  * Writes share the store with reads, and the many small O(delta) jobs
  * show per-job driver overhead. */
object FeatureServe {
  val Users = 10000
  val Items = 2000
  val EventsPerDay = 10000
  val HistoryDays = 5
  val DeltaDays = 30
  val Skew = 1.1
  val CompactEvery = 2
  val MinPeriods = 3
  val RefRate = 200.0
  val ItemsPerRequest = 20
  /** A request that ends later than this after it was due has failed. */
  val DeadlineMs = 1000.0
  val P99LimitMs = 10.0
  /** The first rung is the reference rate. */
  val Ladder: Seq[Double] = Seq(RefRate, 500, 1000, 1500, 2000, 3000, 4000)
  val StepRequests = 400
  /** After each cycle, requests run at `RefRate` for this long with no
    * cycle running; their p50 is the end-to-end serving latency. Spread
    * over the whole phase, they are less exposed to a passing change in
    * the machine's load than one block of requests would be. */
  val QuietSliceS = 1.0
  val CheckedUsers = 40
  val CheckedItems = 20
  private val DayUs = Gen.DayMs * 1000L

  private def wa(agg: String, w: String) = Transformation.windowAgg("value", agg, w)
  private val userKey = TypedKey("user_id", ValueType.INT64)
  private val itemKey = TypedKey("item_id", ValueType.INT64)
  /** (table, key column, features, window days per feature) */
  final case class Table(name: String, key: String, features: Seq[AnchorFeature],
      windows: Seq[(String, String, Int)])
  val UserTable = Table("user_feats", "user_id", Seq(
    AnchorFeature("u_sum_1d", FeatureType.DOUBLE, wa("SUM", "1d"), Seq(userKey)),
    AnchorFeature("u_cnt_7d", FeatureType.INT64, wa("COUNT", "7d"), Seq(userKey)),
    AnchorFeature("u_avg_7d", FeatureType.DOUBLE, wa("AVG", "7d"), Seq(userKey)),
    AnchorFeature("u_max_7d", FeatureType.DOUBLE, wa("MAX", "7d"), Seq(userKey))),
    Seq(("u_sum_1d", "SUM", 1), ("u_cnt_7d", "COUNT", 7), ("u_avg_7d", "AVG", 7),
      ("u_max_7d", "MAX", 7)))
  val ItemTable = Table("item_feats", "item_id", Seq(
    AnchorFeature("i_cnt_1d", FeatureType.INT64, wa("COUNT", "1d"), Seq(itemKey)),
    AnchorFeature("i_sum_7d", FeatureType.DOUBLE, wa("SUM", "7d"), Seq(itemKey))),
    Seq(("i_cnt_1d", "COUNT", 1), ("i_sum_7d", "SUM", 7)))
  val Tables = Seq(UserTable, ItemTable)

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val days = HistoryDays + DeltaDays
    val ev = Gen.events(ctx.seed, EventsPerDay * days, Users, Items, Gen.Epoch0Ms, days, Skew)
    def dayStart(d: Int): Int = {
      val i = java.util.Arrays.binarySearch(ev.tsMs, Gen.Epoch0Ms + d * Gen.DayMs)
      if (i >= 0) i else -i - 1
    }
    val raw = ctx.dir("raw")
    val historyBytes = Gen.writeEvents(ev, new File(raw, "history.csv"), 0, dayStart(HistoryDays))
    val deltaBytes = (HistoryDays until days).map { d =>
      Gen.writeEvents(ev, new File(raw, s"day-$d.csv"), dayStart(d), dayStart(d + 1))
    }
    Bench.log("inputs generated")

    val server = new EmbeddedRespServer
    try {
      val store = new RespOnlineStore("127.0.0.1", server.port)
      val reference = new Reference(ev)
      def read(file: String): DataFrame = {
        val df = SourceResolver.read(spark, DataLocation.Hdfs(s"$raw/$file"))
        df.withColumn("ts", TimestampParser.toTimestampCol(col("ts"), "epoch_millis"))
      }
      var published = Map.empty[String, Set[Long]]
      var publishedKeys = 0L

      /** Snapshot every table at the boundary and publish it; keys that
        * left a table's snapshot are deleted online. */
      def publish(root: String, boundaryDay: Int): Unit = Tables.foreach { t =>
        val asOfUs = (Gen.Epoch0Ms + boundaryDay * Gen.DayMs) * 1000L
        val snap = Trace.span("inc.snapshot") {
          val s = IncrementalMaterializer.snapshot(spark, s"$root/${t.name}",
            t.features, Seq(t.key), "ts", DayUs, asOfUs).persist()
          Bench.run(s)
          s
        }
        val keys = snap.select(t.key).collect().map(_.get(0).asInstanceOf[Number].longValue).toSet
        val gone = published.getOrElse(t.name, Set.empty) -- keys
        val sink = Seq(OutputSink.Online(t.name, store))
        Trace.span("online.publish") {
          Materializer.writeAll(snap, Seq(t.key), sink)
          if (gone.nonEmpty) {
            import spark.implicits._
            Materializer.deleteKeys(gone.toSeq.toDF(t.key), Seq(t.key), sink)
          }
        }
        snap.unpersist()
        published += t.name -> keys
        // counted with the traced publish spans it is divided by
        if (Trace.enabled) publishedKeys += keys.size
      }

      def refresh(root: String, delta: DataFrame, version: Long): Unit =
        Trace.span("inc.refresh")(Tables.foreach { t =>
          IncrementalMaterializer.refresh(delta, s"$root/${t.name}", t.features,
            Seq(t.key), "ts", DayUs, version)
        })

      def bootstrap(i: Int): String = {
        val root = ctx.path(s"state-$i")
        refresh(root, read("history.csv"), 0L)
        publish(root, HistoryDays)
        root
      }
      val (root, setupS) = Bench.setupMedian(3)(bootstrap)
      Bench.log(s"set-up median $setupS s")

      var day = HistoryDays
      var attempted = 0L
      var failed = 0L
      var landedBytes = historyBytes
      /** One refresh-and-publish cycle for the next day; returns its
        * freshness in seconds and whether the online values were right. */
      def cycle(): (Double, Boolean) = {
        val (_, secs) = Bench.timed {
          refresh(root, read(s"day-$day.csv"), (day - HistoryDays + 1).toLong)
          if ((day - HistoryDays + 1) % CompactEvery == 0) Trace.span("inc.compact") {
            Tables.foreach(t => IncrementalMaterializer.compact(spark,
              s"$root/${t.name}", t.features, Seq(t.key), "ts", DayUs))
          }
          publish(root, day + 1)
        }
        landedBytes += deltaBytes(day - HistoryDays)
        day += 1
        (secs, reference.check(store, day, Gen.rng(ctx.seed, 100 + day)))
      }

      // no warm-up cycle: the three bootstraps ran the same engine paths
      val requests = new Requests(ctx.seed, store)

      /** Cycles under reference-rate traffic for at least `seconds` of
        * cycle time, each followed by a quiet slice at the same rate.
        * Returns cycle times, requests during cycles, quiet requests and
        * the events landed. */
      def phase(): (Seq[Double], Seq[Sample], Seq[Sample], Long) = {
        val fromDay = day
        val during = scala.collection.mutable.ArrayBuffer.empty[Sample]
        val quiet = scala.collection.mutable.ArrayBuffer.empty[Sample]
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        // whole compaction periods, at least `MinPeriods`, so every phase
        // averages the same mix of compacting and plain cycles
        while ((times.length < MinPeriods * CompactEvery || times.sum < ctx.seconds ||
            times.length % CompactEvery != 0) && day < days) {
          val loop = new OpenLoop(RefRate, ctx.nproc, requests.send).start()
          val (secs, ok) = try cycle() finally during ++= loop.stop()
          Bench.log(s"cycle $secs s ok=$ok")
          times += secs
          attempted += 1
          if (!ok) failed += 1
          quiet ++= new OpenLoop(RefRate, ctx.nproc, requests.send).runFor(QuietSliceS)
        }
        for (s <- Seq(during, quiet)) {
          val load = LoadSummary.of(s.toSeq, DeadlineMs)
          attempted += load.attempted
          failed += load.failed
        }
        val events = (dayStart(day) - dayStart(fromDay)).toLong
        (times.toSeq, during.toSeq, quiet.toSeq, events)
      }
      var runtime = Seq.empty[Metric]
      val untracedPhase @ (times0, _, quiet0, events0) = phase()
      val refLoad = LoadSummary.of(quiet0, DeadlineMs)
      Bench.log(f"quiet $RefRate%.0f/s p50 ${refLoad.p50Ms}%.3f ms p99 ${refLoad.p99Ms}%.2f ms")
      val (times, samples, _, events) =
        if (!ctx.trace) untracedPhase
        else {
          Trace.enabled = true
          val before = ctx.listener.snapshot()
          val fromMs = System.currentTimeMillis()
          val r = phase()
          runtime = Bench.sparkMetrics(ctx.listener, before, fromMs, System.currentTimeMillis())
          r
        }

      // rate ladder against the published tables with no cycle running;
      // each rung lasts for `StepRequests` requests and at least a second
      val cmds0 = server.commandCount.get()
      var sent = 0L
      def rung(rate: Double): Stats.Step = {
        val s = new OpenLoop(rate, ctx.nproc, requests.send)
          .runFor(math.max(1.0, StepRequests / rate))
        sent += s.length
        val l = LoadSummary.of(s, DeadlineMs)
        Bench.log(f"ladder $rate%.0f/s p50 ${l.p50Ms}%.3f ms p99 ${l.p99Ms}%.2f ms " +
          s"backlog ${l.backlog} failed ${l.failed}")
        Stats.Step(rate, l.p99Ms, l.backlog, l.failed)
      }
      val first = rung(Ladder.head)
      val steps = first +: (if (!Stats.passes(first, P99LimitMs)) Nil
        else Ladder.tail.iterator.map(rung).takeWhile(Stats.passes(_, P99LimitMs)).toSeq)
      val cmdsPerRequest = (server.commandCount.get() - cmds0).toDouble / sent
      Trace.enabled = false

      def e2e(times: Seq[Double], events: Long) = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("items_per_s", events / times.sum, "1/s"),
        Metric("latency_p50_ms", refLoad.p50Ms, "ms"))
      val untraced = e2e(times0, events0)
      val load = LoadSummary.of(samples, DeadlineMs)
      val serving = Seq(
        Metric("serve.freshness_s", Stats.median(times), "s"),
        Metric("serve.cycles_p50_ms", load.p50Ms, "ms"),
        Metric("serve.cycles_p99_ms", load.p99Ms, "ms"),
        Metric("serve.max_rps", Stats.maxRate(steps, P99LimitMs), "1/s"),
        Metric("gen.lag_ms", load.lagP99Ms, "ms"))
      val layers = if (!ctx.trace) Nil else {
        Trace.write(new File(ctx.traces, s"feature_serve-seed${ctx.seed}.jsonl").toPath)
        def med(span: String, scale: Double = 1.0) =
          Stats.median(Trace.durations(span) match { case Seq() => Seq(0.0); case d => d }) * scale
        val publishS = Trace.durations("online.publish").sum
        Seq(Metric("inc.refresh_s", med("inc.refresh"), "s"),
          Metric("inc.snapshot_s", med("inc.snapshot"), "s"),
          Metric("online.publish_s", med("online.publish"), "s"),
          Metric("inc.compact_s", med("inc.compact"), "s"),
          Metric("online.publish_keys_per_s", publishedKeys / publishS, "1/s"),
          Metric("resp.get_us", med("resp.get", 1e6), "us"),
          Metric("resp.getall_us", med("resp.getall", 1e6), "us"),
          Metric("resp.server_cmds_per_request", cmdsPerRequest, "count"),
          Metric("inc.state_bytes_per_input_byte",
            Bench.dirBytes(new File(root)).toDouble / landedBytes, "ratio"),
          Metric("trace.overhead_frac", untraced(1).value / e2e(times, events)(1).value - 1,
            "ratio")) ++ runtime
      }
      Result(failed == 0, attempted, failed, untraced, serving ++ layers,
        if (ctx.trace) Trace.selfTimeLines() else Nil)
    } finally server.stop()
  }

  /** Ranking requests: a Zipf-popular user and `ItemsPerRequest` Zipf
    * items, fixed per request index by the seed. */
  final class Requests(seed: Long, store: RespOnlineStore) {
    private val n = 1 << 14
    private val users = new Array[String](n)
    private val items = new Array[Seq[String]](n)
    locally {
      val r = Gen.rng(seed, 50)
      val zu = new Gen.Zipf(Users, Skew)
      val zi = new Gen.Zipf(Items, Skew)
      (0 until n).foreach { i =>
        users(i) = (zu.sample(r) + 1).toString
        items(i) = Seq.fill(ItemsPerRequest)((zi.sample(r) + 1).toString)
      }
    }
    def send(i: Long): Boolean = Trace.span("serve.request", i) {
      val k = (i % n).toInt
      Trace.span("resp.get", i)(store.get(UserTable.name, users(k)))
      Trace.span("resp.getall", i)(store.getAll(ItemTable.name, items(k))).length == ItemsPerRequest
    }
  }

  /** Online values for sampled keys against brute-force window values at
    * the day boundary: events with time in [boundary - window, boundary). */
  final class Reference(ev: Gen.Events) {
    private val byUser = Gen.byKey(ev.user, Users)
    private val byItem = Gen.byKey(ev.item, Items)
    private var reported = 0

    private def expected(idx: Array[Int], t: Table, boundaryMs: Long): Map[String, Double] =
      t.windows.flatMap { case (name, agg, days) =>
        val w = idx.filter(i => ev.tsMs(i) < boundaryMs && ev.tsMs(i) >= boundaryMs - days * Gen.DayMs)
          .map(ev.value(_).toDouble)
        if (w.isEmpty) None
        else Some(name -> (agg match {
          case "SUM" => w.sum
          case "COUNT" => w.length.toDouble
          case "AVG" => w.sum / w.length
          case "MAX" => w.max
        }))
      }.toMap

    def check(store: OnlineStore, boundaryDay: Int, r: java.util.SplittableRandom): Boolean = {
      val boundaryMs = Gen.Epoch0Ms + boundaryDay * Gen.DayMs
      def one(t: Table, index: Array[Array[Int]], universe: Int, count: Int): Boolean = {
        val z = new Gen.Zipf(universe, Skew)
        // half popular keys, half uniform ones
        val keys = Seq.tabulate(count)(i => if (i % 2 == 0) z.sample(r) + 1 else 1 + r.nextInt(universe))
        store.getAll(t.name, keys.map(_.toString)).zip(keys).forall { case ((_, got), k) =>
          val want = expected(index(k), t, boundaryMs)
          val have = got.getOrElse(Map.empty).map { case (f, v) => f -> v.toDouble }
          val ok = have.keySet == want.keySet && want.forall { case (f, v) => Bench.close(have(f), v) }
          if (!ok && reported < 5) {
            reported += 1
            System.err.println(s"[feature_serve] ${t.name} key $k day $boundaryDay: online $have, reference $want")
          }
          ok
        }
      }
      one(UserTable, byUser, Users, CheckedUsers) & one(ItemTable, byItem, Items, CheckedItems)
    }
  }
}
