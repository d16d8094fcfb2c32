package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports. `endToEnd` holds every [[Metrics.EndToEnd]]
  * name; `perLayer` holds what the run measured of [[Metrics.PerLayer]]
  * (the layer spans only when traced). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], notes: Seq[String] = Nil)

/** Everything a workload needs from the driver. */
final case class Ctx(spark: SparkSession, work: File, traces: File, seed: Long,
    seconds: Int, trace: Boolean, listener: RuntimeListener, nproc: Int) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def path(name: String): String = new File(work, name).getAbsolutePath
}

/** The metric names and units the benchmark reports. */
object Metrics {
  /** Reported by every workload with tracing off; per-workload meaning in
    * perfbench/README.md. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "latency_p50_ms" -> "ms")

  /** Reported by every traced run; a layer the workload does not call
    * reads 0. The `curate` workload's own layer metrics are printed as
    * `metric` lines only: that workload is not part of the gated set (see
    * perfbench/README.md). */
  val PerLayer: Seq[(String, String)] = Seq(
    "pit.plan_s" -> "s", "pit.exec_s" -> "s", "sink.write_s" -> "s",
    "source.scan_s" -> "s", "pit.asof_s" -> "s", "pit.swa_s" -> "s",
    "pit.swa_groupby_s" -> "s", "pit.derived_s" -> "s",
    "inc.refresh_s" -> "s", "inc.snapshot_s" -> "s", "online.publish_s" -> "s",
    "inc.compact_s" -> "s", "online.publish_keys_per_s" -> "1/s",
    "resp.get_us" -> "us", "resp.getall_us" -> "us",
    "resp.server_cmds_per_request" -> "count",
    "inc.state_bytes_per_input_byte" -> "ratio", "gen.lag_ms" -> "ms",
    "serve.freshness_s" -> "s", "serve.cycles_p50_ms" -> "ms",
    "serve.cycles_p99_ms" -> "ms", "serve.max_rps" -> "1/s",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_busy_s" -> "s", "spark.idle_s" -> "s",
    "trace.overhead_frac" -> "ratio")
}

/** Shared measurement helpers. */
object Bench {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Execute a frame completely without keeping its rows. */
  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median of `reps` set-ups; returns the last one's value. */
  def setupMedian[T](reps: Int)(once: Int => T): (T, Double) = {
    val runs = (0 until reps).map(i => timed(once(i)))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Spark runtime per-layer metrics over a phase. */
  def sparkMetrics(l: RuntimeListener, before: RuntimeSnapshot, fromMs: Long,
      toMs: Long): Seq[Metric] = {
    l.drain()
    val after = l.snapshot()
    Seq(Metric("spark.jobs", (after.jobs - before.jobs).toDouble, "count"),
      Metric("spark.tasks", (after.tasks - before.tasks).toDouble, "count"),
      Metric("spark.shuffle_write_bytes",
        (after.shuffleWriteBytes - before.shuffleWriteBytes).toDouble, "bytes"),
      Metric("spark.spill_bytes", (after.spillBytes - before.spillBytes).toDouble, "bytes"),
      Metric("spark.task_busy_s", (after.busyMs - before.busyMs) / 1e3, "s"),
      Metric("spark.idle_s", l.idleMs(fromMs, toMs) / 1e3, "s"))
  }

  /** Relative equality for engine doubles against driver-side sums. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(work: File, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.graft.spillDir", new File(work, "spill").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def json(r: Result, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Exactly the declared names, in declared order, with declared units. */
  def select(declared: Seq[(String, String)], have: Seq[Metric],
      fillMissing: Boolean): Seq[Metric] = {
    val byName = have.map(m => m.name -> m).toMap
    declared.map { case (name, unit) =>
      val m = byName.get(name) match {
        case Some(m) => m
        case None if fillMissing => Metric(name, 0.0, unit)
        case None => throw new IllegalStateException(s"metric $name not measured")
      }
      require(m.unit == unit, s"metric $name has unit ${m.unit}, declared $unit")
      m
    }
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val work = new File(arg(args, "work"))
    val traces = new File(arg(args, "traces"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(work, nproc)
    val listener = new RuntimeListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = Ctx(spark, work, traces, seed, seconds, trace, listener, nproc)
    val result = try workload match {
      case "train_pit" => TrainPit.run(ctx)
      case "feature_serve" => FeatureServe.run(ctx)
      case "curate" => Curate.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val out = if (trace) select(Metrics.PerLayer, result.perLayer, fillMissing = true)
      else select(Metrics.EndToEnd, result.endToEnd, fillMissing = false)
    result.notes.foreach(println)
    (result.endToEnd ++ result.perLayer).foreach(m =>
      println(f"metric ${m.name}%-32s ${m.value}%14.6f ${m.unit}"))
    println(f"metric ${"fail_frac"}%-32s ${result.failed.toDouble / result.attempted}%14.6f ratio")
    println(json(result, out))
    System.out.flush()
    sys.exit(0)
  }
}
