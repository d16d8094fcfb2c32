package graft.tools

import graft.EventTime.Ops
import graft.FeathrClient
import graft.model._
import graft.project._
import graft.sources._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key audit of the point-in-time join (SCALE.md axis 6): replicates
  * the sf0.1 events table N× with jittered timestamps on the SAME keys,
  * then runs the bucketed 30d SUM and the as-of union-sort on uniform
  * keys and on Zipf-remapped keys, and prints one `SKEW` line per plan
  * and N: wall seconds, shuffle-write MB and the max/median task time.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          runMain graft.tools.ScaleProbe [multipliers...]
  * This is a dev tool, not a gate — the numbers land in SCALE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 4, 16)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    // shuffle-WRITE bytes per probe run: local mode hides network cost
    // entirely, so wall-clock alone understates what a real cluster
    // pays — shuffle volume is the 100 TB-relevant metric
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    // per-task durations: max/median over an action is the SKEW
    // signature — a hot key serializes into one straggler task, which
    // wall-clock alone hides at probe sizes
    val taskDurations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        if (t.taskInfo != null) taskDurations.add(t.taskInfo.duration)
      }
    })

    val ev0 = spark.read.parquet(s"$dir/events.parquet")
      .normalizeEventTime
      .select("event_id", "user_id", "ts", "event_type", "value", "props")

    /** (seconds, shuffle-write MB, max/median task duration) of one
      * action — the third number is the straggler signature: tasks
      * ≥ 50 ms only (empty-partition tasks would drive the median to ~0
      * and inflate every ratio into noise).
      */
    def timeSkew(f: => Long): (Double, Double, Double) = {
      Thread.sleep(300) // let the async listener bus drain prior events
      taskDurations.clear()
      val b0 = shuffleBytes.get()
      val t0 = System.nanoTime(); val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      require(n > 0, "probe produced no rows")
      Thread.sleep(300)
      val mb = (shuffleBytes.get() - b0) / 1e6
      val ds = {
        import scala.jdk.CollectionConverters._
        taskDurations.iterator().asScala.map(_.toDouble).filter(_ >= 50).toArray.sorted
      }
      val ratio = if (ds.isEmpty) 1.0 else ds.last / ds(ds.length / 2)
      (sec, mb, ratio)
    }

    val userKey = TypedKey("user_id", ValueType.INT64)

    // at 100 TB neither join side fits in a broadcast — disable
    // broadcast so the probe measures the shuffle plans a real
    // cluster would run, not the local-mode broadcast shortcut
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    // Zipfian KEY SKEW. Real 100 TB key distributions are Zipfian, and
    // a hot key serializes its rows into one reducer/window task. Keys
    // are remapped through the inverse-CDF construction floor(K^u),
    // u = uniform from xxhash64(user_id): P(rank r) = ln((r+1)/r)/ln(K)
    // ≈ 1/(r·lnK) — Zipf s = 1.0 with K = 1000, so the hottest key
    // carries ln2/ln1000 ≈ 10.0 % of ALL rows. Each n runs uniform vs
    // zipf on identical row counts: the DELTA in (wall, shuffle,
    // max/median task time) is the skew cost. SWA runs the bucketed
    // plan (a double SUM does not ride the union-sort); as-of runs the
    // union-sort plan whose per-key window is the textbook straggler.
    def zipfKey(c: org.apache.spark.sql.Column) =
      floor(pow(lit(1000.0),
        pmod(xxhash64(c), lit(1000000)).cast("double") / 1000000.0))
        .cast("long")

    def runPit(view: String, dense0: DataFrame, spine: DataFrame,
        swa: Boolean): (Double, Double, Double) = {
      dense0.createOrReplaceTempView(view)
      val p = FeatureProject(s"probe_$view")
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        if (swa) AnchorFeature("f_sum_30d", FeatureType.DOUBLE,
          Transformation.windowAgg("value", "SUM", "30d"), Seq(userKey))
        else AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.Expr("value"), Seq(userKey))))
      val out = if (swa) "f_sum_30d" else "f_last"
      // count a FEATURE column, not rows: the join is row-preserving, so
      // a plain count() lets the optimizer skip the join entirely
      timeSkew(FeathrClient.joinFeatures(spark, p, spine,
        Some(("ts", "native")),
        Seq(FeatureQuery(Seq(out), Seq("user_id"))))
        .select(count(col(out))).head().getLong(0))
    }

    // a per-run timestamp offset keeps the data statistically identical
    // while defeating Spark's reuse of an earlier query's shuffle output
    // (identical canonical plans in one session would report ~0 shuffle)
    def densifiedOffAxis6(n: Int, offsetSec: Int): DataFrame =
      (0 until n).map(i => ev0
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 37 + offsetSec} SECONDS"))
          .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)

    def runPair(n: Int, tag: String, offsetSec: Int, swa: Boolean) = {
      val base = densifiedOffAxis6(n, offsetSec).cache()
      base.count()
      val uni = base.where(col("event_type") === "purchase")
      val uniSpine = base.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val u = runPit(s"probe_skew_${tag}_u_$n", uni, uniSpine, swa)
      val zBase = base.withColumn("user_id", zipfKey(col("user_id"))).cache()
      zBase.count()
      val zip = zBase.where(col("event_type") === "purchase")
      val zipSpine = zBase.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val z = runPit(s"probe_skew_${tag}_z_$n", zip, zipSpine, swa)
      base.unpersist(); zBase.unpersist()
      (u, z)
    }

    def fmt(r: (Double, Double, Double)) = f"${r._1}%6.2fs/${r._2}%8.1fMB/x${r._3}%5.1f"

    // warm up at a multiplier OUTSIDE the measured set so the first
    // timed row does not absorb codegen compilation
    for ((n, i) <- (Seq(2) ++ mults).zipWithIndex) {
      val (swaU, swaZ) = runPair(n, "swa", 11, swa = true)
      val (asofU, asofZ) = runPair(n, "asof", 12, swa = false)
      if (i > 0) {
        println(f"[scale] n=$n%-3d SKEW swaBucketed  uniform=${fmt(swaU)}  zipf=${fmt(swaZ)}")
        println(f"[scale] n=$n%-3d SKEW asOfJoin     uniform=${fmt(asofU)}  zipf=${fmt(asofZ)}")
      }
    }
    spark.stop()
  }
}
