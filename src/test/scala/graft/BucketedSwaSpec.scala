package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.math.BigDecimal.RoundingMode

/** The window join's bucket partials are EXACT: `q_swa_basic` must
  * agree on every row with a reference fold computed in the driver
  * from the fixture's purchase events, and every aggregation kind —
  * LATEST, UNION and elementwise included — takes the partials plan.
  */
class BucketedSwaSpec extends SparkTestBase {

  private def opt[A](r: Row, i: Int): Option[A] =
    if (r.isNullAt(i)) None else Some(r.getAs[A](i))

  /** Spark's `round` on a double: HALF_UP on its shortest decimal form. */
  private def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, RoundingMode.HALF_UP).toDouble

  test("q_swa_basic matches the reference window fold") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = EventTime.normalize(spark.read.parquet(s"$sf/events.parquet"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")), col("value"))
      .collect().toSeq
      .map(r => (opt[Long](r, 0), r.getLong(1), opt[Double](r, 2)))
      .groupBy(_._1)
    val wUs = 7L * 86400L * 1000000L

    val out = SparkEntry.queries("q_swa_basic")(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("f_sum_7d"), col("f_avg_7d"), col("f_max_7d"), col("f_min_7d"),
        col("f_cnt_7d"))
      .collect()
    assert(out.length == events.where(col("event_type") === "click").count())
    var nonEmpty = 0
    out.foreach { r =>
      val u = opt[Long](r, 1); val t = r.getLong(2)
      val in = (if (u.isEmpty) Nil else purchases.getOrElse(u, Nil))
        .filter(p => p._2 > t - wUs && p._2 <= t).flatMap(_._3)
      val rowsInWindow = (if (u.isEmpty) Nil else purchases.getOrElse(u, Nil))
        .exists(p => p._2 > t - wUs && p._2 <= t)
      val ctx = s"event ${r.getLong(0)}"
      if (!rowsInWindow) {
        assert((3 to 7).forall(r.isNullAt), s"$ctx: empty window, got $r")
      } else {
        nonEmpty += 1
        val sum = if (in.isEmpty) None
          else Some(in.map(BigDecimal(_)).sum.setScale(4, RoundingMode.HALF_UP).toDouble)
        assert(opt[Double](r, 3).isDefined == sum.isDefined &&
          opt[Double](r, 3).zip(sum).forall { case (g, w) => math.abs(g - w) < 1e-9 },
          s"$ctx: sum ${opt[Double](r, 3)} != $sum")
        val cents = in.map(v => round(v * 100, 0))
        val avg = if (in.isEmpty) None else Some(round(cents.sum / in.size / 100, 4))
        assert(opt[Double](r, 4).zip(avg).forall { case (g, w) => math.abs(g - w) < 1e-9 } &&
          opt[Double](r, 4).isDefined == avg.isDefined, s"$ctx: avg ${opt[Double](r, 4)} != $avg")
        assert(opt[Double](r, 5) == in.maxOption, s"$ctx: max")
        assert(opt[Double](r, 6) == in.minOption, s"$ctx: min")
        assert(r.getLong(7) == in.size, s"$ctx: count")
      }
    }
    assert(nonEmpty > 0)
  }

  test("the bucketed pre-agg path is the DEFAULT plan for decomposable aggs") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = SparkEntry.queries("q_swa_basic")(spark, sf)
    // the bucketed plan's partial-aggregate columns are its signature
    assert(df.queryExecution.analyzed.toString.contains("__graft_ps_"),
      "expected the bucketed pre-aggregation plan by default")
  }

  test("LATEST/UNION/elementwise bucket too; record-limit and group_by bucket") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // non-decomposable aggs merge their own partials (max of a
    // (ts, value) struct, collected sets, vector folds)
    for (q <- Seq("q_swa_latest_union", "q_swa_elementwise")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.queryExecution.analyzed.toString.contains("__graft_ps_"), q)
      assert(df.collect().nonEmpty, q)
    }
    // record-limit without group_by: bucketed top-k-newest plan (raw
    // ≤ k rows per (key, bucket) partial — not pre-agg columns)
    val fl = SparkEntry.queries("q_swa_filter_limit")(spark, sf)
    assert(!fl.queryExecution.analyzed.toString.contains("__graft_ps_"))
    assert(fl.queryExecution.analyzed.toString.contains("__graft_bl_rn"))
    assert(fl.orderBy("event_id").collect().nonEmpty)
    // group_by (with or without limit) takes the bucketed plan — the
    // queries' own engagement require()s throw if it disengages
    SparkEntry.queries("q_swa_groupby")(spark, sf)
    SparkEntry.queries("q_swa_groupby_limit")(spark, sf)
  }
}
