package graft

import graft.model._
import graft.project._
import graft.sources._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The as-of join against a reference last-value fold computed in the
  * driver: the latest source row with src_ts <= obs_ts, ties at one
  * timestamp won by the greatest value-struct. Checked on the fixture
  * query (and `q_asof_bucketed`, which answers to the same oracle), on
  * Zipf-skewed keys, on tied timestamps, on rows exactly on every grid
  * step, and on pre-epoch timestamps.
  */
class AsofBucketParitySpec extends SparkTestBase {
  import spark.implicits._

  private def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.length).toMap

  private def opt[A](r: Row, i: Int): Option[A] =
    if (r.isNullAt(i)) None else Some(r.getAs[A](i))

  test("fixture q_asof_join and q_asof_bucketed: reference last-value fold") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = EventTime.normalize(spark.read.parquet(s"$sf/events.parquet"))
    // user -> their purchase (user, ts_us, value, type) rows
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")), col("value"), col("event_type"))
      .collect().toSeq
      .map(r => (opt[Long](r, 0), r.getLong(1), opt[Double](r, 2), r.getString(3)))
      .groupBy(_._1)
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .collect().toSeq
      .map(r => (r.getLong(0), opt[Long](r, 1), r.getLong(2)))
    val expected = multiset(clicks.map { case (id, u, t) =>
      val last = (if (u.isEmpty) Nil else purchases.getOrElse(u, Nil)).filter(_._2 <= t)
        .maxByOption(p => (p._2, p._3, p._4))
      (id, u, t, last.flatMap(_._3), last.map(_._4))
    })
    assert(expected.nonEmpty && expected.keys.exists(_._4.isDefined))

    for (q <- Seq("q_asof_join", "q_asof_bucketed")) {
      val got = multiset(SparkEntry.queries(q)(spark, sf)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
          col("f_last_value"), col("f_last_type"))
        .collect().toSeq
        .map(r => (r.getLong(0), opt[Long](r, 1), r.getLong(2),
          opt[Double](r, 3), opt[String](r, 4))))
      assert(got == expected, s"$q diverged from the reference fold")
    }
  }

  test("synthetic Zipf keys, tied timestamps, boundary rows, pre-epoch: parity") {
    // heavy-skew keys (hottest key takes ~10 % of rows), a COARSE
    // timestamp grid (many exact ties, and every row on a multiple of
    // 30 s), timestamps straddling the epoch (negative micros)
    def zipfKey(c: org.apache.spark.sql.Column) =
      floor(pow(lit(100.0),
        pmod(xxhash64(c), lit(10000)).cast("double") / 10000.0)).cast("long")
    val src = spark.range(20000).select(
      zipfKey(col("id")).as("k"),
      timestamp_seconds(
        pmod(xxhash64(col("id") + 7), lit(4000)) * 30 - lit(30000)).as("ts"),
      (pmod(xxhash64(col("id") + 13), lit(1000)).cast("double") / 10.0).as("value"))
    val obs = spark.range(3000).select(
      zipfKey(col("id") * 31 + 5).as("k"),
      timestamp_seconds(
        pmod(xxhash64(col("id") + 23), lit(4000)) * 30 - lit(30000)).as("ts"))
    src.createOrReplaceTempView("asof_parity_src")

    val p = FeatureProject("asof_parity")
    p.addAnchorGroup("g",
      Source("s", DataLocation.Table("asof_parity_src"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))),
      Seq(AnchorFeature("f_last", FeatureType.DOUBLE,
        Transformation.Expr("value"),
        Seq(TypedKey("k", ValueType.INT64)))))
    val out: DataFrame = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_last"), Seq("k"))))
    val got = multiset(out.select(col("k"), unix_micros(col("ts")), col("f_last"))
      .as[(Long, Long, Option[Double])].collect().toSeq)

    // per key, source rows sorted by (ts, value): the last one at or
    // before obs_ts is the latest row, and among ties the greatest value
    val byKey = src.select(col("k"), unix_micros(col("ts")), col("value"))
      .as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sorted.toVector).toMap
    val expected = multiset(obs.select(col("k"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toSeq.map { case (k, t) =>
        (k, t, byKey.getOrElse(k, Vector.empty).takeWhile(_._1 <= t).lastOption.map(_._2))
      })
    assert(expected.keys.exists(_._3.isDefined) && expected.keys.exists(_._3.isEmpty))
    assert(got == expected)
  }
}
