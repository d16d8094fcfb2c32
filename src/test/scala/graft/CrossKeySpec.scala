package graft

import graft.model._
import graft.operators._
import graft.project._
import graft.sources._

import org.apache.spark.sql.functions._

/** Cross-key feature aliasing (with_key/as_feature semantics) and
  * feature-config serialization.
  */
class CrossKeySpec extends SparkTestBase {
  import spark.implicits._

  test("cross-key aliasing: one feature joined under two key bindings + derived combine") {
    Seq(
      (10L, "2024-01-01 00:00:00", 100.0),
      (20L, "2024-01-01 00:00:00", 7.0))
      .toDF("uid", "ts_s", "bal")
      .withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("accounts")
    val p = FeatureProject("xk")
    val key = TypedKey("uid", ValueType.INT64)
    p.addAnchorGroup("acct", Source("accounts", DataLocation.Table("accounts"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_bal", FeatureType.DOUBLE,
        Transformation.Expr("bal"), Seq(key))))
    p.registerAlias("f_bal_sender", "f_bal")
    p.registerAlias("f_bal_receiver", "f_bal")
    p.addDerived(DerivedFeature("f_bal_gap", FeatureType.DOUBLE,
      "f_bal_sender - f_bal_receiver",
      Seq(InputFeature("f_bal_sender", Seq(key.as("sender"))),
          InputFeature("f_bal_receiver", Seq(key.as("receiver")))),
      Seq(key.as("sender"), key.as("receiver"))))

    // observation: transfers with two entity columns
    val obs = Seq((1L, 10L, 20L, "2024-01-02 00:00:00"))
      .toDF("txn_id", "sender", "receiver", "ts_s")
      .withColumn("ts", $"ts_s".cast("timestamp"))
      .select("txn_id", "sender", "receiver", "ts")

    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")), Seq(
      FeatureQuery(Seq("f_bal_sender", "f_bal_gap"), Seq("sender")),
      FeatureQuery(Seq("f_bal_receiver"), Seq("receiver")))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("f_bal_sender") == 100.0)
    assert(out.head.getAs[Double]("f_bal_receiver") == 7.0)
    assert(out.head.getAs[Double]("f_bal_gap") == 93.0)
  }

  test("feature-config JSON carries anchors/derivations/sources sections") {
    val p = FeatureProject("cfg")
    val key = TypedKey("user_id", ValueType.INT64)
    p.addAnchorGroup("a1", Source("ev", DataLocation.Hdfs("/data/events.parquet"),
      timeWindow = Some(TimeWindowParameters("ts", "epoch"))), Seq(
      AnchorFeature("f_sum", FeatureType.DOUBLE,
        Transformation.windowAgg("value", "SUM", "90d"), Seq(key)),
      AnchorFeature("f_raw", FeatureType.DOUBLE,
        Transformation.Expr("value"), Seq(key))))
    p.addDerived(DerivedFeature("f_double", FeatureType.DOUBLE, "f_raw * 2",
      Seq(InputFeature("f_raw", Seq(key))), Seq(key)))
    val json = FeatureConfig.toJson(p)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.path("anchors").path("a1").path("source").asText == "ev")
    assert(tree.path("anchors").path("a1").path("key").path("sqlExpr").get(0).asText == "user_id")
    val f = tree.path("anchors").path("a1").path("features").path("f_sum")
    assert(f.path("transformation").path("agg_func").asText == "SUM")
    assert(f.path("transformation").path("window").asText == "90d")
    assert(tree.path("derivations").path("f_double").path("definition").asText == "f_raw * 2")
    assert(tree.path("sources").path("ev").path("event_timestamp_column").asText == "ts")
    assert(!tree.path("sources").has("PASSTHROUGH"))
  }
}
