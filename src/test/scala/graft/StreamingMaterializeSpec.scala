package graft

import graft.model.{Aggregation, Durations, FeatureType, Transformation, TypedKey, ValueType}
import graft.operators.{IncrementalMaterializer, Spill}
import graft.project.{AnchorFeature, DerivedFeature, InputFeature}
import graft.streaming.StreamingIngest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming DSL-materialization path inherits every store kind:
  * a micro-batched `materializeStream` over scalar + UNION +
  * ELEMENTWISE features must equal the direct batch refreshes, and
  * derived features evaluate identically over either state.
  */
class StreamingMaterializeSpec extends SparkTestBase {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val key = TypedKey("k", ValueType.INT64)

  private def feat(name: String, expr: String, agg: String) =
    AnchorFeature(name, FeatureType.UNSPECIFIED,
      Transformation.WindowAgg(expr, Aggregation.parse(agg),
        Durations.parse("2d")), Seq(key))

  private def ev(rows: (Long, Int, Double, String)*): DataFrame =
    rows.toDF("k", "d", "v", "tag")
      .withColumn("ts", timestamp_micros(col("d") * DayUs + 3600000000L))
      .select("k", "ts", "v", "tag")

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  test("streamed materialization equals direct refreshes across all store kinds") {
    val feats = Seq(
      feat("s2", "v", "SUM"),
      feat("tags2", "tag", "UNION"),
      feat("esum2", "array(v, v * 2)", "ELEMENTWISE_SUM"))
    val derived = Seq(
      DerivedFeature("d_norm", FeatureType.UNSPECIFIED, "d_tot / 2",
        Seq(InputFeature("d_tot", Seq(key))), Seq(key)),
      DerivedFeature("d_tot", FeatureType.UNSPECIFIED, "s2 + esum2[0]",
        Seq(InputFeature("s2", Seq(key)),
          InputFeature("esum2", Seq(key))), Seq(key)))

    val all = ev((1L, 0, 1.5, "a"), (1L, 1, 2.0, "b"), (2L, 0, 3.0, "a"),
      (2L, 1, 4.5, "c"), (3L, 1, 0.25, "b"))
    val feed = Spill.newPath(spark) + "/matfeed"
    ev((1L, 0, 1.5, "a"), (1L, 1, 2.0, "b")).coalesce(1)
      .write.mode("append").parquet(feed)
    ev((2L, 0, 3.0, "a"), (2L, 1, 4.5, "c")).coalesce(1)
      .write.mode("append").parquet(feed)
    ev((3L, 1, 0.25, "b")).coalesce(1)
      .write.mode("append").parquet(feed)

    val streamed = Spill.newPath(spark)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    StreamingIngest.materializeStream(stream, streamed, feats,
      Seq("k"), "ts", DayUs)

    val direct = Spill.newPath(spark)
    IncrementalMaterializer.refresh(all.where(col("k") =!= 3), direct,
      feats, Seq("k"), "ts", DayUs, 0L)
    IncrementalMaterializer.refresh(all.where(col("k") === 3), direct,
      feats, Seq("k"), "ts", DayUs, 1L)

    def snap(root: String) =
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs, derived)
        .select("k", "s2", "tags2", "esum2", "d_tot", "d_norm")
    assert(multiset(snap(streamed)) == multiset(snap(direct)))
    // spot-check one row end to end: k=1 -> s2=3.5, tags {a,b},
    // esum [3.5, 7.0], d_tot = 3.5 + 3.5 = 7.0, d_norm = 3.5
    val r1 = snap(streamed).where(col("k") === 1)
      .as[(Long, Double, Seq[String], Seq[Double], Double, Double)].head()
    assert(r1 == ((1L, 3.5, Seq("a", "b"), Seq(3.5, 7.0), 7.0, 3.5)), r1)
  }

  test("streamed extension features equal direct graft refreshes") {
    import graft.model.GraftAggregation
    import IncrementalMaterializer.GraftFeature
    val gfeats = Seq(
      GraftFeature("g_p50", "v", GraftAggregation.Quantile(0.5, 0.0, 16.0, 16),
        Durations.parse("2d")),
      GraftFeature("g_top1", "tag", GraftAggregation.TopK(1, 4),
        Durations.parse("2d")))
    val all = ev((1L, 0, 1.0, "a"), (1L, 1, 2.0, "a"), (1L, 1, 4.0, "b"),
      (2L, 1, 10.0, "b"))
    val feed = Spill.newPath(spark) + "/gfeed"
    ev((1L, 0, 1.0, "a"), (1L, 1, 2.0, "a")).coalesce(1)
      .write.mode("append").parquet(feed)
    ev((1L, 1, 4.0, "b"), (2L, 1, 10.0, "b")).coalesce(1)
      .write.mode("append").parquet(feed)

    val streamed = Spill.newPath(spark)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    StreamingIngest.materializeStream(stream, streamed, Nil,
      Seq("k"), "ts", DayUs, graftFeatures = gfeats)

    val direct = Spill.newPath(spark)
    IncrementalMaterializer.refresh(all, direct, Nil,
      Seq("k"), "ts", DayUs, 0L, graftFeatures = gfeats)
    def snap(root: String) =
      IncrementalMaterializer.snapshot(spark, root, Nil,
        Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = gfeats)
        .select(col("k"), col("g_p50"), concat_ws(",", col("g_top1")))
    assert(multiset(snap(streamed)) == multiset(snap(direct)))
    // k=1: values {1,2,4} -> p50 bin 2 edge 2.0; tags {a:2, b:1} -> a
    assert(snap(streamed).where(col("k") === 1)
      .as[(Long, Double, String)].head() == ((1L, 2.0, "a")))
  }
}
