package graft

import graft.model._
import graft.operators._
import graft.project._
import graft.sources._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared tensor types end-to-end: sparse features, vector casts,
  * null-key observation rows.
  */
class TensorTypeSpec extends SparkTestBase {
  import spark.implicits._

  test("sparse tensor feature: struct(indices, values) honoring the declared type") {
    val p = FeatureProject("sp")
    p.addAnchorGroup("ctx", Source.INPUT_CONTEXT, Seq(
      AnchorFeature("f_sparse",
        FeatureType(TensorCategory.SPARSE, Seq(ValueType.INT32), ValueType.DOUBLE),
        Transformation.Expr(
          "named_struct('indices', array(0, 3), 'values', array(double(v), double(v) * 2))"),
        Seq(TypedKey.DUMMY_KEY))))
    val obs = Seq((1L, 2.5)).toDF("id", "v")
    val out = FeathrClient.joinFeatures(spark, p, obs, None,
      Seq(FeatureQuery(Seq("f_sparse"), Nil)))
    val t = out.schema("f_sparse").dataType.asInstanceOf[StructType]
    assert(t.fieldNames.toSeq == Seq("indices", "values"))
    assert(t("indices").dataType == ArrayType(IntegerType))
    assert(t("values").dataType == ArrayType(DoubleType))
    val row = out.select("f_sparse.*").head
    assert(row.getAs[Seq[Int]]("indices").toList == List(0, 3))
    assert(row.getAs[Seq[Double]]("values").toList == List(2.5, 5.0))
  }

  test("declared FLOAT_VECTOR coerces a double-array feature") {
    val p = FeatureProject("fv")
    p.addAnchorGroup("ctx", Source.INPUT_CONTEXT, Seq(
      AnchorFeature("f_vec", FeatureType.FLOAT_VECTOR,
        Transformation.Expr("array(double(v), double(v) + 1)"),
        Seq(TypedKey.DUMMY_KEY))))
    val obs = Seq((1L, 1.5)).toDF("id", "v")
    val out = FeathrClient.joinFeatures(spark, p, obs, None,
      Seq(FeatureQuery(Seq("f_vec"), Nil)))
    assert(out.schema("f_vec").dataType == ArrayType(FloatType))
  }

  test("mismatched UNION declaration is a hard error") {
    def build(): org.apache.spark.sql.DataFrame = {
      Seq((1L, "2024-01-01 00:00:00", "a"))
        .toDF("k", "ts_s", "etype")
        .withColumn("ts", $"ts_s".cast("timestamp"))
        .createOrReplaceTempView("len_src")
      val p = FeatureProject("len")
      val key = TypedKey("k", ValueType.INT64)
      p.addAnchorGroup("g", Source("src", DataLocation.Table("len_src"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_types", FeatureType.STRING, // scalar on a UNION: wrong
          Transformation.windowAgg("etype", "UNION", "7d"), Seq(key))))
      val obs = Seq((1L, "2024-01-02 00:00:00")).toDF("k", "ts_s")
        .withColumn("ts", $"ts_s".cast("timestamp")).select("k", "ts")
      FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_types"), Seq("k"))))
    }
    intercept[IllegalArgumentException] { build() }
  }

  test("null-key observation rows keep null features, are not dropped") {
    Seq((1L, "2024-01-01 00:00:00", 5.0)).toDF("k", "ts_s", "v")
      .withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("nk_src")
    val p = FeatureProject("nk")
    val key = TypedKey("k", ValueType.INT64)
    p.addAnchorGroup("g", Source("src", DataLocation.Table("nk_src"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_last", FeatureType.DOUBLE, Transformation.Expr("v"), Seq(key)),
      AnchorFeature("f_sum", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", "7d"), Seq(key))))
    val obs = Seq(
      (Some(1L), "2024-01-02 00:00:00"),
      (None: Option[Long], "2024-01-02 00:00:00"))
      .toDF("k", "ts_s")
      .withColumn("ts", $"ts_s".cast("timestamp")).select("k", "ts")
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_last", "f_sum"), Seq("k")))).collect()
    assert(out.length == 2)
    val byKey = out.map(r => Option(r.get(r.fieldIndex("k"))) -> r).toMap
    assert(byKey(Some(1L)).getAs[Double]("f_last") == 5.0)
    val nullRow = byKey(None)
    assert(nullRow.isNullAt(nullRow.fieldIndex("f_last")))
    assert(nullRow.isNullAt(nullRow.fieldIndex("f_sum")))
  }
}
