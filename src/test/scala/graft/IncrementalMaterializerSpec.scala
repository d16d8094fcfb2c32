package graft

import graft.model.{Aggregation, Durations, FeatureType, Transformation, TypedKey, ValueType}
import graft.operators.{IncrementalMaterializer, Spill}
import graft.project.{AnchorFeature, DerivedFeature, InputFeature}

import org.apache.spark.sql.functions._

class IncrementalMaterializerSpec extends SparkTestBase {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val key = TypedKey("k", ValueType.INT64)

  private def wa(agg: String, window: String = "2d",
      filter: Option[String] = None) =
    Transformation.WindowAgg("v", Aggregation.parse(agg),
      Durations.parse(window), filter = filter)

  private def feat(name: String, t: Transformation) =
    AnchorFeature(name, FeatureType.DOUBLE, t, Seq(key))

  private val events = Seq(
    (1L, 0, 1.0, "a"), (1L, 0, 2.0, "b"), (1L, 1, 4.0, "a"),
    (2L, 1, 10.0, "b"))
    .toDF("k", "d", "v", "tag")
    .withColumn("ts", timestamp_micros(col("d") * DayUs + 3600000000L))
    .select("k", "ts", "v", "tag")

  test("refresh + snapshot: shared measure store, filters, multi-window") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")), feat("c2", wa("COUNT")),
      feat("m1", wa("MAX", "1d")),
      feat("sa", wa("SUM", "2d", Some("tag = 'a'"))))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    // 2 distinct (defExpr, filter) measures -> 2 stores
    assert(new java.io.File(root).listFiles.count(_.getName.startsWith("m=")) == 2)
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "s2", "c2", "m1", "sa")
      .as[(Long, Double, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(snap == Seq(
      (1L, 7.0, 3L, Some(4.0), Some(5.0)),
      (2L, 10.0, 1L, Some(10.0), None))) // k=2: no 'a' rows, day-1 max
  }

  test("GraftAggregation routing: distinct/quantile/topk through the full lifecycle") {
    import graft.model.GraftAggregation._
    import IncrementalMaterializer.GraftFeature
    val root = Spill.newPath(spark)
    val d2 = graft.model.Durations.parse("2d")
    val feats = Seq(
      GraftFeature("g_p50", "v", Quantile(0.5, 0.0, 16.0, 16), d2),
      GraftFeature("g_p100", "v", Quantile(1.0, 0.0, 16.0, 16), d2),
      GraftFeature("g_nd", "tag", DistinctCount(12), d2),
      GraftFeature("g_top1", "tag", TopK(1, 4), d2))
    IncrementalMaterializer.refresh(events, root, Nil,
      Seq("k"), "ts", DayUs, 0L, graftFeatures = feats)
    // p50/p100 share one histogram store; 3 stores total
    assert(new java.io.File(root).listFiles.count(_.getName.startsWith("g=")) == 3)
    // k=1 events: v in {1,2,4} tags {a,b,a}; k=2: v=10 tag b
    val snap = IncrementalMaterializer.snapshot(spark, root, Nil,
      Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = feats)
    val rows = snap
      .select(col("k"), col("g_p50"), col("g_p100"), col("g_top1"))
      .as[(Long, Double, Double, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // bins are [0,1),[1,2),...: p50 of {1,2,4} -> bin 2 edge 2.0;
    // p100 -> bin 4 edge 4.0; top1 of {a,a,b} -> a
    assert(rows(1L) == ((2.0, 4.0, Seq("a"))))
    assert(rows(2L) == ((10.0, 10.0, Seq("b"))))
    // distinct estimate positive and monotone-consistent: 2 tags vs 1
    val nd = snap.select(col("k"), col("g_nd")).as[(Long, Double)]
      .collect().toMap
    assert(nd(1L) > nd(2L) && nd(2L) > 0)
    // compact + forget ride the same dispatch
    IncrementalMaterializer.compact(spark, root, Nil, Seq("k"), "ts", DayUs,
      graftFeatures = feats)
    IncrementalMaterializer.forgetKeys(spark, root, Nil,
      Seq("k"), "ts", DayUs, Seq(1L).toDF("k"), graftFeatures = feats)
    val after = IncrementalMaterializer.snapshot(spark, root, Nil,
      Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = feats)
    assert(after.select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("multi-binding routing: one store root per key binding, aliased key frames") {
    val root = Spill.newPath(spark)
    val tagKey = TypedKey("tag", ValueType.STRING, Some("t_alias"))
    val feats = Seq(
      feat("ks", wa("SUM")), // k-keyed
      AnchorFeature("ts_sum", FeatureType.DOUBLE, wa("SUM"), Seq(tagKey)),
      AnchorFeature("ts_cnt", FeatureType.INT64, wa("COUNT"), Seq(tagKey)))
    IncrementalMaterializer.refreshMulti(events, root, feats, "ts", DayUs, 0L)
    // two bindings -> two k= roots
    assert(new java.io.File(root).listFiles.count(_.getName.startsWith("k=")) == 2)
    val frames = IncrementalMaterializer.snapshotMulti(spark, root, feats,
      "ts", DayUs, 2 * DayUs)
    assert(frames.keySet == Set(Seq("k"), Seq("t_alias")))
    assert(frames(Seq("k")).select("k", "ks").as[(Long, Double)]
      .collect().toMap == Map(1L -> 7.0, 2L -> 10.0))
    // the tag binding's key column is exposed under its DSL alias
    assert(frames(Seq("t_alias")).select("t_alias", "ts_sum", "ts_cnt")
      .as[(String, Double, Long)].collect()
      .map { case (k, s, c) => k -> ((s, c)) }.toMap
      == Map("a" -> ((5.0, 2L)), "b" -> ((12.0, 2L))))
    // derived features route to the binding that feeds them; a
    // cross-binding derivation is refused by name
    def dv(name: String, exprStr: String, ins: String*) =
      DerivedFeature(name, FeatureType.UNSPECIFIED, exprStr,
        ins.map(InputFeature(_, Nil)), Nil)
    val ok = IncrementalMaterializer.snapshotMulti(spark, root, feats,
      "ts", DayUs, 2 * DayUs,
      derived = Seq(dv("t_avg", "ts_sum / ts_cnt", "ts_sum", "ts_cnt")))
    assert(ok(Seq("t_alias")).select("t_alias", "t_avg")
      .as[(String, Double)].collect().toMap == Map("a" -> 2.5, "b" -> 6.0))
    val e = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshotMulti(spark, root, feats, "ts",
        DayUs, 2 * DayUs,
        derived = Seq(dv("x", "ks + ts_sum", "ks", "ts_sum")))
    }
    assert(e.getMessage.contains("cross-binding") ||
      e.getMessage.contains("more than one key binding"), e.getMessage)
    // binding-scoped erasure: forgetting k=1 leaves the tag binding alone
    IncrementalMaterializer.forgetKeysMulti(spark, root, feats, "ts", DayUs,
      Seq("k"), Seq(1L).toDF("k"))
    val after = IncrementalMaterializer.snapshotMulti(spark, root, feats,
      "ts", DayUs, 2 * DayUs)
    assert(after(Seq("k")).select("k").as[Long].collect().toSeq == Seq(2L))
    assert(after(Seq("t_alias")).count() == 2)
    // two bindings sharing an alias schema over DIFFERENT physical
    // columns cannot be addressed by alias — refused by name
    val clash = Seq(feat("a1", wa("SUM")),
      AnchorFeature("a2", FeatureType.DOUBLE, wa("SUM"),
        Seq(TypedKey("tag", ValueType.STRING, Some("k")))))
    val er = intercept[IllegalArgumentException] {
      IncrementalMaterializer.refreshMulti(events, Spill.newPath(spark),
        clash, "ts", DayUs, 0L)
    }
    assert(er.getMessage.contains("alias"), er.getMessage)
  }

  test("derived features evaluate in DAG order over the snapshot row") {
    val root = Spill.newPath(spark)
    val feats = Seq(feat("s2", wa("SUM")), feat("c2", wa("COUNT")))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    def dv(name: String, exprStr: String, ins: String*) =
      DerivedFeature(name, FeatureType.UNSPECIFIED, exprStr,
        ins.map(InputFeature(_, Seq(key))), Seq(key))
    // registration order is SCRAMBLED: d_norm (depends on d_tot) first
    val derived = Seq(
      dv("d_norm", "d_tot / c2", "d_tot", "c2"),
      dv("d_tot", "s2 + c2", "s2", "c2"))
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs, derived)
      .select("k", "d_tot", "d_norm")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(snap == Seq((1L, 10.0, 10.0 / 3), (2L, 11.0, 11.0)))
    // declared types are applied to the derived column
    val typed = IncrementalMaterializer.snapshot(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs,
      Seq(dv("d_i", "c2 * 2", "c2").copy(featureType = FeatureType.INT64)))
    assert(typed.schema("d_i").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("derived refusals: cross-key binding, unknown input, cycle") {
    val root = Spill.newPath(spark)
    val feats = Seq(feat("s2", wa("SUM")))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    def snapWith(d: DerivedFeature*) =
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs, d)
    val otherKey = TypedKey("k2", ValueType.INT64)
    val cross = intercept[IllegalArgumentException] {
      snapWith(DerivedFeature("d_x", FeatureType.UNSPECIFIED, "s2 * 2",
        Seq(InputFeature("s2", Seq(otherKey))), Seq(otherKey)))
    }
    assert(cross.getMessage.contains("cross-key") &&
      cross.getMessage.contains("d_x"), cross.getMessage)
    val unknown = intercept[IllegalArgumentException] {
      snapWith(DerivedFeature("d_u", FeatureType.UNSPECIFIED, "nope + 1",
        Seq(InputFeature("nope", Seq(key))), Seq(key)))
    }
    assert(unknown.getMessage.contains("nope"), unknown.getMessage)
    val cycle = intercept[IllegalArgumentException] {
      snapWith(
        DerivedFeature("d_a", FeatureType.UNSPECIFIED, "d_b + 1",
          Seq(InputFeature("d_b", Seq(key))), Seq(key)),
        DerivedFeature("d_b", FeatureType.UNSPECIFIED, "d_a + 1",
          Seq(InputFeature("d_a", Seq(key))), Seq(key)))
    }
    assert(cycle.getMessage.contains("cycle"), cycle.getMessage)
  }

  test("unsupported shapes are refused by name") {
    val root = Spill.newPath(spark)
    def refuse(f: AnchorFeature, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        IncrementalMaterializer.refresh(events, root, Seq(f),
          Seq("k"), "ts", DayUs, 0L)
      }
      assert(e.getMessage.contains(f.name) && e.getMessage.contains(needle),
        e.getMessage)
    }
    refuse(feat("g", wa("SUM").copy(groupBy = Some("tag"))), "group_by")
    refuse(feat("l", wa("SUM").copy(limit = Some(2))), "limit")
    refuse(feat("g2", wa("UNION").copy(groupBy = Some("tag"))), "group_by")
    refuse(feat("n", wa("NOP")), "not incrementally maintainable")
    refuse(feat("h", wa("SUM", "36h")), "whole multiple")
    refuse(feat("x", Transformation.Expr("v")), "only window aggregations")
  }

  test("UNION and ELEMENTWISE features ride their incremental stores") {
    val root = Spill.newPath(spark)
    // tag sets per key (UNION) + elementwise over a 2-d vector built
    // from the row: [v, 2v]
    val feats = Seq(
      feat("tags_2d", Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d"))),
      feat("vsum_2d", Transformation.WindowAgg("array(v, v * 2)",
        Aggregation.ELEMENTWISE_SUM, Durations.parse("2d"))),
      feat("vavg_2d", Transformation.WindowAgg("array(v, v * 2)",
        Aggregation.ELEMENTWISE_AVG, Durations.parse("2d"))),
      feat("s2", wa("SUM")))
    // two deltas: replay/version discipline shared with the scalar path
    IncrementalMaterializer.refresh(events.where(col("d") === 0), root,
      feats, Seq("k"), "ts", DayUs, 0L)
    IncrementalMaterializer.refresh(events.where(col("d") === 1), root,
      feats, Seq("k"), "ts", DayUs, 1L)
    // one store per kind: m= scalar, u= union, e= vector
    val stores = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(stores.count(_.startsWith("m=")) == 1 &&
      stores.count(_.startsWith("u=")) == 1 &&
      stores.count(_.startsWith("e=")) == 1, stores.toString)
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "tags_2d", "vsum_2d", "vavg_2d", "s2")
      .as[(Long, Seq[String], Seq[Double], Seq[Double], Double)]
      .collect().sortBy(_._1).toSeq
    // k=1: rows v=1(a),2(b),4(a) -> tags {a,b}, esum [7,14], eavg [7/3, 14/3]
    // k=2: row v=10(b) -> tags {b}, esum [10,20]
    assert(snap == Seq(
      (1L, Seq("a", "b"), Seq(7.0, 14.0), Seq(7.0 / 3, 14.0 / 3), 7.0),
      (2L, Seq("b"), Seq(10.0, 20.0), Seq(10.0, 20.0), 10.0)))
  }

  test("forgetKeys/compactRetaining maintain every store kind in one call") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")),
      feat("tags_2d", Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d"))),
      feat("vsum_2d", Transformation.WindowAgg("array(v)",
        Aggregation.ELEMENTWISE_SUM, Durations.parse("2d"))))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    IncrementalMaterializer.forgetKeys(spark, root, feats,
      Seq("k"), "ts", DayUs, Seq(1L).toDF("k"))
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "s2", "tags_2d", "vsum_2d")
      .as[(Long, Double, Seq[String], Seq[Double])].collect().toSeq
    assert(snap == Seq((2L, 10.0, Seq("b"), Seq(10.0))),
      s"key 1 must be erased from EVERY store: $snap")
    // retention across the set: day-0 buckets erased everywhere, and
    // a snapshot window reaching below the horizon fails by name
    IncrementalMaterializer.compactRetaining(spark, root, feats,
      Seq("k"), "ts", DayUs, minBucket = 1L)
    val e = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs).collect()
    }
    assert(e.getMessage.contains("retention-compacted"), e.getMessage)
  }

  test("UNION state cap fails the refresh by name, leaving state intact") {
    val root = Spill.newPath(spark)
    val feats = Seq(feat("tags", Transformation.WindowAgg("tag",
      Aggregation.UNION, Durations.parse("2d"))))
    val e = intercept[IllegalStateException] {
      IncrementalMaterializer.refresh(events, root, feats,
        Seq("k"), "ts", DayUs, 0L, unionCap = 1)
    }
    assert(e.getMessage.contains("cap") && e.getMessage.contains("k=1"),
      e.getMessage)
    // the over-cap ingest deleted its own partition — no state remains
    val uDir = new java.io.File(root).listFiles
      .find(_.getName.startsWith("u=")).get.getAbsolutePath
    assert(graft.operators.IncrementalSwa.versions(spark, uDir).isEmpty)
  }

  test("maintain: policy folds version tails, collects generations, carries horizons — idempotently") {
    import IncrementalMaterializer.{MaintenanceAction, MaintenancePolicy}
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")),
      AnchorFeature("tags", FeatureType.STRING, Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d")), Seq(key)))
    // five refreshes -> five version partitions per store
    (0L to 4L).foreach(v =>
      IncrementalMaterializer.refresh(events, root, feats,
        Seq("k"), "ts", DayUs, v))
    def infos() = IncrementalMaterializer.describe(spark, root, feats, DayUs)
      .map(_._2)
    assert(infos().forall(_.versions.size == 5))

    // below threshold: nothing folds, nothing collected
    val noop = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs, MaintenancePolicy(compactWhenVersionsExceed = 8))
    assert(noop.forall(a => !a.compacted && a.generationsCollected == 0))
    assert(infos().forall(_.versions.size == 5))

    // above threshold: both stores fold, superseded generations gc'd
    val acted = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs,
      MaintenancePolicy(compactWhenVersionsExceed = 2, gcKeepGenerations = 1))
    assert(acted.size == 2 && acted.forall(_.compacted), acted.toString)
    assert(infos().forall(i =>
      i.versions.size == 1 && i.committedGenerations.size == 1))
    // served values unchanged by maintenance
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "s2").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 35.0, 2L -> 50.0), snap.toString) // 5 ingests

    // retention sweep: explicit horizon recorded once, then idempotent
    val retained = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs,
      MaintenancePolicy(gcKeepGenerations = 1, retainFromBucket = Some(1L)))
    assert(retained.forall(_.horizonSet.contains(1L)))
    assert(infos().forall(_.retainedFrom.contains(1L)))
    val again = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs,
      MaintenancePolicy(gcKeepGenerations = 1, retainFromBucket = Some(1L)))
    assert(again.forall(a => !a.compacted && a.horizonSet.isEmpty &&
      a.generationsCollected <= 1), again.toString)

    // a later version-count fold CARRIES the horizon
    (5L to 8L).foreach(v =>
      IncrementalMaterializer.refresh(events, root, feats,
        Seq("k"), "ts", DayUs, v))
    val folded = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs,
      MaintenancePolicy(compactWhenVersionsExceed = 2, gcKeepGenerations = 1))
    assert(folded.forall(a => a.compacted && a.horizonSet.isEmpty))
    assert(infos().forall(_.retainedFrom.contains(1L)),
      "plain policy fold dropped the retention horizon")
  }

  test("maintain: the same policy over extension stores") {
    import graft.model.GraftAggregation._
    import IncrementalMaterializer.{GraftFeature, MaintenancePolicy}
    val root = Spill.newPath(spark)
    val d2 = graft.model.Durations.parse("2d")
    val feats = Seq(
      GraftFeature("g_p50", "v", Quantile(0.5, 0.0, 16.0, 16), d2),
      GraftFeature("g_top1", "tag", TopK(1, 4), d2))
    (0L to 3L).foreach(v =>
      IncrementalMaterializer.refresh(events, root, Nil,
        Seq("k"), "ts", DayUs, v, graftFeatures = feats))
    val before = IncrementalMaterializer.snapshot(spark, root, Nil,
      Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = feats)
      .collect().map(_.toString).sorted
    val acted = IncrementalMaterializer.maintain(spark, root, Nil,
      Seq("k"), "ts", DayUs,
      MaintenancePolicy(compactWhenVersionsExceed = 2, gcKeepGenerations = 1),
      graftFeatures = feats)
    assert(acted.size == 2 && acted.forall(_.compacted))
    val infos = IncrementalMaterializer.describe(spark, root, Nil, DayUs,
      graftFeatures = feats)
    assert(infos.forall(_._2.versions.size == 1))
    assert(IncrementalMaterializer.snapshot(spark, root, Nil,
      Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = feats)
      .collect().map(_.toString).sorted.sameElements(before))
  }

  test("snapshotAsOf: state time travel across store kinds; tears above the boundary don't block") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")),
      AnchorFeature("tags", FeatureType.STRING, Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d")), Seq(key)))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    val atV0 = IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
      .select(col("k"), col("s2"), concat_ws(",", col("tags")).as("tags"))
      .collect().map(_.toString).sorted
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 1L)
    // the as-of view reproduces the v0 wide row EXACTLY — scalar and
    // union stores truncated alike
    assert(IncrementalMaterializer.snapshotAsOf(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs, asOfVersion = 0L)
      .select(col("k"), col("s2"), concat_ws(",", col("tags")).as("tags"))
      .collect().map(_.toString).sorted.sameElements(atV0))

    // a torn refresh ABOVE the boundary cannot block the as-of read —
    // its mixed versions are excluded by the truncation — while the
    // live snapshot refuses
    intercept[IllegalStateException] {
      IncrementalMaterializer.refresh(events, root, feats,
        Seq("k"), "ts", DayUs, 2L, unionCap = 1)
    }
    assert(IncrementalMaterializer.snapshotAsOf(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs, asOfVersion = 0L).count() == 2)
    intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }

    // extension features time-travel the same way
    import graft.model.GraftAggregation._
    import IncrementalMaterializer.GraftFeature
    val gRoot = Spill.newPath(spark)
    val d2 = Durations.parse("2d")
    val gFeats = Seq(
      GraftFeature("g_p50", "v", Quantile(0.5, 0.0, 16.0, 16), d2),
      GraftFeature("g_top1", "tag", TopK(1, 4), d2))
    IncrementalMaterializer.refresh(events, gRoot, Nil,
      Seq("k"), "ts", DayUs, 0L, graftFeatures = gFeats)
    val gAtV0 = IncrementalMaterializer.snapshot(spark, gRoot, Nil,
        Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = gFeats)
      .select(col("k"), col("g_p50"), concat_ws(",", col("g_top1")))
      .collect().map(_.toString).sorted
    IncrementalMaterializer.refresh(events, gRoot, Nil,
      Seq("k"), "ts", DayUs, 1L, graftFeatures = gFeats)
    assert(IncrementalMaterializer.snapshotAsOf(spark, gRoot, Nil,
        Seq("k"), "ts", DayUs, 2 * DayUs, asOfVersion = 0L,
        graftFeatures = gFeats)
      .select(col("k"), col("g_p50"), concat_ws(",", col("g_top1")))
      .collect().map(_.toString).sorted.sameElements(gAtV0))
  }

  test("torn multi-store refresh: serves refuse by name, replay repairs") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")),
      AnchorFeature("tags", FeatureType.STRING, Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d")), Seq(key)))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    // version 1 fans to both stores but the union ingest dies over-cap
    // — the scalar store may or may not have landed version 1: a TORN
    // refresh either way
    intercept[IllegalStateException] {
      IncrementalMaterializer.refresh(events, root, feats,
        Seq("k"), "ts", DayUs, 1L, unionCap = 1)
    }
    // every feature-set serve refuses by name rather than assemble a
    // wide row mixing versions
    val e = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }
    assert(e.getMessage.contains("did not complete") &&
      e.getMessage.contains("version 1"), e.getMessage)
    val eT = intercept[IllegalArgumentException] {
      IncrementalMaterializer.trainingSet(spark, root, feats,
        Seq("k"), "ts", DayUs,
        Seq((1L, 2)).toDF("k", "d")
          .withColumn("ots", timestamp_micros(col("d") * DayUs)),
        "ots")
    }
    assert(eT.getMessage.contains("did not complete"), eT.getMessage)

    // a LATER completed refresh must not launder the tear away:
    // version holes are legal, so the union store landing v2 is still
    // missing v1's delta — the v1 marker survives and serves keep
    // refusing until v1 itself is replayed
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 2L)
    val eL = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }
    assert(eL.getMessage.contains("version 1"), eL.getMessage)

    // folding torn state would rebase v1 and make the replay repair
    // impossible — maintenance refuses (compact) or skips (maintain)
    val eC = intercept[IllegalArgumentException] {
      IncrementalMaterializer.compact(spark, root, feats,
        Seq("k"), "ts", DayUs)
    }
    assert(eC.getMessage.contains("torn"), eC.getMessage)
    val skipped = IncrementalMaterializer.maintain(spark, root, feats,
      Seq("k"), "ts", DayUs,
      IncrementalMaterializer.MaintenancePolicy(compactWhenVersionsExceed = 1))
    assert(skipped.forall(a =>
      !a.compacted && a.blockedByTornRefresh.contains(1L)), skipped.toString)

    // the replay (idempotent per store) lands v1 and clears the marker
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 1L)
    val snap = IncrementalMaterializer.snapshot(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "s2").as[(Long, Double)].collect().toMap
    // events ingested at versions 0, 2 AND the replayed 1 -> sums tripled
    assert(snap == Map(1L -> 21.0, 2L -> 30.0), snap.toString)
    // and maintenance is unblocked again
    IncrementalMaterializer.compact(spark, root, feats,
      Seq("k"), "ts", DayUs)
  }

  test("tear check is scoped: untouched stores serve, completed markers self-heal") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")),
      AnchorFeature("tags", FeatureType.STRING, Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d")), Seq(key)))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    val stores = new java.io.File(root).listFiles
      .map(_.getName).filter(n => n.startsWith("m=") || n.startsWith("u="))
    val uStore = stores.find(_.startsWith("u=")).get
    // a pending marker claiming version 99 covers ONLY the union store
    def writeMarker(content: String): Unit = {
      val w = new java.io.PrintWriter(s"$root/_refresh_pending_99")
      try w.print(content) finally w.close()
    }
    writeMarker(uStore)
    // a serve touching only the SCALAR store is unaffected by the tear
    assert(IncrementalMaterializer.snapshot(spark, root,
      Seq(feat("s2", wa("SUM"))), Seq("k"), "ts", DayUs, 2 * DayUs)
      .count() == 2)
    // ...while the full set refuses
    intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }
    // crash AFTER the last ingest but before the marker sweep: every
    // covered store is at or above the marker version — serve self-heals
    writeMarker(stores.mkString("\n"))
    new java.io.File(s"$root/_refresh_pending_99").delete()
    writeMarker(stores.mkString("\n"))
    // stores are at version 0 and the marker says 99 -> still torn
    intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, feats,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }
    new java.io.File(s"$root/_refresh_pending_99").delete()
    val w = new java.io.PrintWriter(s"$root/_refresh_pending_0")
    try w.print(stores.mkString("\n")) finally w.close()
    assert(IncrementalMaterializer.snapshot(spark, root, feats,
      Seq("k"), "ts", DayUs, 2 * DayUs).count() == 2)
    // a completed later refresh sweeps stale markers
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 1L)
    assert(!new java.io.File(s"$root/_refresh_pending_0").exists())
  }

  test("snapshotDaily + trainingSet: keys×days assembly and leak-free join") {
    val root = Spill.newPath(spark)
    val feats = Seq(
      feat("s2", wa("SUM")), feat("c2", wa("COUNT")),
      AnchorFeature("u2", FeatureType.STRING, Transformation.WindowAgg("tag",
        Aggregation.UNION, Durations.parse("2d")), Seq(key)))
    val derived = Seq(
      DerivedFeature("d_cents", FeatureType.INT64,
        "cast(round(s2 * 100) as bigint) div c2",
        Seq(InputFeature("s2", Seq(key)), InputFeature("c2", Seq(key))),
        Seq(key)))
    IncrementalMaterializer.refresh(events, root, feats,
      Seq("k"), "ts", DayUs, 0L)
    val daily = IncrementalMaterializer.snapshotDaily(spark, root, feats,
        Seq("k"), "ts", DayUs, derived)
      .select(col("k"), col("bucket"), col("s2"), col("c2"),
        concat_ws(",", col("u2")).as("u2"), col("d_cents"))
      .as[(Long, Long, Double, Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // k=2 has no events feeding bucket 0 -> that row is ABSENT, not null
    assert(daily == Map(
      (1L, 0L) -> ((3.0, 2L, "a,b", 150L)),
      (1L, 1L) -> ((7.0, 3L, "a,b", 233L)),
      (2L, 1L) -> ((10.0, 1L, "b", 1000L))))
    // observations on days 1/2 read the PREVIOUS day's feature row;
    // a cold-start key (9) and a cold bucket (k=2 at day 1) keep nulls.
    // o5 arrives AFTER the last event day (day 3 -> bucket 2 > hiB=1)
    // but its window {1,2} still reaches day-1 events — the daily
    // range extends to the latest observation's preceding bucket, so
    // it gets genuine aggregates, not silent cold-start nulls; o6's
    // window (buckets {3,4}) holds nothing -> nulls.
    val obs = Seq((1L, 1L, "o1"), (1L, 2L, "o2"), (2L, 1L, "o3"),
        (9L, 2L, "o4"), (1L, 3L, "o5"), (1L, 5L, "o6"))
      .toDF("k", "d", "oid")
      .withColumn("ots", timestamp_micros(col("d") * DayUs + 1L))
      .select("oid", "k", "ots")
    val ts = IncrementalMaterializer.trainingSet(spark, root, feats,
        Seq("k"), "ts", DayUs, obs, "ots", derived)
      .select(col("oid"), col("s2"), col("c2"), col("d_cents"))
      .as[(String, Option[Double], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(ts == Map(
      "o1" -> ((Some(3.0), Some(2L), Some(150L))),
      "o2" -> ((Some(7.0), Some(3L), Some(233L))),
      "o3" -> ((None, None, None)),
      "o4" -> ((None, None, None)),
      "o5" -> ((Some(4.0), Some(1L), Some(400L))),
      "o6" -> ((None, None, None))))
    // derived features need anchors to evaluate over — a graft-only
    // call carrying derivations is refused by name, not silently
    // stripped
    val e = intercept[IllegalArgumentException] {
      IncrementalMaterializer.trainingSet(spark, root, Nil,
        Seq("k"), "ts", DayUs, obs, "ots", derived,
        graftFeatures = Seq(IncrementalMaterializer.GraftFeature(
          "g_nd", "tag", graft.model.GraftAggregation.DistinctCount(12),
          Durations.parse("2d"))))
    }
    assert(e.getMessage.contains("anchor features"), e.getMessage)
  }

  test("snapshotDailyMulti + trainingSetMulti: per-binding daily frames, multi-key rows") {
    val root = Spill.newPath(spark)
    val tagKey = TypedKey("tag", ValueType.STRING, Some("t_alias"))
    val feats = Seq(
      feat("ks2", wa("SUM")),
      AnchorFeature("tsum2", FeatureType.DOUBLE, wa("SUM"), Seq(tagKey)))
    IncrementalMaterializer.refreshMulti(events, root, feats, "ts", DayUs, 0L)
    val dailies = IncrementalMaterializer.snapshotDailyMulti(spark, root,
      feats, "ts", DayUs)
    assert(dailies.keySet == Set(Seq("k"), Seq("t_alias")))
    // tag 'a': day 0 has 1+2=3... no — tag a rows: (1,0,1.0,a),(1,1,4.0,a)
    // -> bucket 0: 1.0; bucket 1: 5.0 over the 2d window
    assert(dailies(Seq("t_alias")).select("t_alias", "bucket", "tsum2")
      .as[(String, Long, Double)].collect().toSet ==
      Set(("a", 0L, 1.0), ("a", 1L, 5.0), ("b", 0L, 2.0), ("b", 1L, 12.0)))
    // observations carry BOTH alias columns; each binding joins at the
    // preceding bucket independently
    val obs = Seq((1L, "a", 1L, "o1"), (2L, "b", 1L, "o2"),
        (1L, "z", 1L, "o3"))
      .toDF("k", "t_alias", "d", "oid")
      .withColumn("ots", timestamp_micros(col("d") * DayUs + 1L))
      .select("oid", "k", "t_alias", "ots")
    val ts = IncrementalMaterializer.trainingSetMulti(spark, root, feats,
        "ts", DayUs, obs, "ots")
      .select(col("oid"), col("ks2"), col("tsum2"))
      .as[(String, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // o1: k=1 bucket0 sum 3.0; tag a bucket0 1.0. o2: k=2 has no
    // bucket-0 row; tag b bucket0 2.0. o3: unknown tag -> null there
    assert(ts == Map(
      "o1" -> ((Some(3.0), Some(1.0))),
      "o2" -> ((None, Some(2.0))),
      "o3" -> ((Some(3.0), None))))
    // observations missing an alias column are refused by name
    val e = intercept[IllegalArgumentException] {
      IncrementalMaterializer.trainingSetMulti(spark, root, feats,
        "ts", DayUs, obs.drop("t_alias"), "ots")
    }
    assert(e.getMessage.contains("t_alias"), e.getMessage)

    // maintainMulti applies the policy across BOTH bindings' stores
    // and leaves every frame's answers unchanged
    (1L to 2L).foreach(v =>
      IncrementalMaterializer.refreshMulti(events, root, feats,
        "ts", DayUs, v))
    val acted = IncrementalMaterializer.maintainMulti(spark, root, feats,
      "ts", DayUs, IncrementalMaterializer.MaintenancePolicy(
        compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
    assert(acted.size == 2 && acted.forall(_.compacted), acted.toString)
    // 3 ingests of the same events -> tag sums tripled
    assert(IncrementalMaterializer.snapshotDailyMulti(spark, root,
        feats, "ts", DayUs)(Seq("t_alias"))
      .select("t_alias", "bucket", "tsum2")
      .as[(String, Long, Double)].collect().toSet ==
      Set(("a", 0L, 3.0), ("a", 1L, 15.0), ("b", 0L, 6.0), ("b", 1L, 36.0)))
  }

  test("feature-set evolution: a feature added later backfills its own " +
      "store without touching the others") {
    val root = Spill.newPath(spark)
    val fSum = feat("e_sum", wa("SUM"))
    // day-0 delta reaches only the original feature
    val d0 = events.where(unix_micros(col("ts")) < DayUs)
    IncrementalMaterializer.refresh(d0, root, Seq(fSum), Seq("k"), "ts",
      DayUs, 0L)
    // later, MAX is added to the set: its measure shares f_sum's store
    // (the 5-in-1 scalar partials), so it is ALREADY materialized for
    // ingested history — evolution within the scalar family is free
    val fMax = feat("e_max", wa("MAX"))
    val both = IncrementalMaterializer.snapshot(spark, root,
        Seq(fSum, fMax), Seq("k"), "ts", DayUs, DayUs)
      .select("k", "e_sum", "e_max")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(both == Map(1L -> ((3.0, 2.0))))
    // a feature with a NEW measure (different defExpr) gets its own
    // store, bootstrapped by re-presenting history under the same
    // version numbers — the other stores never see those writes
    val fDouble = AnchorFeature("e_2v", FeatureType.DOUBLE,
      Transformation.WindowAgg("v * 2", Aggregation.SUM,
        Durations.parse("2d")), Seq(key))
    IncrementalMaterializer.refresh(d0, root, Seq(fDouble), Seq("k"), "ts",
      DayUs, 0L)
    // now the whole evolved set refreshes together going forward
    val d1 = events.where(unix_micros(col("ts")) >= DayUs)
    IncrementalMaterializer.refresh(d1, root, Seq(fSum, fMax, fDouble),
      Seq("k"), "ts", DayUs, 1L)
    val wide = IncrementalMaterializer.snapshot(spark, root,
        Seq(fSum, fMax, fDouble), Seq("k"), "ts", DayUs, 2 * DayUs)
      .select("k", "e_sum", "e_max", "e_2v")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(wide == Map(1L -> ((7.0, 4.0, 14.0)), 2L -> ((10.0, 10.0, 20.0))))
  }

  test("graft Multi: per-binding store routing, refusals by name") {
    import graft.model.GraftAggregation
    import IncrementalMaterializer.GraftFeature
    val root = Spill.newPath(spark)
    val tagKey = TypedKey("tag", ValueType.STRING, Some("t_alias"))
    val q = GraftAggregation.Quantile(0.5, 0.0, 16.0, 16)
    val feats = Seq(
      GraftFeature("kq", "v", q, Durations.parse("2d"),
        keys = Seq(TypedKey("k", ValueType.INT64))),
      GraftFeature("tq", "v", q, Durations.parse("2d"),
        keys = Seq(tagKey)))
    IncrementalMaterializer.refreshMulti(events, root, Nil,
      "ts", DayUs, 0L, graftFeatures = feats)
    val frames = IncrementalMaterializer.snapshotMulti(spark, root,
      Nil, "ts", DayUs, 2 * DayUs, graftFeatures = feats)
    assert(frames.keySet == Set(Seq("k"), Seq("t_alias")))
    // k=1 window rows {1,2,4}: median cutoff = left edge of bin(2) = 2.0
    assert(frames(Seq("k")).select("k", "kq")
      .as[(Long, Double)].collect().toMap == Map(1L -> 2.0, 2L -> 10.0))
    // tag a rows {1,4} -> bin(1)=1.0; tag b rows {2,10} -> bin(2)=2.0
    assert(frames(Seq("t_alias")).select("t_alias", "tq")
      .as[(String, Double)].collect().toMap ==
      Map("a" -> 1.0, "b" -> 2.0))
    // erasure is binding-scoped
    IncrementalMaterializer.forgetKeysMulti(spark, root, Nil,
      "ts", DayUs, Seq("k"), Seq(1L).toDF("k"), graftFeatures = feats)
    val after = IncrementalMaterializer.snapshotMulti(spark, root,
      Nil, "ts", DayUs, 2 * DayUs, graftFeatures = feats)
    assert(after(Seq("k")).select("k").as[Long].collect().toSeq == Seq(2L))
    assert(after(Seq("t_alias")).count() == 2L, "other binding untouched")
    // daily frames + training rows per binding, alias-addressed
    val dailies = IncrementalMaterializer.snapshotDailyMulti(spark,
      root, Nil, "ts", DayUs, graftFeatures = feats)
    assert(dailies.keySet == Set(Seq("k"), Seq("t_alias")))
    // post-forget: k=1 erased; tag frames intact. tag 'b' day1 window
    // {2,10} -> median-of-two p50 cutoff = bin(2) left edge = 2.0
    assert(dailies(Seq("t_alias")).where(col("t_alias") === "b")
      .select("bucket", "tq").as[(Long, Double)].collect().toMap ==
      Map(0L -> 2.0, 1L -> 2.0))
    val obs2 = Seq((2L, "a", 1L, "g1")).toDF("k", "t_alias", "d", "oid")
      .withColumn("ots", timestamp_micros(col("d") * DayUs + 1L))
      .select("oid", "k", "t_alias", "ots")
    val ts2 = IncrementalMaterializer.trainingSetMulti(spark, root, Nil,
      "ts", DayUs, obs2, "ots", graftFeatures = feats)
    val row = ts2.select("oid", "kq", "tq")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap.apply("g1")
    // k=2 has only a day-1 event, so its bucket-0 daily row does not
    // exist -> kq null (cold start); tag 'a' bucket0 {1} -> tq 1.0
    assert(row == ((None, Some(1.0))))

    // CROSS-surface refusals: one alias over two physical columns
    // (trainingSetMulti is where the bindings meet), and one feature
    // name on both surfaces (every read that assembles both)
    val crossAlias = intercept[IllegalArgumentException] {
      IncrementalMaterializer.trainingSetMulti(spark, root,
        Seq(AnchorFeature("ax", FeatureType.DOUBLE, wa("SUM"),
          Seq(TypedKey("k", ValueType.INT64, Some("id"))))),
        "ts", DayUs, obs2.withColumnRenamed("k", "id"), "ots",
        graftFeatures = Seq(GraftFeature("gx", "v", q,
          Durations.parse("2d"),
          keys = Seq(TypedKey("tag", ValueType.STRING, Some("id"))))))
    }
    assert(crossAlias.getMessage.contains("unambiguous"))
    val f7 = AnchorFeature("f7", FeatureType.DOUBLE, wa("SUM"),
      Seq(TypedKey("k", ValueType.INT64)))
    val g7 = GraftFeature("f7", "v", q, Durations.parse("2d"),
      keys = Seq(TypedKey("tag", ValueType.STRING, Some("t_alias"))))
    Seq[() => Any](
      () => IncrementalMaterializer.trainingSetMulti(spark, root, Seq(f7),
        "ts", DayUs, obs2, "ots", graftFeatures = Seq(g7)),
      () => IncrementalMaterializer.snapshot(spark, root, Seq(f7),
        Seq("k"), "ts", DayUs, 2 * DayUs, graftFeatures = Seq(g7)),
      () => IncrementalMaterializer.trainingSet(spark, root, Seq(f7),
        Seq("k"), "ts", DayUs, obs2, "ots", graftFeatures = Seq(g7))
    ).foreach { call =>
      val crossName = intercept[IllegalArgumentException](call())
      assert(crossName.getMessage.contains("duplicate columns"))
    }

    // a feature without a binding is refused by the Multi surface
    val nb = intercept[IllegalArgumentException] {
      IncrementalMaterializer.refreshMulti(events, root, Nil,
        "ts", DayUs, 1L,
        graftFeatures = Seq(GraftFeature("nokeys", "v", q, Durations.parse("2d"))))
    }
    assert(nb.getMessage.contains("no key binding"))
    // one alias schema over two physical columns is ambiguous
    val amb = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshotMulti(spark, root, Nil,
        "ts", DayUs, 2 * DayUs, graftFeatures = Seq(
        GraftFeature("a1", "v", q, Durations.parse("2d"),
          keys = Seq(TypedKey("k", ValueType.INT64, Some("x")))),
        GraftFeature("a2", "v", q, Durations.parse("2d"),
          keys = Seq(TypedKey("tag", ValueType.STRING, Some("x"))))))
    }
    assert(amb.getMessage.contains("unambiguous"))
  }

  test("on-disk store layout is pinned; a mixed-surface tear leaves one marker") {
    import graft.model.GraftAggregation._
    import IncrementalMaterializer.GraftFeature
    val d2 = Durations.parse("2d")
    val tagKey = TypedKey("tag", ValueType.STRING, Some("t_alias"))
    val anchors = Seq(
      feat("p_sum", wa("SUM")),
      feat("p_tags", Transformation.WindowAgg("tag", Aggregation.UNION, d2)),
      feat("p_vsum", Transformation.WindowAgg("array(v, v * 2)",
        Aggregation.ELEMENTWISE_SUM, d2)))
    val grafts = Seq(
      GraftFeature("p_nd", "tag", DistinctCount(12), d2, keys = Seq(key)),
      GraftFeature("p_p50", "v", Quantile(0.5, 0.0, 16.0, 16), d2,
        keys = Seq(key)))
    def entries(dir: String, prefix: String) = new java.io.File(dir)
      .listFiles.map(_.getName).filter(_.startsWith(prefix)).toSet
    def stores(dir: String) = entries(dir, "").filter(_.contains("="))
    val (mDir, uDir, eDir) =
      ("m=a4338195690100d5", "u=c4c9a3a172390066", "e=66373a5b96234645")
    val (gDistinct, gQuantile) = ("g=aa5c8db1dcc541a7", "g=8adc109e1473da02")

    // one binding: m=/u=/e= + md5(defExpr|filter), g= + md5(defExpr|filter|stateKey)
    val root = Spill.newPath(spark)
    IncrementalMaterializer.refresh(events, root, anchors,
      Seq("k"), "ts", DayUs, 0L, graftFeatures = grafts)
    assert(stores(root) == Set(mDir, uDir, eDir, gDistinct, gQuantile))

    // two bindings: k= + md5(alias=column) roots holding the same store names
    val multi = Spill.newPath(spark)
    IncrementalMaterializer.refreshMulti(events, multi, Seq(
      feat("p_sum", wa("SUM")),
      AnchorFeature("t_sum", FeatureType.DOUBLE, wa("SUM"), Seq(tagKey))),
      "ts", DayUs, 0L, graftFeatures = Seq(
      grafts.head,
      GraftFeature("t_p50", "v", Quantile(0.5, 0.0, 16.0, 16), d2,
        keys = Seq(tagKey))))
    assert(stores(multi) == Set("k=858b43b5f106", "k=4ebdbfbc5763"))
    assert(stores(s"$multi/k=858b43b5f106") == Set(mDir, gDistinct))
    assert(stores(s"$multi/k=4ebdbfbc5763") == Set(mDir, gQuantile))

    // a refresh of both surfaces whose union ingest dies over-cap
    intercept[IllegalStateException] {
      IncrementalMaterializer.refresh(events, root, anchors,
        Seq("k"), "ts", DayUs, 1L, unionCap = 1, graftFeatures = grafts)
    }
    assert(entries(root, "_refresh_pending_") == Set("_refresh_pending_1"))
    val torn = intercept[IllegalArgumentException] {
      IncrementalMaterializer.snapshot(spark, root, anchors,
        Seq("k"), "ts", DayUs, 2 * DayUs)
    }
    assert(torn.getMessage.contains(uDir), torn.getMessage)
    // the stores that landed version 1 still serve
    assert(IncrementalMaterializer.snapshot(spark, root,
      Seq(anchors(0), anchors(2)), Seq("k"), "ts", DayUs, 2 * DayUs,
      graftFeatures = grafts).count() == 2)
  }
}
