package graft

import graft.EventTime.Ops
import graft.model._
import graft.operators._
import graft.project._
import graft.sources._

import org.apache.spark.sql.functions._

/** Point-in-time join semantics on the sf0.001 fixtures: no future
  * leakage, boundary inclusivity `(obs_ts - w, obs_ts]`, tie handling,
  * left-outer null semantics.
  */
class PitJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def events = spark.read
    .option("mergeSchema", "false")
    .parquet(s"$sf/events.parquet")

  test("as-of join never leaks the future") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = SparkEntry.queries("q_asof_join")(spark, sf)
    // recompute the max qualifying source value per output row
    val src = spark.read.parquet(s"$sf/events.parquet")
      .normalizeEventTime
      .where($"event_type" === "purchase")
      .select($"user_id".as("u"), $"ts".as("sts"), $"value".as("sval"))
    val joined = df.join(src, $"user_id" === $"u" && $"sts" <= $"ts", "left")
      .groupBy($"event_id", $"ts", $"f_last_value")
      .agg(max_by($"sval", $"sts").as("expect"))
    val bad = joined.where(
      ($"f_last_value".isNotNull || $"expect".isNotNull) &&
      !($"f_last_value" <=> $"expect")).count()
    assert(bad == 0)
  }

  test("window boundary is (obs_ts - w, obs_ts]: a row exactly at obs_ts counts") {
    val src = Seq((1L, "2024-01-10 00:00:00", 10.0),
                  (1L, "2024-01-03 00:00:00", 5.0),   // exactly obs-7d: excluded
                  (1L, "2024-01-03 00:00:01", 2.0))   // just inside
      .toDF("k", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))
    val obs = Seq((1L, "2024-01-10 00:00:00")).toDF("k", "ts_s")
      .withColumn("ts", $"ts_s".cast("timestamp")).select("k", "ts")
    src.createOrReplaceTempView("boundary_src")
    val p = FeatureProject("b")
    val key = TypedKey("k", ValueType.INT64)
    p.addAnchorGroup("g", Source("src", DataLocation.Table("boundary_src"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_sum", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", "7d"), Seq(key))))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_sum"), Seq("k")))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("f_sum") == 12.0) // 10 (at obs_ts) + 2 (inside); 5 excluded
  }

  test("missing keys yield nulls (left outer), not dropped rows") {
    val obs = Seq((999999L, "2024-01-15 00:00:00")).toDF("user_id", "ts_s")
      .withColumn("ts", $"ts_s".cast("timestamp")).select("user_id", "ts")
    val p = FeatureProject("events_demo_local")
    val purchases = Source("purchases", DataLocation.Hdfs(s"$sf/events.parquet"),
      timeWindow = Some(TimeWindowParameters("ts", "native")),
      preprocessing = Some { df =>
        df.normalizeEventTime.where(col("event_type") === "purchase")
      })
    p.addAnchorGroup("a", purchases, Seq(
      AnchorFeature("f_last", FeatureType.DOUBLE,
        Transformation.Expr("value"), Seq(TypedKey("user_id", ValueType.INT64))),
      AnchorFeature("f_sum", FeatureType.DOUBLE,
        Transformation.windowAgg("value", "SUM", "7d"),
        Seq(TypedKey("user_id", ValueType.INT64)))))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_last", "f_sum"), Seq("user_id")))).collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(out.head.fieldIndex("f_last")))
    assert(out.head.isNullAt(out.head.fieldIndex("f_sum")))
  }

  test("SWA partial/final consistency: 7d sum equals brute-force (property over data)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val out = SparkEntry.queries("q_swa_basic")(spark, sf)
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .normalizeEventTime
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id".as("cu"), $"ts".as("ots"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("sts"), $"value")
    val brute = clicks.join(purchases,
        $"cu" === $"pu" && $"sts" > $"ots" - expr("INTERVAL 7 DAY") &&
        $"sts" <= $"ots", "left")
      .groupBy("event_id").agg(round(sum($"value"), 4).as("expect"))
    val cmp = out.select($"event_id", $"f_sum_7d").join(brute, "event_id")
    assert(cmp.where(!($"f_sum_7d" <=> $"expect")).count() == 0)
  }

  test("materialization backfill emits one snapshot per step (M1)") {
    import java.time.Instant
    val p = {
      val pp = FeatureProject("m")
      val purchases = Source("purchases", DataLocation.Hdfs(s"$sf/events.parquet"),
        timeWindow = Some(TimeWindowParameters("ts", "native")),
        preprocessing = Some { df =>
          df.normalizeEventTime
            .where(col("event_type") === "purchase")
        })
      pp.addAnchorGroup("a", purchases, Seq(
        AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.Expr("value"), Seq(TypedKey("user_id", ValueType.INT64)))))
      pp
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new FileOnlineStore(tmp)
    val out = Materializer.backfill(spark, p, Seq("f_last"), Seq("user_id"),
      Instant.parse("2024-01-10T00:00:00Z"), Instant.parse("2024-01-12T00:00:00Z"),
      DateTimeResolution.Daily,
      Seq(OutputSink.Online("feat", store)))
    // 10th, 11th, 12th — all from one plan
    assert(out.select("__step_end").distinct().count() == 3)
    val written = new java.io.File(tmp, "feat").list()
    assert(written != null && written.nonEmpty)
  }

  test("M1/M2 consistency: a backfill step equals the snapshot at the same endTime") {
    import java.time.Instant
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = {
      val pp = FeatureProject("m12")
      val purchases = Source("purchases", DataLocation.Hdfs(s"$sf/events.parquet"),
        timeWindow = Some(TimeWindowParameters("ts", "native")),
        preprocessing = Some { df =>
          df.normalizeEventTime
            .where(col("event_type") === "purchase")
        })
      pp.addAnchorGroup("a", purchases, Seq(
        AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.Expr("value"), Seq(TypedKey("user_id", ValueType.INT64))),
        AnchorFeature("f_sum_7d", FeatureType.DOUBLE,
          Transformation.windowAgg("value", "SUM", "7d"),
          Seq(TypedKey("user_id", ValueType.INT64)))))
      pp
    }
    val t = Instant.parse("2024-01-15T00:00:00Z")
    val feats = Seq("f_last", "f_sum_7d")
    // quantize the float SUM before the exact set compare: snapshot and
    // backfill are two INDEPENDENT evaluations, and a float sum's
    // low-order bits depend on partial-aggregation order (task
    // scheduling) — values sit on the 0.01 grid, so round(·, 4)
    // collapses the ulp jitter without masking real differences (the
    // same flake class as the r6 online/offline consistency test)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("f_sum_7d", round(col("f_sum_7d"), 4))
    val snap = canon(Materializer.snapshot(spark, p, feats, Seq("user_id"), t))
    val step = canon(Materializer.backfill(spark, p, feats, Seq("user_id"),
        Instant.parse("2024-01-14T00:00:00Z"), t, DateTimeResolution.Daily, Nil)
      .where(col("__step_end") === lit(java.sql.Timestamp.from(t)))
      .drop("__step_end"))
    assert(snap.count() == step.count())
    assert(snap.exceptAll(step).isEmpty && step.exceptAll(snap).isEmpty)
  }

  test("M3: one evaluation fans out to offline AND online sinks") {
    import java.time.Instant
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = {
      val pp = FeatureProject("m3")
      val purchases = Source("purchases", DataLocation.Hdfs(s"$sf/events.parquet"),
        timeWindow = Some(TimeWindowParameters("ts", "native")),
        preprocessing = Some { df =>
          df.normalizeEventTime
            .where(col("event_type") === "purchase")
        })
      pp.addAnchorGroup("a", purchases, Seq(
        AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.Expr("value"), Seq(TypedKey("user_id", ValueType.INT64)))))
      pp
    }
    val base = java.nio.file.Files.createTempDirectory("graft_fanout")
    val offline = new java.io.File(base.toFile, "offline").toString
    val storeDir = new java.io.File(base.toFile, "online").toString
    val store = new FileOnlineStore(storeDir)
    val out = Materializer.snapshot(spark, p, Seq("f_last"), Seq("user_id"),
      Instant.parse("2024-01-12T00:00:00Z"))
    Materializer.writeAll(out, Seq("user_id"),
      Seq(OutputSink.hdfs(s"$offline/snap.parquet"),
        OutputSink.Online("feat", store)))
    // offline sink: parquet round-trips the same rows
    val back = spark.read.parquet(s"$offline/snap.parquet")
    assert(back.count() == out.count() && back.count() > 0)
    // online sink: one entry per key, value carries the feature column
    val keys = new java.io.File(storeDir, "feat").list()
    assert(keys != null && keys.length.toLong == out.count())
    val one = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(storeDir, "feat"), keys.head).toPath))
    assert(one.contains("f_last="))
  }

  test("spark.graft.join.checkUnique fails a duplicate-keyed snapshot source by anchor name (J1 guard)") {
    import spark.implicits._
    val key = TypedKey("k", ValueType.INT64)
    val obs = Seq(1L, 2L).toDF("k")
    Seq((1L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("k", "v")
      .createOrReplaceTempView("uq_dup_src")
    val p = FeatureProject("uq")
    p.addAnchorGroup("dup_anchor", Source("src", DataLocation.Table("uq_dup_src")), Seq(
      AnchorFeature("f_v", FeatureType.DOUBLE, Transformation.Expr("v"), Seq(key))))
    spark.conf.set("spark.graft.join.checkUnique", "true")
    try {
      val e = intercept[IllegalStateException] {
        FeathrClient.joinFeatures(spark, p, obs, None,
          Seq(FeatureQuery(Seq("f_v"), Seq("k"))))
      }
      assert(e.getMessage.contains("dup_anchor") && e.getMessage.contains("key-unique"))
      // a key-unique source passes the guard untouched
      Seq((1L, 10.0), (2L, 30.0)).toDF("k", "v")
        .createOrReplaceTempView("uq_ok_src")
      val p2 = FeatureProject("uq2")
      p2.addAnchorGroup("ok_anchor", Source("src", DataLocation.Table("uq_ok_src")), Seq(
        AnchorFeature("f_v", FeatureType.DOUBLE, Transformation.Expr("v"), Seq(key))))
      val out = FeathrClient.joinFeatures(spark, p2, obs, None,
        Seq(FeatureQuery(Seq("f_v"), Seq("k"))))
      assert(out.count() == 2)
    } finally spark.conf.unset("spark.graft.join.checkUnique")
  }

  test("plan size grows linearly with window clusters across queries") {
    // one time-aware source keyed two ways: an as-of feature and three
    // window clusters per user, three more clusters per item
    Seq((1L, 10L, "2024-01-09 12:00:00", 1.0),
        (1L, 20L, "2024-01-05 00:00:00", 2.0),
        (2L, 10L, "2024-01-02 00:00:00", 4.0))
      .toDF("u", "i", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("plan_size_src")
    val obs = Seq((1L, 10L, "2024-01-10 00:00:00"), (2L, 20L, "2024-01-10 00:00:00"))
      .toDF("user", "item", "ts_s").withColumn("ts", $"ts_s".cast("timestamp"))
      .select("user", "item", "ts")
    val src = Source("src", DataLocation.Table("plan_size_src"),
      timeWindow = Some(TimeWindowParameters("ts", "native")))
    val p = FeatureProject("plan_size")
    val uKey = TypedKey("u", ValueType.INT64)
    val iKey = TypedKey("i", ValueType.INT64)
    p.addAnchorGroup("by_user", src,
      AnchorFeature("f_u_last", FeatureType.DOUBLE, Transformation.Expr("v"), Seq(uKey)) +:
        Seq(1, 2, 3).map(d => AnchorFeature(s"f_u_sum_${d}d", FeatureType.DOUBLE,
          Transformation.windowAgg("v", "SUM", s"${d}d"), Seq(uKey))))
    p.addAnchorGroup("by_item", src, Seq(4, 5, 6).map(d =>
      AnchorFeature(s"f_i_sum_${d}d", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", s"${d}d"), Seq(iKey))))
    val clusters = 6
    val df = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")), Seq(
      FeatureQuery("f_u_last" +: Seq(1, 2, 3).map(d => s"f_u_sum_${d}d"), Seq("user")),
      FeatureQuery(Seq(4, 5, 6).map(d => s"f_i_sum_${d}d"), Seq("item"))))
    // each bucketed window cluster reads the source and the spine pairs
    // twice (full buckets + edge rows), the as-of join each once, plus
    // the observation the joins accumulate onto: 4 * clusters + 3 —
    // a plan that re-derived pairs from the joined frame doubles per join
    val leaves = df.queryExecution.analyzed.collectLeaves().size
    assert(leaves <= 4 * clusters + 3, s"$leaves leaves for $clusters window clusters")
    val out = df.collect().map(r => r.getAs[Long]("user") -> r).toMap
    assert(out.size == 2)
    assert(out(1L).getAs[Double]("f_u_last") == 1.0)
    assert(out(1L).getAs[Double]("f_u_sum_1d") == 1.0)
    assert(out(1L).getAs[Double]("f_i_sum_6d") == 1.0)
    assert(out(2L).getAs[Double]("f_i_sum_6d") == 2.0)
  }

  test("distinct spine pairs survive a duplicate-keyed snapshot join: row fan-out and window values") {
    // snapshot anchor repeats every key dup times; window anchors on
    // two key columns must still see each spine (key, ts) pair once
    val dup = 3
    Seq(1L, 2L, 3L).flatMap(k => (1 to dup).map(n => (k, n.toDouble)))
      .toDF("k", "s").createOrReplaceTempView("pair_dup_src")
    val events = Seq(
      (1L, 10L, "2024-01-09 12:00:00", 1.0), (1L, 20L, "2024-01-04 00:00:00", 2.0),
      (1L, 10L, "2024-01-02 00:00:00", 4.0), (2L, 20L, "2024-01-08 00:00:00", 8.0),
      (2L, 10L, "2024-01-11 00:00:00", 16.0), (3L, 30L, "2023-12-01 00:00:00", 32.0))
    events.toDF("k", "j", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("pair_events")
    val spineRows = Seq(
      (1L, 10L, "2024-01-10 00:00:00"), (1L, 20L, "2024-01-10 00:00:00"),
      (1L, 10L, "2024-01-10 00:00:00"), (2L, 10L, "2024-01-12 00:00:00"),
      (3L, 30L, "2024-01-12 00:00:00"), (2L, 20L, "2024-01-09 00:00:00"))
    val obs = spineRows.toDF("k", "j", "ts_s").withColumn("ts", $"ts_s".cast("timestamp"))
    val timed = Source("ev", DataLocation.Table("pair_events"),
      timeWindow = Some(TimeWindowParameters("ts", "native")))
    val p = FeatureProject("pair_dup")
    val kKey = TypedKey("k", ValueType.INT64)
    p.addAnchorGroup("a_snap", Source("snap", DataLocation.Table("pair_dup_src")), Seq(
      AnchorFeature("f_s", FeatureType.DOUBLE, Transformation.Expr("s"), Seq(kKey))))
    p.addAnchorGroup("b_swa", timed, Seq(
      AnchorFeature("f_k_sum_7d", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", "7d"), Seq(kKey))))
    p.addAnchorGroup("c_swa", timed, Seq(
      AnchorFeature("f_j_sum_7d", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", "7d"), Seq(TypedKey("j", ValueType.INT64)))))
    spark.conf.set("spark.graft.join.checkUnique", "false")
    val out = try FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")), Seq(
        FeatureQuery(Seq("f_s", "f_k_sum_7d"), Seq("k")),
        FeatureQuery(Seq("f_j_sum_7d"), Seq("j")))).collect()
      finally spark.conf.unset("spark.graft.join.checkUnique")
    assert(out.length == spineRows.size * dup)
    val evTs = events.map { case (k, j, t, v) => (k, j, java.sql.Timestamp.valueOf(t), v) }
    def brute(key: ((Long, Long)) => Long, want: Long, obsTs: java.sql.Timestamp): Any = {
      val lo = obsTs.getTime - 7L * 24 * 3600 * 1000
      val hits = evTs.filter { case (k, j, t, _) =>
        key((k, j)) == want && t.getTime > lo && !t.after(obsTs) }
      if (hits.isEmpty) null else hits.map(_._4).sum
    }
    for (r <- out) {
      val k = r.getAs[Long]("k")
      val j = r.getAs[Long]("j")
      val t = r.getAs[java.sql.Timestamp]("ts")
      assert(r.get(r.fieldIndex("f_k_sum_7d")) == brute(_._1, k, t), s"f_k_sum_7d at $r")
      assert(r.get(r.fieldIndex("f_j_sum_7d")) == brute(_._2, j, t), s"f_j_sum_7d at $r")
    }
    assert(out.map(r => (r.getAs[Long]("k"), r.getAs[Double]("f_s"))).toSet ==
      Seq(1L, 2L, 3L).flatMap(k => (1 to dup).map(n => (k, n.toDouble))).toSet)
  }

  test("a query may key on a column an earlier query's passthrough feature produced") {
    Seq((0L, "2024-01-09 12:00:00", 1.0), (1L, "2024-01-09 12:00:00", 2.0),
        (1L, "2024-01-01 00:00:00", 4.0))
      .toDF("b", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("parity_bucket_src")
    val obs = Seq((2L, "2024-01-10 00:00:00"), (3L, "2024-01-10 00:00:00"))
      .toDF("user", "ts_s").withColumn("ts", $"ts_s".cast("timestamp"))
      .select("user", "ts")
    val p = FeatureProject("passthrough_key")
    p.addAnchorGroup("ctx", Source.INPUT_CONTEXT, Seq(
      AnchorFeature("f_parity", FeatureType.INT64,
        Transformation.Expr("user % 2"), Seq(TypedKey.DUMMY_KEY))))
    p.addAnchorGroup("by_parity", Source("src", DataLocation.Table("parity_bucket_src"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_parity_sum_7d", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", "7d"), Seq(TypedKey("b", ValueType.INT64)))))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")), Seq(
        FeatureQuery(Seq("f_parity"), Nil),
        FeatureQuery(Seq("f_parity_sum_7d"), Seq("f_parity"))))
      .collect().map(r => r.getAs[Long]("user") -> r.getAs[Double]("f_parity_sum_7d")).toMap
    assert(out == Map(2L -> 1.0, 3L -> 2.0))
  }

  test("exact and sliding MIN/MAX windows, grouped or not, ride one union-sort per anchor group; no bucket partials") {
    // a training-set-shaped project over an int measure: as-of, COUNT/
    // SUM/AVG and MAX windows per user and per item, a group_by COUNT
    Seq((1L, 10L, "2024-01-09 12:00:00", 3, "a"), (1L, 20L, "2024-01-05 00:00:00", -2, "b"),
        (2L, 10L, "2024-01-02 00:00:00", 4, "a"),
        (1L, 10L, "2024-01-03 00:00:00", 5, "a")) // exactly obs − 7d: outside 7d
      .toDF("u", "i", "ts_s", "value", "category").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("plan_shape_src")
    val obs = Seq((1L, 10L, "2024-01-10 00:00:00"), (2L, 20L, "2024-01-10 00:00:00"))
      .toDF("user", "item", "ts_s").withColumn("ts", $"ts_s".cast("timestamp"))
      .select("user", "item", "ts")
    val src = Source("src", DataLocation.Table("plan_shape_src"),
      timeWindow = Some(TimeWindowParameters("ts", "native")))
    val uKey = TypedKey("u", ValueType.INT64)
    val iKey = TypedKey("i", ValueType.INT64)
    def win(name: String, agg: String, w: String, key: TypedKey, t: FeatureType) =
      AnchorFeature(name, t, Transformation.windowAgg("value", agg, w), Seq(key))
    import FeatureType.{DOUBLE, INT64}
    val p = FeatureProject("plan_shape")
    p.addAnchorGroup("user_feats", src, Seq(
      AnchorFeature("u_last", INT64, Transformation.Expr("value"), Seq(uKey)),
      win("u_sum_7d", "SUM", "7d", uKey, INT64), win("u_cnt_7d", "COUNT", "7d", uKey, INT64),
      win("u_avg_7d", "AVG", "7d", uKey, DOUBLE), win("u_max_7d", "MAX", "7d", uKey, INT64),
      AnchorFeature("u_cat_cnt_7d", INT64, Transformation.windowAgg("value", "COUNT", "7d")
        .copy(groupBy = Some("category")), Seq(uKey))))
    p.addAnchorGroup("item_feats", src, Seq(
      AnchorFeature("i_last", INT64, Transformation.Expr("value"), Seq(iKey)),
      win("i_cnt_1d", "COUNT", "1d", iKey, INT64), win("i_sum_1d", "SUM", "1d", iKey, INT64),
      win("i_avg_30d", "AVG", "30d", iKey, DOUBLE), win("i_max_30d", "MAX", "30d", iKey, INT64)))
    val userFeats = Seq("u_last", "u_sum_7d", "u_cnt_7d", "u_avg_7d", "u_max_7d", "u_cat_cnt_7d")
    val itemFeats = Seq("i_last", "i_cnt_1d", "i_sum_1d", "i_avg_30d", "i_max_30d")
    val df = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")), Seq(
      FeatureQuery(userFeats, Seq("user")), FeatureQuery(itemFeats, Seq("item"))))

    // one running window per anchor group: (user), with the group_by
    // COUNT on it, and (item)
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val sorts = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.collect { case a: Attribute => a.name }
    }
    assert(sorts.sortBy(_.mkString(",")) == Seq(Seq("item"), Seq("user")), sorts)
    // no bucket partials: the MAX features ride the as-of sorts too
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("__graft_ps_"), analyzed)
    assert(analyzed.contains("sliding_extreme") && analyzed.contains("sliding_sums"), analyzed)

    val r = df.collect().map(r => r.getAs[Long]("user") -> r).toMap
    assert(r.size == 2)
    val one = r(1L)
    assert(one.getAs[Long]("u_last") == 3L)
    assert(one.getAs[Long]("u_sum_7d") == 1L && one.getAs[Long]("u_cnt_7d") == 2L)
    assert(one.getAs[Double]("u_avg_7d") == 0.5 && one.getAs[Long]("u_max_7d") == 3L)
    assert(one.getAs[Map[String, Long]]("u_cat_cnt_7d") == Map("a" -> 1L, "b" -> 1L))
    assert(one.getAs[Long]("i_cnt_1d") == 1L && one.getAs[Long]("i_sum_1d") == 3L)
    assert(one.getAs[Double]("i_avg_30d") == 4.0 && one.getAs[Long]("i_max_30d") == 5L)
    // user 2's only row is 8 days old; item 20's is 5 days old
    val two = r(2L)
    for (c <- userFeats.filterNot(_ == "u_last") ++ Seq("i_cnt_1d", "i_sum_1d"))
      assert(two.isNullAt(two.fieldIndex(c)), c)
    assert(two.getAs[Long]("u_last") == 4L && two.getAs[Long]("i_last") == -2L)
    assert(two.getAs[Double]("i_avg_30d") == -2.0 && two.getAs[Long]("i_max_30d") == -2L)
  }

  test("without an as-of sort to share, exact windows join the bucket cluster of their (window, filter, group_by)") {
    Seq((1L, "2024-01-09 12:00:00", 3, "a"), (1L, "2024-01-05 00:00:00", -2, "b"),
        (1L, "2024-01-03 00:00:00", 5, "a"), // exactly obs − 7d: outside 7d
        (2L, "2024-01-02 00:00:00", 4, "a"))
      .toDF("u", "ts_s", "value", "category").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("window_only_src")
    val obs = Seq((1L, "2024-01-10 00:00:00"), (2L, "2024-01-10 00:00:00"))
      .toDF("user", "ts_s").withColumn("ts", $"ts_s".cast("timestamp")).select("user", "ts")
    val uKey = TypedKey("u", ValueType.INT64)
    def win(name: String, agg: String, w: String, gb: Option[String] = None) =
      AnchorFeature(name, FeatureType.UNSPECIFIED,
        Transformation.windowAgg("value", agg, w).copy(groupBy = gb), Seq(uKey))
    val p = FeatureProject("window_only")
    // no as-of feature: COUNT/SUM 7d share MAX 7d's bucket cluster, and
    // the group_by COUNT 7d its group_by MAX's; the 1d COUNTs have no
    // cluster to join and ride the group's one union-sort
    p.addAnchorGroup("window_only_feats", Source("src", DataLocation.Table("window_only_src"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      win("u_cnt_7d", "COUNT", "7d"), win("u_sum_7d", "SUM", "7d"), win("u_max_7d", "MAX", "7d"),
      win("u_cnt_1d", "COUNT", "1d"),
      win("u_cat_cnt_7d", "COUNT", "7d", Some("category")),
      win("u_cat_max_7d", "MAX", "7d", Some("category")),
      win("u_cat_cnt_1d", "COUNT", "1d", Some("category"))))
    val feats = Seq("u_cnt_7d", "u_sum_7d", "u_max_7d", "u_cnt_1d", "u_cat_cnt_7d",
      "u_cat_max_7d", "u_cat_cnt_1d")
    val df = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(feats, Seq("user"))))

    import org.apache.spark.sql.catalyst.expressions.Attribute
    val sorts = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.collect { case a: Attribute => a.name }
    }
    assert(sorts == Seq(Seq("user")), sorts)
    val kinds = "__graft_ps_([a-z]+)_".r
      .findAllMatchIn(df.queryExecution.analyzed.toString).map(_.group(1)).toSet
    assert(kinds == Set("cnt", "sum", "max"), kinds)

    val r = df.collect().map(r => r.getAs[Long]("user") -> r).toMap
    val one = r(1L)
    assert(one.getAs[Long]("u_cnt_7d") == 2L && one.getAs[Long]("u_sum_7d") == 1L)
    assert(one.getAs[Int]("u_max_7d") == 3 && one.getAs[Long]("u_cnt_1d") == 1L)
    assert(one.getAs[Map[String, Long]]("u_cat_cnt_7d") == Map("a" -> 1L, "b" -> 1L))
    assert(one.getAs[Map[String, Int]]("u_cat_max_7d") == Map("a" -> 3, "b" -> -2))
    assert(one.getAs[Map[String, Long]]("u_cat_cnt_1d") == Map("a" -> 1L))
    val two = r(2L)
    for (c <- feats) assert(two.isNullAt(two.fieldIndex(c)), c)
  }

  test("a window-only group whose window features all ride builds one union-sort and no bucket partials") {
    Seq((1L, "2024-01-09 12:00:00", 3, "a"), (1L, "2024-01-05 00:00:00", -2, "b"),
        (1L, "2024-01-03 00:00:00", 5, "a"), // exactly obs − 7d: outside 7d
        (1L, "2024-01-09 12:00:00", 1, "b"), (2L, "2024-01-02 00:00:00", 4, "a"))
      .toDF("u", "ts_s", "value", "category").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("all_ride_src")
    val obs = Seq((1L, "2024-01-10 00:00:00"), (2L, "2024-01-10 00:00:00"))
      .toDF("user", "ts_s").withColumn("ts", $"ts_s".cast("timestamp")).select("user", "ts")
    val uKey = TypedKey("u", ValueType.INT64)
    def win(name: String, agg: String, w: String, measure: String = "value") =
      AnchorFeature(name, FeatureType.UNSPECIFIED,
        Transformation.windowAgg(measure, agg, w), Seq(uKey))
    val p = FeatureProject("all_ride")
    p.addAnchorGroup("all_ride_feats", Source("src", DataLocation.Table("all_ride_src"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      win("u_cnt_7d", "COUNT", "7d"), win("u_sum_7d", "SUM", "7d"),
      win("u_max_7d", "MAX", "7d"), win("u_min_1d", "MIN", "1d"),
      win("u_last_cat_7d", "LATEST", "7d", "category")))
    val feats = Seq("u_cnt_7d", "u_sum_7d", "u_max_7d", "u_min_1d", "u_last_cat_7d")
    val df = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(feats, Seq("user"))))

    import org.apache.spark.sql.catalyst.expressions.Attribute
    val sorts = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.collect { case a: Attribute => a.name }
    }
    assert(sorts == Seq(Seq("user")), sorts)
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("__graft_ps_") && !analyzed.contains("__graft_bl_rn"), analyzed)

    val r = df.collect().map(r => r.getAs[Long]("user") -> r).toMap
    val one = r(1L)
    assert(one.getAs[Long]("u_cnt_7d") == 3L && one.getAs[Long]("u_sum_7d") == 2L)
    assert(one.getAs[Int]("u_max_7d") == 3 && one.getAs[Int]("u_min_1d") == 1)
    // two rows tie at the newest instant: the larger category wins
    assert(one.getAs[String]("u_last_cat_7d") == "b")
    val two = r(2L)
    for (c <- feats) assert(two.isNullAt(two.fieldIndex(c)), c)
  }

  test("a null group_by sub-key in a window is refused by anchor group, feature and expression on both plans") {
    Seq[(Long, String, Int, Option[String])]((1L, "2024-01-09 12:00:00", 3, Some("a")),
        (1L, "2024-01-08 00:00:00", 4, None))
      .toDF("k", "ts_s", "v", "cat").withColumn("ts", $"ts_s".cast("timestamp"))
      .createOrReplaceTempView("null_sub_key_src")
    def obsAt(t: String) = Seq((1L, t)).toDF("k", "ts_s")
      .withColumn("ts", $"ts_s".cast("timestamp")).select("k", "ts")
    // COUNT rides the union-sort as a sliding sums kernel, MAX takes the
    // bucket plan
    for ((agg, name) <- Seq("COUNT" -> "f_cnt_by_cat", "MAX" -> "f_max_by_cat")) {
      val p = FeatureProject("null_sub_key")
      p.addAnchorGroup("null_sub_anchor", Source("src", DataLocation.Table("null_sub_key_src"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature(name, FeatureType.INT64, Transformation.WindowAgg("v",
          Aggregation.parse(agg), Durations.parse("7d"), groupBy = Some("upper(cat)")),
          Seq(TypedKey("k", ValueType.INT64)))))
      def join(t: String) = FeathrClient.joinFeatures(spark, p, obsAt(t),
        Some(("ts", "native")), Seq(FeatureQuery(Seq(name), Seq("k")))).collect()
      val e = intercept[Exception](join("2024-01-10 00:00:00"))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("null_sub_anchor") && msg.contains(name) && msg.contains("upper(cat)"),
        s"$agg: $msg")
      // a window without the null row is answered
      val ok = join("2024-01-16 00:00:00")
      assert(ok.head.getAs[Map[String, Long]](name).keySet == Set("A"), agg)
    }
  }
}
