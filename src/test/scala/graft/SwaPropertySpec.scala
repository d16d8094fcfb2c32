package graft

import graft.model._
import graft.project._
import graft.sources._

import org.apache.spark.sql.functions._

/** One source row of the aggregation-kind property: a scalar, a set
  * item and a vector measure, each possibly null, and a sub-key.
  */
case class SwaKindEvent(k: Long, ts_us: Long, v: Option[Double], u: Option[Int],
    vec: Option[Seq[Double]], g: String)

/** One source row of the exact-aggregation property: an int and a long
  * measure, a filter flag and a sub-key, each possibly null.
  */
case class SwaExactEvent(k: Long, ts_us: Long, iv: Option[Int], lv: Option[Long],
    f: Option[Int], g: String)

/** One source row of the sliding-extreme property: an int, a long
  * past 2^53, a double (NaN or null), a decimal, a string and a
  * timestamp (epoch micros) measure, each possibly null, and a filter
  * flag that is sometimes null.
  */
case class SwaExtremeEvent(k: Long, ts_us: Long, iv: Option[Int], lv: Option[Long],
    dv: Option[Double], cv: Option[BigDecimal], sv: Option[String], tv_us: Option[Long],
    f: Option[Int])

/** Property test over duration grammar × SWA: random odd/sub-second
  * windows (100ms–4s at millisecond granularity, and 1–127 µs windows
  * whose buckets are single microseconds) over randomly-timed events
  * must produce the same aggregates as an in-memory reference fold, for
  * every aggregation kind, with and without group_by and record limits.
  * The window join has two shapes — bucket partials, and the top-k
  * newest rows per bucket for a record limit — and where a test says
  * "both plans" it runs each. Guards the window arithmetic end to end:
  * parse → micros → bucket boundaries → `(t − w, t]` inclusivity.
  */
class SwaPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("random ms-granularity windows match the reference fold on both plans") {
    val rnd = new scala.util.Random(42)
    // a record limit above every window's row count keeps every row, so
    // the top-k plan must give the partials plan's answer
    for (round <- 1 to 5) {
      val windowMs = 100 + rnd.nextInt(3900)
      val wUs = windowMs * 1000L
      // 3 keys × 25 events inside a 10-second span (micros granularity),
      // integral values so float parity is exact across plan shapes
      val events = for (k <- 0 until 3; _ <- 0 until 25) yield
        (k.toLong, 1700000000000000L + (rnd.nextLong().abs % 10000000L),
          math.round(rnd.nextDouble() * 100).toDouble)
      val df = events.toDF("k", "ts_us", "v")
        .withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"swa_prop_$round"
      df.createOrReplaceTempView(view)

      val p = FeatureProject(s"prop$round")
      val key = TypedKey("k", ValueType.INT64)
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_sum", FeatureType.DOUBLE,
          Transformation.windowAgg("v", "SUM", s"${windowMs}ms"), Seq(key)),
        AnchorFeature("f_cnt", FeatureType.INT64,
          Transformation.windowAgg("v", "COUNT", s"${windowMs}ms"), Seq(key)),
        AnchorFeature("f_sum_k", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.SUM,
            Durations.parse(s"${windowMs}ms"), limit = Some(1000)), Seq(key)),
        AnchorFeature("f_cnt_k", FeatureType.INT64,
          Transformation.WindowAgg("v", Aggregation.COUNT,
            Durations.parse(s"${windowMs}ms"), limit = Some(1000)), Seq(key))))
      val obs = df.select($"k", $"ts", $"ts_us")

      val expected = events.map { case (k, t, _) =>
        val in = events.filter { case (k2, t2, _) => k2 == k && t2 > t - wUs && t2 <= t }
        (k, t) -> ((in.map(_._3).sum, in.size.toLong))
      }.toMap

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_sum", "f_cnt", "f_sum_k", "f_cnt_k"), Seq("k")))).collect()
      assert(out.length == events.length)
      out.foreach { r =>
        val (es, ec) = expected((r.getAs[Long]("k"), r.getAs[Long]("ts_us")))
        for ((sumCol, cntCol) <- Seq(("f_sum", "f_cnt"), ("f_sum_k", "f_cnt_k"))) {
          assert(r.getAs[Long](cntCol) == ec,
            s"count mismatch: window=${windowMs}ms feature=$cntCol")
          assert(math.abs(r.getAs[Double](sumCol) - es) < 1e-9,
            s"sum mismatch: window=${windowMs}ms feature=$sumCol")
        }
      }
    }
  }

  test("composite (2-column) key SWA matches the reference fold on both plans") {
    val rnd = new scala.util.Random(31)
    val windowMs = 1500
    val wUs = windowMs * 1000L
    val events = for (k1 <- 0 until 2; k2 <- 0 until 2; _ <- 0 until 15) yield
      (k1.toLong, s"r$k2",
        1700000000000000L + (rnd.nextLong().abs % 6000000L),
        math.round(rnd.nextDouble() * 100).toDouble)
    val df = events.toDF("k1", "k2", "ts_us", "v")
      .withColumn("ts", timestamp_micros($"ts_us"))
    df.createOrReplaceTempView("swa_prop_ck")

    val p = FeatureProject("propck")
    p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_ck"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_sum2", FeatureType.DOUBLE,
        Transformation.windowAgg("v", "SUM", s"${windowMs}ms"),
        Seq(TypedKey("k1", ValueType.INT64), TypedKey("k2", ValueType.STRING))),
      // the top-k plan, its limit above every window's row count
      AnchorFeature("f_sum2_k", FeatureType.DOUBLE,
        Transformation.WindowAgg("v", Aggregation.SUM,
          Durations.parse(s"${windowMs}ms"), limit = Some(1000)),
        Seq(TypedKey("k1", ValueType.INT64), TypedKey("k2", ValueType.STRING)))))
    val obs = df.select($"k1", $"k2", $"ts", $"ts_us")

    val expected = events.map { case (k1, k2, t, _) =>
      val in = events.filter { case (j1, j2, t2, _) =>
        j1 == k1 && j2 == k2 && t2 > t - wUs && t2 <= t }
      (k1, k2, t) -> in.map(_._4).sum
    }.toMap

    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_sum2", "f_sum2_k"), Seq("k1", "k2")))).collect()
    assert(out.length == events.length)
    out.foreach { r =>
      val want = expected((r.getAs[Long]("k1"), r.getAs[String]("k2"),
        r.getAs[Long]("ts_us")))
      for (c <- Seq("f_sum2", "f_sum2_k"))
        assert(math.abs(r.getAs[Double](c) - want) < 1e-9,
          s"composite-key sum mismatch feature=$c")
    }
  }

  test("as-of join matches the reference last-value fold on random event sets") {
    val rnd = new scala.util.Random(11)
    for (round <- 1 to 4) {
      // source events and an INDEPENDENT spine (obs times that mostly
      // don't coincide with source times — the general as-of case),
      // plus spine rows before any source row (must stay null)
      val src = for (k <- 0 until 3; _ <- 0 until 20) yield
        (k.toLong, 1700000000000000L + (rnd.nextLong().abs % 10000000L),
          math.round(rnd.nextDouble() * 1000).toDouble)
      val obsRows = for (k <- 0 until 3; _ <- 0 until 15) yield
        (k.toLong, 1700000000000000L - 1000000L + (rnd.nextLong().abs % 12000000L))
      val srcDf = src.toDF("k", "ts_us", "v")
        .withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"asof_prop_$round"
      srcDf.createOrReplaceTempView(view)

      val p = FeatureProject(s"asofp$round")
      val key = TypedKey("k", ValueType.INT64)
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.Expr("v"), Seq(key))))
      val obs = obsRows.toDF("k", "ts_us")
        .withColumn("ts", timestamp_micros($"ts_us"))

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_last"), Seq("k")))).collect()
      assert(out.length == obsRows.length)
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        // reference: the latest source row with ts <= obs ts (ties by
        // value desc — the engine's deterministic tie-break; random
        // micros make real ties vanishingly rare anyway)
        val want = src.filter(s => s._1 == k && s._2 <= t)
          .sortBy(s => (-s._2, -s._3)).headOption.map(_._3)
        val got = if (r.isNullAt(r.fieldIndex("f_last"))) None
          else Some(r.getAs[Double]("f_last"))
        assert(got == want, s"as-of mismatch k=$k t=$t: got=$got want=$want")
      }
    }
  }

  test("record-limit (top-k newest) matches the reference fold") {
    val rnd = new scala.util.Random(19)
    for (round <- 1 to 3) {
      val windowMs = 200 + rnd.nextInt(3000)
      val wUs = windowMs * 1000L
      val events = for (k <- 0 until 3; _ <- 0 until 25) yield
        (k.toLong, 1700000000000000L + (rnd.nextLong().abs % 8000000L),
          math.round(rnd.nextDouble() * 100).toDouble)
      val df = events.toDF("k", "ts_us", "v")
        .withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"swa_prop_lim_$round"
      df.createOrReplaceTempView(view)

      val p = FeatureProject(s"proplim$round")
      val key = TypedKey("k", ValueType.INT64)
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_top3", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.SUM,
            Durations.parse(s"${windowMs}ms"), limit = Some(3)), Seq(key)),
        AnchorFeature("f_top3_cnt", FeatureType.INT64,
          Transformation.WindowAgg("v", Aggregation.COUNT,
            Durations.parse(s"${windowMs}ms"), limit = Some(3)), Seq(key))))
      val obs = df.select($"k", $"ts", $"ts_us")

      // reference fold: top-3 by (ts desc, v desc) inside (t − w, t]
      val expected = events.map { case (k, t, _) =>
        val in = events.filter { case (k2, t2, _) => k2 == k && t2 > t - wUs && t2 <= t }
        val top = in.sortBy { case (_, t2, v2) => (-t2, -v2) }.take(3)
        (k, t) -> ((top.map(_._3).sum, top.size.toLong))
      }.toMap

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_top3", "f_top3_cnt"), Seq("k"))))
      assert(out.queryExecution.analyzed.toString.contains("__graft_bl_rn"),
        "record-limit must take the bucketed top-k plan")
      val rows = out.collect()
      assert(rows.length == events.length)
      rows.foreach { r =>
        val (es, ec) = expected((r.getAs[Long]("k"), r.getAs[Long]("ts_us")))
        assert(r.getAs[Long]("f_top3_cnt") == ec,
          s"limit count mismatch: window=${windowMs}ms")
        assert(math.abs(r.getAs[Double]("f_top3") - es) < 1e-9,
          s"limit sum mismatch: window=${windowMs}ms")
      }
    }
  }

  test("group_by (+ top-k-groups limit) matches the reference fold") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 3) {
      val windowMs = 200 + rnd.nextInt(3000)
      val wUs = windowMs * 1000L
      val events = for (k <- 0 until 3; i <- 0 until 25) yield
        (k.toLong, 1700000000000000L + (rnd.nextLong().abs % 8000000L),
          math.round(rnd.nextDouble() * 100).toDouble, s"g${i % 4}")
      val df = events.toDF("k", "ts_us", "v", "g")
        .withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"swa_prop_gb_$round"
      df.createOrReplaceTempView(view)

      val p = FeatureProject(s"propgb$round")
      val key = TypedKey("k", ValueType.INT64)
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_by_g", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.SUM,
            Durations.parse(s"${windowMs}ms"), groupBy = Some("g"),
            limit = Some(2)), Seq(key))))
      val obs = df.select($"k", $"ts", $"ts_us")

      val expected = events.map { case (k, t, _, _) =>
        val in = events.filter { case (k2, t2, _, _) => k2 == k && t2 > t - wUs && t2 <= t }
        val groups = in.groupBy(_._4).view.mapValues(_.map(_._3).sum).toSeq
        // top-2 groups by (sum desc, sub-key asc)
        (k, t) -> groups.sortBy { case (g, s) => (-s, g) }.take(2).toMap
      }.toMap

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_by_g"), Seq("k")))).collect()
      assert(out.length == events.length)
      out.foreach { r =>
        val got = r.getAs[Map[String, Double]]("f_by_g")
        val want = expected((r.getAs[Long]("k"), r.getAs[Long]("ts_us")))
        assert(got.keySet == want.keySet &&
          want.forall { case (g, s) => math.abs(got(g) - s) < 1e-9 },
          s"group map mismatch: window=${windowMs}ms got=$got want=$want")
      }
    }
  }

  test("a record-limited feature ranks by its own measure, whatever is requested beside it") {
    // two source rows at one instant: a limit of 1 keeps v's larger row
    // for f_v and w's larger row for f_w
    val t0 = 1700000000000000L
    Seq((1L, t0, 1.0, 9.0), (1L, t0, 2.0, 1.0)).toDF("k", "ts_us", "v", "w")
      .withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_tie")
    val obs = Seq((1L, t0 + 1000L)).toDF("k", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
    val key = TypedKey("k", ValueType.INT64)
    def feat(name: String, measure: String) = AnchorFeature(name, FeatureType.DOUBLE,
      Transformation.WindowAgg(measure, Aggregation.SUM, Durations.parse("1d"),
        limit = Some(1)), Seq(key))
    for (anchorOrder <- Seq(Seq("f_v", "f_w"), Seq("f_w", "f_v"));
         requested <- Seq(Seq("f_v"), Seq("f_w"), Seq("f_v", "f_w"), Seq("f_w", "f_v"))) {
      val p = FeatureProject("proptie")
      p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_tie"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))),
        anchorOrder.map(n => feat(n, n.stripPrefix("f_"))))
      val r = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(requested, Seq("k")))).head()
      val ctx = s"anchors=$anchorOrder requested=$requested"
      if (requested.contains("f_v")) assert(r.getAs[Double]("f_v") == 2.0, ctx)
      if (requested.contains("f_w")) assert(r.getAs[Double]("f_w") == 9.0, ctx)
    }
  }

  test("a top-k-groups feature ranks groups by its own aggregate, whatever is requested beside it") {
    val t0 = 1700000000000000L
    Seq((1L, t0, "a", 1.0, 9.0), (1L, t0, "b", 2.0, 1.0)).toDF("k", "ts_us", "g", "v", "w")
      .withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_gtie")
    val obs = Seq((1L, t0 + 1000L)).toDF("k", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
    val key = TypedKey("k", ValueType.INT64)
    def feat(name: String, measure: String) = AnchorFeature(name, FeatureType.DOUBLE,
      Transformation.WindowAgg(measure, Aggregation.SUM, Durations.parse("1d"),
        groupBy = Some("g"), limit = Some(1)), Seq(key))
    for (anchorOrder <- Seq(Seq("f_v", "f_w"), Seq("f_w", "f_v"));
         requested <- Seq(Seq("f_v"), Seq("f_w"), Seq("f_v", "f_w"), Seq("f_w", "f_v"))) {
      val p = FeatureProject("propgtie")
      p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_gtie"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))),
        anchorOrder.map(n => feat(n, n.stripPrefix("f_"))))
      val r = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(requested, Seq("k")))).head()
      val ctx = s"anchors=$anchorOrder requested=$requested"
      if (requested.contains("f_v"))
        assert(r.getAs[Map[String, Double]]("f_v") == Map("b" -> 2.0), ctx)
      if (requested.contains("f_w"))
        assert(r.getAs[Map[String, Double]]("f_w") == Map("a" -> 9.0), ctx)
    }
  }

  /** Engine cell vs reference: Options, sequences and maps compared
    * element by element, doubles within 1e-9.
    */
  private def same(got: Any, want: Any): Boolean = (got, want) match {
    case (g: Option[_], w: Option[_]) =>
      g.isEmpty == w.isEmpty && g.forall(x => same(x, w.get))
    case (g: Double, w: Double) => math.abs(g - w) < 1e-9
    case (g: scala.collection.Seq[_], w: scala.collection.Seq[_]) =>
      g.size == w.size && g.zip(w).forall { case (a, b) => same(a, b) }
    case (g: scala.collection.Map[_, _], w: scala.collection.Map[_, _]) =>
      g.keySet == w.keySet && w.forall { case (key, b) =>
        same(Option(g.asInstanceOf[scala.collection.Map[Any, Any]](key)), b) }
    case _ => got == want
  }

  test("LATEST, UNION, ELEMENTWISE_* match the reference fold (group_by or not)") {
    val rnd = new scala.util.Random(23)
    val base = 1700000000000000L
    for (round <- 1 to 3) {
      val windowMs = 200 + rnd.nextInt(3000)
      val wUs = windowMs * 1000L
      // keys 0-2 carry about a quarter null measures; every measure of
      // key 3 is null, so its windows hold rows but no value
      val events = for (k <- 0 until 4; i <- 0 until 20) yield {
        def maybe[A](a: => A): Option[A] =
          if (k == 3 || rnd.nextInt(4) == 0) None else Some(a)
        SwaKindEvent(k.toLong, base + (rnd.nextLong().abs % 8000000L),
          maybe(rnd.nextInt(100).toDouble), maybe(rnd.nextInt(5)),
          maybe(Seq.fill(3)(rnd.nextInt(20).toDouble)), s"g${i % 3}")
      }
      val df = events.toDF().withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"swa_prop_kind_$round"
      df.createOrReplaceTempView(view)

      val p = FeatureProject(s"propkind$round")
      val key = TypedKey("k", ValueType.INT64)
      val window = Durations.parse(s"${windowMs}ms")
      val kinds = Seq("last" -> ("v", Aggregation.LATEST), "set" -> ("u", Aggregation.UNION),
        "esum" -> ("vec", Aggregation.ELEMENTWISE_SUM), "eavg" -> ("vec", Aggregation.ELEMENTWISE_AVG),
        "emin" -> ("vec", Aggregation.ELEMENTWISE_MIN), "emax" -> ("vec", Aggregation.ELEMENTWISE_MAX))
      val feats = kinds.flatMap { case (name, (m, agg)) => Seq(
        AnchorFeature(s"f_$name", FeatureType.UNSPECIFIED,
          Transformation.WindowAgg(m, agg, window), Seq(key)),
        AnchorFeature(s"g_$name", FeatureType.UNSPECIFIED,
          Transformation.WindowAgg(m, agg, window, groupBy = Some("g")), Seq(key))) }
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), feats)
      // every event's own (key, ts), plus one spine row per key an hour
      // before any event: its window is empty and every feature null
      val obsRows = events.map(e => (e.k, e.ts_us)) ++
        (0 until 4).map(k => (k.toLong, base - 3600000000L))
      val obs = obsRows.toDF("k", "ts_us").withColumn("ts", timestamp_micros($"ts_us"))

      def fold(in: Seq[SwaKindEvent]): Map[String, Any] = {
        val vecs = in.flatMap(_.vec)
        val esum = if (vecs.isEmpty) None else Some(vecs.transpose.map(_.sum))
        Map(
          "last" -> in.maxBy(e => (e.ts_us, e.v)).v,
          "set" -> Some(in.flatMap(_.u).distinct.sorted),
          "esum" -> esum,
          "eavg" -> esum.map(_.map(_ / vecs.size)),
          "emin" -> (if (vecs.isEmpty) None else Some(vecs.transpose.map(_.min))),
          "emax" -> (if (vecs.isEmpty) None else Some(vecs.transpose.map(_.max))))
      }

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(feats.map(_.name), Seq("k")))).collect()
      assert(out.length == obsRows.length)
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        val in = events.filter(e => e.k == k && e.ts_us > t - wUs && e.ts_us <= t)
        val flat = if (in.isEmpty) None else Some(fold(in))
        val grouped = if (in.isEmpty) None
          else Some(in.groupBy(_.g).map { case (g, rows) => g -> fold(rows) })
        for ((name, _) <- kinds) {
          val got = Option(r.getAs[Any](s"f_$name"))
          val want = flat.flatMap(_(name).asInstanceOf[Option[Any]])
          assert(same(got, want),
            s"f_$name: window=${windowMs}ms k=$k t=$t got=$got want=$want")
          val gotG = Option(r.getAs[Any](s"g_$name"))
          val wantG = grouped.map(_.map { case (g, f) => g -> f(name) })
          assert(same(gotG, wantG),
            s"g_$name: window=${windowMs}ms k=$k t=$t got=$gotG want=$wantG")
        }
      }
    }
  }

  test("1us, 63us and 127us windows match the reference fold") {
    val rnd = new scala.util.Random(5)
    // 3 keys x 40 events inside 400 us: windows this short still hold
    // several rows, and equal timestamps tie
    val events = for (k <- 0 until 3; _ <- 0 until 40) yield
      (k.toLong, 1700000000000000L + rnd.nextInt(400), rnd.nextInt(100).toDouble)
    val df = events.toDF("k", "ts_us", "v").withColumn("ts", timestamp_micros($"ts_us"))
    df.createOrReplaceTempView("swa_prop_us")
    val obs = df.select($"k", $"ts", $"ts_us")
    val key = TypedKey("k", ValueType.INT64)

    for (wUs <- Seq(1L, 63L, 127L)) {
      val window = Durations.parse(s"${wUs}us")
      val p = FeatureProject(s"propus$wUs")
      p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_us"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_sum", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.SUM, window), Seq(key)),
        AnchorFeature("f_cnt", FeatureType.INT64,
          Transformation.WindowAgg("v", Aggregation.COUNT, window), Seq(key)),
        AnchorFeature("f_max", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.MAX, window), Seq(key)),
        AnchorFeature("f_last", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.LATEST, window), Seq(key)),
        AnchorFeature("f_top2", FeatureType.DOUBLE,
          Transformation.WindowAgg("v", Aggregation.SUM, window, limit = Some(2)),
          Seq(key))))
      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(Seq("f_sum", "f_cnt", "f_max", "f_last", "f_top2"), Seq("k"))))
        .collect()
      assert(out.length == events.length)
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        val in = events.filter { case (k2, t2, _) => k2 == k && t2 > t - wUs && t2 <= t }
        val ctx = s"window=${wUs}us k=$k t=$t"
        assert(r.getAs[Long]("f_cnt") == in.size, ctx)
        assert(math.abs(r.getAs[Double]("f_sum") - in.map(_._3).sum) < 1e-9, ctx)
        assert(r.getAs[Double]("f_max") == in.map(_._3).max, ctx)
        assert(r.getAs[Double]("f_last") == in.maxBy(e => (e._2, e._3))._3, ctx)
        val top2 = in.sortBy { case (_, t2, v2) => (-t2, -v2) }.take(2).map(_._3).sum
        assert(math.abs(r.getAs[Double]("f_top2") - top2) < 1e-9, ctx)
      }
    }
  }

  test("non-positive windows are refused by anchor group and feature") {
    Seq((1L, 1700000000000000L, 1.0)).toDF("k", "ts_us", "v")
      .withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_bad")
    val obs = Seq((1L, 1700000000000000L)).toDF("k", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
    for (w <- Seq("0ms", "-5d")) {
      val p = FeatureProject("propbad")
      p.addAnchorGroup("bad_window_anchor", Source("src", DataLocation.Table("swa_prop_bad"),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
        AnchorFeature("f_bad_window", FeatureType.DOUBLE,
          Transformation.windowAgg("v", "SUM", w), Seq(TypedKey("k", ValueType.INT64)))))
      val e = intercept[IllegalArgumentException] {
        FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
          Seq(FeatureQuery(Seq("f_bad_window"), Seq("k"))))
      }
      assert(e.getMessage.contains("bad_window_anchor") &&
        e.getMessage.contains("f_bad_window"), s"window $w: ${e.getMessage}")
    }
  }

  /** The reference fold of one exact feature over the rows of a window:
    * COUNT of non-null measures (null when no row is kept), SUM (null
    * when no measure is non-null) and AVG as Spark divides a long sum
    * by a long count.
    */
  private def exactFold(agg: String, kept: Seq[Option[Long]]): Option[Any] = {
    val vs = kept.flatten
    agg match {
      case "COUNT" => if (kept.isEmpty) None else Some(vs.size.toLong)
      case "SUM" => if (vs.isEmpty) None else Some(vs.map(BigInt(_)).sum.toLong)
      case "AVG" => if (vs.isEmpty) None
        else Some(vs.map(BigInt(_)).sum.toLong.toDouble / vs.size.toLong.toDouble)
    }
  }

  test("exact COUNT/SUM/AVG over int and long measures match the reference fold (group_by or not)") {
    val rnd = new scala.util.Random(61)
    // a post-epoch and a pre-epoch timeline; 400 µs spans for the 1 µs
    // window (ties and neighbours), 6 s spans for the 750 ms one
    for (((base, wUs, span), round) <- Seq((1700000000000000L, 1L, 400L),
        (-631152000000000L, 1L, 400L), (1700000000000000L, 750000L, 6000000L),
        (-631152000000000L, 750000L, 6000000L)).zipWithIndex) {
      // keys 0-2 carry negative and null measures and a filter flag that
      // is sometimes null; every row of key 3, and of sub-key "gx", fails
      // the filter
      val events = for (k <- 0 until 4; i <- 0 until 30) yield {
        val g = if (i % 7 == 0) "gx" else s"g${i % 3}"
        def maybe[A](a: => A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(a)
        val flag = if (k == 3 || g == "gx") maybe(-rnd.nextInt(3)) else maybe(rnd.nextInt(3) - 1)
        SwaExactEvent(k.toLong, base + (rnd.nextLong().abs % span),
          maybe(rnd.nextInt(201) - 100), maybe(rnd.nextLong() % 1000000000000L), flag, g)
      }
      val df = events.toDF().withColumn("ts", timestamp_micros($"ts_us"))
      val view = s"swa_prop_exact_$round"
      df.createOrReplaceTempView(view)

      val window = Durations.parse(s"${wUs}us")
      val key = TypedKey("k", ValueType.INT64)
      val specs = for (agg <- Seq("COUNT", "SUM", "AVG"); m <- Seq("iv", "lv");
          filter <- Seq(None, Some("f > 0")); gb <- Seq(None, Some("g"))) yield {
        val name = Seq(Some(agg.toLowerCase), Some(m), filter.map(_ => "f"), gb)
          .flatten.mkString("e_", "_", "")
        (name, agg, m, filter, gb)
      }
      val p = FeatureProject(s"propexact$view")
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), specs.map {
        case (name, agg, m, filter, gb) => AnchorFeature(name, FeatureType.UNSPECIFIED,
          Transformation.WindowAgg(m, Aggregation.parse(agg), window, groupBy = gb,
            filter = filter), Seq(key)) })
      // every event's own time (a row at T) and the time one window
      // later (a row at exactly T − W, outside), plus an empty window
      val obsRows = (events.flatMap(e => Seq((e.k, e.ts_us), (e.k, e.ts_us + wUs))) ++
        (0 until 4).map(k => (k.toLong, base - 3600000000L))).distinct
      val obs = obsRows.toDF("k", "ts_us").withColumn("ts", timestamp_micros($"ts_us"))

      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(specs.map(_._1), Seq("k")))).collect()
      assert(out.length == obsRows.length)
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        val in = events.filter(e => e.k == k && e.ts_us > t - wUs && e.ts_us <= t)
        for ((name, agg, m, filter, gb) <- specs) {
          val kept = if (filter.isEmpty) in else in.filter(_.f.exists(_ > 0))
          def measure(e: SwaExactEvent): Option[Long] =
            if (m == "iv") e.iv.map(_.toLong) else e.lv
          val want: Option[Any] = gb match {
            case None => exactFold(agg, kept.map(measure))
            case Some(_) => if (kept.isEmpty) None else Some(kept.groupBy(_.g)
              .map { case (g, rows) => g -> exactFold(agg, rows.map(measure)) })
          }
          val got = Option(r.getAs[Any](name))
          assert(same(got, want), s"$name: window=${wUs}us k=$k t=$t got=$got want=$want")
        }
      }
    }
  }

  test("exact group_by windows over a long, high-cardinality history match the reference fold") {
    // 60 sub-keys over 40 widest windows, so most of a key's sub-keys lie
    // outside any one pair's window; two windows share one union-sort,
    // and rows and pairs sit on and beside the edges of the widest
    // window's grid cells, post- and pre-epoch
    val rnd = new scala.util.Random(67)
    val wide = 700000L
    val narrow = 250000L
    for ((base, round) <- Seq(1700000000000000L, -631152000000000L).zipWithIndex) {
      val cell0 = base - Math.floorMod(base, wide)
      val times = (0 until 120).map(_ => base + (rnd.nextLong().abs % (40 * wide))) ++
        (1 to 20).flatMap(c => Seq(cell0 + c * wide, cell0 + c * wide - 1))
      val events = for (t <- times; k <- 0 until 2 if rnd.nextInt(3) > 0) yield
        SwaExactEvent(k.toLong, t, Some(rnd.nextInt(21) - 10), None,
          Some(rnd.nextInt(2)), s"g${rnd.nextInt(60)}")
      val view = s"swa_prop_sparse_$round"
      events.toDF().withColumn("ts", timestamp_micros($"ts_us")).createOrReplaceTempView(view)
      val key = TypedKey("k", ValueType.INT64)
      val specs = for (agg <- Seq("COUNT", "SUM"); w <- Seq(wide, narrow);
          filter <- Seq(None, Some("f > 0"))) yield
        ((Seq(agg.toLowerCase, w.toString) ++ filter.map(_ => "f")).mkString("s_", "_", ""),
          agg, w, filter)
      val p = FeatureProject(s"propsparse$round")
      p.addAnchorGroup("g", Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native"))), specs.map {
        case (name, agg, w, filter) => AnchorFeature(name, FeatureType.UNSPECIFIED,
          Transformation.WindowAgg("iv", Aggregation.parse(agg), Durations.parse(s"${w}us"),
            groupBy = Some("g"), filter = filter), Seq(key)) })
      val obsRows = (events.flatMap(e => Seq((e.k, e.ts_us), (e.k, e.ts_us + narrow),
          (e.k, e.ts_us + wide - 1), (e.k, e.ts_us + wide))) ++
        (1 to 20).flatMap(c => Seq((0L, cell0 + c * wide), (1L, cell0 + c * wide - 1)))).distinct
      val obs = obsRows.toDF("k", "ts_us").withColumn("ts", timestamp_micros($"ts_us"))
      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(specs.map(_._1), Seq("k")))).collect()
      assert(out.length == obsRows.length)
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        for ((name, agg, w, filter) <- specs) {
          val in = events.filter(e => e.k == k && e.ts_us > t - w && e.ts_us <= t)
          val kept = if (filter.isEmpty) in else in.filter(_.f.exists(_ > 0))
          val want = if (kept.isEmpty) None else Some(kept.groupBy(_.g)
            .map { case (g, rows) => g -> exactFold(agg, rows.map(_.iv.map(_.toLong))) })
          val got = Option(r.getAs[Any](name))
          assert(same(got, want), s"$name: k=$k t=$t got=$got want=$want")
        }
      }
    }
  }

  test("exact SUM/AVG of a long measure whose running total passes Long.MaxValue") {
    // one row a second, each Long.MaxValue / 2: a 1.5 s window holds at
    // most two (their sum fits), while the key's running total passes
    // Long.MaxValue from the third row on
    val t0 = 1700000000000000L
    val big = Long.MaxValue / 2
    val events = (0 until 6).map(i => (1L, t0 + i * 1000000L, big))
    events.toDF("k", "ts_us", "lv").withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_overflow")
    val key = TypedKey("k", ValueType.INT64)
    val p = FeatureProject("propoverflow")
    p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_overflow"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_sum", FeatureType.INT64,
        Transformation.windowAgg("lv", "SUM", "1500ms"), Seq(key)),
      AnchorFeature("f_avg", FeatureType.DOUBLE,
        Transformation.windowAgg("lv", "AVG", "1500ms"), Seq(key)),
      AnchorFeature("f_by_k", FeatureType.INT64,
        Transformation.WindowAgg("lv", Aggregation.SUM, Durations.parse("1500ms"),
          groupBy = Some("cast(k AS string)")), Seq(key))))
    val obs = events.map(e => (e._1, e._2)).toDF("k", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_sum", "f_avg", "f_by_k"), Seq("k")))).collect()
    assert(out.length == events.length)
    out.foreach { r =>
      val t = r.getAs[Long]("ts_us")
      val n = events.count(e => e._2 > t - 1500000L && e._2 <= t)
      assert(r.getAs[Long]("f_sum") == big * n, s"t=$t")
      assert(r.getAs[Double]("f_avg") == (big * n).toDouble / n, s"t=$t")
      assert(r.getAs[Map[String, Long]]("f_by_k") == Map("1" -> big * n), s"t=$t")
    }
  }

  test("exact COUNT of a long measure whose in-window sum passes the long range") {
    // one Long.MaxValue row a second: a 2.5 s window holds up to three,
    // whose sum no long holds; a count never sums them
    val t0 = 1700000000000000L
    val events = (0 until 5).map(i => (1L, t0 + i * 1000000L, Long.MaxValue, s"g${i % 2}"))
    events.toDF("k", "ts_us", "lv", "g").withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_count_big")
    val key = TypedKey("k", ValueType.INT64)
    val p = FeatureProject("propcountbig")
    p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_count_big"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_cnt", FeatureType.INT64,
        Transformation.windowAgg("lv", "COUNT", "2500ms"), Seq(key)),
      AnchorFeature("f_cnt_by_g", FeatureType.INT64,
        Transformation.WindowAgg("lv", Aggregation.COUNT, Durations.parse("2500ms"),
          groupBy = Some("g")), Seq(key))))
    val obs = events.map(e => (e._1, e._2)).toDF("k", "ts_us")
      .withColumn("ts", timestamp_micros($"ts_us"))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_cnt", "f_cnt_by_g"), Seq("k")))).collect()
    assert(out.length == events.length)
    out.foreach { r =>
      val t = r.getAs[Long]("ts_us")
      val in = events.filter(e => e._2 > t - 2500000L && e._2 <= t)
      assert(r.getAs[Long]("f_cnt") == in.size, s"t=$t")
      assert(r.getAs[Map[String, Long]]("f_cnt_by_g") ==
        in.groupBy(_._4).map { case (g, rows) => g -> rows.size.toLong }, s"t=$t")
    }
  }

  test("exact SUM/AVG over rows that tie on ts near the long bounds match the reference fold") {
    // per key, one order of rows tied at t0 whose sum fits though a
    // partial sum may not, then a row at t0 + 1 s; pairs at t0, at
    // t0 + 1 s, and at t0 + 2 s, where the tied rows are evicted
    val t0 = 1700000000000000L
    val w = 2000000L
    val M = Long.MaxValue
    val orders = Seq(Seq(M, 1L, -2L), Seq(Long.MinValue, -1L, 2L), Seq(-10L, M, M, -M))
      .flatMap(_.permutations)
    val events = orders.zipWithIndex.flatMap { case (tied, k) =>
      tied.map(v => (k.toLong, t0, v)) :+ (k.toLong, t0 + w / 2, if (tied.sum > 0) -5L else 5L)
    }
    events.toDF("k", "ts_us", "lv").withColumn("ts", timestamp_micros($"ts_us"))
      .createOrReplaceTempView("swa_prop_tied_bounds")
    val key = TypedKey("k", ValueType.INT64)
    val p = FeatureProject("proptiedbounds")
    p.addAnchorGroup("g", Source("src", DataLocation.Table("swa_prop_tied_bounds"),
      timeWindow = Some(TimeWindowParameters("ts", "native"))), Seq(
      AnchorFeature("f_sum", FeatureType.INT64,
        Transformation.windowAgg("lv", "SUM", "2s"), Seq(key)),
      AnchorFeature("f_avg", FeatureType.DOUBLE,
        Transformation.windowAgg("lv", "AVG", "2s"), Seq(key)),
      AnchorFeature("f_by_k", FeatureType.INT64,
        Transformation.WindowAgg("lv", Aggregation.SUM, Durations.parse("2s"),
          groupBy = Some("cast(k AS string)")), Seq(key))))
    val obsRows = orders.indices.flatMap(k => Seq(0L, w / 2, w).map(d => (k.toLong, t0 + d)))
    val obs = obsRows.toDF("k", "ts_us").withColumn("ts", timestamp_micros($"ts_us"))
    val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
      Seq(FeatureQuery(Seq("f_sum", "f_avg", "f_by_k"), Seq("k")))).collect()
    assert(out.length == obsRows.length)
    out.foreach { r =>
      val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
      val in = events.filter(e => e._1 == k && e._2 > t - w && e._2 <= t).map(e => Some(e._3))
      for ((name, want) <- Seq("f_sum" -> exactFold("SUM", in), "f_avg" -> exactFold("AVG", in),
          "f_by_k" -> Some(Map(k.toString -> exactFold("SUM", in))))) {
        val got = Option(r.getAs[Any](name))
        assert(same(got, want), s"$name: k=$k t=$t got=$got want=$want")
      }
    }
  }

  test("sliding MIN/MAX/LATEST on the union-sort match the reference fold") {
    val rnd = new scala.util.Random(71)
    val big = 1L << 60 // neighbouring longs a double cannot tell apart
    def maybe[A](a: => A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(a)
    def event(k: Long, t: Long, x: Int) = SwaExtremeEvent(k, t, maybe(x), maybe(big + x),
      maybe(if (rnd.nextInt(6) == 0) Double.NaN else x.toDouble), maybe(BigDecimal(x) / 8),
      maybe("abcde".take(rnd.nextInt(6)) + x), maybe(t + x), maybe(rnd.nextInt(3) - 1))
    // each measure with its getter and the ordering Spark's max uses
    def measure[A](m: String, get: SwaExtremeEvent => Option[A], ord: Ordering[A]) =
      (m, get, ord.asInstanceOf[Ordering[Any]])
    val measures = Seq(measure("iv", _.iv, Ordering.Int), measure("lv", _.lv, Ordering.Long),
      measure("dv", _.dv, Ordering.Double.TotalOrdering),
      measure("cv", _.cv, Ordering.BigDecimal), measure("sv", _.sv, Ordering.String),
      measure("tv", _.tv_us, Ordering.Long))
    // a post-epoch and a pre-epoch timeline; two 1 µs-scale windows over
    // 400 µs spans (ties and neighbours), two ms windows over 6 s spans
    for (((base, windows, span), round) <- Seq(
        (1700000000000000L, Seq(1L, 3L), 400L), (-631152000000000L, Seq(1L, 3L), 400L),
        (1700000000000000L, Seq(750000L, 2000000L), 6000000L),
        (-631152000000000L, Seq(750000L, 2000000L), 6000000L)).zipWithIndex) {
      val random = for (k <- 0 until 4; _ <- 0 until 30) yield
        event(k.toLong, base + (rnd.nextLong().abs % span), rnd.nextInt(201) - 100)
      // the newest instant ties: key 1 has a row whose every measure is
      // null beside one with values, key 2 only the null row
      val newest = base + span + 10
      val ties = Seq(
        SwaExtremeEvent(1L, newest, None, None, None, None, None, None, Some(1)),
        event(1L, newest, 7), event(1L, newest, -7),
        SwaExtremeEvent(2L, newest, None, None, None, None, None, None, Some(1)))
      // the ms rounds add a hot key whose 3000 rows, 100 µs apart, all
      // fit one window; falling values grow MAX's deque, rising
      // timestamp measures MIN's
      val hot = if (windows.head > 1000L) (0 until 3000).map(i => event(9L, base + i * 100L, -i))
        else Nil
      val events = random ++ ties ++ hot
      val view = s"swa_prop_extreme_$round"
      events.toDF().withColumn("ts", timestamp_micros($"ts_us"))
        .withColumn("tv", timestamp_micros($"tv_us")).createOrReplaceTempView(view)

      val key = TypedKey("k", ValueType.INT64)
      // (aggregation, measure, getter, ordering, window, filtered)
      val specs = for (agg <- Seq("MIN", "MAX", "LATEST"); (m, get, ord) <- measures;
          w <- windows; filter <- Seq(false, true)) yield (agg, m, get, ord, w, filter)
      def name(group: String, agg: String, m: String, w: Long, filter: Boolean) =
        (Seq(group, agg.toLowerCase, m, w.toString) ++ (if (filter) Seq("f") else Nil))
          .mkString("_")
      def feats(group: String) = specs.map { case (agg, m, _, _, w, filter) =>
        AnchorFeature(name(group, agg, m, w, filter), FeatureType.UNSPECIFIED,
          Transformation.WindowAgg(m, Aggregation.parse(agg), Durations.parse(s"${w}us"),
            filter = if (filter) Some("f > 0") else None), Seq(key)) }
      // one group beside an as-of feature, one of windows only
      val p = FeatureProject(s"propextreme$round")
      val src = Source("src", DataLocation.Table(view),
        timeWindow = Some(TimeWindowParameters("ts", "native")))
      p.addAnchorGroup("with_asof", src,
        AnchorFeature("a_last", FeatureType.UNSPECIFIED, Transformation.Expr("iv"), Seq(key)) +:
          feats("a"))
      p.addAnchorGroup("windows_only", src, feats("w"))
      // every event's own time (a row at T) and each window later (a row
      // at exactly T − W, outside); the hot key at every 100th row; and
      // an empty window per key
      val obsRows = ((random ++ ties ++ hot.grouped(100).map(_.head))
        .flatMap(e => (0L +: windows).map(w => (e.k, e.ts_us + w))) ++
        Seq(0L, 1L, 2L, 3L, 9L).map(k => (k, base - 3600000000L))).distinct
      val obs = obsRows.toDF("k", "ts_us").withColumn("ts", timestamp_micros($"ts_us"))
      val requested = "a_last" +: Seq("a", "w").flatMap(g => feats(g).map(_.name))
      val out = FeathrClient.joinFeatures(spark, p, obs, Some(("ts", "native")),
        Seq(FeatureQuery(requested, Seq("k")))).collect()
      assert(out.length == obsRows.length)

      def norm(v: Any): Any = v match {
        case d: java.math.BigDecimal => BigDecimal(d)
        case t: java.sql.Timestamp =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
        case other => other
      }
      def eq(got: Option[Any], want: Option[Any]) = (got.map(norm), want) match {
        case (Some(g: Double), Some(w: Double)) => g.isNaN && w.isNaN || g == w
        case (g, w) => g == w
      }
      out.foreach { r =>
        val k = r.getAs[Long]("k"); val t = r.getAs[Long]("ts_us")
        val near = events.filter(e => e.k == k && e.ts_us <= t && e.ts_us > t - windows.max)
        for ((agg, m, get, ord, w, filter) <- specs) {
          val in = near.filter(e => e.ts_us > t - w && (!filter || e.f.exists(_ > 0)))
          val want = agg match {
            case "MIN" => in.flatMap(get).minOption(ord)
            case "MAX" => in.flatMap(get).maxOption(ord)
            case "LATEST" => in.maxByOption(e => (e.ts_us, get(e)))(
              Ordering.Tuple2(Ordering.Long, Ordering.Option(ord))).flatMap(get)
          }
          for (g <- Seq("a", "w")) {
            val n = name(g, agg, m, w, filter)
            val got = Option(r.getAs[Any](n))
            assert(eq(got, want), s"$n: k=$k t=$t got=$got want=$want")
          }
        }
      }
    }
  }
}
