package graft.operators

import graft.model._
import graft.project._
import graft.sources._
import graft.functions.{FeathrExpr, UdfRegistry}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The engine's core relational operator: LEFT OUTER join of an
  * observation ("spine") to each requested feature on its key columns,
  * **as of** the observation row's timestamp — a feature value may only
  * see source rows with `src_ts <= obs_ts`; window aggregations see
  * `(obs_ts - window, obs_ts]` (SURVEY.md §2.4-2.5; reference semantics
  * from feathr-rs/src/project.rs:248-278 + the public Feathr offline
  * engine contract).
  *
  * Physical strategy (designed for 100 TB — SURVEY.md §4):
  *  - anchor groups are evaluated off the DISTINCT (key, obs_ts) pairs,
  *    never the raw observation, so a spine with many rows per key pays
  *    one feature computation per key/ts, then an equi join back;
  *  - those pairs come from the observation as given (plus `ObsTs`),
  *    not from the frame that already holds earlier groups' joins: every
  *    anchor join is a left outer join on (key, obs_ts) that only adds
  *    columns (a duplicate-keyed snapshot source repeats rows but adds
  *    no pair), so both frames carry the same distinct pairs — and the
  *    plan grows by one join per window cluster instead of embedding the
  *    whole earlier plan twice, i.e. linearly, not 2^clusters;
  *  - the as-of join (J2) is a union-sort ("last value wins") plan: one
  *    shuffle of source ∪ spine-pairs by key, one sort by (ts, tag) —
  *    no range-join row explosion, no per-row subqueries;
  *  - sliding-window aggs (J3) range-join source rows to spine pairs
  *    with the window predicate applied during the join, then partial
  *    (map-side) + final aggregation — Spark's two-phase agg keeps the
  *    shuffle to pre-aggregated state;
  *  - joins back to the spine are plain equi joins that AQE can
  *    broadcast when the feature side is small.
  */
object PointInTimeJoin {
  import Internal._

  /** @param obsTime (timestampColumn, format) of the observation,
    *                if the join is time-aware
    */
  def run(
      spark: SparkSession,
      project: FeatureProject,
      observation: DataFrame,
      obsTime: Option[(String, String)],
      queries: Seq[FeatureQuery]): DataFrame = {

    val base = obsTime match {
      case Some((c, fmt)) =>
        observation.withColumn(ObsTs,
          TimestampParser.toTimestampColOf(observation, c, fmt))
      case None => observation
    }
    var obs = base

    for (q <- queries) {
      // features another query will join (cross-key aliasing): skip
      // their anchors here, their own query binds the keys
      val others = queries.filterNot(_ eq q).flatMap(_.featureList).toSet
      val anchored = project.requiredAnchorFeatures(q.featureList, others)
      // group features by anchor group so each source is resolved once
      // (mirrors reference project.rs:392-423)
      val grouped = anchored
        .flatMap { case (out, anchorName) =>
          project.anchorFeature(anchorName).map { case (g, f) => (g, f, out) }
        }
        .groupBy(_._1.name).values
        .map(triples => (triples.head._1, triples.map(t => (t._2, t._3))))
        .toSeq.sortBy(_._1.name)
      for ((g, feats) <- grouped) {
        obs =
          if (g.source.isInputContext) applyPassthrough(obs, feats)
          else joinAnchorGroup(spark, base, obs, g, feats, q.keyColumns)
      }
    }

    val requested = queries.flatMap(_.featureList).distinct
    for (d <- project.topoSortDerived(requested))
      obs = obs.withColumn(d.name, FeathrExpr.column(d.transformExpr))

    obs = applyDeclaredTypes(project, obs, requested)
    obs.drop(ObsTs)
  }

  /** The anchor (group, feature) a requested output name resolves to,
    * following cross-key aliases — Nil for derived/unknown names.
    */
  def anchorOf(project: FeatureProject, name: String): Option[(AnchorGroup, AnchorFeature)] =
    project.anchorFeature(project.aliasBase(name).getOrElse(name))

  /** Schema is declared, not inferred (SURVEY.md §1.2): coerce each
    * requested feature column to its declared `FeatureType`. UNION
    * features collect a set, so the declaration must be a 1-d tensor
    * (its element type is coerced); group_by features produce a
    * map<group, value>, so the declaration must be the scalar value
    * type (the map's value side is coerced). A declaration the runtime
    * shape cannot carry is an error, not a silent skip.
    */
  private def applyDeclaredTypes(
      project: FeatureProject, obs: DataFrame, requested: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    // one schema read and one projection for every cast: a per-feature
    // lookup + withColumn re-analyses the whole plan once per feature
    val schema = obs.schema
    val present = schema.fieldNames.toSet
    val casts = requested.filter(present).flatMap { name =>
      val anchor = project.anchorFeature(project.aliasBase(name).getOrElse(name))
      val declared = anchor.map(_._2.featureType)
        .orElse(project.derivedFeature(name).map(_.featureType))
      declared match {
        case Some(t) if t.valType != ValueType.UNSPECIFIED =>
          val (isUnion, hasGroup) = anchor.map(_._2.transform) match {
            case Some(Transformation.WindowAgg(_, agg, _, gb, _, _)) =>
              (agg == Aggregation.UNION, gb.isDefined)
            case _ => (false, false)
          }
          val valueType: DataType =
            if (isUnion) {
              require(t.tensorCategory == TensorCategory.DENSE &&
                  t.dimensionType.size == 1,
                s"feature $name: UNION collects a set — declare a 1-d DENSE tensor, not $t")
              ArrayType(t.valType.sparkType)
            } else if (hasGroup) {
              require(t.dimensionType.isEmpty,
                s"feature $name: group_by produces a map of scalars — declare the scalar value type, not $t")
              t.valType.sparkType
            } else t.sparkType
          val target: DataType =
            if (hasGroup) schema(name).dataType match {
              case MapType(kt, _, n) => MapType(kt, valueType, n)
              case other => throw new IllegalStateException(
                s"feature $name: group_by runtime shape should be a map, got $other")
            } else valueType
          Some(name -> col(name).cast(target))
        case _ => None
      }
    }
    if (casts.isEmpty) obs else obs.withColumns(casts.toMap)
  }

  /** Passthrough (INPUT_CONTEXT / DUMMY_KEY) features: no join, computed
    * directly on observation rows (feature_builder.rs:75-79).
    */
  private def applyPassthrough(obs: DataFrame, feats: Seq[(AnchorFeature, String)]): DataFrame =
    feats.foldLeft(obs) { case (df, (f, out)) =>
      df.withColumn(out, rowCol(f.transform, df)) }

  private def rowCol(t: Transformation, src: DataFrame): Column = t match {
    case Transformation.Expr(e) => FeathrExpr.column(e)
    case Transformation.Udf(n)  => UdfRegistry.resolve(n)(src)
    case Transformation.WindowAgg(defExpr, Aggregation.NOP, _, _, _, _) =>
      FeathrExpr.column(defExpr)
    case other => throw new IllegalArgumentException(s"not a row transform: $other")
  }

  private def isWindowAgg(f: AnchorFeature): Boolean = f.transform match {
    case Transformation.WindowAgg(_, Aggregation.NOP, _, _, _, _) => false
    case _: Transformation.WindowAgg => true
    case _ => false
  }

  /** Joins one anchor group onto `obs`, the frame so far. Each feature
    * frame is built from the distinct (key, obs_ts) pairs of `base`, the
    * observation as given; a key column only an earlier passthrough
    * feature produced falls back to `obs`, which carries the same pairs.
    */
  private def joinAnchorGroup(
      spark: SparkSession,
      base: DataFrame,
      obs: DataFrame,
      g: AnchorGroup,
      feats: Seq[(AnchorFeature, String)],
      obsKeyCols: Seq[String]): DataFrame = {

    val keys = feats.head._1.keys
    require(keys.size == obsKeyCols.size,
      s"anchor ${g.name}: key arity ${keys.size} != query key arity ${obsKeyCols.size} (feature.rs:224-241)")

    val src0 = SourceResolver.resolve(spark, g.source)
    val timeAware = g.source.timeWindow.isDefined && obs.columns.contains(ObsTs)

    val (windowFeats, rowFeats) = feats.partition(p => isWindowAgg(p._1))
    require(windowFeats.isEmpty || timeAware,
      s"anchor ${g.name}: window aggregations need a time-aware source AND an observation timestamp")

    val pairSrc = if (obsKeyCols.forall(base.columns.contains)) base else obs
    lazy val pairs = pairSrc
      .select(obsKeyCols.map(col) :+ col(ObsTs): _*)
      .na.drop("any").distinct()

    var joined = obs
    if (rowFeats.nonEmpty) {
      joined =
        if (timeAware) asOfJoin(joined, pairs, obsKeyCols, keys, src0, rowFeats)
        else snapshotJoin(joined, obsKeyCols, keys, src0, rowFeats, g.name)
    }
    if (windowFeats.nonEmpty) {
      // share one range join per identical window spec
      val clusters = windowFeats.groupBy { case (f, _) =>
        val wa = f.transform.asInstanceOf[Transformation.WindowAgg]
        (wa.window, wa.filter, wa.groupBy, wa.limit)
      }.toSeq.sortBy(_._2.head._2)
      for ((_, cluster) <- clusters)
        joined = windowAggJoin(joined, pairs, obsKeyCols, keys, src0, cluster)
    }
    joined
  }

  /** J1: snapshot equi join — source without time semantics; assumes the
    * source is key-unique (reference contract). AQE broadcasts the
    * feature side when small.
    *
    * A duplicate-keyed feature source silently multiplies observation
    * rows — the likeliest real-user data bug on this path. The opt-in
    * debug guard `spark.graft.join.checkUnique=true` spends one extra
    * aggregation job counting duplicate keys and fails with the anchor
    * name (and an example key count) instead of fanning out.
    */
  private def snapshotJoin(
      obs: DataFrame, obsKeyCols: Seq[String], keys: Seq[TypedKey],
      src: DataFrame, feats: Seq[(AnchorFeature, String)],
      anchorName: String): DataFrame = {
    val keyCols = keys.zipWithIndex.map { case (k, i) => col(k.keyColumn).as(obsKeyCols(i)) }
    val featDf = src.select(keyCols ++ feats.map { case (f, out) =>
      rowCol(f.transform, src).as(out) }: _*)
    if (obs.sparkSession.conf.get("spark.graft.join.checkUnique", "false").toBoolean) {
      val dup = featDf.groupBy(obsKeyCols.map(col): _*)
        .agg(count(lit(1)).as("__graft_n"))
        .where(col("__graft_n") > 1)
      val sample = dup.limit(1).collect()
      if (sample.nonEmpty) {
        val r = sample.head
        val keyRepr = obsKeyCols.map(c => s"$c=${r.getAs[Any](c)}").mkString(", ")
        throw new IllegalStateException(
          s"anchor $anchorName: snapshot-join source is not key-unique " +
            s"(e.g. key [$keyRepr] has ${r.getAs[Long]("__graft_n")} rows) — " +
            "a duplicate-keyed feature source multiplies observation rows; " +
            "dedupe the source or disable spark.graft.join.checkUnique")
      }
    }
    obs.join(featDf, obsKeyCols, "left_outer")
  }

  /** J2: as-of join — latest source row per key with src_ts <= obs_ts.
    *
    * Union-sort formulation: tag source rows 0 and distinct spine
    * (key, ts) pairs 1, sort within each key by (ts, tag, value), and
    * take `last(value, ignoreNulls)` over the preceding frame. Source
    * rows at exactly obs_ts are included (tag orders them first). Among
    * source ties at one timestamp the greatest value-struct wins
    * (deterministic). One shuffle + sort; no row explosion — this is
    * the 100 TB-safe shape (vs. an unbounded range join).
    */
  private def asOfJoin(
      obs: DataFrame, obsPairs: DataFrame, obsKeyCols: Seq[String], keys: Seq[TypedKey],
      src: DataFrame, feats: Seq[(AnchorFeature, String)]): DataFrame = {
    val ts = "__graft_ts"
    val vals = "__graft_vals"
    val keyCols = keys.zipWithIndex.map { case (k, i) => col(k.keyColumn).as(obsKeyCols(i)) }
    val valStruct = struct(feats.map { case (f, out) =>
      rowCol(f.transform, src).as(out) }: _*)
    val srcSel = src
      .select(keyCols ++ Seq(col(Internal.SrcTs).as(ts), valStruct.as(vals)): _*)
      .withColumn(Tag, lit(0))
    val valsType = srcSel.schema(vals).dataType

    val pairs = obsPairs
      .withColumnRenamed(ObsTs, ts)
      .withColumn(vals, lit(null).cast(valsType))
      .withColumn(Tag, lit(1))

    // skew-hardened bucketed formulation (SURVEY §2.4's "bucketed
    // sort-merge-range join at scale"), opt-in via
    // spark.graft.asof.bucketSeconds — the SWA bucket-conf discipline.
    // The union-sort window above partitions by KEY alone, so one hot
    // key's entire timeline serializes into a single task; the
    // bucketed plan's expensive window partitions by (key, time
    // bucket) instead, splitting a hot key across its buckets, and
    // reduces the per-key serial pass to one row per BUCKET (the
    // bucket-close carry), not one per event. Results are identical —
    // AsofBucketParitySpec pins union-sort ≡ bucketed on the q_asof
    // query and Zipf-skewed data; axis 19 measures the straggler win.
    val bucketSeconds = obs.sparkSession.conf
      .get("spark.graft.asof.bucketSeconds", "off")
    val bucketUs = bucketSeconds match {
      case "off" | "0" => 0L
      case "auto" =>
        // parity with the SWA "auto" derivation (window/64): the as-of
        // join declares no window, so the effective window is the
        // SOURCE's observed time span — one min/max column aggregate
        // (partial-aggregated, parquet-stat prunable) buys the plan
        // parameter. A zero span (all rows one instant) has nothing to
        // split and falls back to union-sort.
        val r = srcSel
          .agg(unix_micros(min(col(ts))), unix_micros(max(col(ts))))
          .head()
        if (r.isNullAt(0)) 0L else (r.getLong(1) - r.getLong(0)) / 64L
      case s => s.toLong * 1000000L
    }
    if (bucketUs > 0)
      return asOfJoinBucketed(obs, obsKeyCols, srcSel, pairs, feats,
        ts, vals, bucketUs)

    val w = Window
      .partitionBy(obsKeyCols.map(col): _*)
      .orderBy(col(ts).asc, col(Tag).asc, col(vals).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)

    val featRows = srcSel.unionByName(pairs)
      .withColumn(vals, last(col(vals), ignoreNulls = true).over(w))
      .where(col(Tag) === 1)
      .select(obsKeyCols.map(col) ++ Seq(col(ts).as(ObsTs)) ++
        feats.map { case (_, out) => col(s"$vals.$out").as(out) }: _*)

    obs.join(featRows, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** The bucketed as-of plan. Three bounded pieces replace the one
    * per-key window:
    *
    *  1. bucket closes — per (key, bucket) the value-struct of the
    *     LATEST source row (ties: greatest struct, the union-sort
    *     rule), one map-side-combinable aggregate;
    *  2. carried values — over the per-key BUCKET GRID (distinct
    *     buckets present on either side: rows = buckets, not events),
    *     the latest close strictly before each bucket via one
    *     `last(ignoreNulls)` window — the only per-key serial pass,
    *     shrunk from the key's event count to its bucket count;
    *  3. within-bucket resolution — the union-sort window partitioned
    *     by (key, bucket): a spine row takes the latest same-bucket
    *     source row at-or-before it, else the carried value.
    *
    * Exactness: a qualifying source row is either in the spine row's
    * own bucket (piece 3 finds the latest, and same-bucket rows AFTER
    * obs_ts sort after the spine row so the frame excludes them) or in
    * an earlier bucket (every such row precedes the bucket boundary,
    * so the latest one is its bucket's close, and the latest close is
    * what piece 2 carries). Cross-bucket ties are impossible — equal
    * timestamps share a bucket.
    */
  private def asOfJoinBucketed(
      obs: DataFrame, obsKeyCols: Seq[String], srcSel: DataFrame,
      pairs: DataFrame, feats: Seq[(AnchorFeature, String)],
      ts: String, vals: String, bucketUs: Long): DataFrame = {
    val b = "__graft_b"
    val close = "__graft_close"
    val carried = "__graft_carried"
    def idiv(c: Column, d: Long): Column =
      ((c - pmod(c, lit(d))) / lit(d)).cast("long")
    def withB(df: DataFrame): DataFrame =
      df.withColumn(b, idiv(unix_micros(col(ts)), bucketUs))
    val srcB = withB(srcSel)
    val spineB = withB(pairs)

    val closes = srcB
      .groupBy((obsKeyCols :+ b).map(col): _*)
      .agg(max_by(col(vals), struct(col(ts), col(vals))).as(close))
    val grid = closes.select((obsKeyCols :+ b).map(col): _*)
      .unionByName(spineB.select((obsKeyCols :+ b).map(col): _*))
      .distinct()
    val carry = grid.join(closes, obsKeyCols :+ b, "left_outer")
      .withColumn(carried, last(col(close), ignoreNulls = true).over(
        Window.partitionBy(obsKeyCols.map(col): _*).orderBy(col(b))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select((obsKeyCols :+ b).map(col) :+ col(carried): _*)

    val wInner = Window
      .partitionBy((obsKeyCols :+ b).map(col): _*)
      .orderBy(col(ts).asc, col(Tag).asc, col(vals).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    val featRows = srcB.unionByName(spineB)
      .withColumn(vals, last(col(vals), ignoreNulls = true).over(wInner))
      .where(col(Tag) === 1)
      .join(carry, obsKeyCols :+ b) // inner: the grid contains every spine bucket
      .withColumn(vals, coalesce(col(vals), col(carried)))
      .select(obsKeyCols.map(col) ++ Seq(col(ts).as(ObsTs)) ++
        feats.map { case (_, out) => col(s"$vals.$out").as(out) }: _*)

    obs.join(featRows, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** J3: sliding-window aggregation (SWA) — aggregate source rows in
    * `(obs_ts - window, obs_ts]` per key, per distinct spine (key, ts)
    * pair. Pre-aggregation `filter` (A8) is pushed below the join;
    * `groupBy` (A7) aggregates per sub-key then collects a sorted map.
    *
    * `limit` (A9) semantics depend on `groupBy` (the reference config
    * carries both fields side by side, feathr-rs/src/model.rs:267-272;
    * the engine-side meaning is the public Feathr SWA contract):
    *  - without `groupBy`: keep the top-k NEWEST source rows per
    *    (key, obs_ts) before aggregating (record limit);
    *  - with `groupBy`: aggregate every sub-key fully, then keep the
    *    top-k GROUPS per (key, obs_ts) ranked by the first feature's
    *    aggregate descending (ties: sub-key ascending) — the feature
    *    value is a k-entry map, not an aggregate over k rows.
    */
  private def windowAggJoin(
      obs: DataFrame, pairs: DataFrame, obsKeyCols: Seq[String], keys: Seq[TypedKey],
      src: DataFrame, feats: Seq[(AnchorFeature, String)]): DataFrame = {
    val wa0 = feats.head._1.transform.asInstanceOf[Transformation.WindowAgg]
    val skCols = obsKeyCols.indices.map(i => s"__graft_sk_$i")
    val groupCol = "__graft_grp"

    // evaluate measures (and sub-key) against source columns, pre-join
    val filtered = wa0.filter.map(f => src.where(FeathrExpr.column(f))).getOrElse(src)
    val measures = feats.map { case (_, out) => s"__graft_m_$out" }
    val srcSel = filtered.select(
      keys.zipWithIndex.map { case (k, i) => col(k.keyColumn).as(skCols(i)) } ++
      Seq(col(Internal.SrcTs)) ++
      feats.zip(measures).map { case ((f, _), m) =>
        val wa = f.transform.asInstanceOf[Transformation.WindowAgg]
        FeathrExpr.column(wa.defExpr).as(m)
      } ++
      wa0.groupBy.map(gb => FeathrExpr.column(gb).as(groupCol)).toSeq: _*)

    // bucketed pre-aggregation path (exact; SURVEY.md §4): the DEFAULT
    // plan for decomposable aggs — at 100 TB a 90-day window over a
    // dense key row-explodes the raw range join, while the bucketed
    // plan is O(window/bucket) partials per spine pair.
    // spark.graft.swa.bucketSeconds: "auto" (default) derives
    // window/64; a positive number forces that bucket width; "off"/"0"
    // falls back to the raw range join. Only LATEST/UNION/elementwise
    // clusters (non-decomposable aggs) without a record-limit use the
    // raw range join; record-limits take the bucketed top-k plan below.
    // all window arithmetic is exact epoch-micros (Durations.toMicros
    // rejects sub-microsecond windows) — a `750ms` window must stay
    // 750ms, not truncate to whole seconds
    val windowUs = Durations.toMicros(wa0.window)
    val bucketUs: Long = obs.sparkSession.conf
      .get("spark.graft.swa.bucketSeconds", "auto") match {
      case "auto"       => windowUs / 64
      case "off"        => 0L
      case v            => v.toLong * 1000000L
    }
    val allBucketable = feats.forall { case (f, _) =>
      f.transform.asInstanceOf[Transformation.WindowAgg].aggFunc match {
        case Aggregation.SUM | Aggregation.COUNT | Aggregation.AVG |
             Aggregation.MIN | Aggregation.MAX => true
        case _ => false
      }
    }
    // group_by clusters bucket too (partials per (key, sub-key,
    // bucket)); only non-decomposable aggs without a record-limit
    // force the raw range join
    if (bucketUs > 0 && allBucketable &&
        (wa0.groupBy.isDefined || wa0.limit.isEmpty) &&
        windowUs >= 2 * bucketUs)
      return bucketedWindowAgg(obs, obsKeyCols, skCols, srcSel, pairs,
        feats, measures, wa0, bucketUs, wa0.groupBy.map(_ => groupCol))
    // A9 record-limit (no group_by): bucketed top-k-newest plan — the
    // per-(key, bucket) partial is the k newest ROWS, not an aggregate,
    // so every aggregation (incl. LATEST/UNION/elementwise) qualifies
    if (bucketUs > 0 && wa0.groupBy.isEmpty && wa0.limit.isDefined &&
        windowUs >= 2 * bucketUs)
      return bucketedLimitWindowAgg(obs, obsKeyCols, skCols, srcSel, pairs,
        feats, measures, wa0, bucketUs)

    val interval = expr(Durations.toSqlInterval(wa0.window))
    val cond = obsKeyCols.indices
      .map(i => col(obsKeyCols(i)) === col(skCols(i)))
      .reduce(_ && _) &&
      col(Internal.SrcTs) > col(ObsTs) - interval &&
      col(Internal.SrcTs) <= col(ObsTs)
    var joined = pairs.join(srcSel, cond, "inner")

    // A9 limit without group_by: top-k newest source rows per
    // (key, obs_ts). With group_by the limit applies to GROUPS after
    // aggregation — see below.
    if (wa0.groupBy.isEmpty) wa0.limit.foreach { k =>
      val ord = Seq(col(Internal.SrcTs).desc) ++
        Seq(struct(measures.map(col): _*).desc)
      val rw = Window.partitionBy((obsKeyCols :+ ObsTs).map(col): _*).orderBy(ord: _*)
      joined = joined
        .withColumn("__graft_rn", row_number().over(rw))
        .where(col("__graft_rn") <= k)
        .drop("__graft_rn")
    }

    val groupKeys = (obsKeyCols :+ ObsTs).map(col)
    val aggs = feats.zip(measures).map { case ((f, out), m) =>
      val wa = f.transform.asInstanceOf[Transformation.WindowAgg]
      aggColumn(wa.aggFunc, col(m)).as(out)
    }
    val aggDf = wa0.groupBy match {
      case None =>
        joined.groupBy(groupKeys: _*).agg(aggs.head, aggs.tail: _*)
      case Some(_) =>
        // A7: aggregate per (key, sub-key) then collect the groups
        val perGroup = joined.groupBy((groupKeys :+ col(groupCol)): _*)
          .agg(aggs.head, aggs.tail: _*)
        collectGroups(perGroup, groupKeys, groupCol, feats, wa0.limit)
    }
    obs.join(aggDf, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** A7 tail: optional A7×A9 top-k-groups limit, then collect
    * sub-key -> value into a deterministic (sorted) map. The input is
    * one row per (key, obs_ts, sub-key) — bounded by sub-key
    * cardinality, so the ranking window is cheap at scale.
    */
  private def collectGroups(perGroup0: DataFrame, groupKeys: Seq[Column],
      groupCol: String, feats: Seq[(AnchorFeature, String)],
      limit: Option[Int]): DataFrame = {
    var perGroup = perGroup0
    limit.foreach { k =>
      val gw = Window.partitionBy(groupKeys: _*)
        .orderBy(col(feats.head._2).desc, col(groupCol).asc)
      perGroup = perGroup
        .withColumn("__graft_grn", row_number().over(gw))
        .where(col("__graft_grn") <= k)
        .drop("__graft_grn")
    }
    val maps = feats.map { case (_, out) =>
      map_from_entries(array_sort(collect_list(
        struct(col(groupCol), col(out))))).as(out)
    }
    perGroup.groupBy(groupKeys: _*).agg(maps.head, maps.tail: _*)
  }

  /** Exact bucketed SWA (the 100 TB shape for long windows over dense
    * keys): pre-aggregate source rows per (key, time-bucket) ONCE, join
    * spine pairs to the ≤ window/bucket FULL buckets inside each
    * window, and join raw rows only for the two partial edge buckets —
    * per-pair work drops from O(rows-in-window) to
    * O(window/bucket + rows-in-2-buckets). Exact for decomposable
    * aggregations (SUM/COUNT/AVG/MIN/MAX; AVG = final sum/count).
    *
    * Bucket arithmetic is in epoch-micros, so sub-second timestamps
    * stay exact: bucket b covers [b·B, (b+1)·B); for a window
    * (T−W, T] the FULL buckets are b ∈ [⌊(T−W)/B⌋+1, ⌊T/B⌋−1], and
    * buckets ⌊(T−W)/B⌋ / ⌊T/B⌋ are re-checked row-by-row.
    */
  private def bucketedWindowAgg(
      obs: DataFrame, obsKeyCols: Seq[String], skCols: Seq[String],
      srcSel: DataFrame, pairs: DataFrame,
      feats: Seq[(AnchorFeature, String)], measures: Seq[String],
      wa0: Transformation.WindowAgg, bucketUs: Long,
      groupColOpt: Option[String]): DataFrame = {
    val bUs = bucketUs
    val wUs = Durations.toMicros(wa0.window)
    val b = "__graft_b"
    val tUs = "__graft_tus"
    // A7: the sub-key rides along every partial — partials per
    // (key, sub-key, bucket), finals per (key, obs_ts, sub-key)
    val gcols = groupColOpt.toSeq

    // exact long integer division (a / b in Column API is double division)
    def idiv(c: Column, d: Long): Column = ((c - pmod(c, lit(d))) / lit(d)).cast("long")

    val srcB = srcSel.withColumn(b, idiv(unix_micros(col(Internal.SrcTs)), bUs))
    def ps(m: String) = s"__graft_ps_$m"
    def pc(m: String) = s"__graft_pc_$m"
    def pm(m: String) = s"__graft_pm_$m"
    def px(m: String) = s"__graft_px_$m"
    val partialAggs = measures.flatMap(m => Seq(
      sum(col(m)).as(ps(m)), count(col(m)).as(pc(m)),
      min(col(m)).as(pm(m)), max(col(m)).as(px(m))))
    val bucketPartials = srcB.groupBy((skCols ++ gcols :+ b).map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)

    val p = pairs.withColumn(tUs, unix_micros(col(ObsTs)))
    val loB = idiv(col(tUs) - wUs, bUs)
    val hiB = idiv(col(tUs), bUs)
    val keyEq = obsKeyCols.indices.map(i => col(obsKeyCols(i)) === col(skCols(i)))
      .reduce(_ && _)

    // The full-bucket join is an EQUI-join on (key, COARSE bucket) —
    // never a theta-join on a bucket RANGE. A range condition leaves
    // only the key as the shuffle key, which (a) forces a sort-merge
    // join whose per-key work is pairs×partials — quadratic in key
    // hotness — and (b) serializes a hot key into one reducer that AQE
    // cannot split (the downstream aggregation reuses the join's
    // partitioning, so OptimizeSkewedJoin declines). ScaleProbe axis 6
    // measured the theta version at 74.9× max/median task time and ~4×
    // wall under a 10 %-hot Zipf key. With a time component in the
    // equi-key, a hot key's pairs spread across the TIMELINE's coarse
    // buckets and the straggler disappears. The coarse bucket is
    // `gFine` fine buckets wide (~window/4): each pair explodes to
    // only ~4–6 coarse ids (a full fine-grained explosion fixed the
    // skew identically but shuffled the spine ×window/bucket — 7× the
    // probe's total shuffle), each (pair, coarse) group carries ≤gFine
    // partials, and the exact fine-bucket range is re-applied as a
    // post-join filter.
    // wUs >= 2·bUs guarantees loB < hiB, so the ranges are well-formed;
    // a window spanning exactly 2 buckets has no full bucket and the
    // empty sequence explodes to no rows
    val gFine = math.max(1L, (wUs / bUs) / 4)
    val cb = s"${b}_c"  // partials side: coarse bucket of a partial
    val cbp = s"${b}_cp" // spine side: exploded coarse bucket ids
    val partialCols = measures.flatMap(m => Seq(ps(m), pc(m), pm(m), px(m)))
    val fullBuckets = p
      .withColumn(cbp, explode(sequence(idiv(loB + 1, gFine), idiv(hiB - 1, gFine))))
      .join(bucketPartials.withColumn(cb, idiv(col(b), gFine)),
        keyEq && col(cbp) === col(cb), "inner")
      .where(col(b) > loB && col(b) < hiB)
      .select((obsKeyCols :+ ObsTs).map(col) ++ gcols.map(col) ++
        partialCols.map(col): _*)

    val partialTypes = partialCols.map(c => c -> bucketPartials.schema(c).dataType).toMap
    // the two edge buckets equi-join on (key, FINE bucket) — two
    // exploded rows per pair; loB and hiB are distinct (wUs >= 2·bUs),
    // so no row double-joins
    val bp = s"${b}_p"
    val edgeRows = p
      .withColumn(bp, explode(array(loB, hiB)))
      .join(srcB,
        keyEq && col(b) === col(bp) &&
          unix_micros(col(Internal.SrcTs)) > col(tUs) - wUs &&
          unix_micros(col(Internal.SrcTs)) <= col(tUs), "inner")
      .select((obsKeyCols :+ ObsTs).map(col) ++ gcols.map(col) ++
        measures.flatMap(m => Seq(
          col(m).cast(partialTypes(ps(m))).as(ps(m)),
          when(col(m).isNull, 0L).otherwise(1L).cast(partialTypes(pc(m))).as(pc(m)),
          col(m).cast(partialTypes(pm(m))).as(pm(m)),
          col(m).cast(partialTypes(px(m))).as(px(m)))): _*)

    val finals = feats.zip(measures).map { case ((f, out), m) =>
      val wa = f.transform.asInstanceOf[Transformation.WindowAgg]
      (wa.aggFunc match {
        case Aggregation.SUM   => sum(col(ps(m)))
        case Aggregation.COUNT => sum(col(pc(m)))
        case Aggregation.AVG   =>
          // CASE guards the ANSI divide-by-zero when every row was null
          when(sum(col(pc(m))) =!= 0, sum(col(ps(m))) / sum(col(pc(m))))
        case Aggregation.MIN   => min(col(pm(m)))
        case Aggregation.MAX   => max(col(px(m)))
        case other => throw new IllegalStateException(s"not bucketable: $other")
      }).as(out)
    }
    val groupKeys = (obsKeyCols :+ ObsTs).map(col)
    val perGroup = fullBuckets.unionByName(edgeRows)
      .groupBy(groupKeys ++ gcols.map(col): _*)
      .agg(finals.head, finals.tail: _*)
    val aggDf = groupColOpt match {
      case None     => perGroup
      case Some(gc) => collectGroups(perGroup, groupKeys, gc, feats, wa0.limit)
    }
    obs.join(aggDf, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** A9 record-limit bucketed plan (exact): top-k NEWEST window rows
    * per spine pair WITHOUT a raw range join. Per (key, time-bucket)
    * only the k newest rows can contribute to any window's top-k — if
    * row r ranks among a window's k newest, fewer than k window rows
    * order above it, so in particular fewer than k rows of r's own
    * bucket do — so the source reduces to ≤ k rows per (key, bucket)
    * BEFORE the join (`__graft_bl_rn`, the partial's engagement marker
    * in plans). Full buckets join those bounded partials with no
    * per-row time check; the two edge buckets re-check raw rows; the
    * final ranking then takes the true top-k of the bounded candidate
    * set per (key, obs_ts). The surviving rows are raw rows, so the
    * aggregation runs via [[aggColumn]] — every aggregation qualifies,
    * no decomposability requirement. Ranking matches the raw path:
    * (src_ts desc, measure-struct desc).
    */
  private def bucketedLimitWindowAgg(
      obs: DataFrame, obsKeyCols: Seq[String], skCols: Seq[String],
      srcSel: DataFrame, pairs: DataFrame,
      feats: Seq[(AnchorFeature, String)], measures: Seq[String],
      wa0: Transformation.WindowAgg, bucketUs: Long): DataFrame = {
    val k = wa0.limit.get
    val bUs = bucketUs
    val wUs = Durations.toMicros(wa0.window)
    val b = "__graft_b"
    val tUs = "__graft_tus"
    def idiv(c: Column, d: Long): Column = ((c - pmod(c, lit(d))) / lit(d)).cast("long")
    val ord = Seq(col(Internal.SrcTs).desc, struct(measures.map(col): _*).desc)

    val srcB = srcSel.withColumn(b, idiv(unix_micros(col(Internal.SrcTs)), bUs))
    val bw = Window.partitionBy((skCols :+ b).map(col): _*).orderBy(ord: _*)
    val topPerBucket = srcB
      .withColumn("__graft_bl_rn", row_number().over(bw))
      .where(col("__graft_bl_rn") <= k)
      .drop("__graft_bl_rn")

    val p = pairs.withColumn(tUs, unix_micros(col(ObsTs)))
    val loB = idiv(col(tUs) - wUs, bUs)
    val hiB = idiv(col(tUs), bUs)
    val keyEq = obsKeyCols.indices.map(i => col(obsKeyCols(i)) === col(skCols(i)))
      .reduce(_ && _)
    val outCols = (obsKeyCols :+ ObsTs).map(col) ++
      (Internal.SrcTs +: measures).map(col)
    // same coarse-bucket equi-join discipline as [[bucketedWindowAgg]]
    // (the theta form is the axis-6 hot-key straggler): pairs explode
    // ~4–6 coarse ids, the exact fine range is a post-join filter, and
    // the two edge buckets equi-join on their fine ids
    val gFine = math.max(1L, (wUs / bUs) / 4)
    val cb = s"${b}_c"
    val cbp = s"${b}_cp"
    val full = p
      .withColumn(cbp, explode(sequence(idiv(loB + 1, gFine), idiv(hiB - 1, gFine))))
      .join(topPerBucket.withColumn(cb, idiv(col(b), gFine)),
        keyEq && col(cbp) === col(cb), "inner")
      .where(col(b) > loB && col(b) < hiB)
      .select(outCols: _*)
    val bp = s"${b}_p"
    val edge = p
      .withColumn(bp, explode(array(loB, hiB)))
      .join(srcB,
        keyEq && col(b) === col(bp) &&
          unix_micros(col(Internal.SrcTs)) > col(tUs) - wUs &&
          unix_micros(col(Internal.SrcTs)) <= col(tUs), "inner")
      .select(outCols: _*)

    val rw = Window.partitionBy((obsKeyCols :+ ObsTs).map(col): _*).orderBy(ord: _*)
    val limited = full.unionByName(edge)
      .withColumn("__graft_rn", row_number().over(rw))
      .where(col("__graft_rn") <= k)
      .drop("__graft_rn")

    val aggs = feats.zip(measures).map { case ((f, out), m) =>
      val wa = f.transform.asInstanceOf[Transformation.WindowAgg]
      aggColumn(wa.aggFunc, col(m)).as(out)
    }
    val aggDf = limited.groupBy((obsKeyCols :+ ObsTs).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    obs.join(aggDf, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** Map an Aggregation to its Catalyst aggregate (SURVEY.md §2.5).
    * ELEMENTWISE_* first collects the window's arrays, then
    * `finishElementwise` folds them with higher-order functions —
    * bounded by the window (cap with A9 `limit` for unbounded keys).
    */
  private def aggColumn(agg: Aggregation, m: Column): Column = agg match {
    case Aggregation.SUM   => sum(m)
    case Aggregation.AVG   => avg(m)
    case Aggregation.MIN   => min(m)
    case Aggregation.MAX   => max(m)
    case Aggregation.COUNT => count(m)
    case Aggregation.LATEST => max_by(m, struct(col(Internal.SrcTs), m))
    case Aggregation.UNION => array_sort(collect_set(m))
    // elementwise tensor folds run through a typed Aggregator with
    // O(dim) state — never collect the window (graft.functions
    // .VectorAggregator)
    case Aggregation.ELEMENTWISE_SUM =>
      graft.functions.VectorAggregator("sum", toDoubleArray(m))
    case Aggregation.ELEMENTWISE_AVG =>
      graft.functions.VectorAggregator("avg", toDoubleArray(m))
    case Aggregation.ELEMENTWISE_MIN =>
      graft.functions.VectorAggregator("min", toDoubleArray(m))
    case Aggregation.ELEMENTWISE_MAX =>
      graft.functions.VectorAggregator("max", toDoubleArray(m))
    case Aggregation.NOP =>
      throw new IllegalArgumentException("NOP is not an aggregation")
  }

  private def toDoubleArray(m: Column): Column =
    transform(m, x => x.cast("double"))
}
