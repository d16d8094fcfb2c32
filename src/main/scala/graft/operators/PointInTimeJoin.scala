package graft.operators

import graft.model._
import graft.project._
import graft.sources._
import graft.functions.{FeathrExpr, SlidingWindow, UdfRegistry, VectorAggregator}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.NumericType

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
  *  - sliding-window aggs (J3) either ride that union-sort or take the
  *    bucket plan, chosen by aggregation kind and the analyzed schema
  *    ([[splitRiding]]):
  *     - a riding feature is a running kernel over the sort's frame
  *       ([[graft.functions.SlidingWindow]]), read on the pair's one row
  *       at T. EXACT INVERTIBLE features — no `limit`, and COUNT, or
  *       SUM/AVG of an integral (byte/short/int/long) measure, with or
  *       without group_by — keep per-sub-key counts and long sums of the
  *       rows in `(T − W, T]`, adding a row as it enters and subtracting
  *       it as it leaves (subtract-on-evict, Tangwongsan et al., VLDB
  *       2015). SLIDING EXTREMES — MIN, MAX and LATEST with no `limit`
  *       and no group_by — keep a monotonic deque. Both cost amortized
  *       O(1) per row (O(log sub-keys) with group_by), and an anchor
  *       group builds one shuffle and sort for all its riding features;
  *     - without as-of features, a group builds that one union-sort
  *       and no bucket cluster when every window feature can ride;
  *       otherwise its extremes take the bucket plan, and an exact
  *       feature whose (window, filter, group_by) bucket cluster is
  *       built anyway for another feature joins that cluster;
  *     - every other feature (UNION, elementwise, float/decimal
  *       SUM/AVG, any `limit`, group_by MIN/MAX/LATEST) folds source
  *       rows ONCE to partials per (key, time bucket); each spine pair
  *       merges the partials of the full buckets inside its window with
  *       the raw rows of its two edge buckets — per-pair work is
  *       O(window/bucket), not O(rows in the window); a record limit
  *       keeps the k newest rows per bucket as its partial;
  *  - hot keys: every union-sort partitions by key, so a hot key costs
  *    one sort plus one linear pass in one task; the bucket plan's
  *    equi-join on (key, coarse bucket) spreads a hot key's pairs over
  *    its timeline instead ([[bucketWindowJoin]]);
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

  private def windowAggOf(f: AnchorFeature): Transformation.WindowAgg =
    f.transform.asInstanceOf[Transformation.WindowAgg]

  /** A sliding extreme: MIN, MAX or LATEST without `limit` and group_by. */
  private def slides(wa: Transformation.WindowAgg): Boolean = wa.limit.isEmpty &&
    wa.groupBy.isEmpty && Seq(Aggregation.MIN, Aggregation.MAX, Aggregation.LATEST)
      .contains(wa.aggFunc)

  /** Splits window features into (riding, bucketed): those that ride
    * the anchor group's union-sort as running kernels
    * ([[RunningWindows]]), and those the bucket plan serves. Two kinds
    * can ride, both without `limit`:
    *  - exact under subtraction: COUNT, or SUM/AVG of an integral
    *    measure (read off the analyzed schema), with or without
    *    group_by;
    *  - sliding extremes: MIN, MAX and LATEST without group_by.
    *
    * When the group has as-of features (`asOf`), every extreme rides
    * their sort. A window-only group builds one union-sort and no bucket
    * cluster when every one of its window features can ride; otherwise
    * its extremes stay bucketed. An exact feature then rides when the
    * group has as-of features and it has no group_by, or when no
    * bucketed feature of the same (window, filter, group_by) is left
    * to build that cluster anyway — else it joins that cluster.
    */
  private def splitRiding(src: DataFrame, windowFeats: Seq[(AnchorFeature, String)],
      asOf: Boolean): (Seq[(AnchorFeature, String)], Seq[(AnchorFeature, String)]) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def invertible(wa: Transformation.WindowAgg) = wa.limit.isEmpty &&
      Seq(Aggregation.COUNT, Aggregation.SUM, Aggregation.AVG).contains(wa.aggFunc)
    val summed = windowFeats.map(p => windowAggOf(p._1))
      .filter(wa => invertible(wa) && wa.aggFunc != Aggregation.COUNT)
      .map(_.defExpr).distinct
    val integral =
      if (summed.isEmpty) Set.empty[String]
      else summed.zip(src.select(summed.map(FeathrExpr.column): _*).schema.fields)
        .collect { case (e, f) if Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(f.dataType) => e }.toSet
    val (exact, inexact) = windowFeats.partition { case (f, _) =>
      val wa = windowAggOf(f)
      invertible(wa) && (wa.aggFunc == Aggregation.COUNT || integral.contains(wa.defExpr))
    }
    val (extreme, rest) = inexact.partition(p => slides(windowAggOf(p._1)))
    val extremesRide = asOf || rest.isEmpty
    def cluster(f: AnchorFeature) = {
      val wa = windowAggOf(f)
      (wa.window, wa.filter, wa.groupBy)
    }
    val built = (if (extremesRide) rest else inexact)
      .collect { case (f, _) if windowAggOf(f).limit.isEmpty => cluster(f) }.toSet
    val running = exact.filter { case (f, _) =>
      (asOf && windowAggOf(f).groupBy.isEmpty) || !built(cluster(f)) }
    val riding = if (extremesRide) running ++ extreme else running
    windowFeats.partition(riding.contains)
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
    for ((f, _) <- windowFeats) {
      val w = windowAggOf(f).window
      require(Durations.toMicros(w) > 0,
        s"anchor ${g.name}: window ${Durations.format(w)} of feature ${f.name} must be positive")
    }
    val (riding, bucketed) = splitRiding(src0, windowFeats, asOf = rowFeats.nonEmpty)

    val pairSrc = if (obsKeyCols.forall(base.columns.contains)) base else obs
    lazy val pairs = pairSrc
      .select(obsKeyCols.map(col) :+ col(ObsTs): _*)
      .na.drop("any").distinct()

    var joined = obs
    if (timeAware && (rowFeats.nonEmpty || riding.nonEmpty))
      joined = asOfJoin(joined, pairs, obsKeyCols, keys, src0, rowFeats, riding, g.name)
    else if (rowFeats.nonEmpty)
      joined = snapshotJoin(joined, obsKeyCols, keys, src0, rowFeats, g.name)
    if (bucketed.nonEmpty) {
      // share one bucket join per identical window spec; a record
      // limit ranks by its feature's own measure or aggregate, so each
      // limited feature is its own cluster — its value never depends on
      // what else is requested beside it
      val clusters = bucketed.groupBy { case (f, out) =>
        val wa = windowAggOf(f)
        (wa.window, wa.filter, wa.groupBy, wa.limit, wa.limit.map(_ => out))
      }.toSeq.sortBy(_._2.head._2)
      for ((_, cluster) <- clusters)
        joined = windowAggJoin(joined, pairs, obsKeyCols, keys, src0, cluster, g.name)
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
    *
    * The anchor group's riding window features (`windows`,
    * [[splitRiding]]) share the same shuffle and sort, as running
    * kernels over its frame ([[RunningWindows]]), read like the as-of
    * values on the one pair row at T.
    */
  private def asOfJoin(
      obs: DataFrame, obsPairs: DataFrame, obsKeyCols: Seq[String], keys: Seq[TypedKey],
      src: DataFrame, feats: Seq[(AnchorFeature, String)],
      windows: Seq[(AnchorFeature, String)], anchorName: String): DataFrame = {
    val ts = "__graft_ts"
    val vals = "__graft_vals"
    val keyCols = keys.zipWithIndex.map { case (k, i) => col(k.keyColumn).as(obsKeyCols(i)) }
    val run = new RunningWindows(windows, anchorName)
    val valStruct = if (feats.isEmpty) Nil else Seq(struct(feats.map { case (f, out) =>
      rowCol(f.transform, src).as(out) }: _*).as(vals))
    val srcSel = src
      .select(keyCols ++ (col(Internal.SrcTs).as(ts) +: valStruct) ++ run.sourceCols: _*)
      .withColumn(Tag, lit(0))

    val w = Window
      .partitionBy(obsKeyCols.map(col): _*)
      .orderBy(Seq(col(ts).asc, col(Tag).asc) ++ valStruct.map(_ => col(vals).asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val asOf = if (feats.isEmpty) Nil else Seq(vals -> last(col(vals), ignoreNulls = true).over(w))

    // pair rows carry no vals and no kernel inputs: the union fills nulls
    val featRows = srcSel
      .unionByName(obsPairs.withColumnRenamed(ObsTs, ts).withColumn(Tag, lit(1)),
        allowMissingColumns = true)
      .withColumns((asOf ++ run.kernels(col(ts), col(Tag) === 1, w)).toMap)
      .where(col(Tag) === 1)
      .select(obsKeyCols.map(col) ++ Seq(col(ts).as(ObsTs)) ++
        feats.map { case (_, out) => col(s"$vals.$out").as(out) } ++ run.values: _*)
    obs.join(featRows, obsKeyCols :+ ObsTs, "left_outer")
  }

  /** The window features that ride a union-sort ([[splitRiding]]), as
    * running kernels over its frame ([[graft.functions.SlidingWindow]]).
    * Each source row carries, per distinct filter, whether the filter
    * keeps it (`__graft_rf_i`), per distinct measure its value
    * (`__graft_rm_i`), and per distinct group_by its sub-key
    * (`__graft_rg_i`). One kernel `__graft_rx_i` runs per distinct
    * (filter, measure, window, group_by, kind):
    *  - MIN, MAX and LATEST each take a sliding extreme of the kept
    *    measures. LATEST is the MAX of `struct(ts, measure)` and reads
    *    `.v` — the bucket plan's `max(struct)`: the newest kept row wins
    *    even when its measure is null, and a tie at one `src_ts` goes to
    *    the larger value;
    *  - COUNT, SUM and AVG share one sliding sums kernel, over a
    *    constant sub-key without group_by, which sums the measure only
    *    when a SUM or AVG reads it, and finish from its (n, s) cells
    *    with the bucket plan's types and nulls: COUNT the non-null
    *    measures, a long; SUM a long, null when no measure is non-null;
    *    AVG `s / n` as a double, else null. Without group_by the value
    *    is null when no kept row is in the window; with it, a map from
    *    each sub-key with a kept row there to its value, and null when
    *    there is none.
    */
  private final class RunningWindows(feats: Seq[(AnchorFeature, String)], anchorName: String) {
    private val was = feats.map(p => windowAggOf(p._1))
    private val filters = was.map(_.filter).distinct
    private val measures = was.map(_.defExpr).distinct
    private val groupBys = was.flatMap(_.groupBy).distinct
    private def kernelOf(wa: Transformation.WindowAgg) = (wa.filter, wa.defExpr, wa.window,
      wa.groupBy, Some(wa.aggFunc).filter(_ => slides(wa)))
    private val kernelKeys = was.map(kernelOf).distinct

    /** A source row's kernel inputs, over source columns. */
    def sourceCols: Seq[Column] =
      filters.zipWithIndex.map { case (f, i) =>
        f.fold(lit(true))(FeathrExpr.column).as(s"__graft_rf_$i") } ++
      measures.zipWithIndex.map { case (e, i) => FeathrExpr.column(e).as(s"__graft_rm_$i") } ++
      groupBys.zipWithIndex.map { case (e, i) => FeathrExpr.column(e).as(s"__graft_rg_$i") }

    /** The kernels over the union-sort window `w`, sorted by `ts`;
      * `pair` holds on the pair rows.
      */
    def kernels(ts: Column, pair: Column, w: WindowSpec): Seq[(String, Column)] =
      kernelKeys.zipWithIndex.map { case (k @ (filter, e, window, gb, extreme), i) =>
        val keep = col(s"__graft_rf_${filters.indexOf(filter)}")
        val m = col(s"__graft_rm_${measures.indexOf(e)}")
        val wUs = Durations.toMicros(window)
        s"__graft_rx_$i" -> (extreme match {
          case Some(agg) =>
            val key = if (agg == Aggregation.LATEST) struct(ts.as("t"), m.as("v")) else m
            SlidingWindow.slidingExtreme(ts, when(keep, key), wUs, agg == Aggregation.MIN)
          case None =>
            val readers = feats.filter(p => kernelOf(windowAggOf(p._1)) == k)
            // a kernel only COUNT reads must not sum: a count cannot overflow
            val summed = readers.exists(p => windowAggOf(p._1).aggFunc != Aggregation.COUNT)
            SlidingWindow.slidingSums(ts, pair, keep,
              gb.fold(lit(0))(g => col(s"__graft_rg_${groupBys.indexOf(g)}")),
              if (summed) m else when(m.isNotNull, true), wUs,
              s"anchor $anchorName: feature ${readers.map(_._2).mkString(", ")}",
              gb.getOrElse(""))
        }).over(w)
      }

    /** Each feature's value on a pair row at T. */
    def values: Seq[Column] = feats.map { case (f, out) =>
      val wa = windowAggOf(f)
      val x = col(s"__graft_rx_${kernelKeys.indexOf(kernelOf(wa))}")
      def finish(cell: Column) = {
        val n = cell.getField("n")
        wa.aggFunc match {
          case Aggregation.COUNT => n
          case Aggregation.SUM => when(n > 0, cell.getField("s"))
          case _ => when(n > 0, cell.getField("s") / n)
        }
      }
      (wa.aggFunc match {
        case Aggregation.LATEST => x.getField("v")
        case Aggregation.MIN | Aggregation.MAX => x
        case _ if wa.groupBy.isEmpty => finish(x.getItem(0))
        case _ => map_from_entries(transform(x, c => struct(c.getField("k"), finish(c))))
      }).as(out)
    }
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
    *    (key, obs_ts) before aggregating (record limit; ties at one
    *    `src_ts` go to the larger measure);
    *  - with `groupBy`: aggregate every sub-key fully, then keep the
    *    top-k GROUPS per (key, obs_ts) ranked by the feature's own
    *    aggregate descending (ties: sub-key ascending) — the feature
    *    value is a k-entry map, not an aggregate over k rows.
    * A limited feature is always alone in its window cluster, so both
    * rankings read only its own measure.
    *
    * J3 has two plans, and [[splitRiding]] picks one from the analyzed
    * schema and the anchor group's features. Without `limit`, COUNT
    * and SUM/AVG of an integral measure (with or without group_by) and
    * MIN, MAX and LATEST without group_by are running kernels read at T
    * off the anchor group's one union-sort ([[asOfJoin]]) — unless the
    * group has no as-of features and some window feature cannot ride:
    * then the extremes stay here, and an exact feature
    * whose (window, filter, group_by) cluster another feature builds
    * here anyway joins it. This is the other plan, for every remaining
    * feature — UNION, elementwise, float or decimal SUM/AVG, every
    * `limit`, group_by MIN/MAX/LATEST, and those stayed features
    * (SURVEY.md §4): source rows fold
    * ONCE to [[Partial]]s per (key, [sub-key,] time bucket); each spine
    * pair merges the partials of the ≤ window/bucket FULL buckets inside
    * its window with the raw rows of its two edge buckets
    * ([[bucketWindowJoin]]), and the merged partials finish to the
    * feature value ([[partialsOf]]). Per-pair work is
    * O(window/bucket + rows-in-2-buckets), never O(rows-in-window). A
    * record limit keeps the k newest ROWS per (key, bucket) as its
    * partial instead, and folds the pair's true top-k of those.
    *
    * The bucket is window/64 wide, at least 1 µs, so every positive
    * window spans at least one bucket — all the edge-bucket arithmetic
    * needs to be exact. Window arithmetic is exact epoch-micros
    * (Durations.toMicros rejects sub-microsecond windows): a `750ms`
    * window stays 750ms, not whole seconds.
    */
  private def windowAggJoin(
      obs: DataFrame, pairs: DataFrame, obsKeyCols: Seq[String], keys: Seq[TypedKey],
      src: DataFrame, feats: Seq[(AnchorFeature, String)], anchorName: String): DataFrame = {
    val was = feats.map(_._1.transform.asInstanceOf[Transformation.WindowAgg])
    val wa0 = was.head
    val wUs = Durations.toMicros(wa0.window)
    val bUs = math.max(1L, wUs / 64)
    val skCols = obsKeyCols.indices.map(i => s"__graft_sk_$i")
    val gcols = wa0.groupBy.map(_ => "__graft_grp").toSeq
    val pairKeys = obsKeyCols :+ ObsTs

    // evaluate measures (and sub-key) against source columns, pre-join:
    // one column per distinct measure expression, so features that
    // share an expression share its partials
    val filtered = wa0.filter.map(f => src.where(FeathrExpr.column(f))).getOrElse(src)
    val exprs = was.map(_.defExpr).distinct
    def m(i: Int): Column = col(s"__graft_m_$i")
    val srcB = filtered.select(
      keys.zipWithIndex.map { case (k, i) => col(k.keyColumn).as(skCols(i)) } ++
      Seq(col(Internal.SrcTs)) ++
      exprs.zipWithIndex.map { case (e, i) => FeathrExpr.column(e).as(s"__graft_m_$i") } ++
      wa0.groupBy.map(gb => FeathrExpr.column(gb).as(gcols.head)).toSeq: _*)
      .withColumn(Bucket, idiv(unix_micros(col(Internal.SrcTs)), bUs))

    val specs = was.map(wa => (exprs.indexOf(wa.defExpr), partialsOf(wa.aggFunc)))
    val parts = specs.flatMap { case (i, (ps, _)) => ps.map(i -> _) }
      .distinctBy { case (i, p) => (i, p.kind) }
    def acc(i: Int, p: Partial) = s"__graft_acc_${p.kind}_$i"

    val merged = wa0.limit.filter(_ => wa0.groupBy.isEmpty) match {
      case None =>
        def ps(i: Int, p: Partial) = s"__graft_ps_${p.kind}_$i"
        val partialAggs = parts.map { case (i, p) => p.agg(m(i)).as(ps(i, p)) }
        val partials = srcB.groupBy((skCols ++ gcols :+ Bucket).map(col): _*)
          .agg(partialAggs.head, partialAggs.tail: _*)
        // an edge row is a one-row partial, cast to the partial's type
        // where the fold widens it (a SUM of ints is a long)
        val edgePartials = parts.map { case (i, p) =>
          val r = p.row(m(i))
          (partials.schema(ps(i, p)).dataType match {
            case t: NumericType => r.cast(t)
            case _ => r
          }).as(ps(i, p))
        }
        val merges = parts.map { case (i, p) => p.merge(col(ps(i, p))).as(acc(i, p)) }
        bucketWindowJoin(pairs, obsKeyCols, skCols, wUs, bUs, partials, srcB,
            gcols.map(col) ++ parts.map { case (i, p) => col(ps(i, p)) },
            gcols.map(col) ++ edgePartials)
          .groupBy((pairKeys ++ gcols).map(col): _*)
          .agg(merges.head, merges.tail: _*)
      case Some(k) =>
        // A9 record limit (exact): if row r ranks among a window's k
        // newest, fewer than k window rows order above it, so fewer
        // than k rows of r's own bucket do — only the k newest rows per
        // (key, bucket) can contribute (`__graft_bl_rn`, the partial's
        // marker in plans). The pair then ranks the bounded candidate
        // set and folds its true top-k: (src_ts desc, measure-struct
        // desc), every aggregation kind.
        val ord = Seq(col(Internal.SrcTs).desc, struct(exprs.indices.map(m): _*).desc)
        val top = srcB
          .withColumn("__graft_bl_rn", row_number().over(
            Window.partitionBy((skCols :+ Bucket).map(col): _*).orderBy(ord: _*)))
          .where(col("__graft_bl_rn") <= k)
          .drop("__graft_bl_rn")
        val raw = col(Internal.SrcTs) +: exprs.indices.map(m)
        val folds = parts.map { case (i, p) => p.agg(m(i)).as(acc(i, p)) }
        bucketWindowJoin(pairs, obsKeyCols, skCols, wUs, bUs, top, srcB, raw, raw)
          .withColumn("__graft_rn", row_number().over(
            Window.partitionBy(pairKeys.map(col): _*).orderBy(ord: _*)))
          .where(col("__graft_rn") <= k)
          .groupBy(pairKeys.map(col): _*)
          .agg(folds.head, folds.tail: _*)
    }

    val finished = merged.select((pairKeys ++ gcols).map(col) ++
      feats.zip(specs).map { case ((_, out), (i, (ps, finish))) =>
        finish(ps.map(p => col(acc(i, p)))).as(out) }: _*)
    val aggDf =
      if (gcols.isEmpty) finished
      else collectGroups(finished, pairKeys.map(col), gcols.head, feats.map(_._2), wa0.limit,
        wa0.groupBy.get, anchorName)
    obs.join(aggDf, pairKeys, "left_outer")
  }

  /** A7 tail: optional A7×A9 top-k-groups limit, then collect
    * sub-key -> value into a deterministic (sorted) map. The input is
    * one row per (key, obs_ts, sub-key) — bounded by sub-key
    * cardinality, so the ranking window is cheap at scale. A map cannot
    * hold a null key, so a null sub-key that would enter one is refused
    * by anchor group, feature and group_by expression.
    */
  private def collectGroups(perGroup0: DataFrame, groupKeys: Seq[Column],
      groupCol: String, outs: Seq[String],
      limit: Option[Int], groupBy: String, anchorName: String): DataFrame = {
    var perGroup = perGroup0
    limit.foreach { k =>
      val gw = Window.partitionBy(groupKeys: _*)
        .orderBy(col(outs.head).desc, col(groupCol).asc)
      perGroup = perGroup
        .withColumn("__graft_grn", row_number().over(gw))
        .where(col("__graft_grn") <= k)
        .drop("__graft_grn")
    }
    val maps = outs.map { out =>
      val subKey = coalesce(col(groupCol), raise_error(lit(s"anchor $anchorName: feature " +
        s"$out: group_by sub-key ($groupBy) is null in a window; a map cannot hold a null " +
        "key; filter those rows out or coalesce the sub-key")))
      map_from_entries(array_sort(collect_list(struct(subKey.as(groupCol), col(out))))).as(out)
    }
    perGroup.groupBy(groupKeys: _*).agg(maps.head, maps.tail: _*)
  }

  /** The one window join skeleton. Bucket b covers [b·B, (b+1)·B) in
    * epoch micros; for a window (T−W, T] the FULL buckets are
    * b ∈ [⌊(T−W)/B⌋+1, ⌊T/B⌋−1], and the edge buckets ⌊(T−W)/B⌋ and
    * ⌊T/B⌋ are re-checked row by row. W ≥ B makes the two edge buckets
    * distinct, so no row meets a pair twice. Each spine pair meets the
    * `partials` (rows keyed by source key and `Bucket`) of its full
    * buckets, projected by `partialOut`, and the raw `rows` of its edge
    * buckets, projected by `rowOut`; both sides lead with the pair's
    * (key, obs_ts) and are unioned.
    */
  private def bucketWindowJoin(
      pairs: DataFrame, obsKeyCols: Seq[String], skCols: Seq[String],
      wUs: Long, bUs: Long, partials: DataFrame, rows: DataFrame,
      partialOut: Seq[Column], rowOut: Seq[Column]): DataFrame = {
    val tUs = "__graft_tus"
    val p = pairs.withColumn(tUs, unix_micros(col(ObsTs)))
    val loB = idiv(col(tUs) - wUs, bUs)
    val hiB = idiv(col(tUs), bUs)
    val keyEq = obsKeyCols.indices.map(i => col(obsKeyCols(i)) === col(skCols(i)))
      .reduce(_ && _)
    val pairCols = (obsKeyCols :+ ObsTs).map(col)

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
    // post-join filter. A window with no full bucket (it spans just
    // the two edges) is no special case: `sequence(a, b)` with a > b
    // counts DOWN (step −1), so the pair still explodes to one or two
    // coarse ids, and that post-join filter is what drops their rows.
    val gFine = math.max(1L, (wUs / bUs) / 4)
    val cb = s"${Bucket}_c"  // partials side: coarse bucket of a partial
    val cbp = s"${Bucket}_cp" // spine side: exploded coarse bucket ids
    val full = p
      .withColumn(cbp, explode(sequence(idiv(loB + 1, gFine), idiv(hiB - 1, gFine))))
      .join(partials.withColumn(cb, idiv(col(Bucket), gFine)),
        keyEq && col(cbp) === col(cb), "inner")
      .where(col(Bucket) > loB && col(Bucket) < hiB)
      .select(pairCols ++ partialOut: _*)

    // the two edge buckets equi-join on (key, FINE bucket) — two
    // exploded rows per pair
    val bp = s"${Bucket}_p"
    val edge = p
      .withColumn(bp, explode(array(loB, hiB)))
      .join(rows,
        keyEq && col(Bucket) === col(bp) &&
          unix_micros(col(Internal.SrcTs)) > col(tUs) - wUs &&
          unix_micros(col(Internal.SrcTs)) <= col(tUs), "inner")
      .select(pairCols ++ rowOut: _*)
    full.unionByName(edge)
  }

  private val Bucket = "__graft_b"

  /** Exact long floor division (`/` in the Column API divides doubles). */
  private def idiv(c: Column, d: Long): Column = ((c - pmod(c, lit(d))) / lit(d)).cast("long")

  /** One bucket partial of a window aggregation, named by `kind`: how a
    * group of source rows folds to it (`agg`), what one raw edge row is
    * in its shape (`row`), and how partials merge (`merge`).
    */
  private final case class Partial(kind: String, agg: Column => Column,
      row: Column => Column, merge: Column => Column)

  private object Partial {
    private def latest(m: Column) = struct(col(Internal.SrcTs).as("t"), m.as("v"))
    // elementwise tensor folds run through a typed Aggregator with
    // O(dim) state — never collect the window (graft.functions
    // .VectorAggregator)
    private def vector(op: String) = Partial(s"v$op",
      m => VectorAggregator(op, toDoubleArray(m)), toDoubleArray, VectorAggregator(op, _))

    val Sum = Partial("sum", sum(_), m => m, sum(_))
    val Count = Partial("cnt", count(_), m => when(m.isNull, 0L).otherwise(1L), sum(_))
    val Min = Partial("min", min(_), m => m, min(_))
    val Max = Partial("max", max(_), m => m, max(_))
    // the greatest (src_ts, value) struct: the latest row, ties by value
    val Latest = Partial("last", m => max(latest(m)), latest, max(_))
    // collect_set skips nulls, so a null edge row contributes no array
    val Items = Partial("set", collect_set(_), m => when(m.isNotNull, array(m)),
      p => array_distinct(flatten(collect_list(p))))
    val VecSum = vector("sum")
    val VecMin = vector("min")
    val VecMax = vector("max")
  }

  /** The partials a window aggregation reads (SURVEY.md §2.5), and how
    * their merged values finish to the feature value.
    */
  private def partialsOf(agg: Aggregation): (Seq[Partial], Seq[Column] => Column) = {
    import Partial._
    agg match {
      case Aggregation.SUM   => (Seq(Sum), _.head)
      case Aggregation.COUNT => (Seq(Count), _.head)
      // CASE guards the ANSI divide-by-zero when every row was null
      case Aggregation.AVG   => (Seq(Sum, Count), { case Seq(s, n) => when(n =!= 0, s / n) })
      case Aggregation.MIN   => (Seq(Min), _.head)
      case Aggregation.MAX   => (Seq(Max), _.head)
      case Aggregation.LATEST => (Seq(Latest), _.head.getField("v"))
      case Aggregation.UNION => (Seq(Items), c => array_sort(c.head))
      case Aggregation.ELEMENTWISE_SUM => (Seq(VecSum), _.head)
      case Aggregation.ELEMENTWISE_AVG =>
        (Seq(VecSum, Count), { case Seq(s, n) => transform(s, x => x / n) })
      case Aggregation.ELEMENTWISE_MIN => (Seq(VecMin), _.head)
      case Aggregation.ELEMENTWISE_MAX => (Seq(VecMax), _.head)
      case Aggregation.NOP =>
        throw new IllegalArgumentException("NOP is not an aggregation")
    }
  }

  private def toDoubleArray(m: Column): Column =
    transform(m, x => x.cast("double"))
}
