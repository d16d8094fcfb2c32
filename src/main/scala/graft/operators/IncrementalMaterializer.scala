package graft.operators

import graft.model.{Aggregation, Durations, GraftAggregation, Transformation, ValueType}
import graft.project.{AnchorFeature, DerivedFeature}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import BucketedState.{AtBoundary, AtVersion, PerBucket, Read}

/** The DSL bridge onto the incremental stores: WindowAgg anchor
  * features (SURVEY §2.6) materialized by O(delta) REFRESH instead of
  * the M1 step-loop's from-raw recompute. Features sharing a
  * (defExpr, filter) measure share ONE [[IncrementalSwa]] store (its
  * partials already carry sum/count/min/max/latest of the measure —
  * five aggregations for one delta shuffle); [[snapshot]] serves every
  * feature at a bucket boundary and assembles the wide feature row
  * with one bounded join per distinct (measure, window).
  *
  * Scope, refused by name otherwise: scalar aggregations
  * SUM/COUNT/AVG/MIN/MAX/LATEST ride [[IncrementalSwa]]; UNION (a
  * semilattice — set union merges like LATEST) rides
  * [[IncrementalUnion]] with its per-(key, bucket) state cap;
  * ELEMENTWISE_* (additive O(dim) partials on the exact integer grid)
  * ride [[IncrementalVector]]. Windows must be whole bucket
  * multiples; `filter` supported (a pre-aggregation row predicate —
  * applied to the DELTA before partials, which is exactly when it is
  * cheap); `groupBy`/`limit` are not incrementally maintainable in
  * ANY of these shapes (a sub-key explodes state by its cardinality, a
  * record limit is not a semilattice) and route to the batch J3/A9
  * planner instead.
  *
  * Extension features ([[GraftFeature]]: distinct-count, quantile,
  * top-k) ride [[IncrementalDistinct]], [[IncrementalQuantile]] and
  * [[IncrementalTopK]] through the SAME calls: every lifecycle
  * operation (refresh, the snapshots, trainingSet, describe, compact,
  * compactRetaining, forgetKeys, maintain and their `*Multi` forms)
  * takes them as its `graftFeatures` argument, so one refresh covers
  * both surfaces under one commit marker. Both surfaces resolve to
  * one store dispatch onto the stores' shared [[BucketedState]]
  * kernel; each store kind is named in one place.
  *
  * SUM/AVG are maintained on the exact integer cent grid
  * ([[IncrementalSwa]]'s contract): exact for 2-decimal measures,
  * 0.01-quantized otherwise; MIN/MAX/LATEST are exact raw values.
  * Store directories key on md5(defExpr|filter) (`m=`/`u=`/`e=`) and
  * md5(defExpr|filter|state config) (`g=`), so refreshes are stable
  * across runs and feature reorderings.
  */
object IncrementalMaterializer {

  /** Which incremental store a feature maintains, with the store's
    * STATE parameters (part of its identity; serve-time parameters —
    * a quantile's `q`, a top-k's `k` — are not, so features differing
    * only in those share one store).
    */
  private sealed abstract class Kind(val prefix: String,
      val stateKey: Option[String] = None)
  private case object Scalar extends Kind("m")
  private case object SetUnion extends Kind("u")
  private case object Vector extends Kind("e")
  private final case class Distinct(p: Int) extends Kind("g", Some(s"dc|$p"))
  private final case class Histogram(lo: Double, hi: Double, bins: Int)
      extends Kind("g", Some(s"qt|$lo|$hi|$bins"))
  private final case class Candidates(cand: Int)
      extends Kind("g", Some(s"tk|$cand"))

  private def md5Hex(s: String, n: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(n)

  /** One incremental store: the measure it folds and its kind. */
  private final case class Store(defExpr: String, filter: Option[String],
      kind: Kind) {
    /** Root-relative store dir, stable across runs and reorderings. */
    def rel: String = s"${kind.prefix}=" + md5Hex(
      (Seq(defExpr, filter.getOrElse("")) ++ kind.stateKey).mkString("|"), 16)
  }

  /** How a feature's column is read off its store's served frame: a
    * served column verbatim, the cutoff row at quantile `q`, or the
    * rank-ordered items of the top `k`.
    */
  private sealed trait Pick
  private final case class Served(column: String) extends Pick
  private final case class AtQuantile(q: Double) extends Pick
  private final case class TopItems(k: Int) extends Pick

  /** A feature of either surface resolved onto its store. */
  private final case class Planned(name: String, store: Store, window: Int,
      pick: Pick)

  private def windowOf(name: String, window: java.time.Duration,
      bucketUs: Long): Int = {
    val winUs = Durations.toMicros(window)
    require(winUs % bucketUs == 0 && winUs > 0,
      s"feature '$name': window $window is not a whole multiple " +
        s"of the ${bucketUs}µs maintenance bucket")
    (winUs / bucketUs).toInt
  }

  /** A reference aggregation's store kind and the served column it
    * reads from that store's serve/serveDaily output.
    */
  private def anchorKind(f: AnchorFeature, agg: Aggregation): (Kind, String) =
    agg match {
      case Aggregation.SUM => (Scalar, "f_sum")
      case Aggregation.COUNT => (Scalar, "f_cnt")
      case Aggregation.AVG => (Scalar, "f_avg")
      case Aggregation.MIN => (Scalar, "f_min")
      case Aggregation.MAX => (Scalar, "f_max")
      case Aggregation.LATEST => (Scalar, "f_latest")
      case Aggregation.UNION => (SetUnion, "f_union")
      case Aggregation.ELEMENTWISE_SUM => (Vector, "f_esum")
      case Aggregation.ELEMENTWISE_AVG => (Vector, "f_eavg")
      case Aggregation.ELEMENTWISE_MIN => (Vector, "f_emin")
      case Aggregation.ELEMENTWISE_MAX => (Vector, "f_emax")
      case other => throw new IllegalArgumentException(
        s"feature '${f.name}': $other is not incrementally maintainable " +
          "here — use the batch windowed-agg join")
    }

  private def planOf(f: AnchorFeature, bucketUs: Long): Planned =
    f.transform match {
      case wa: Transformation.WindowAgg =>
        require(wa.groupBy.isEmpty && wa.limit.isEmpty,
          s"feature '${f.name}': group_by/limit window aggregations are not " +
            "incrementally maintainable (sub-keys explode state, limits are " +
            "not semilattices) — use the batch windowed-agg join")
        val w = windowOf(f.name, wa.window, bucketUs)
        val (kind, column) = anchorKind(f, wa.aggFunc)
        Planned(f.name, Store(wa.defExpr, wa.filter, kind), w, Served(column))
      case other => throw new IllegalArgumentException(
        s"feature '${f.name}': only window aggregations materialize " +
          s"incrementally (got $other)")
    }

  /** Extension features: DistinctCount serves the raw HLL estimate
    * (`est_raw`), Quantile the bin left edge in value space, TopK the
    * rank-ordered item array.
    */
  private def graftPlanOf(f: GraftFeature, bucketUs: Long): Planned = {
    val (kind, pick) = f.agg match {
      case GraftAggregation.DistinctCount(p) => (Distinct(p), Served("est_raw"))
      case GraftAggregation.Quantile(q, lo, hi, bins) =>
        (Histogram(lo, hi, bins), AtQuantile(q))
      case GraftAggregation.TopK(k, cand) => (Candidates(cand), TopItems(k))
    }
    Planned(f.name, Store(f.defExpr, f.filter, kind),
      windowOf(f.name, f.window, bucketUs), pick)
  }

  /** Both surfaces resolved onto their stores; an empty feature set is
    * refused by name.
    */
  private def plansOf(features: Seq[AnchorFeature],
      graftFeatures: Seq[GraftFeature], bucketUs: Long,
      what: String): Seq[Planned] = {
    require(features.nonEmpty || graftFeatures.nonEmpty,
      s"no features to $what")
    features.map(planOf(_, bucketUs)) ++
      graftFeatures.map(graftPlanOf(_, bucketUs))
  }

  /** The distinct stores of both surfaces — one delta shuffle and one
    * maintenance action per DISTINCT (defExpr, filter, kind), not per
    * feature.
    */
  private def storesOf(features: Seq[AnchorFeature],
      graftFeatures: Seq[GraftFeature], bucketUs: Long,
      what: String): Seq[Store] =
    plansOf(features, graftFeatures, bucketUs, what).map(_.store).distinct

  /** One call's store context: the feature-set root and the key frame
    * its stores hold. `unionCap` bounds UNION set state per (key,
    * bucket) ([[IncrementalUnion.Config.maxSetPerBucket]]).
    */
  private final case class Ctx(spark: SparkSession, root: String,
      keyCols: Seq[String], tsCol: String, bucketUs: Long,
      unionCap: Int = 10000) {
    def dir(s: Store): String = s"$root/${s.rel}"
  }

  private val MeasureCol = "__graft_m"

  /** A store kind's aggregate, with how the picks of one serve become
    * its finish argument: quantile stores serve all their `q`s at
    * once, top-k stores the largest `k`.
    */
  private final case class Bound[A](agg: BucketedState.Aggregate[A],
      arg: Seq[Pick] => A) {
    def serve(spark: SparkSession, dir: String, read: Read, w: Int,
        picks: Seq[Pick]): DataFrame =
      BucketedState.serve(spark, dir, agg, read, w, arg(picks))
  }

  /** The one store-kind dispatch: each of the six incremental stores,
    * named here and nowhere else in this file.
    */
  private def bound(c: Ctx, s: Store): Bound[_] = {
    val (ks, ts, b, m) = (c.keyCols, c.tsCol, c.bucketUs, MeasureCol)
    val none = (_: Seq[Pick]) => ()
    s.kind match {
      case Scalar =>
        Bound(IncrementalSwa.State(IncrementalSwa.Config(ks, ts, m, b)), none)
      case SetUnion => Bound(IncrementalUnion.State(
        IncrementalUnion.Config(ks, ts, m, b, c.unionCap)), none)
      case Vector => Bound(IncrementalVector.State(
        IncrementalVector.Config(ks, ts, m, b)), none)
      case Distinct(p) => Bound(IncrementalDistinct.State(
        IncrementalDistinct.Config(ks, ts, m, b, p)), none)
      case Histogram(lo, hi, bins) => Bound(IncrementalQuantile.State(
        IncrementalQuantile.Config(ks, ts, m, b, lo, hi, bins)),
        _.collect { case AtQuantile(q) => q }.distinct)
      case Candidates(cand) => Bound(IncrementalTopK.State(
        IncrementalTopK.Config(ks, ts, m, b, cand)),
        _.collect { case TopItems(k) => k }.max)
    }
  }

  /** The feature columns of one (store, window) serve: served-column
    * picks share one frame; each quantile feature is its `q` row of
    * the served cutoffs, each top-k feature its rank-ordered items.
    */
  private def pickColumns(base: DataFrame, joinCols: Seq[String],
      fs: Seq[Planned]): Seq[DataFrame] = {
    val keys = joinCols.map(col)
    val direct = fs.collect { case Planned(n, _, _, Served(c)) => col(c).as(n) }
    (if (direct.isEmpty) Nil else Seq(base.select(keys ++ direct: _*))) ++
      fs.collect {
        case Planned(n, _, _, AtQuantile(q)) =>
          base.where(col("q") === math.rint(q * 10000).toLong / 10000.0)
            .select(keys :+ col("cutoff").as(n): _*)
        case Planned(n, _, _, TopItems(k)) =>
          base.where(col("rank") <= k).groupBy(keys: _*)
            .agg(transform(
              array_sort(collect_list(struct(col("rank"), col("item")))),
              _.getField("item")).as(n))
      }
  }

  /** Assemble per-store served frames into the wide feature row in ONE
    * shuffle: each frame is null-padded to the full feature-column set
    * (typed from its owning frame's schema), unioned, and collapsed
    * with `first(_, ignoreNulls)` per feature — at most one frame
    * carries a non-null value per (spine, feature), so `first` is
    * deterministic. The previous spine + foldLeft of left joins paid
    * one shuffle PER STORE and needed a null-safe join to keep NULL-key
    * rows; groupBy treats a NULL key as a group natively (serve()'s own
    * semantics), and keys absent from a store's window simply keep that
    * store's nulls — the left-join feature-vector contract, at
    * store-count-invariant cost.
    */
  private def assembleWide(served: Seq[DataFrame],
      joinCols: Seq[String]): DataFrame = {
    if (served.sizeIs == 1) return served.head
    val featCols = served.flatMap(df =>
      df.schema.fields.filterNot(f => joinCols.contains(f.name))
        .map(f => (f.name, f.dataType)))
    val padded = served.map { df =>
      val have = df.columns.toSet
      df.select(joinCols.map(col) ++ featCols.map { case (n, t) =>
        if (have(n)) col(n) else lit(null).cast(t).as(n) }: _*)
    }
    val firsts = featCols.map { case (n, _) =>
      first(col(n), ignoreNulls = true).as(n) }
    padded.reduce(_ unionByName _)
      .groupBy(joinCols.map(col): _*)
      .agg(firsts.head, firsts.tail: _*)
  }

  // ------------------------------------------------------------------
  // Feature-set-level refresh commit marker. A refresh fans ONE delta
  // out to N independent stores (Par.run, each under its own lease) —
  // per-store ingests are version-idempotent, but nothing at the SET
  // level says "all N landed": a crash after store A ingested version
  // V but before store B did leaves mixed-version state that snapshot /
  // snapshotDaily / trainingSet would assemble into one wide row no
  // single-version state ever produced — silently. The reference's
  // materialization is one job per step (feathr-rs/src/materialization.rs:200-231),
  // atomic by construction; the O(delta) refactoring must not be weaker.
  //
  // Protocol: before fan-out the refresh writes `_refresh_pending_<V>`
  // at the set root, its CONTENT the root-relative store dirs the fan
  // covers; after every store lands, markers <= V are removed. Serves
  // intersect the pending dirs with the stores they are about to read
  // and refuse BY NAME any that lag the marker's version — a store at
  // or above V completed its ingest (data lands only after the
  // ingest's own meta/validation), so a crash between the last ingest
  // and the marker sweep self-heals at the next serve rather than
  // refusing forever. Repair is the refresh's own replay (idempotent
  // per store); markers are swept on completion.
  // ------------------------------------------------------------------

  private val PendingPrefix = "_refresh_pending_"

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record intent: refresh `version` is about to fan out to
    * `storeDirs` (root-relative). Overwrites its own marker — a
    * replayed refresh re-declares the same intent.
    */
  private def markPending(spark: SparkSession, root: String, version: Long,
      storeDirs: Seq[String]): Unit = {
    val f = fsOf(spark, root)
    f.mkdirs(new org.apache.hadoop.fs.Path(root))
    val out = f.create(
      new org.apache.hadoop.fs.Path(s"$root/$PendingPrefix$version"), true)
    try out.write(storeDirs.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Store `d` verifiably holds refresh version `v`: the version
    * partition is present, or a compaction fold at or above it folded
    * it in. NOTE a store whose max version merely EXCEEDS `v` does NOT
    * hold it — version holes are legal, so a later refresh landing v+1
    * on a store that missed v is still missing v's delta; treating
    * "max >= v" as healed would silently launder the tear away.
    */
  private def holdsVersion(spark: SparkSession, d: String,
      v: Long): Boolean = {
    val live = VersionLog.live(spark, d)
    live.versions.contains(v) || live.foldedThrough >= v
  }

  /** Sweep pending markers at or below `version` — but ONLY those
    * whose every covered store verifiably holds their version (the
    * refresh that just completed proves its own; an OLDER torn marker
    * must survive the sweep, or a later refresh would silently launder
    * the missing delta away).
    */
  private def clearPending(spark: SparkSession, root: String,
      version: Long): Unit = {
    val f = fsOf(spark, root)
    pending(spark, root).foreach { case (v, rel) =>
      if (v <= version &&
          rel.forall(r => holdsVersion(spark, s"$root/$r", v)))
        f.delete(new org.apache.hadoop.fs.Path(s"$root/$PendingPrefix$v"),
          false)
    }
  }

  /** Pending refreshes at `root`: (version, root-relative store dirs). */
  private def pending(spark: SparkSession,
      root: String): Seq[(Long, Seq[String])] = {
    val f = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(PendingPrefix))
      .map { s =>
        val in = f.open(s.getPath)
        val dirs = try new String(in.readAllBytes(), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        finally in.close()
        (s.getPath.getName.stripPrefix(PendingPrefix).toLong, dirs)
      }
  }

  /** The serve-side tear check: every store this serve reads that an
    * unfinished refresh covers must be AT OR ABOVE the refresh's
    * version, else the wide row would mix versions — refused by name.
    * `servedDirs` are ABSOLUTE store paths under `root`. An AS-OF read
    * at version `upTo` is untouched by a torn refresh ABOVE it (the
    * mixed versions are all excluded by the truncation), so only
    * markers at or below the boundary can refuse it.
    */
  private def requireRefreshComplete(spark: SparkSession, root: String,
      servedDirs: Seq[String], upTo: Long = Long.MaxValue): Unit =
    pending(spark, root).foreach { case (v, rel) =>
      val covered = rel.map(r => s"$root/$r").toSet
      val lagging = if (v > upTo) Nil
        else servedDirs.filter(covered).filterNot(holdsVersion(spark, _, v))
      require(lagging.isEmpty,
        s"refresh version $v of the feature set at $root started but " +
          s"did not complete: store(s) ${lagging.mkString(", ")} have " +
          "not ingested it — serving now would assemble a wide row " +
          "mixing feature versions. Replay the refresh at version " +
          s"$v (per-store ingest is idempotent) or wait for the " +
          "in-flight refresh to finish")
    }

  /** Maintenance guard: folding a store covered by a TORN refresh
    * rebases the very version the repair replay must re-ingest (the
    * fold raises foldedThrough past it, so the replay's ingest is then
    * refused as rebased history) — the tear would become permanent.
    * Refused by name; healed-but-unswept markers don't block.
    */
  private def requireNoTornForMaintenance(spark: SparkSession, root: String,
      dirs: Seq[String]): Unit =
    pending(spark, root).foreach { case (v, rel) =>
      val covered = rel.map(r => s"$root/$r").toSet
      val torn = rel.map(r => s"$root/$r")
        .exists(d => !holdsVersion(spark, d, v))
      val hit = dirs.filter(covered)
      require(!torn || hit.isEmpty,
        s"refresh version $v of the feature set at $root is torn " +
          s"(pending marker present, not every covered store holds it); " +
          s"compacting ${hit.mkString(", ")} would rebase version $v and " +
          "make the replay repair impossible — replay the refresh at " +
          s"version $v first")
    }

  /** Fold one delta into every store of the feature set — reference
    * features and `graftFeatures` alike — one delta shuffle per
    * DISTINCT store, not per feature. Same version/replay discipline
    * as [[IncrementalSwa.ingest]]; ONE commit marker covers the stores
    * of both surfaces. `unionCap` bounds UNION set state per (key,
    * bucket) ([[IncrementalUnion.Config.maxSetPerBucket]] — an
    * over-cap ingest fails by name, never truncates).
    */
  def refresh(delta: DataFrame, root: String, features: Seq[AnchorFeature],
      keyCols: Seq[String], tsCol: String, bucketUs: Long,
      version: Long, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Unit = {
    val c = Ctx(delta.sparkSession, root, keyCols, tsCol, bucketUs, unionCap)
    val stores = storesOf(features, graftFeatures, bucketUs, "refresh")
    // set-level commit intent BEFORE the fan-out (see the marker
    // protocol above): a crash mid-fan leaves the marker, and serves
    // refuse the torn subset by name until the refresh is replayed
    markPending(c.spark, root, version, stores.map(_.rel))
    // plans built sequentially, the independent per-store writes run
    // concurrently (separate dirs, separate leases) — wall ≈ the
    // slowest store instead of the sum (the Par lever, r14 verdict)
    Par.run(stores.map { s => () =>
      val filtered = s.filter.map(delta.where(_)).getOrElse(delta)
      val measured = filtered.withColumn(MeasureCol, expr(s.defExpr))
        .select((keyCols :+ tsCol :+ MeasureCol).map(col): _*)
      BucketedState.ingest(bound(c, s).agg, measured, c.dir(s), version)
    }: _*)
    clearPending(c.spark, root, version)
  }

  /** Feature names must be unique across the reference-enum, derived
    * and extension surfaces: the assembled frame (and a using-columns
    * training join, which dedups only keys) would otherwise carry two
    * columns of one name and fail far downstream (AMBIGUOUS_REFERENCE
    * / parquet write). Refused by name before any read.
    */
  private def requireUniqueNames(features: Seq[AnchorFeature],
      derived: Seq[DerivedFeature], graftFeatures: Seq[GraftFeature]): Unit = {
    val names = features.map(_.name) ++ derived.map(_.name) ++
      graftFeatures.map(_.name)
    val dupNames = names.diff(names.distinct).distinct
    require(dupNames.isEmpty,
      s"feature names ${dupNames.mkString(", ")} are declared more than " +
        "once across the reference-enum, derived and extension surfaces " +
        "— the feature frame would carry duplicate columns; rename one")
  }

  /** The one read path under every snapshot: one serve per distinct
    * (store, window) — quantile features sharing a store and window
    * ride ONE serve with all their `q`s, top-k features one serve at
    * the largest `k` — feature columns renamed to their DSL names.
    * Derived features evaluate over the reference features' wide row
    * BEFORE the extension columns merge in (the extension columns are
    * a separate namespace), so rows only extension stores hold keep
    * null derived columns.
    */
  private def assemble(c: Ctx, features: Seq[AnchorFeature],
      graftFeatures: Seq[GraftFeature], derived: Seq[DerivedFeature],
      read: Read): DataFrame = {
    require(features.nonEmpty || graftFeatures.nonEmpty,
      "no features to snapshot")
    requireUniqueNames(features, derived, graftFeatures)
    require(features.nonEmpty || derived.isEmpty,
      s"derived feature(s) ${derived.map(_.name)} need anchor features " +
        "to evaluate over — the extension columns are a separate " +
        "namespace; declare at least one anchor feature or drop the " +
        "derivations")
    val anchors = features.map(planOf(_, c.bucketUs))
    val grafts = graftFeatures.map(graftPlanOf(_, c.bucketUs))
    val (joinCols, upTo) = read match {
      case _: PerBucket => (c.keyCols :+ "bucket", Long.MaxValue)
      case AtVersion(_, v) => (c.keyCols, v)
      case _: AtBoundary => (c.keyCols, Long.MaxValue)
    }
    requireRefreshComplete(c.spark, c.root,
      (anchors ++ grafts).map(p => c.dir(p.store)).distinct, upTo)
    def served(ps: Seq[Planned]): Seq[DataFrame] =
      ps.groupBy(p => (p.store, p.window)).toSeq.flatMap { case ((s, w), fs) =>
        val base = bound(c, s).serve(c.spark, c.dir(s), read, w, fs.map(_.pick))
        pickColumns(base, joinCols, fs)
      }
    val anchorWide =
      if (anchors.isEmpty) Nil
      else Seq(applyDerived(assembleWide(served(anchors), joinCols),
        features, derived))
    assembleWide(anchorWide ++ served(grafts), joinCols)
  }

  /** The wide feature row per key as of bucket boundary `asOfUs`: one
    * serve per distinct (store, window), feature columns renamed to
    * their DSL names, assembled with bounded key-frame joins. Keys
    * with no qualifying rows in a feature's window carry null there
    * (the left-join feature-vector contract).
    *
    * `derived` features (J5, the reference's derivation DAG —
    * feathr-rs/src/feature.rs:319-328) are evaluated AFTER assembly as
    * `withColumn`s over the wide row in topological order — a derived
    * feature is a pure per-key function of its inputs, so the O(delta)
    * path maintains only anchor partials and pays nothing extra at
    * refresh time. Cross-key derivations (inputs bound under a
    * different key alias than the store's) are refused by name: the
    * incremental snapshot holds ONE key frame, so re-binding a feature
    * under a second key needs the batch join planner's alias joins.
    */
  def snapshot(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, asOfUs: Long,
      derived: Seq[DerivedFeature] = Nil,
      graftFeatures: Seq[GraftFeature] = Nil): DataFrame =
    assemble(Ctx(spark, root, keyCols, tsCol, bucketUs), features,
      graftFeatures, derived, AtBoundary(asOfUs))

  /** STATE time travel for the whole feature set: the wide feature row
    * exactly as refresh version `asOfVersion` served it at bucket
    * boundary `asOfUs` — every store truncated to partials of versions
    * <= `asOfVersion` ([[IncrementalSwa.serveAsOf]]'s contract per
    * kind, compaction-rebased versions refused by name). The
    * reproducibility surface a backfill audit reaches for: "what did
    * the features say after last Tuesday's refresh", answered from
    * retained state, never recomputed from raw events. Derived
    * features evaluate per row as in [[snapshot]]; the torn-refresh
    * check applies only to markers AT OR BELOW the version boundary
    * (a tear above it is excluded by the truncation itself).
    */
  def snapshotAsOf(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, asOfUs: Long, asOfVersion: Long,
      derived: Seq[DerivedFeature] = Nil,
      graftFeatures: Seq[GraftFeature] = Nil): DataFrame =
    assemble(Ctx(spark, root, keyCols, tsCol, bucketUs), features,
      graftFeatures, derived, AtVersion(asOfUs, asOfVersion))

  /** The feature TABLE over time for the whole feature set: one row
    * per key × bucket, every feature's window aggregate as served at
    * that bucket's boundary, derived features evaluated per row — the
    * keys×days table a training pipeline actually consumes, assembled
    * from ONE `serveDaily` state pass per distinct (store, window)
    * instead of N×features [[snapshot]] calls (axes 25/28: the per-day
    * serve loop is linear in days; the daily passes are flat). Keys
    * with no qualifying rows in a feature's window at a bucket carry
    * null there (the [[snapshot]] left-join contract, now per bucket).
    *
    * Buckets outside a feature's state range simply have no rows from
    * that store — the spine is the UNION of the stores' (key, bucket)
    * domains, so a feature set mixing windows stays assemblable.
    * Retention: each store excludes its horizon-incomplete rows by
    * default ([[IncrementalSwa.serveDaily]]'s erased ≠ empty posture);
    * `includeHorizonPartialRows` opts every store into left-edge
    * semantics at once.
    */
  def snapshotDaily(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, derived: Seq[DerivedFeature] = Nil,
      includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None,
      graftFeatures: Seq[GraftFeature] = Nil): DataFrame =
    assemble(Ctx(spark, root, keyCols, tsCol, bucketUs), features,
      graftFeatures, derived,
      PerBucket(includeHorizonPartialRows, throughBucket))

  /** The last bucket a training table must reach: the daily tables
    * end at the state's last event bucket by default, but observations
    * may arrive AFTER it (quiet days, late observation feeds) while
    * their windows still reach real state — every store's emitted
    * range extends to the latest observation's preceding bucket so
    * those rows get their genuine aggregates, not silent cold-start
    * nulls (one tiny driver read of the obs frame).
    */
  private def throughOf(observations: DataFrame, obsTsCol: String,
      bucketUs: Long): Option[Long] = {
    val obsHi = observations
      .agg(max(IncrementalSwa.bucketOf(col(obsTsCol), bucketUs))).head()
    if (obsHi.isNullAt(0)) None else Some(obsHi.getLong(0) - 1L)
  }

  /** The leak-free training table for the feature set: every
    * observation joined against the feature row of the PRECEDING
    * bucket — an observation at time t in bucket b sees aggregates
    * over events strictly before b's start (≤ t by construction), so
    * no feature ever contains the observation's own bucket. One
    * [[snapshotDaily]] pass serves every observation date; the
    * events/state are never rescanned per observation
    * (the store-level `q_training_set_state` contract, lifted to the
    * whole feature set). Observations whose preceding bucket has no
    * feature row keep nulls (left join — cold-start rows are the
    * trainer's decision, not silently dropped). The training spine is
    * the union of both surfaces' (key, bucket) domains, so an
    * observation keeps its extension columns even at buckets where no
    * reference feature has rows (and vice versa).
    */
  def trainingSet(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, observations: DataFrame, obsTsCol: String,
      derived: Seq[DerivedFeature] = Nil,
      graftFeatures: Seq[GraftFeature] = Nil): DataFrame = {
    val daily = snapshotDaily(spark, root, features, keyCols, tsCol,
        bucketUs, derived,
        throughBucket = throughOf(observations, obsTsCol, bucketUs),
        graftFeatures = graftFeatures)
      .withColumnRenamed("bucket", "__feature_bucket")
    val obs = observations.withColumn("__feature_bucket",
      IncrementalSwa.bucketOf(col(obsTsCol), bucketUs) - 1L)
    obs.join(daily, keyCols :+ "__feature_bucket", "left_outer")
      .drop("__feature_bucket")
  }

  /** Operational snapshot of every store in the feature set —
    * [[IncrementalSwa.describe]] per store, keyed by the features that
    * share it (the "is tonight's compaction needed / who holds the
    * lease / how much history is the horizon carrying" dashboard read;
    * all driver-side metadata, no Spark job).
    */
  def describe(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], bucketUs: Long,
      graftFeatures: Seq[GraftFeature] = Nil)
      : Seq[(Seq[String], IncrementalSwa.StoreInfo)] = {
    plansOf(features, graftFeatures, bucketUs, "describe")
      .groupBy(_.store).toSeq
      .map { case (s, fs) =>
        (fs.map(_.name), IncrementalSwa.describe(spark, s"$root/${s.rel}"))
      }
  }

  /** One maintenance action per distinct store of the feature set,
    * stores maintained concurrently (compact / retain / forget each
    * fold one dir under its own lease). `guardTorn` refuses folding a
    * store covered by a torn refresh ([[requireNoTornForMaintenance]]).
    */
  private def eachStore(c: Ctx, features: Seq[AnchorFeature],
      graftFeatures: Seq[GraftFeature], guardTorn: Boolean)(
      action: (String, BucketedState.Aggregate[_]) => Long): Unit = {
    val stores = storesOf(features, graftFeatures, c.bucketUs, "maintain")
    if (guardTorn)
      requireNoTornForMaintenance(c.spark, c.root, stores.map(c.dir))
    Par.run(stores.map(s => () => { action(c.dir(s), bound(c, s).agg); () }): _*)
  }

  /** Compact every store of the feature set — the nightly
    * maintenance action, one atomic generation fold per store. Pass
    * the SAME `unionCap` the set was refreshed with, or the UNION
    * folds are cap-checked against the wrong bound.
    */
  def compact(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Unit =
    eachStore(Ctx(spark, root, keyCols, tsCol, bucketUs, unionCap),
      features, graftFeatures, guardTorn = true)(
      BucketedState.compact(spark, _, _))

  /** Retention across every store: state bounded by the serving
    * horizon for the WHOLE feature set
    * ([[IncrementalSwa.compactRetaining]]'s contract per store —
    * serves below the horizon fail by name). Same `unionCap`
    * discipline as [[compact]].
    */
  def compactRetaining(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, minBucket: Long, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Unit =
    eachStore(Ctx(spark, root, keyCols, tsCol, bucketUs, unionCap),
      features, graftFeatures, guardTorn = true)(
      BucketedState.compactRetaining(spark, _, _, minBucket))

  /** GDPR erasure across every store: "delete these keys from every
    * feature" in one call — each store folds the keys' whole history
    * away atomically ([[IncrementalSwa.forgetKeys]]; the UNION store
    * skips its cap check here by design, so erasure is never blocked
    * by over-cap state). Erasure is NOT blocked by a torn refresh —
    * GDPR wins. Consequence, accepted and explicit: the erasure fold
    * raises foldedThrough past the torn version, so the stores then
    * COUNT as holding it (the tear is absorbed into the fold and the
    * replay repair is no longer possible) — an operator-initiated
    * destructive action, not a silent landing; re-ingest the missing
    * delta under a fresh version if it still matters.
    */
  def forgetKeys(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, keys: DataFrame,
      graftFeatures: Seq[GraftFeature] = Nil): Unit =
    eachStore(Ctx(spark, root, keyCols, tsCol, bucketUs, Int.MaxValue),
      features, graftFeatures, guardTorn = false)(
      BucketedState.forgetKeys(spark, _, _, keys))

  /** The nightly-maintenance decision rules [[maintain]] applies to
    * every store of a feature set — the runbook as one idempotent
    * call instead of N manual compact/gc/retention invocations:
    *
    *   - fold the version tail when the live generation holds MORE
    *     than `compactWhenVersionsExceed` version partitions (read
    *     amplification bound);
    *   - [[Publish.gc]] all but the newest `gcKeepGenerations`
    *     committed generations (the reader-lease window —
    *     Delta/Iceberg's vacuum contract);
    *   - when `retainFromBucket` is set and differs from the store's
    *     recorded horizon, run a retention compaction at it (an
    *     explicit horizon REPLACES the recorded one — the
    *     [[IncrementalSwa.compactRetaining]] contract).
    *
    * Idempotent by construction: a second run under the same policy
    * finds ≤ 1 version partition, the horizon already recorded, and
    * nothing to collect — no new generation is created.
    */
  case class MaintenancePolicy(compactWhenVersionsExceed: Int = 8,
      gcKeepGenerations: Int = 2, retainFromBucket: Option[Long] = None) {
    require(compactWhenVersionsExceed >= 1,
      s"compactWhenVersionsExceed must be >= 1: $compactWhenVersionsExceed")
    require(gcKeepGenerations >= 1,
      s"gcKeepGenerations must keep the live generation: $gcKeepGenerations")
  }

  /** What [[maintain]] did to one store — the runbook's audit line.
    * `blockedByTornRefresh` names the pending refresh version whose
    * tear made folding this store unsafe (folding would rebase the
    * torn version and make the replay repair impossible) — the policy
    * SKIPS the fold there, gc still runs, and the nightly cron keeps
    * going for the rest of the set.
    */
  case class MaintenanceAction(dir: String, features: Seq[String],
      compacted: Boolean, horizonSet: Option[Long],
      generationsCollected: Int,
      blockedByTornRefresh: Option[Long] = None)

  /** Stores covered by a TORN pending refresh → the torn version: the
    * set [[maintainOne]] must not fold ([[requireNoTornForMaintenance]]'s
    * rationale, as a skip-list for the policy runner).
    */
  private def tornCoveredDirs(spark: SparkSession,
      root: String): Map[String, Long] =
    pending(spark, root).flatMap { case (v, rel) =>
      val dirs = rel.map(r => s"$root/$r")
      if (dirs.exists(d => !holdsVersion(spark, d, v))) dirs.map(_ -> v)
      else Nil
    }.toMap

  /** The per-store policy step: read the live generation
    * (driver-side), decide, act under the store's own lease, gc. A
    * retention need subsumes the version-count fold (compactRetaining
    * IS a compaction).
    */
  private def maintainOne(spark: SparkSession, dir: String,
      featNames: Seq[String], policy: MaintenancePolicy,
      torn: Option[Long], agg: BucketedState.Aggregate[_]): MaintenanceAction = {
    val live = VersionLog.live(spark, dir)
    val hasState = live.versions.nonEmpty
    val needRetain = policy.retainFromBucket
      .filter(mb => hasState && !live.retainedFrom.contains(mb))
      .filter(_ => torn.isEmpty)
    val needCompact = torn.isEmpty &&
      live.versions.size > policy.compactWhenVersionsExceed
    needRetain match {
      case Some(mb) => BucketedState.compactRetaining(spark, dir, agg, mb)
      case None => if (needCompact) BucketedState.compact(spark, dir, agg)
    }
    // gc is fold-free (it drops SUPERSEDED generations; the live one —
    // where any torn version lives — is never collected), so it runs
    // even for skipped stores
    MaintenanceAction(dir, featNames,
      compacted = needRetain.isDefined || needCompact,
      horizonSet = needRetain,
      generationsCollected = Publish.gc(spark, dir, policy.gcKeepGenerations),
      blockedByTornRefresh = torn)
  }

  /** Apply `policy` to every store of the feature set — ONE
    * idempotent call per set per night ([[MaintenancePolicy]]),
    * stores maintained concurrently under their own leases. Returns
    * the per-store audit.
    */
  def maintain(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], keyCols: Seq[String], tsCol: String,
      bucketUs: Long, policy: MaintenancePolicy,
      unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Seq[MaintenanceAction] = {
    val c = Ctx(spark, root, keyCols, tsCol, bucketUs, unionCap)
    val torn = tornCoveredDirs(spark, root)
    val steps = plansOf(features, graftFeatures, bucketUs, "maintain")
      .groupBy(_.store).toSeq.map { case (s, fs) =>
        val dir = c.dir(s)
        () => maintainOne(spark, dir, fs.map(_.name), policy, torn.get(dir),
          bound(c, s).agg)
      }
    val out = new Array[MaintenanceAction](steps.size)
    Par.run(steps.zipWithIndex.map { case (f, i) =>
      () => { out(i) = f() }: Unit }: _*)
    out.toSeq
  }

  /** [[maintain]] across every binding of a multi-key feature set. */
  def maintainMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      policy: MaintenancePolicy, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Seq[MaintenanceAction] =
    byBinding(features, graftFeatures).toSeq.flatMap { case (b, (fs, gs)) =>
      maintain(spark, bindingRoot(root, b), fs, b.map(_._2), tsCol,
        bucketUs, policy, unionCap, gs)
    }

  /** A declared extension feature ([[graft.model.GraftAggregation]]):
    * the engine's own windowed-aggregation kinds, riding the same
    * measure surface (`defExpr` + optional pre-agg `filter`) and
    * whole-bucket window rule as the reference aggregations, passed to
    * every lifecycle call as its `graftFeatures`. `keys` (the
    * reference's `TypedKey` bindings) are consulted only by the Multi
    * surface — the single-binding calls take explicit `keyCols` and a
    * Multi call refuses a feature that declares no binding.
    */
  case class GraftFeature(name: String, defExpr: String,
      agg: GraftAggregation, window: java.time.Duration,
      filter: Option[String] = None,
      keys: Seq[graft.model.TypedKey] = Nil)

  // ------------------------------------------------------------------
  // Multi-binding feature sets (J4 on the O(delta) path): a project
  // mixing user-keyed and item-keyed features routes each key binding
  // to its own store root under `$root/k=<binding-id>` — one
  // incremental store still holds one key frame, the ROUTER holds
  // many. The reference's join contract is explicitly multi-query over
  // different keys (feathr-rs/src/project.rs:259-263,
  // feature_query.rs:5-10); the snapshot side assembles one wide frame
  // per binding, key columns exposed under their DSL aliases so a
  // FeatureQuery's key frame joins by name. Extension features route
  // by their declared `GraftFeature.keys` the same way; a binding both
  // surfaces use shares one root.
  // ------------------------------------------------------------------

  /** Binding identity: (alias, physical key column) pairs — two
    * features share a store root only when they agree on BOTH (same
    * alias over a different source column is a different frame).
    */
  private type Binding = Seq[(String, String)]

  private def bindingOf(f: AnchorFeature): Binding =
    f.keys.map(k => (k.alias, k.keyColumn))

  private def graftBindingOf(f: GraftFeature): Binding = {
    require(f.keys.nonEmpty,
      s"extension feature '${f.name}' declares no key binding — the " +
        "Multi surface routes stores by TypedKey binding; either set " +
        "GraftFeature.keys or use the single-binding calls with " +
        "explicit keyCols")
    f.keys.map(k => (k.alias, k.keyColumn))
  }

  /** Both surfaces grouped by key binding. Alias schemas must resolve
    * to ONE physical binding each, across BOTH surfaces — frames (and
    * the training join's observation columns) are addressed by alias,
    * so one alias over two physical columns would silently join the
    * wrong key space; refused by name.
    */
  private def byBinding(features: Seq[AnchorFeature],
      graftFeatures: Seq[GraftFeature])
      : Map[Binding, (Seq[AnchorFeature], Seq[GraftFeature])] = {
    require(features.nonEmpty || graftFeatures.nonEmpty,
      "no features in the feature set")
    val anchors = features.groupBy(bindingOf)
    val grafts = graftFeatures.groupBy(graftBindingOf)
    val bindings = (anchors.keySet ++ grafts.keySet).toSeq
    val collisions = bindings.groupBy(_.map(_._1)).filter(_._2.size > 1)
    require(collisions.isEmpty,
      collisions.map { case (alias, bs) =>
        s"key-alias schema $alias is bound to different physical " +
          s"columns ${bs.map(_.map(_._2))}"
      }.mkString("; ") +
        " — a feature set's alias schemas must be unambiguous (frames " +
        "are addressed by alias); re-alias one binding")
    bindings.map(b =>
      b -> ((anchors.getOrElse(b, Nil), grafts.getOrElse(b, Nil)))).toMap
  }

  private def bindingRoot(root: String, b: Binding): String =
    s"$root/k=" + md5Hex(b.map { case (a, c) => s"$a=$c" }.mkString("|"), 12)

  /** Absolute store dirs of every binding — the top-root marker's
    * coverage ([[refreshMulti]]) and the Multi serves' tear check.
    */
  private def multiDirs(root: String,
      groups: Map[Binding, (Seq[AnchorFeature], Seq[GraftFeature])],
      bucketUs: Long): Seq[String] =
    groups.toSeq.flatMap { case (b, (fs, gs)) =>
      storesOf(fs, gs, bucketUs, "route")
        .map(s => s"${bindingRoot(root, b)}/${s.rel}")
    }

  private def aliasKeys(frame: DataFrame, b: Binding): DataFrame =
    b.foldLeft(frame) { case (acc, (alias, phys)) =>
      if (alias != phys) acc.withColumnRenamed(phys, alias) else acc
    }

  /** [[refresh]] for a feature set spanning MULTIPLE key bindings: the
    * delta is folded once per binding group (each group pays its own
    * key shuffle — unavoidable, the groups aggregate over different
    * keys), with each feature's physical key columns taken from its
    * declared `TypedKey`s.
    */
  def refreshMulti(delta: DataFrame, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      version: Long, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Unit = {
    val groups = byBinding(features, graftFeatures)
    // a TOP-level marker covers tears ACROSS bindings (binding A's
    // nested refresh completed and cleared ITS marker, binding B's
    // never started) — the nested per-binding markers cover tears
    // within one binding's fan-out
    markPending(delta.sparkSession, root, version,
      multiDirs(root, groups, bucketUs).map(_.stripPrefix(s"$root/")))
    Par.run(groups.toSeq.map { case (b, (fs, gs)) => () =>
      refresh(delta, bindingRoot(root, b), fs, b.map(_._2), tsCol,
        bucketUs, version, unionCap, gs)
    }: _*)
    clearPending(delta.sparkSession, root, version)
  }

  /** Claim derived features per binding by transitive closure over
    * (group anchors ∪ already-claimed derived); a derived whose inputs
    * span bindings (or reference features outside the set) is refused
    * by name.
    */
  private def claimDerived(
      groups: Map[Binding, (Seq[AnchorFeature], Seq[GraftFeature])],
      derived: Seq[DerivedFeature]): Map[Binding, Seq[DerivedFeature]] = {
    val claims = groups.collect { case (b, (fs, _)) if fs.nonEmpty =>
      val names = scala.collection.mutable.Set(fs.map(_.name): _*)
      val claimed = scala.collection.mutable.ListBuffer.empty[DerivedFeature]
      var grew = true
      while (grew) {
        grew = false
        derived.filterNot(d => names.contains(d.name)).foreach { d =>
          if (d.inputs.forall(i => names.contains(i.featureName))) {
            names += d.name; claimed += d; grew = true
          }
        }
      }
      b -> claimed.toSeq
    }
    val unclaimed = derived.map(_.name)
      .diff(claims.values.flatten.map(_.name).toSeq)
    require(unclaimed.isEmpty,
      s"derived feature(s) $unclaimed draw inputs from more than one key " +
        "binding (or from features outside this set) — cross-binding " +
        "derivations combine different key spaces and need the batch " +
        "join planner (PointInTimeJoin with registerAlias)")
    claims
  }


  /** One wide feature frame PER binding, key columns renamed to their
    * DSL aliases (the FeatureQuery key-frame contract), derived
    * features routed to the binding whose anchors (transitively) feed
    * them. A derived whose inputs span bindings is refused by name —
    * combining frames of different key spaces is the batch join
    * planner's job. Returns alias-schema → frame.
    */
  def snapshotMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      asOfUs: Long, derived: Seq[DerivedFeature] = Nil,
      graftFeatures: Seq[GraftFeature] = Nil): Map[Seq[String], DataFrame] = {
    requireUniqueNames(features, derived, graftFeatures)
    val groups = byBinding(features, graftFeatures)
    requireRefreshComplete(spark, root, multiDirs(root, groups, bucketUs))
    val claims = claimDerived(groups, derived)
    groups.map { case (b, (fs, gs)) =>
      b.map(_._1) -> aliasKeys(snapshot(spark, bindingRoot(root, b), fs,
        b.map(_._2), tsCol, bucketUs, asOfUs, claims.getOrElse(b, Nil), gs), b)
    }
  }

  /** [[snapshotDaily]] per binding: alias-schema → keys×days frame,
    * derived features claimed exactly as [[snapshotMulti]].
    */
  def snapshotDailyMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      derived: Seq[DerivedFeature] = Nil,
      includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None,
      graftFeatures: Seq[GraftFeature] = Nil): Map[Seq[String], DataFrame] = {
    requireUniqueNames(features, derived, graftFeatures)
    val groups = byBinding(features, graftFeatures)
    requireRefreshComplete(spark, root, multiDirs(root, groups, bucketUs))
    val claims = claimDerived(groups, derived)
    groups.map { case (b, (fs, gs)) =>
      b.map(_._1) -> aliasKeys(snapshotDaily(spark, bindingRoot(root, b), fs,
        b.map(_._2), tsCol, bucketUs, claims.getOrElse(b, Nil),
        includeHorizonPartialRows, throughBucket, gs), b)
    }
  }

  /** The multi-key training table: every observation joined against
    * the PRECEDING bucket's feature row of EVERY binding — one row per
    * observation carrying user-keyed AND item-keyed features at once,
    * each binding's daily table joined by its alias columns (which the
    * observation frame must carry — the FeatureQuery key contract).
    * The leak-free guarantee is per binding: every feature aggregates
    * events strictly before the observation's day.
    */
  def trainingSetMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      observations: DataFrame, obsTsCol: String,
      derived: Seq[DerivedFeature] = Nil,
      graftFeatures: Seq[GraftFeature] = Nil): DataFrame = {
    requireUniqueNames(features, derived, graftFeatures)
    val groups = byBinding(features, graftFeatures)
    val claims = claimDerived(groups, derived)
    requireRefreshComplete(spark, root, multiDirs(root, groups, bucketUs))
    groups.keys.flatMap(_.map(_._1)).foreach { alias =>
      require(observations.columns.contains(alias),
        s"observations are missing key-alias column '$alias' — the " +
          "multi-key training join addresses each binding by its alias")
    }
    val through = throughOf(observations, obsTsCol, bucketUs)
    val obs = observations.withColumn("__feature_bucket",
      IncrementalSwa.bucketOf(col(obsTsCol), bucketUs) - 1L)
    groups.foldLeft(obs) { case (acc, (b, (fs, gs))) =>
      val daily = snapshotDaily(spark, bindingRoot(root, b), fs,
        b.map(_._2), tsCol, bucketUs, claims.getOrElse(b, Nil),
        throughBucket = through, graftFeatures = gs)
      acc.join(
        aliasKeys(daily, b).withColumnRenamed("bucket", "__feature_bucket"),
        b.map(_._1) :+ "__feature_bucket", "left_outer")
    }.drop("__feature_bucket")
  }

  /** [[compact]] across every binding's stores. */
  def compactMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      unionCap: Int = 10000, graftFeatures: Seq[GraftFeature] = Nil): Unit = {
    val groups = byBinding(features, graftFeatures)
    requireNoTornForMaintenance(spark, root, multiDirs(root, groups, bucketUs))
    Par.run(groups.toSeq.map { case (b, (fs, gs)) => () =>
      compact(spark, bindingRoot(root, b), fs, b.map(_._2), tsCol,
        bucketUs, unionCap, gs)
    }: _*)
  }

  /** [[compactRetaining]] across every binding's stores. */
  def compactRetainingMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      minBucket: Long, unionCap: Int = 10000,
      graftFeatures: Seq[GraftFeature] = Nil): Unit = {
    val groups = byBinding(features, graftFeatures)
    requireNoTornForMaintenance(spark, root, multiDirs(root, groups, bucketUs))
    Par.run(groups.toSeq.map { case (b, (fs, gs)) => () =>
      compactRetaining(spark, bindingRoot(root, b), fs, b.map(_._2), tsCol,
        bucketUs, minBucket, unionCap, gs)
    }: _*)
  }

  /** [[forgetKeys]] scoped to ONE binding (erasing a user means the
    * user-keyed stores; an item-keyed store has no row for that user).
    * `binding` is the alias schema; the keys frame's columns must be
    * the binding's physical key columns.
    */
  def forgetKeysMulti(spark: SparkSession, root: String,
      features: Seq[AnchorFeature], tsCol: String, bucketUs: Long,
      binding: Seq[String], keys: DataFrame,
      graftFeatures: Seq[GraftFeature] = Nil): Unit = {
    val groups = byBinding(features, graftFeatures)
    val matching = groups.filter { case (b, _) => b.map(_._1) == binding }
    require(matching.nonEmpty,
      s"no binding $binding among ${groups.keys.map(_.map(_._1)).toSeq}")
    matching.foreach { case (b, (fs, gs)) =>
      forgetKeys(spark, bindingRoot(root, b), fs, b.map(_._2), tsCol,
        bucketUs, keys, gs)
    }
  }

  /** Validate and evaluate the derived DAG over the assembled wide
    * row: every input must resolve to a materialized anchor feature or
    * another derived feature, under the SAME key binding; evaluation
    * order is topological with the same cycle refusal as
    * [[graft.project.FeatureProject.topoSortDerived]].
    */
  private def applyDerived(wide: DataFrame, features: Seq[AnchorFeature],
      derived: Seq[DerivedFeature]): DataFrame = {
    if (derived.isEmpty) return wide
    val storeBinding = features.map(_.keyAliases).distinct match {
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"anchor features span multiple key bindings $many — one " +
          "incremental store holds one key frame")
    }
    // names are unique across surfaces ([[requireUniqueNames]]), so a
    // derivation can neither repeat nor shadow a served column
    val anchorNames = features.map(_.name).toSet
    val byName = derived.map(d => d.name -> d).toMap
    derived.foreach { d =>
      d.inputs.foreach { in =>
        require(anchorNames.contains(in.featureName) ||
            byName.contains(in.featureName),
          s"derived '${d.name}': input '${in.featureName}' is not among " +
            "the materialized anchor features or other derived features " +
            "of this store")
        val bound = in.keys.map(_.alias)
        require(bound.isEmpty || bound == storeBinding,
          s"derived '${d.name}': input '${in.featureName}' is bound " +
            s"under key aliases $bound but this store's key frame is " +
            s"$storeBinding — cross-key derivations re-join a feature " +
            "under a second key and need the batch join planner " +
            "(PointInTimeJoin with registerAlias), not the incremental " +
            "snapshot")
      }
    }
    // topo order, cycle-refused — the FeatureProject.topoSortDerived
    // contract over this store's local DAG
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(n: String): Unit = byName.get(n).foreach { d =>
      if (!out.contains(n)) {
        require(!visiting.contains(n), s"cycle in derived-feature DAG at $n")
        visiting += n
        d.inputs.foreach(i => visit(i.featureName))
        visiting -= n
        out += n
      }
    }
    derived.foreach(d => visit(d.name))
    out.toSeq.map(byName).foldLeft(wide) { (df, d) =>
      val c = graft.functions.FeathrExpr.column(d.transformExpr)
      df.withColumn(d.name,
        if (d.featureType.valType == ValueType.UNSPECIFIED) c
        else c.cast(d.featureType.sparkType))
    }
  }
}
