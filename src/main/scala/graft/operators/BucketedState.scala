package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one lifecycle of the bucketed incremental stores
  * ([[IncrementalSwa]], [[IncrementalUnion]], [[IncrementalVector]],
  * [[IncrementalDistinct]], [[IncrementalQuantile]],
  * [[IncrementalTopK]]) over [[VersionLog]]'s versioned layout. A
  * store supplies only its [[Aggregate]]; this kernel writes every
  * step once:
  *
  *  - state is a version log of per-(key, time-bucket) partials: each
  *    [[ingest]] shuffles only its delta and appends it as one version
  *    ([[VersionLog.append]]: writer lease, fold guard), sorted by
  *    `__b` so a serve's `[lo, hi)` bucket filter prunes parquet row
  *    groups. A replay of a live version overwrites itself.
  *  - [[serve]] answers one [[Read]] from one resolution of the live
  *    generation: the window `[asOf − W, asOf)` at a bucket boundary,
  *    the same truncated at a version ([[VersionLog.Live.asOf]]), or
  *    the one-pass daily table. The partials are merged with the
  *    aggregate's merge aggregations — the same ones the fold uses —
  *    and finished into served columns. A window reaching below a
  *    retention horizon is refused: those buckets are erased, not
  *    empty.
  *  - [[compact]], [[compactRetaining]] and [[forgetKeys]] re-fold the
  *    version tail into one partial per (key, bucket) in a new
  *    generation ([[VersionLog.compactFold]]'s atomic flip): whole,
  *    trimmed at a horizon, or without the erased keys.
  */
private[operators] object BucketedState {
  import IncrementalSwa.BCol
  import VersionLog.{Live, VCol}

  /** Which served view of a store a read takes. */
  sealed trait Read
  final case class AtBoundary(asOfUs: Long) extends Read
  final case class AtVersion(asOfUs: Long, version: Long) extends Read
  final case class PerBucket(includeHorizonPartialRows: Boolean,
      throughBucket: Option[Long]) extends Read

  /** How the daily table windows the per-bucket state. */
  sealed trait Daily
  /** The merge aggregations as one per-key RANGE frame over a key ×
    * bucket spine (rows = keys × buckets, the size of the output); a
    * bucket whose merged `countCol` is null has an empty window.
    */
  final case class Rolling(countCol: String) extends Daily
  /** Each state row re-addressed to every output bucket it feeds
    * ([[expandToWindows]]) and merged once more — for
    * state sparse below the bucket, where a dense spine would be
    * keys × sub-keys × buckets.
    */
  case object Expand extends Daily

  /** Merged state and its grouping columns → the served columns. */
  type Finish = (DataFrame, Seq[String]) => DataFrame

  /** What one store keeps: its partial, how partials merge, and how
    * merged state is served. `A` is the serve-time argument of the
    * finish (Quantile's `qs`, TopK's `k`; Unit elsewhere).
    */
  abstract class Aggregate[A](val keyCols: Seq[String], val tsCol: String,
      val bucketUs: Long) {
    /** Delta columns the partial reads, besides keys and timestamp. */
    def inputCols: Seq[String]
    /** The per-(key, `__b`) partials of a delta carrying `__b`. */
    def partial(bucketed: DataFrame): DataFrame
    /** State columns below the bucket that partials are keyed by. */
    def subKeys: Seq[String] = Nil
    /** Each state column with the aggregation that merges it. */
    def merge: Seq[(String, Column => Column)]
    def daily: Daily
    /** The served columns for `arg`, validated before any read. */
    def finish(arg: A): Finish
    /** Lands sorted partials as `version` of live generation `gen`. */
    def write(partials: DataFrame, dir: String, gen: String,
        version: Long): Unit =
      partials.write.mode("overwrite").parquet(s"$gen/$VCol=$version")
    /** A fold about to be published (`where` names the call): passed
      * through, or refused by name.
      */
    def checkFold(fold: DataFrame, where: String): DataFrame = fold
  }

  def ingest(agg: Aggregate[_], delta: DataFrame, dir: String,
      version: Long): Unit = {
    val spark = delta.sparkSession
    val missing = ((agg.keyCols :+ agg.tsCol) ++ agg.inputCols)
      .filterNot(delta.columns.contains)
    require(missing.isEmpty, s"delta is missing columns $missing")
    VersionLog.append(spark, dir, version) { (_, _) =>
      val partials = agg.partial(delta.withColumn(BCol,
        IncrementalSwa.bucketOf(col(agg.tsCol), agg.bucketUs)))
      agg.write(partials.sortWithinPartitions(BCol), dir, _, version)
    }
  }

  def serve[A](spark: SparkSession, dir: String, agg: Aggregate[A],
      read: Read, windowBuckets: Int, arg: A): DataFrame = {
    val finish = agg.finish(arg)
    require(windowBuckets > 0, s"windowBuckets must be positive: $windowBuckets")
    val live = VersionLog.live(spark, dir)
    read match {
      case PerBucket(partial, through) =>
        perBucket(spark, live, agg, windowBuckets, partial, through, finish)
      case AtBoundary(asOfUs) =>
        boundary(live, agg, asOfUs, windowBuckets, finish)(live.state(spark))
      case AtVersion(asOfUs, v) =>
        // a rebased version is refused before any window check
        val state = live.asOf(spark, v)
        boundary(live, agg, asOfUs, windowBuckets, finish)(state)
    }
  }

  /** The boundary serve: partials of buckets `[asOf − W, asOf)` of
    * `state`, merged per key.
    */
  private def boundary(live: Live, agg: Aggregate[_], asOfUs: Long,
      windowBuckets: Int, finish: Finish)(state: => DataFrame): DataFrame = {
    require(asOfUs % agg.bucketUs == 0,
      s"asOf $asOfUs is not aligned to the ${agg.bucketUs}µs bucket grid — " +
        "the store serves snapshot boundaries; sub-bucket observation " +
        "times belong to the windowed join (J3)")
    val hiB = asOfUs / agg.bucketUs
    requireWithinRetention(live, hiB - windowBuckets)
    val inWindow = state
      .where(col(BCol) >= hiB - windowBuckets && col(BCol) < hiB)
    finish(merged(inWindow, agg, agg.keyCols), agg.keyCols)
  }

  /** The daily table in one state pass: per key × bucket `b`, the
    * boundary serve at `(b + 1)·bucketUs` ([[IncrementalSwa.serveDaily]]'s
    * contract).
    */
  private def perBucket(spark: SparkSession, live: Live, agg: Aggregate[_],
      windowBuckets: Int, includeHorizonPartialRows: Boolean,
      throughBucket: Option[Long], finish: Finish): DataFrame = {
    // the first output bucket whose window is COMPLETE over retained
    // state: erased ≠ empty, unless the caller opted into left-edge
    // semantics
    val completeFrom = live.retainedFrom
      .filterNot(_ => includeHorizonPartialRows)
      .map(_ + windowBuckets - 1L).getOrElse(Long.MinValue)
    def range(st: DataFrame, bounds: Column*) = {
      val r = st.agg(bounds.head, bounds.tail: _*).head()
      require(!r.isNullAt(0), s"state at ${live.dir} holds no partials")
      (0 until r.size).map(r.getLong)
    }
    agg.daily match {
      case Rolling(countCol) =>
        val keys = agg.keyCols
        val state = fold(live.state(spark), agg)
        // one two-long collect: the global bucket range (the spine)
        val Seq(loB, hiB) = range(state, min(col(BCol)), max(col(BCol)))
        val capB = dailyCap(hiB, windowBuckets, throughBucket)
        val spine = state.select(keys.map(col): _*).distinct()
          .withColumn(BCol, explode(sequence(lit(loB), lit(capB))))
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(BCol))
          .rangeBetween(-(windowBuckets - 1L), 0L)
        // horizon rows are dropped AFTER the window: the range frame at
        // the first complete bucket still needs the buckets before it
        val rolled = nullSafeLeftJoin(spine, state, keys :+ BCol)
          .select((keys :+ BCol).map(col) ++ agg.merge.map { case (c, f) =>
            f(col(c)).over(w).as(c) }: _*)
          .where(col(countCol).isNotNull && col(BCol) >= completeFrom)
          .withColumnRenamed(BCol, "bucket")
        finish(rolled, keys :+ "bucket")
      case Expand =>
        val st = live.state(spark)
        val Seq(hiB) = range(st, max(col(BCol)))
        val capB = dailyCap(hiB, windowBuckets, throughBucket)
        val dayKeys = agg.keyCols :+ "__day"
        val expanded = expandToWindows(st, windowBuckets, capB)
          .where(col("__day") >= completeFrom)
        finish(merged(expanded, agg, dayKeys), dayKeys)
          .withColumnRenamed("__day", "bucket")
    }
  }

  /** Each state row re-addressed to every output bucket its time
    * bucket feeds (`__day` ∈ [bucket, min(bucket + W − 1, hiB)]) — the
    * daily-table expansion of the stores whose window aggregate has NO
    * inverse (set union, register max, candidate counts): a rolling
    * frame cannot subtract the leaving bucket, so the one-pass daily
    * table pays O(state rows × W) intermediate rows instead — still ONE
    * state read vs the per-day serve loop's N (axis 28).
    */
  private def expandToWindows(st: DataFrame, windowBuckets: Int,
      hiB: Long): DataFrame =
    st.withColumn("__day", explode(sequence(col(BCol),
      least(col(BCol) + (windowBuckets - 1L), lit(hiB)))))

  /** The last output bucket a daily table emits: the state's last
    * event bucket by default (the publication shape), extendable by
    * the training-set join to min(throughBucket, hiB + W − 1) — past
    * that every window is empty, so emitting further is pure spine.
    */
  private def dailyCap(hiB: Long, windowBuckets: Int,
      throughBucket: Option[Long]): Long =
    throughBucket.map(t => math.min(math.max(t, hiB), hiB + windowBuckets - 1L))
      .getOrElse(hiB)

  def compact(spark: SparkSession, dir: String, agg: Aggregate[_]): Long =
    refold(spark, dir, agg, Some(s"compaction of $dir"))(identity)

  def compactRetaining(spark: SparkSession, dir: String, agg: Aggregate[_],
      minBucket: Long): Long =
    refold(spark, dir, agg, Some(s"retention compaction of $dir"),
      newRetainedFrom = Some(minBucket))(_.where(col(BCol) >= minBucket))

  def forgetKeys(spark: SparkSession, dir: String, agg: Aggregate[_],
      keys: DataFrame): Long =
    refold(spark, dir, agg, None)(_.join(keys, agg.keyCols, "left_anti"))

  /** The fold every maintenance call publishes: `trim` applies BEFORE
    * the aggregate's fold check, so retention and erasure are never
    * refused because of rows they delete, and erasure (no `checkAt`)
    * is never blocked by the state it may be repairing.
    */
  private def refold(spark: SparkSession, dir: String, agg: Aggregate[_],
      checkAt: Option[String], newRetainedFrom: Option[Long] = None)(
      trim: DataFrame => DataFrame): Long =
    VersionLog.compactFold(spark, dir, state => {
      val trimmed = trim(fold(state, agg))
      checkAt.fold(trimmed)(agg.checkFold(trimmed, _))
    }, sortCol = BCol, newRetainedFrom = newRetainedFrom)

  private def fold(state: DataFrame, agg: Aggregate[_]): DataFrame =
    merged(state, agg, agg.keyCols :+ BCol)

  /** `state` grouped by `by` and the sub-keys, every state column
    * merged under its own name.
    */
  private def merged(state: DataFrame, agg: Aggregate[_],
      by: Seq[String]): DataFrame = {
    val aggs = agg.merge.map { case (c, f) => f(col(c)).as(c) }
    state.groupBy((by ++ agg.subKeys).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A window reaching below the retention horizon would silently
    * under-aggregate (the buckets are GONE, not empty): refused.
    */
  private def requireWithinRetention(live: Live, loB: Long): Unit =
    live.retainedFrom.foreach(h =>
      require(loB >= h,
        s"window reaches bucket $loB but the state at ${live.dir} was " +
          s"retention-compacted from bucket $h — buckets below the " +
          "horizon are erased, not empty; serve a window within the " +
          "retained range, or re-ingest the history and re-run " +
          "compactRetaining with the lower horizon (an explicit " +
          "horizon replaces the recorded one)"))

  /** Left join `right` onto `left` with NULL-SAFE key equality — the
    * daily spine join. The boundary serve's groupBy keeps a NULL key as
    * a group; an EqualTo spine join would silently drop exactly that
    * row from the daily table.
    */
  private def nullSafeLeftJoin(left: DataFrame, right: DataFrame,
      joinCols: Seq[String]): DataFrame = {
    val l = left.alias("__l")
    val r = right.alias("__r")
    val cond = joinCols.map(k => col(s"__l.$k") <=> col(s"__r.$k"))
      .reduce(_ && _)
    val rightCols = right.columns.filterNot(joinCols.contains)
    l.join(r, cond, "left_outer")
      .select(joinCols.map(k => col(s"__l.$k").as(k)) ++
        rightCols.map(c => col(s"__r.$c").as(c)): _*)
  }
}
