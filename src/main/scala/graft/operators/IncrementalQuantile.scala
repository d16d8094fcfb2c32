package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed per-key QUANTILES from incrementally-maintained state —
  * the percentile features (p50/p95 of a value over the last W days
  * per key) that SUM/MIN/MAX cannot express. Exact quantiles are not
  * mergeable, but BINNED histograms are: the state holds one row per
  * (key, bucket, bin) with a count — additive across versions exactly
  * like [[IncrementalSwa]]'s partials (the lifecycle is
  * [[BucketedState]]'s), and a serve sums bin counts over the bucket
  * range and applies the integer cumulative-cutoff rule on the fixed
  * grid ([[Sketches.histogramQuantiles]]'s rule, per key). Precision
  * is the grid width (hi−lo)/nBins — the deterministic trade every
  * cross-engine-reproducible quantile makes; out-of-range values
  * clamp into the edge bins.
  *
  * State size: keys × live buckets × bins-hit (sparse — only bins a
  * bucket's values actually land in). Serve shuffles the bounded
  * state, never events.
  */
object IncrementalQuantile {
  import IncrementalSwa.BCol
  import BucketedState.{AtBoundary, AtVersion, PerBucket}

  case class Config(keyCols: Seq[String], tsCol: String, valueCol: String,
      bucketUs: Long, lo: Double, hi: Double, nBins: Int) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    require(nBins > 0 && hi > lo, s"bad histogram grid: [$lo,$hi) x $nBins")
  }

  /** Bin counts per (key, bucket, bin), merged by sum. The daily table
    * expands rather than rolls: the partials are sparse per (key, day,
    * bin), and a RANGE frame would need a dense keys × bins × days
    * spine.
    */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Seq[Double]](cfg.keyCols, cfg.tsCol,
        cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.valueCol)
    def partial(bucketed: DataFrame): DataFrame = {
      val v = col(cfg.valueCol)
      val bin = least(greatest(
        floor((v - lit(cfg.lo)) * cfg.nBins / lit(cfg.hi - cfg.lo)), lit(0.0)),
        lit((cfg.nBins - 1).toDouble)).cast("long")
      bucketed.where(v.isNotNull)
        .groupBy((cfg.keyCols.map(col) :+ col(BCol) :+ bin.as("bin")): _*)
        .agg(count(lit(1)).as("n"))
    }
    override def subKeys: Seq[String] = Seq("bin")
    def merge: Seq[(String, Column => Column)] = Seq(("n", sum(_)))
    def daily: BucketedState.Daily = BucketedState.Expand

    def finish(qs: Seq[Double]): BucketedState.Finish = {
      require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad qs: $qs")
      (m, keys) => {
        val perKey = Window.partitionBy(keys.map(col): _*)
        val cum = m
          .withColumn("cum", sum(col("n")).over(perKey.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total", sum(col("n")).over(perKey))
        // the quantile rides as its exact permyriad LONG — `cum·10⁴ ≥
        // q10k·total` is all-integer, so a mathematically exact tie
        // (cum·10⁴ = q10k·total) can never be lost to a float ulp the
        // way `q * 10000 * total` in doubles loses it (e.g.
        // 0.035·10⁴·400 = 70000.00000000001)
        val qdf = m.sparkSession.createDataFrame(
          qs.map(q => (math.rint(q * 10000).toLong / 10000.0,
            math.rint(q * 10000).toLong))).toDF("q", "__q10k")
        cum.crossJoin(broadcast(qdf))
          .where(col("cum") * 10000 >= col("__q10k") * col("total"))
          .groupBy((keys :+ "q").map(col): _*)
          .agg(min(col("bin")).as("bin"), min(col("total")).as("n_total"))
          .withColumn("cutoff", lit(cfg.lo) +
            col("bin") * lit(cfg.hi - cfg.lo) / lit(cfg.nBins.toDouble))
          .select((keys.map(col) ++
            Seq(col("q"), col("bin"), col("cutoff"), col("n_total"))): _*)
      }
    }
  }

  /** Fold `delta` to (key, bucket, bin) counts and append as
    * `version`; the same replay/fold discipline as
    * [[IncrementalSwa.ingest]].
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Per-key quantile cutoffs over the window [asOf − W, asOf): one
    * (key, bin) merge of the state, one per-key cumulative window over
    * ≤ nBins rows, the integer cross-multiply cutoff (no float
    * comparisons on the decision path). Output: key cols, q, bin,
    * cutoff (bin left edge mapped back to value space), n_total.
    */
  def serveQuantiles(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int, qs: Seq[Double]): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, qs)

  /** The daily quantile table in ONE state pass: per (key, bucket b),
    * [[serveQuantiles]]'s cutoffs over the `windowBuckets` buckets
    * ending AT b. Bin counts ARE additive, but the partials are sparse
    * per (key, day, bin) — a rolling RANGE frame would need a dense
    * keys × bins × days spine, so the explode + sequence expansion
    * (O(state rows × W), one state read — axis 28) wins whenever the
    * histograms are sparse, which bounded-cardinality value columns
    * always are. Same integer cross-multiply decision rule as the
    * boundary serve; horizon-incomplete rows excluded by default.
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, qs: Seq[Double],
      includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, qs)

  /** [[serveQuantiles]] as the state stood at `asOfVersion` — time
    * travel with [[IncrementalSwa.serveAsOf]]'s rebased-history
    * refusal.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int, qs: Seq[Double],
      asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, qs)

  /** Fold the version tail into one row per (key, bucket, bin) in a
    * new [[Publish]] generation — same crash posture as
    * [[IncrementalSwa.compact]].
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction — [[IncrementalSwa.compactRetaining]]'s
    * contract for histogram state.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure — [[IncrementalSwa.forgetKeys]]'s contract. */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
