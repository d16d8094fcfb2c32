package graft.operators

import graft.functions.{LongVectorSumAggregator, VectorAggregator}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Windowed per-key ELEMENTWISE_* vector aggregation (A5) from
  * incrementally-maintained state — "embedding centroid per key over
  * the last W days" without rescanning events. The partial per
  * (key, time-bucket) is O(dim) regardless of the bucket's row count:
  *
  *  - element-wise SUM is maintained on the exact integer 1e-4 grid
  *    (`round(v·10⁴)` longs, [[LongVectorSumAggregator]]): float
  *    vector sums are partial-aggregation-ORDER-dependent (the
  *    documented cross-engine hazard), integer sums are not — so
  *    sums, and the averages derived from them, are bit-reproducible
  *    across runs, partitionings, and engines;
  *  - element-wise MIN/MAX fold on the raw doubles — min/max are
  *    order-independent, so floats are safe there;
  *  - row count `pcnt` finishes AVG at serve (sum/count), the
  *    [[IncrementalSwa]] discipline.
  *
  * Mismatched vector lengths fail fast inside the aggregators rather
  * than truncating. The lifecycle is [[BucketedState]]'s.
  */
object IncrementalVector {
  import IncrementalSwa.BCol
  import BucketedState.{AtBoundary, AtVersion, PerBucket}

  /** Grid unit: one = 1e-4 of the value domain. */
  val Scale = 10000L

  case class Config(keyCols: Seq[String], tsCol: String, vecCol: String,
      bucketUs: Long) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
  }

  /** O(dim) partials per (key, bucket): grid sum, row count, raw
    * min/max. The daily table rolls them in ONE RANGE-frame window pass
    * (the four aggregates share a window spec, so Spark evaluates them
    * in a single WindowExec; the typed aggregators skip the spine's
    * null rows).
    */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Unit](cfg.keyCols, cfg.tsCol, cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.vecCol)
    def partial(bucketed: DataFrame): DataFrame = {
      val vec = col(cfg.vecCol)
      val dvec = vec.cast("array<double>")
      bucketed.groupBy((cfg.keyCols :+ BCol).map(col): _*).agg(
        LongVectorSumAggregator.longVecSum(
          transform(vec, x => round(x.cast("double") * Scale).cast("long")))
          .as("pesum"),
        count(vec).as("pcnt"),
        VectorAggregator("min", dvec).as("pemin"),
        VectorAggregator("max", dvec).as("pemax"))
    }
    def merge: Seq[(String, Column => Column)] = Seq(
      ("pesum", LongVectorSumAggregator.longVecSum(_)), ("pcnt", sum(_)),
      ("pemin", VectorAggregator("min", _)), ("pemax", VectorAggregator("max", _)))
    def daily: BucketedState.Daily = BucketedState.Rolling("pcnt")
    def finish(u: Unit): BucketedState.Finish = (m, keys) =>
      m.select(keys.map(col) ++ Seq(col("pesum").as("sum_grid"),
        col("pcnt").as("f_ecnt"), col("pemin").as("f_emin"),
        col("pemax").as("f_emax"),
        transform(col("pesum"), x => x.cast("double") / Scale).as("f_esum"),
        transform(col("pesum"), x => x.cast("double") / Scale / col("pcnt"))
          .as("f_eavg")): _*)
  }

  /** Fold `delta` to per-(key, bucket) O(dim) vector partials and
    * append as `version`.
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Element-wise window aggregates over [asOf − W, asOf): exact grid
    * sums (`sum_grid` longs plus `f_esum` = grid/10⁴ doubles),
    * `f_ecnt`, `f_eavg` (= sum/count, derived from the exact grid),
    * raw-double `f_emin`/`f_emax`. Keys with no vectors in the window
    * are absent.
    */
  def serve(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, ())

  /** The daily feature TABLE ([[IncrementalSwa.serveDaily]]'s contract
    * for vector state): for every key × bucket, the element-wise window
    * aggregates over the `windowBuckets` buckets ending AT that bucket,
    * from one per-key RANGE-frame pass — rows = keys × buckets, never
    * event count. Horizon rows are excluded by default
    * (erased ≠ empty); `includeHorizonPartialRows` opts into left-edge
    * semantics, both exactly as the scalar store.
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
        PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, ())
      // the daily table's own column order, unlike the boundary serve's
      .select((cfg.keyCols ++ Seq("bucket", "sum_grid", "f_esum", "f_ecnt",
        "f_eavg", "f_emin", "f_emax")).map(col): _*)

  /** [[serve]] as the state stood at `asOfVersion` — the time-travel
    * primitive, [[IncrementalSwa.serveAsOf]]'s contract: versions the
    * live generation's fold rebased away are refused by name.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int, asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, ())

  /** Fold the version tail per (key, bucket) in a new [[Publish]]
    * generation — exact long adds for sums/counts, min/max folds.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction — [[IncrementalSwa.compactRetaining]]'s
    * contract for vector state.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure — [[IncrementalSwa.forgetKeys]]'s contract. */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
