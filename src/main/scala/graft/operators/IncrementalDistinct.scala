package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Windowed per-key DISTINCT COUNTS from incrementally-maintained
  * state — "distinct devices/sessions/terms per key over the last W
  * days", the feature exact COUNT(DISTINCT) cannot provide
  * incrementally (it doesn't merge) and [[IncrementalSwa]]'s additive
  * partials cannot either. HLL registers CAN: the state holds
  * [[Sketches.hllRegisters]] rows per (key, time-bucket) — a pure
  * function of each bucket's distinct set on the cross-engine md5
  * grid — and registers merge by MAX exactly like
  * [[IncrementalSwa]]'s LATEST partial (union semantics without
  * rescanning). The lifecycle is [[BucketedState]]'s.
  *
  * Serve = max-merge the window's registers per key, then
  * [[Sketches.hllStats]]'s exact-integer sufficient statistics
  * (est_raw is single IEEE ops over exact integers — cross-engine
  * bit-identical, hash-compared in the gate).
  *
  * State size: keys × live buckets × min(2^p, bucket's distinct
  * items) rows. Serve shuffles the bounded state, never events.
  */
object IncrementalDistinct {
  import IncrementalSwa.BCol
  import BucketedState.{AtBoundary, AtVersion, PerBucket}

  case class Config(keyCols: Seq[String], tsCol: String, itemCol: String,
      bucketUs: Long, p: Int = 12) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    require(p >= 4 && p <= 16, s"hll precision out of range: $p")
  }

  /** HLL registers per (key, bucket, register `bucket`), merged by max. */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Unit](cfg.keyCols, cfg.tsCol, cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.itemCol)
    def partial(bucketed: DataFrame): DataFrame =
      Sketches.hllRegisters(bucketed, col(cfg.itemCol), cfg.p,
        cfg.keyCols :+ BCol)
    override def subKeys: Seq[String] = Seq("bucket")
    def merge: Seq[(String, Column => Column)] = Seq(("rho", max(_)))
    def daily: BucketedState.Daily = BucketedState.Expand
    def finish(u: Unit): BucketedState.Finish =
      (m, keys) => Sketches.hllStats(m, cfg.p, keys)
  }

  /** Fold `delta` to per-(key, bucket) HLL registers and append as
    * `version`; same replay/fold discipline as
    * [[IncrementalSwa.ingest]].
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Per-key distinct-count statistics over [asOf − W, asOf): one
    * max-merge of the window's registers, then the exact-integer HLL
    * statistics per key.
    */
  def serveDistinct(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, ())

  /** The daily distinct-count table in ONE state pass: per (key,
    * bucket b), [[serveDistinct]]'s statistics over the `windowBuckets`
    * buckets ending AT b. Register max has no inverse (a rolling frame
    * cannot subtract the leaving bucket's registers), so each register
    * row feeds its window's output buckets by explode + sequence and
    * one groupBy re-maxes — honest O(state rows × W) intermediate, but
    * still one state read vs N per-day [[serveDistinct]] scans (axis
    * 28's read-amplification claim). Horizon-incomplete rows are
    * excluded by default ([[IncrementalSwa.serveDaily]]'s erased ≠
    * empty posture); `includeHorizonPartialRows` opts into left-edge
    * semantics.
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, ())

  /** [[serveDistinct]] as the state stood at `asOfVersion` — time
    * travel with [[IncrementalSwa.serveAsOf]]'s rebased-history
    * refusal.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int, asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, ())

  /** Fold the version tail: max(rho) per (key, bucket, register) in a
    * new [[Publish]] generation — [[IncrementalSwa.compact]]'s crash
    * posture.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction — [[IncrementalSwa.compactRetaining]]'s
    * contract for register state.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure — [[IncrementalSwa.forgetKeys]]'s contract. */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
