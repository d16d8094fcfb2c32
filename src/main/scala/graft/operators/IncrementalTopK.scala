package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed per-key HEAVY HITTERS ("top devices/domains/terms per key
  * over the last W days") from incrementally-maintained state — the
  * last member of the aggregate menu exact top-k cannot join
  * incrementally (an item's full count needs every bucket's full
  * count, which is the corpus). The mergeable shape is candidate
  * truncation (the SpaceSaving trade): per (key, bucket) the state
  * keeps only the `candidatesPerBucket` most frequent items (count
  * desc, item asc — deterministic), with EXACT within-bucket counts;
  * serve sums candidate counts over the window and ranks. Served
  * counts are LOWER BOUNDS (an item's occurrences in buckets where it
  * ranked below the cut are lost), and an item is guaranteed into the
  * true top-k whenever its bound exceeds every rival's bound plus the
  * rivals' maximum possible loss — the standard candidate-union
  * guarantee, sharpened by raising `candidatesPerBucket`.
  *
  * Everything is deterministic given the rule, so the DuckDB oracle
  * restates it exactly (per-bucket rank cut → candidate sum → final
  * rank). Candidate truncation is per (version, bucket): late data
  * into an existing bucket contributes its own candidate set (a valid
  * union merge, still lower bounds); the gate feeds bucket-aligned
  * deltas where per-bucket counts are complete.
  *
  * The lifecycle is [[BucketedState]]'s. State rows: keys × live
  * buckets × candidatesPerBucket.
  */
object IncrementalTopK {
  import IncrementalSwa.BCol
  import BucketedState.{AtBoundary, AtVersion, PerBucket}

  case class Config(keyCols: Seq[String], tsCol: String, itemCol: String,
      bucketUs: Long, candidatesPerBucket: Int) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    require(candidatesPerBucket > 0,
      s"candidatesPerBucket must be positive: $candidatesPerBucket")
  }

  /** Candidate counts per (key, bucket, item), merged by sum — a fold
    * never re-truncates (information is never discarded by a fold).
    * Like the quantile histograms, candidates are sparse per (key, day,
    * item), so the daily table expands rather than rolls.
    */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Int](cfg.keyCols, cfg.tsCol, cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.itemCol)
    def partial(bucketed: DataFrame): DataFrame = {
      val counts = bucketed.where(col(cfg.itemCol).isNotNull)
        .groupBy((cfg.keyCols.map(col) :+ col(BCol) :+
          col(cfg.itemCol).as("item")): _*)
        .agg(count(lit(1)).as("n"))
      val cut = Window
        .partitionBy((cfg.keyCols :+ BCol).map(col): _*)
        .orderBy(col("n").desc, col("item").asc)
      counts.withColumn("__r", row_number().over(cut))
        .where(col("__r") <= cfg.candidatesPerBucket).drop("__r")
    }
    override def subKeys: Seq[String] = Seq("item")
    def merge: Seq[(String, Column => Column)] = Seq(("n", sum(_)))
    def daily: BucketedState.Daily = BucketedState.Expand
    def finish(k: Int): BucketedState.Finish = {
      require(k > 0, s"k must be positive: $k")
      (m, keys) => m.withColumnRenamed("n", "cnt")
        .withColumn("rank", row_number().over(Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col("cnt").desc, col("item").asc)))
        .where(col("rank") <= k)
    }
  }

  /** Fold `delta` to per-(key, bucket) candidate counts and append as
    * `version`; same replay/fold discipline as
    * [[IncrementalSwa.ingest]].
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Top `k` items per key over [asOf − W, asOf): candidate counts
    * sum per (key, item), then rank (count desc, item asc). Output:
    * key cols, item, cnt (the lower-bound count), rank.
    */
  def serveTopK(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int, k: Int): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, k)

  /** The daily top-k table in ONE state pass: per (key, bucket b),
    * [[serveTopK]]'s ranking over the `windowBuckets` buckets ending
    * AT b. Candidate counts are additive but sparse per (key, day,
    * item) — like the quantile histograms, a rolling frame would need
    * a dense keys × items × days spine, so each candidate row feeds
    * its window's output buckets by explode + sequence
    * (O(state rows × W), one state read — axis 28) and one groupBy
    * re-sums. Same deterministic rank rule (count desc, item asc) and
    * the same lower-bound caveat as the boundary serve;
    * horizon-incomplete rows excluded by default.
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, k: Int,
      includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, k)

  /** [[serveTopK]] as the state stood at `asOfVersion` — time travel
    * with [[IncrementalSwa.serveAsOf]]'s rebased-history refusal.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config,
      asOfUs: Long, windowBuckets: Int, k: Int,
      asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, k)

  /** Fold the version tail: candidate counts merge additively per
    * (key, bucket, item), no re-truncation (information is never
    * discarded by a fold) — [[IncrementalSwa.compact]]'s crash
    * posture.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction — [[IncrementalSwa.compactRetaining]]'s
    * contract for candidate state.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure — [[IncrementalSwa.forgetKeys]]'s contract. */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
