package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

/** Windowed per-key UNION (collect-set, A4) from incrementally-
  * maintained state. Set union is a SEMILATTICE (idempotent,
  * commutative, associative), so it folds across buckets, versions,
  * and compactions exactly like [[IncrementalSwa]]'s LATEST and
  * [[IncrementalDistinct]]'s HLL registers: the state holds one
  * distinct-item set per (key, time-bucket) and a serve merges the
  * window's sets — late data is one more version, replay overwrites
  * itself, no retraction path needed.
  *
  * The ONE hazard additive scalars don't have: set state per
  * (key, bucket) grows with the bucket's distinct-item count, so a
  * high-cardinality item column silently turns the "bounded state"
  * contract into an event-log copy. `maxSetPerBucket` therefore CAPS
  * the per-(key, bucket) set and an ingest/compact that exceeds it
  * FAILS BY NAME (the offending key in the message) rather than
  * truncating — a truncated union is a wrong feature, not a smaller
  * one. Size the cap to the feature's semantic cardinality (devices
  * per user per day, not tokens per document); uncapped-cardinality
  * unions belong to [[IncrementalDistinct]]'s fixed-size sketches.
  *
  * Serve shuffles bounded state (≤ windowBuckets × cap items per key);
  * the lifecycle is [[BucketedState]]'s.
  */
object IncrementalUnion {
  import IncrementalSwa.BCol
  import VersionLog.VCol
  import BucketedState.{AtBoundary, AtVersion, PerBucket}

  case class Config(keyCols: Seq[String], tsCol: String, itemCol: String,
      bucketUs: Long, maxSetPerBucket: Int = 10000) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    require(maxSetPerBucket > 0,
      s"maxSetPerBucket must be positive: $maxSetPerBucket")
  }

  /** One distinct-item set per (key, bucket), merged by distinct
    * union. Only this store pays for a cap check (ingest, compact and
    * retention — never erasure) and a staged ingest.
    */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Unit](cfg.keyCols, cfg.tsCol, cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.itemCol)
    def partial(bucketed: DataFrame): DataFrame =
      bucketed.groupBy((cfg.keyCols :+ BCol).map(col): _*)
        .agg(collect_set(col(cfg.itemCol)).as("pset"))
    def merge: Seq[(String, Column => Column)] =
      Seq(("pset", c => array_distinct(flatten(collect_list(c)))))
    def daily: BucketedState.Daily = BucketedState.Expand
    // collect_set order is partition-dependent: determinism needs the sort
    def finish(u: Unit): BucketedState.Finish = (m, keys) =>
      m.select(keys.map(col) :+ array_sort(col("pset")).as("f_union"): _*)

    /** Stage to [[stagingPath]], cap-check the staged files, and only
      * then swap into the version slot: writing straight to the slot
      * would let a failing REPLAY destroy the committed version it was
      * overwriting before the check had run. The staging dir sits beside
      * the generations, not in one, so no generation or `__v=` listing
      * sees it, and its name has no leading `_` or `.`, which Spark's
      * reader would take for a hidden path.
      */
    override def write(partials: DataFrame, dir: String, gen: String,
        version: Long): Unit = {
      val spark = partials.sparkSession
      val path = new Path(s"$gen/$VCol=$version")
      val staging = new Path(stagingPath(dir))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // sweep what a crashed ingest stranded (safe under the lease: no
      // other writer can have one in flight)
      fs.delete(staging, true)
      partials.write.parquet(staging.toString)
      capCheck(spark.read.parquet(staging.toString),
        s"ingest of version $version into $dir").foreach { msg =>
        fs.delete(staging, true)
        throw new IllegalStateException(msg)
      }
      fs.delete(path, true)
      fs.rename(staging, path)
    }

    /** Versions each under the cap can union past it: a fold is
      * re-checked BEFORE publishing, so the live generation stays.
      */
    override def checkFold(fold: DataFrame, where: String): DataFrame = {
      capCheck(fold, where).foreach(msg => throw new IllegalStateException(msg))
      fold
    }

    private def capCheck(sets: DataFrame, where: String): Option[String] = {
      val over = sets.where(size(col("pset")) > cfg.maxSetPerBucket)
        .select((cfg.keyCols.map(col) :+ col(BCol) :+
          size(col("pset")).as("__n")): _*)
        .limit(1).collect()
      over.headOption.map { r =>
        val key = cfg.keyCols.zipWithIndex
          .map { case (k, i) => s"$k=${r.get(i)}" }.mkString(", ")
        s"UNION state cap exceeded at $where: ($key) bucket " +
          s"${r.get(cfg.keyCols.size)} holds ${r.get(cfg.keyCols.size + 1)} " +
          s"distinct items > maxSetPerBucket=${cfg.maxSetPerBucket} — raise " +
          "the cap for a genuinely-bounded feature, or use " +
          "IncrementalDistinct's fixed-size sketch for unbounded cardinality"
      }
    }
  }

  /** Fold `delta` to per-(key, bucket) distinct-item sets and append
    * as `version`; same replay/fold discipline as
    * [[IncrementalSwa.ingest]]. An over-cap set deletes its own
    * partition and fails by name — the store is left as before the
    * ingest.
    *
    * Crash recovery: a crashed (or cap-failed-then-killed) ingest
    * leaves its staging dir ([[stagingPath]]) — invisible to reads, but
    * garbage — which the next leased ingest sweeps. The final
    * delete→rename swap of a REPLAY has a window where the committed
    * version partition is absent; recovery from a crash inside it is
    * the replay itself (the foreachBatch/idempotent-version contract:
    * whoever re-runs the version completes the swap), the same
    * assumption every replay-overwrites-itself store makes.
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Where an ingest stages its partials before the cap check. */
  private[graft] def stagingPath(dir: String): String = s"$dir/staging"

  /** Per-key distinct-item union over [asOf − W, asOf), as a SORTED
    * array (`f_union`) — collect_set order is partition-dependent, so
    * determinism requires the sort. Keys with no items in the window
    * are absent.
    */
  def serve(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, ())

  /** The daily feature TABLE for set state: for every key × bucket,
    * the distinct-item union over the `windowBuckets` buckets ending
    * AT that bucket. NO RANGE-frame shortcut exists for sets — union
    * has no inverse, so a rolling frame cannot subtract the bucket
    * leaving the window; instead each stored set contributes itself
    * to the `windowBuckets` output buckets its bucket feeds
    * ([[BucketedState.Expand]]) and one groupBy re-unions.
    * Honest cost: O(state sets × windowBuckets) intermediate rows —
    * state is bounded by keys × buckets × cap, and this is still far
    * below the N serve() scans (each a full state read) a per-day loop
    * pays. Rows whose window holds no sets are omitted; horizon rows
    * are excluded by default with the scalar store's opt-in
    * (`includeHorizonPartialRows`) for left-edge semantics.
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, ())

  /** [[serve]] as the state stood at `asOfVersion` — time travel with
    * [[IncrementalSwa.serveAsOf]]'s rebased-history refusal.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int, asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, ())

  /** Fold the version tail: distinct union per (key, bucket) in a new
    * [[Publish]] generation. The merged per-bucket set is re-checked
    * against the cap (versions each under it can union past it) and
    * the compact fails by name BEFORE publishing — the live
    * generation stays as it was.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction — [[IncrementalSwa.compactRetaining]]'s
    * contract for set state: buckets below `minBucket` are erased and
    * serves below the recorded horizon fail by name. The cap applies
    * to what is KEPT, not what is dropped.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure — [[IncrementalSwa.forgetKeys]]'s contract: the
    * keys' item sets are removed entirely in one atomic fold. NO cap
    * check here — erasure must never be blocked by unrelated over-cap
    * state (erasing the offender may be the remedy); the next
    * [[compact]] surfaces any violation among the survivors.
    */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
