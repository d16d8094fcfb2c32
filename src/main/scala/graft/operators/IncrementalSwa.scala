package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained sliding-window aggregate state — the
  * production shape of the M1 backfill loop. The step-loop
  * (feathr-rs/src/materialization.rs:200-231) recomputes each step's
  * features FROM RAW EVENTS; at 100 TB a nightly refresh cannot
  * re-shuffle the corpus, so this operator keeps per-(key, bucket)
  * ADDITIVE partial aggregates as a version-partitioned log and pays
  * only O(delta) per ingest:
  *
  *  - [[ingest]] folds ONE delta to (key, bucket) partials — sum on
  *    the exact integer cent grid, count, min, max — and appends them
  *    as `__v=<version>/`. Nothing but the delta is shuffled.
  *  - [[serve]] answers "window aggregates as of boundary T" by
  *    summing partials over the bucket range [T−W, T): SUM/COUNT add
  *    across versions, MIN/MAX fold, AVG = final sum/count. Because
  *    the state is additive, LATE-ARRIVING data needs no special
  *    path: ingest the correction delta as one more version and every
  *    subsequent serve is exact — no read-modify-write, no retraction.
  *  - [[serveAsOf]] truncates the read at a version: the feature-state
  *    time-travel primitive (rerunning backfill step N must see step
  *    N's state, the same contract as [[MergeLog.snapshotAsOf]]).
  *  - [[compact]] folds the version tail into a single partial per
  *    (key, bucket) in a NEW [[Publish]] generation and atomically
  *    flips the pointer. Additive state makes in-place compaction
  *    unsafe in a way latest-wins never is: writing a fold NEXT TO
  *    the versions it folds double-counts every row until the deletes
  *    finish, so the fold must become visible all-or-nothing — which
  *    is exactly the generation-pointer commit. A crash between fold
  *    and flip leaves the old generation live and correct.
  *
  * Serving is defined at bucket boundaries with window = k buckets
  * (the snapshot-generation contract, M2): features are exact with no
  * raw-event edge correction, which is what a daily/hourly
  * materialization serves anyway. Sub-bucket observation times belong
  * to the J3 join path, not the store.
  *
  * The lifecycle (version log, replay and fold rules, serves,
  * compactions) is [[BucketedState]]'s, shared with the sibling
  * stores, over [[VersionLog]]'s on-disk layout; [[versions]],
  * [[foldedThrough]], [[retainedFrom]] and [[describe]] read that
  * layout for any store dir. State rows are bounded by keys × live
  * buckets after [[compact]], not by event count.
  */
object IncrementalSwa {
  import BucketedState.{AtBoundary, AtVersion, PerBucket}
  val VCol: String = VersionLog.VCol
  val BCol = "__b"

  /** `bucketUs` is the maintenance grain (day/hour) in epoch-micros;
    * sums are maintained on the exact integer grid `round(value·100)`
    * so partial-order and engine differences cannot drift the result.
    */
  case class Config(keyCols: Seq[String], tsCol: String, valueCol: String,
      bucketUs: Long) {
    require(keyCols.nonEmpty, "at least one key column")
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
  }

  /** Operational snapshot of one incremental store — the dashboard /
    * runbook read (all driver-side metadata, NO Spark job): committed
    * [[Publish]] generations (old ones awaiting [[Publish.gc]]), the
    * live generation's version partitions, the compaction fold and
    * retention horizons, physical file count/bytes of the LIVE
    * generation, and the writer lease as it stands on disk (`owner` of
    * whatever lease FILE exists — possibly stale; `ageMs` against the
    * file's mtime is what [[WriterLease]]'s ttl reasoning reads).
    */
  case class StoreInfo(dir: String, committedGenerations: Seq[Long],
      liveGeneration: Option[Long], versions: Seq[Long],
      foldedThrough: Long, retainedFrom: Option[Long],
      liveFiles: Long, liveBytes: Long,
      leaseOwner: Option[String], leaseAgeMs: Option[Long])

  def describe(spark: SparkSession, dir: String): StoreInfo =
    VersionLog.describe(spark, dir)

  /** Versions present in the live generation, ascending; Nil for a
    * missing store (no side effects).
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    VersionLog.live(spark, dir).versions

  /** Highest version a [[compact]] has folded history through in the
    * live generation; -1 when never compacted (or no store yet).
    */
  def foldedThrough(spark: SparkSession, dir: String): Long =
    VersionLog.live(spark, dir).foldedThrough

  /** Epoch-micros timestamp → bucket index under `bucketUs`. ONE
    * definition shared by every incremental store and gate — the
    * floor-div (not truncating div: timestamps can predate the epoch)
    * must never diverge between writers.
    */
  def bucketOf(ts: Column, bucketUs: Long): Column = {
    val us = unix_micros(ts)
    ((us - pmod(us, lit(bucketUs))) / lit(bucketUs)).cast("long")
  }

  /** The oldest bucket the live generation still fully covers, if a
    * retention compaction ever trimmed history (None = everything ever
    * ingested is present).
    */
  def retainedFrom(spark: SparkSession, dir: String): Option[Long] =
    VersionLog.live(spark, dir).retainedFrom

  /** The scalar partials per (key, bucket): sum on the exact integer
    * cent grid, count, min, max and latest — each merged by its own
    * aggregation, so serves add SUM/COUNT, fold MIN/MAX/LATEST and
    * finish AVG = sum/count.
    */
  private[operators] final case class State(cfg: Config)
      extends BucketedState.Aggregate[Unit](cfg.keyCols, cfg.tsCol, cfg.bucketUs) {
    def inputCols: Seq[String] = Seq(cfg.valueCol)
    def partial(bucketed: DataFrame): DataFrame = {
      val v = col(cfg.valueCol)
      bucketed.groupBy((cfg.keyCols :+ BCol).map(col): _*).agg(
        sum(round(v * 100).cast("long")).as("psum_c"), count(v).as("pcnt"),
        min(v).as("pmin"), max(v).as("pmax"),
        // LATEST is semilattice-foldable: lexicographic max of
        // (event-time, value) — value as the deterministic tiebreak
        // (the union-sort rule) — merges across buckets, versions,
        // and compactions exactly like min/max
        max(struct(unix_micros(col(cfg.tsCol)).as("us"), v.as("v"))).as("plast"))
    }
    def merge: Seq[(String, Column => Column)] = Seq(("psum_c", sum(_)),
      ("pcnt", sum(_)), ("pmin", min(_)), ("pmax", max(_)), ("plast", max(_)))
    def daily: BucketedState.Daily = BucketedState.Rolling("pcnt")
    def finish(u: Unit): BucketedState.Finish = (m, keys) => {
      val fSum = col("psum_c") / 100.0
      m.select(keys.map(col) ++ Seq(fSum.as("f_sum"), col("pcnt").as("f_cnt"),
        (fSum / col("pcnt")).as("f_avg"), col("pmin").as("f_min"),
        col("pmax").as("f_max"), col("plast").getField("v").as("f_latest")): _*)
    }
  }

  /** Fold `delta` to per-(key, bucket) partials and append them as
    * `version`. Only the delta is shuffled; a replay of a live version
    * overwrites its own partition (idempotent); a version at or below
    * [[foldedThrough]] is refused — its history was rebased away.
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config, version: Long): Unit =
    BucketedState.ingest(State(cfg), delta, dir, version)

  /** Window aggregates as of bucket boundary `asOfUs` over the last
    * `windowBuckets` buckets: events with ts ∈ [asOf − W, asOf). Keys
    * with no events in the window are absent (the left join against a
    * spine is the caller's).
    */
  def serve(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int): DataFrame =
    BucketedState.serve(spark, dir, State(cfg), AtBoundary(asOfUs),
      windowBuckets, ())

  /** The daily feature TABLE in one pass: for every key × bucket in
    * the state's bucket range, the window aggregates over the
    * `windowBuckets` buckets ending AT that bucket (i.e. as served at
    * boundary (b+1)·bucketUs). A materialization that published 30
    * daily snapshots as 30 [[serve]] calls would scan the state 30
    * times; this is ONE merge of the partials, one spine join, and one
    * per-key rolling RANGE-frame window over the bucket GRID (rows =
    * keys × buckets — the size of the output itself, not of the event
    * history). Buckets whose window holds no events are omitted, same
    * as [[serve]]'s absent keys.
    *
    * Retention: after a [[compactRetaining]], buckets below the horizon
    * are ERASED, not empty — a row whose window reaches below it would
    * under-aggregate. Consistent with [[serve]]'s named refusal, such
    * rows are EXCLUDED by default (every emitted row is exact); pass
    * `includeHorizonPartialRows = true` to emit them anyway with
    * genuine-left-edge semantics (aggregating only retained buckets,
    * like the first `windowBuckets` days of any history) — training
    * over such a table must know its first days are partial.
    *
    * `throughBucket` extends the emitted range past the state's last
    * event bucket (to min(throughBucket, hiB + W − 1) — beyond that
    * every window is empty): the training-set join needs feature rows
    * at observation dates AFTER the last ingested event day, where the
    * window still reaches real state. Default keeps the publication
    * shape (rows end at the last day with data).
    */
  def serveDaily(spark: SparkSession, dir: String, cfg: Config,
      windowBuckets: Int, includeHorizonPartialRows: Boolean = false,
      throughBucket: Option[Long] = None): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      PerBucket(includeHorizonPartialRows, throughBucket), windowBuckets, ())

  /** [[serve]] as the state stood at `asOfVersion` — partials of later
    * versions excluded. Refuses versions the live generation's
    * compaction fold has rebased away.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config, asOfUs: Long,
      windowBuckets: Int, asOfVersion: Long): DataFrame =
    BucketedState.serve(spark, dir, State(cfg),
      AtVersion(asOfUs, asOfVersion), windowBuckets, ())

  /** Fold the live generation's version tail into one partial per
    * (key, bucket) and atomically flip the [[Publish]] pointer to it.
    * The fold keeps the highest version's number (ingests continue
    * above it) and records `_folded_through_<vmax>`; superseded
    * generations are reclaimed by [[Publish.gc]] under its reader
    * retention horizon. Returns the new generation number.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    BucketedState.compact(spark, dir, State(cfg))

  /** Retention compaction: [[compact]] dropping buckets below
    * `minBucket` — the knob that keeps state bounded by the serving
    * horizon FOREVER (keys × retained buckets), instead of growing
    * with corpus age. The horizon is recorded in the new generation
    * (and carried through later compactions); a serve whose window
    * reaches below it fails by name rather than silently
    * under-aggregating over erased buckets.
    */
  def compactRetaining(spark: SparkSession, dir: String, cfg: Config,
      minBucket: Long): Long =
    BucketedState.compactRetaining(spark, dir, State(cfg), minBucket)

  /** GDPR erasure for feature state: fold the live generation WITHOUT
    * `keys`' rows into a new generation — one linear pass, atomic
    * flip, nothing of the keys' history remains (additive partials
    * cannot retract selectively; erasing the key's rows entirely is
    * exactly what an erasure obligation wants). Serves return the
    * keys as absent thereafter; a later ingest may legally re-admit
    * them with fresh data.
    */
  def forgetKeys(spark: SparkSession, dir: String, cfg: Config,
      keys: DataFrame): Long =
    BucketedState.forgetKeys(spark, dir, State(cfg), keys)
}
