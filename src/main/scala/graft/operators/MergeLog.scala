package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

/** Version-partitioned upsert LOG — the LSM shape of [[Upsert]]:
  * [[Upsert.merge]] rewrites the whole base per delta (right for a
  * nightly rebase), while a high-frequency writer — a streaming
  * foreachBatch above all — must pay only O(delta) per append. Here
  * every delta lands as its own `__v=<version>/` parquet partition;
  * [[snapshot]] resolves latest-wins by key at READ time with one
  * window over (key, version desc); [[snapshotAsOf]] is the same read
  * truncated at a version — the time-travel primitive a reproducible
  * backfill loop needs (a rerun of step N must see step N's data, the
  * materialization step-loop contract, feathr-rs/src/materialization.rs:200-231);
  * [[compact]] folds the log back into a single base version when read
  * amplification grows.
  *
  * Idempotence falls out of the layout: a replayed append OVERWRITES
  * its own version partition (exactly the `__graft_batch_id` sink
  * discipline, Materializer.writeBatch), so at-least-once delivery
  * cannot double-apply a delta.
  *
  * Crash posture of [[compact]]: the fold is written to a NEW version
  * (`max+1`) with tombstone rows RETAINED, and only then are the
  * superseded partitions deleted. At every intermediate state the log
  * resolves each key identically — fold rows dominate at the top
  * version, and a surviving older live row cannot resurrect a deleted
  * key because its tombstone is still present in the fold. The cost is
  * one retained row per deleted key (they are filtered at read);
  * history below the fold is REBASED — [[snapshotAsOf]] refuses
  * versions older than the oldest surviving partition with a named
  * error rather than silently returning the fold. Both mutation paths
  * ([[append]], [[compact]]) run under the log dir's writer lease
  * ([[WriterLease.locked]]): a concurrent append during a compact would
  * collide with the fold's `max+1` slot, and two appends to one version
  * would interleave part files — use [[nextVersion]] to continue the
  * lineage. Callers holding a lease on a PARENT dir (the curation
  * lineage leases its root) nest fine — the log dir is its own lock
  * scope.
  */
object MergeLog {

  private val VCol = "__v"
  private val DeadCol = "__dead"
  private val AsidePrefix = "_aside_v"

  /** Append one delta as `version`. Keys must be unique WITHIN the
    * delta (checked, delta-sized) — cross-version conflicts are what
    * the log resolves; intra-version conflicts would make the winner
    * partition-order nondeterminism. `tombstoneCol` rows mark deletes.
    * The delta's columns (minus the tombstone marker) must match the
    * existing log's — a schema drift would otherwise surface as nulls
    * at read time, far from the writer that caused it.
    */
  def append(delta: DataFrame, dir: String, version: Long,
      keyCols: Seq[String], tombstoneCol: Option[String] = None): Unit =
    WriterLease.locked(delta.sparkSession, dir) {
      appendLocked(delta, dir, version, keyCols, tombstoneCol)
    }

  private def appendLocked(delta: DataFrame, dir: String, version: Long,
      keyCols: Seq[String], tombstoneCol: Option[String]): Unit = {
    require(keyCols.nonEmpty, "append needs key columns")
    // recover any swap a previous append crashed inside BEFORE anything
    // reads the version listing (the schema check below does)
    locally {
      val fs = new Path(dir).getFileSystem(
        delta.sparkSession.sparkContext.hadoopConfiguration)
      recoverAsides(fs, dir)
    }
    // __v and __dead are the log's own bookkeeping: a delta carrying
    // __v writes files that collide with partition discovery (failing
    // at READ time, far from this writer), and an undeclared __dead is
    // silently overwritten by the tombstone normalization below —
    // either way the caller meant something the log cannot honor
    require(!delta.columns.contains(VCol),
      s"delta for version $version carries reserved column $VCol — the " +
        "log derives the version from the partition path; rename or " +
        "drop the column before append")
    require(tombstoneCol.contains(DeadCol) ||
        !delta.columns.contains(DeadCol),
      s"delta for version $version carries reserved column $DeadCol " +
        s"without declaring it as the tombstone column — pass " +
        s"tombstoneCol=Some(\"$DeadCol\") or rename the column")
    val dead = tombstoneCol.map(c => coalesce(col(c), lit(false)))
      .getOrElse(lit(false))
    // a caller's tombstone column may itself be named __dead — the
    // withColumn then already holds the normalized marker and the
    // drop must not remove it
    val rows0 = delta.withColumn(DeadCol, dead)
    val rows = tombstoneCol.filter(_ != DeadCol)
      .map(rows0.drop(_)).getOrElse(rows0)
    val existing = versions(delta.sparkSession, dir)
      .filterNot(_ == version) // replays may legally overwrite themselves
    existing.headOption.foreach { v =>
      // names AND types: a same-named column of a drifted type passes a
      // name check but fails the cross-version union at READ time, far
      // from the writer
      def sig(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
      val logSig = sig(delta.sparkSession.read.parquet(s"$dir/$VCol=$v").schema)
      require(sig(rows.schema) == logSig,
        s"delta schema ${sig(rows.schema)} does not match merge log at " +
          s"$dir (version $v has $logSig); latest-wins over mismatched " +
          "columns would fail or coerce at read time, far from this writer")
    }
    // The delta is STAGED to a hidden dir, the duplicate-key check runs
    // over the staged FILES, and only then does the partition swap in.
    // Two things at once: the delta's (possibly expensive) plan is
    // computed exactly ONCE — a pre-write dup-check action would pay
    // the full pipeline a second time — and a dup-keyed REPLAY cannot
    // destroy the committed version it would have overwritten (the
    // IncrementalUnion pending-path discipline).
    val spark = delta.sparkSession
    val staged = s"$dir/_staged_v$version"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // sweep staging dirs stranded by crashed appends (single writer —
    // nothing else can have one in flight)
    if (fs.exists(new Path(dir)))
      fs.listStatus(new Path(dir)).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_staged_v"))
        .foreach(s => fs.delete(s.getPath, true))
    rows.write.mode("overwrite").parquet(staged)
    val dups = spark.read.schema(rows.schema).parquet(staged)
      .groupBy(keyCols.map(col): _*)
      .count().where(col("count") > 1).limit(1).collect()
    if (dups.nonEmpty) {
      fs.delete(new Path(staged), true)
      throw new IllegalArgumentException(
        s"delta for version $version has duplicate keys (e.g. ${dups.headOption})")
    }
    // the path carries the version (partition discovery reads it back
    // as the `__v` column) — the files must NOT also contain it.
    // A replay overwriting its committed partition swaps via RENAME-
    // ASIDE, never delete-then-rename: a crash between a delete and the
    // rename-in would leave the log serving latest-wins WITHOUT a
    // previously committed version — silently, since version holes are
    // legal — and the next append's staging sweep would then remove the
    // only surviving copy. With the aside, every crash point either
    // keeps the committed partition in place or leaves an aside that
    // [[recoverAsides]] renames back (and reads refuse by name until a
    // write recovers it).
    val committed = new Path(s"$dir/$VCol=$version")
    val aside = new Path(s"$dir/$AsidePrefix$version")
    if (fs.exists(committed))
      require(fs.rename(committed, aside),
        s"merge log append: rename-aside of committed version $version " +
          s"failed at $dir")
    require(fs.rename(new Path(staged), committed),
      s"merge log append: rename of staged version $version failed at $dir")
    fs.delete(aside, true)
  }

  /** Repair swaps interrupted by a crash: an `_aside_v<V>` dir whose
    * committed partition is MISSING is the committed data a crashed
    * replay renamed aside — rename it back; one whose partition exists
    * is a completed swap's leftover — delete it. Runs at the head of
    * every write path (append, compact), under the writer lease.
    */
  private def recoverAsides(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val p = new Path(dir)
    if (fs.exists(p))
      fs.listStatus(p).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(AsidePrefix))
        .foreach { s =>
          val v = s.getPath.getName.stripPrefix(AsidePrefix)
          val committed = new Path(s"$dir/$VCol=$v")
          if (fs.exists(committed)) fs.delete(s.getPath, true)
          else require(fs.rename(s.getPath, committed),
            s"merge log recovery: could not restore version $v at $dir " +
              s"from ${s.getPath}")
        }
  }

  /** Latest-wins view of the log: for each key, the row of the highest
    * version, minus tombstoned keys. One key-hash shuffle over the
    * LIVE log (base + deltas); `spark.read` prunes nothing here —
    * compact when the delta tail outgrows its usefulness.
    */
  def snapshot(spark: SparkSession, dir: String,
      keyCols: Seq[String]): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"merge log at $dir is empty or missing — " +
      "append at least one version before reading a snapshot")
    resolve(readVersions(spark, dir, vs), keyCols)
  }

  /** Time-travel read: the latest-wins view as it stood at
    * `asOfVersion` — resolved over the partitions with version <=
    * `asOfVersion` only, so replaying backfill step N sees exactly
    * step N's data no matter how many deltas landed since. Refuses,
    * with a named error, a version whose history a [[compact]] has
    * rebased away — silently answering from the fold would be a
    * reproducibility lie.
    */
  def snapshotAsOf(spark: SparkSession, dir: String, keyCols: Seq[String],
      asOfVersion: Long): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"merge log at $dir is empty or missing")
    require(asOfVersion >= vs.min,
      s"history before version ${vs.min} of the merge log at $dir has " +
        s"been rebased by compaction (or was never written); cannot " +
        s"time-travel to version $asOfVersion")
    resolve(readVersions(spark, dir, vs.filter(_ <= asOfVersion)), keyCols)
  }

  /** Changed keys between the [[snapshotAsOf]] views at `fromVersion`
    * and `toVersion`: `keyCols*, change` with change ∈ added | removed
    * | updated (unchanged keys are absent). The "what moved between
    * yesterday's corpus and today's" ops primitive — at 100 TB you
    * diff the log, not two materialized snapshots.
    *
    * One pass, one key shuffle, NO join: instead of resolving two
    * snapshots (two window shuffles) and full-outer-joining them, the
    * log ≤ `toVersion` is aggregated once per key with two conditional
    * `max_by`s — the winning row at `fromVersion` (ordinal nulled for
    * v > from, so max_by skips those) and at `toVersion`. Tombstones
    * ride inside the row struct: a key added-then-deleted inside the
    * window correctly reports nothing.
    */
  def diff(spark: SparkSession, dir: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long,
      changeCol: String = "change"): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff window is backwards: $fromVersion > $toVersion")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"diff: merge log at $dir is empty or missing")
    require(fromVersion >= vs.min,
      s"history before version ${vs.min} of the merge log at $dir has " +
        s"been rebased by compaction (or was never written); cannot " +
        s"diff from version $fromVersion")
    val log = readVersions(spark, dir, vs.filter(_ <= toVersion))
    val dataCols = log.columns.filterNot(c => keyCols.contains(c) || c == VCol)
    val rowS = struct(dataCols.map(col): _*) // __dead rides along
    val agg = log.groupBy(keyCols.map(col): _*).agg(
      max_by(rowS, when(col(VCol) <= fromVersion, col(VCol))).as("__from"),
      max_by(rowS, col(VCol)).as("__to"))
    val fromLive = col("__from").isNotNull && !col(s"__from.$DeadCol")
    val toLive = col("__to").isNotNull && !col(s"__to.$DeadCol")
    agg.withColumn(changeCol,
      when(!fromLive && toLive, "added")
        .when(fromLive && !toLive, "removed")
        .when(fromLive && toLive && col("__from") =!= col("__to"), "updated"))
      .where(col(changeCol).isNotNull)
      .select(keyCols.map(col) :+ col(changeCol): _*)
  }

  /** Fold the log into one base partition: the per-key latest rows
    * (tombstones INCLUDED — see the crash posture above) written as
    * version `max+1`, then the superseded partitions deleted. Read
    * amplification back to 1; history below the fold is rebased.
    */
  def compact(spark: SparkSession, dir: String, keyCols: Seq[String]): Unit =
    WriterLease.locked(spark, dir) {
      recoverAsides(new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration), dir)
      val vs = versions(spark, dir)
      require(vs.nonEmpty, s"compact: merge log at $dir is empty or missing")
      val vmax = vs.max
      writeFold(spark, dir, keyCols, vmax)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      vs.foreach(v => fs.delete(new Path(s"$dir/$VCol=$v"), true))
    }

  /** Phase 1 of [[compact]], package-visible so the crash-window spec
    * can stop between the fold write and the deletes: fold versions
    * <= `upTo` (tombstones retained) into partition `upTo + 1`. */
  private[graft] def writeFold(spark: SparkSession, dir: String,
      keyCols: Seq[String], upTo: Long): Unit = {
    val vs = versions(spark, dir).filter(_ <= upTo)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(VCol).desc)
    val fold = Spill.roundTrip(
      readVersions(spark, dir, vs)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rn", VCol))
    fold.write.mode("overwrite").parquet(s"$dir/$VCol=${upTo + 1}")
  }

  /** The [[snapshot]] schema WITHOUT building (or analyzing) the
    * resolution plan: every version shares one schema ([[append]]
    * enforces it), so the latest partition's parquet footer minus the
    * tombstone marker IS the snapshot schema. Callers that only need
    * the shape (e.g. typed-null tombstone construction) skip the
    * all-versions footer scan plus window-plan analysis a
    * `snapshot(...).schema` pays.
    */
  def snapshotSchema(spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"merge log at $dir is empty or missing")
    org.apache.spark.sql.types.StructType(
      spark.read.parquet(s"$dir/$VCol=${vs.max}").schema
        .filterNot(_.name == DeadCol))
  }

  /** The next free version slot — continue the lineage after a
    * [[compact]] (which consumes `max+1` for its fold). */
  def nextVersion(spark: SparkSession, dir: String): Long =
    versions(spark, dir) match {
      case Nil => 0L
      case vs => vs.max + 1
    }

  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val names = fs.listStatus(p).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
      val present = names.filter(_.startsWith(s"$VCol="))
        .map(_.stripPrefix(s"$VCol=").toLong)
      // an aside whose committed partition is missing is a swap a
      // crashed replay left half-done: the log would resolve WITHOUT a
      // previously committed version — refuse by name rather than serve
      // it silently. (A reader racing a LIVE replay's swap can hit this
      // transiently — retry; any append or compact repairs a crashed one.)
      val orphaned = names.filter(_.startsWith(AsidePrefix))
        .map(_.stripPrefix(AsidePrefix).toLong)
        .filterNot(present.contains)
      require(orphaned.isEmpty,
        s"merge log at $dir has interrupted append swaps for versions " +
          s"${orphaned.sorted.mkString(", ")} — a crashed replay renamed " +
          "the committed partition aside without completing; any append " +
          "or compact on this log recovers it first (a reader racing a " +
          "live append may see this transiently — retry)")
      present
    }
  }

  private def resolve(log: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(VCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !col(DeadCol))
      .drop("__rn", VCol, DeadCol)
  }

  private def readVersions(spark: SparkSession, dir: String,
      vs: Seq[Long]): DataFrame =
    spark.read.option("basePath", dir).parquet(
      vs.map(v => s"$dir/$VCol=$v"): _*)
}
