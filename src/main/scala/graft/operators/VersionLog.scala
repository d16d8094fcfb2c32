package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The on-disk layout of a versioned store, behind the one module that
  * reads and writes it ([[BucketedState]] and the index stores
  * [[IncrementalBm25]], [[IncrementalHamming]], [[IncrementalIvfPq]]).
  * A store dir holds [[Publish]] generations; the live `gen=<g>/` holds
  *
  *  - one `__v=<version>/` partition per ingest, read back as the `__v`
  *    column by partition discovery;
  *  - `_folded_through_<v>`: a compaction folded every version up to
  *    `v` into one partition, so those versions can be neither replayed
  *    (they would double-count) nor read as of (the fold no longer
  *    holds their state);
  *  - `_retained_from_<b>`: a retention compaction erased every bucket
  *    below `b`.
  *
  * One resolution per call: readers hold no lock, and a compaction may
  * publish a new generation at any moment. A call therefore resolves
  * the live generation once ([[live]]) and derives every check and
  * every state read from that one [[Live]] — a second resolution could
  * pass the old generation's fold or retention check and then silently
  * read the new generation.
  *
  * Meta before data: an append-only ingest ([[append]] with an
  * [[AppendOnlyMeta.Check]]) records its meta row BEFORE it writes the
  * version partition. A crash between the two leaves a benign hole —
  * the ids are reserved, nothing is served, and a replay fills it —
  * whereas data first would serve rows whose ids the meta never
  * recorded, so a later delta re-presenting them would pass the
  * monotone check and double-count. A write that fails without a crash
  * removes a FRESH record, so a corrected delta can claim the version;
  * a replay's record belongs to the earlier successful ingest and stays.
  */
private[operators] object VersionLog {
  val VCol = "__v"
  private val FoldPrefix = "_folded_through_"
  private val RetainPrefix = "_retained_from_"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One resolution of the store at `dir`: its committed generations,
    * the live generation's dir (None for a missing store), that
    * generation's versions (ascending), its compaction fold (-1 when
    * never folded) and its retention horizon.
    */
  final case class Live(dir: String, generations: Seq[Long],
      path: Option[String], versions: Seq[Long], foldedThrough: Long,
      retainedFrom: Option[Long]) {

    /** The live state with its `__v` column. A missing store fails by
      * name: reads never create stores.
      */
    def state(spark: SparkSession): DataFrame =
      spark.read.parquet(path.getOrElse(throw new IllegalArgumentException(
        s"no incremental state at $dir — ingest at least one delta first " +
          "(reads never create stores)")))

    /** The state as it stood at version `v`; a version the fold rebased
      * is refused by name.
      */
    def asOf(spark: SparkSession, v: Long): DataFrame = {
      require(foldedThrough < 0 || v >= foldedThrough,
        s"version $v predates the compaction fold ($foldedThrough) at " +
          s"$dir — that history was rebased; serving the fold instead " +
          "would be a reproducibility lie")
      state(spark).where(col(VCol) <= v)
    }
  }

  /** The live generation of the store at `dir`: one listing of the
    * store dir, one of the generation. No side effects on a missing
    * store.
    */
  def live(spark: SparkSession, dir: String): Live = {
    val f = fs(spark, dir)
    val generations = Publish.committed(spark, dir)
    val path = generations.lastOption.map(Publish.genPath(dir, _))
    val entries = path.map(new Path(_)).filter(f.exists).toSeq
      .flatMap(f.listStatus(_).toSeq)
    def marked(prefix: String) = entries.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.drop(prefix.length).toLong)
    Live(dir, generations, path,
      entries.filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith(s"$VCol=")).map(_.drop(VCol.length + 1).toLong)
        .sorted,
      marked(FoldPrefix).foldLeft(-1L)(math.max),
      marked(RetainPrefix).maxOption)
  }

  /** The dashboard read ([[IncrementalSwa.StoreInfo]]): the live
    * generation plus its file count and bytes and the lease on disk.
    */
  def describe(spark: SparkSession, dir: String): IncrementalSwa.StoreInfo = {
    val lv = live(spark, dir)
    val f = fs(spark, dir)
    val (files, bytes) = lv.path.map(new Path(_)).filter(f.exists)
      .map { p =>
        val cs = f.getContentSummary(p)
        (cs.getFileCount, cs.getLength)
      }.getOrElse((0L, 0L))
    IncrementalSwa.StoreInfo(dir, lv.generations,
      lv.generations.lastOption, lv.versions, lv.foldedThrough,
      lv.retainedFrom, files, bytes,
      WriterLease.readLease(spark, dir).map(_._1),
      WriterLease.leaseAgeMs(spark, dir))
  }

  /** Append `version` to the store at `dir` under its writer lease. In
    * order: the fold guard (a folded version is refused as rebased, so
    * a replay of one never reaches the meta guard's replay acceptance);
    * `check`'s append-only guard; `prepare` with the live generation
    * and the delta's bounds; the meta record; and the write `prepare`
    * returned, given the live generation dir (created for a new store),
    * with a fresh record removed if it fails.
    */
  def append[A](spark: SparkSession, dir: String, version: Long,
      check: Option[AppendOnlyMeta.Check] = None)(
      prepare: (Live, Option[AppendOnlyMeta.Bounds]) => String => A): A =
    WriterLease.locked(spark, dir) {
      val lv = live(spark, dir)
      require(version > lv.foldedThrough,
        s"version $version is at or below the compaction fold " +
          s"(${lv.foldedThrough}) at $dir — its history was rebased into " +
          "the fold and replaying it would double-count; re-ingest under a " +
          "fresh version only if the delta was never applied")
      val guarded = check.map(c => (c, c.guard(spark, version)))
      val write = prepare(lv, guarded.map { case (_, (b, _)) => b })
      guarded.foreach { case (c, (b, _)) =>
        AppendOnlyMeta.record(spark, c.dir, version, b) }
      try write(lv.path.getOrElse(Publish.genPath(dir,
        Publish.publish(spark, dir)(g => fs(spark, dir).mkdirs(new Path(g))))))
      catch { case t: Throwable =>
        guarded.foreach { case (c, (_, isReplay)) =>
          if (!isReplay) AppendOnlyMeta.unrecord(spark, c.dir, version) }
        throw t
      }
    }

  /** The one compaction choreography: under the writer lease, fold the
    * live state (its `__v` column dropped) through `mkFold`, write it as
    * the single `__v=<vmax>` of a NEW [[Publish]] generation with the
    * fold marker and the retention horizon, and atomically flip the
    * pointer. `mkFold` runs under the lease because a
    * `spark.read.parquet` pins its file listing at plan construction: a
    * fold planned before the lock would silently drop any version a
    * concurrent leased ingest lands in the gap. Returns the new
    * generation.
    */
  def compactFold(spark: SparkSession, dir: String,
      mkFold: DataFrame => DataFrame, sortCol: String,
      newRetainedFrom: Option[Long] = None,
      partitionCols: Seq[String] = Nil,
      install: String => Unit = _ => (),
      bumpVersion: Boolean = false): Long = WriterLease.locked(spark, dir) {
    val lv = live(spark, dir)
    val fold = mkFold(lv.state(spark).drop(VCol))
    require(lv.versions.nonEmpty, s"state at $dir is empty or missing — " +
      "ingest at least one delta before compacting")
    // a plain compact folds AS the max version (as-of that version is
    // still answerable — the fold holds exactly its state); a fold that
    // CHANGES how existing versions would be answered (the IvfPq
    // rebuild: same corpus, new quantizers) bumps to a fresh slot so
    // every prior version is refused as rebased, not silently answered
    // under semantics it never had
    val vmax = if (bumpVersion) lv.versions.max + 1 else lv.versions.max
    // the retention horizon SURVIVES later plain compactions: without
    // the carry, a plain compact after a retaining one would drop the
    // marker and a serve reaching below the horizon would silently
    // under-aggregate instead of failing by name. An EXPLICIT horizon
    // REPLACES the carried one (not max): compactRetaining is the
    // operator's assertion "state is complete from minBucket", which
    // is exactly how a re-ingested history becomes servable again —
    // lowering it without re-ingesting is the operator's own claim to
    // make, loudly, through the same call.
    val horizon = newRetainedFrom.orElse(lv.retainedFrom)
    Publish.publish(spark, dir) { gen =>
      val w = fold.sortWithinPartitions(sortCol)
        .write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$gen/$VCol=$vmax")
      val f = fs(spark, gen)
      f.create(new Path(s"$gen/$FoldPrefix$vmax"), false).close()
      horizon.foreach(h =>
        f.create(new Path(s"$gen/$RetainPrefix$h"), false).close())
      // store-specific sidecar install (e.g. IncrementalIvfPq's
      // per-generation quantizers) — INSIDE the publish callback, so
      // the sidecar flips atomically with the fold under one marker
      install(gen)
    }
  }

  /** The one-call maintenance step of the index stores (the
    * [[IncrementalMaterializer.maintain]] rules at single-store
    * granularity): fold the version tail when the live generation holds
    * more than `compactWhenVersionsExceed` partitions, then gc all but
    * the newest `gcKeepGenerations` committed generations. Idempotent —
    * a second run finds one version and nothing to collect. Returns
    * whether a fold ran.
    */
  def maintainStore(spark: SparkSession, dir: String,
      compactWhenVersionsExceed: Int, gcKeepGenerations: Int)(
      compactStore: () => Unit): Boolean = {
    require(compactWhenVersionsExceed >= 1,
      s"compactWhenVersionsExceed must be >= 1: $compactWhenVersionsExceed")
    // BOTH params validated before any action: a bad gc bound failing
    // only after the compaction fold would leave a half-applied call
    require(gcKeepGenerations >= 1,
      s"gcKeepGenerations must keep the live generation: $gcKeepGenerations")
    val folded = live(spark, dir).versions.size > compactWhenVersionsExceed
    if (folded) compactStore()
    Publish.gc(spark, dir, gcKeepGenerations)
    folded
  }
}
