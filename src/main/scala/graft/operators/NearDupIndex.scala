package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-duplicate index — the steady-state form of
  * [[Dedup.nearDuplicatesAgainst]] (which recomputes the reference's
  * signatures on every call): the reference corpus's LSH band rows and
  * exact-verification shingle sets are pure functions of (text, LSH
  * config), so they are computed ONCE and stored; each delta batch
  * then pays only its own (small) side. The admission loop is
  * `query(delta)` → drop matched → `append(admitted)`.
  *
  * Layout under `path`:
  *  - `bands/`    — `(band_id, band_hash, id)`, the candidate-join
  *    structure (bucket-capped at build, the degenerate-boilerplate
  *    defense);
  *  - `shingles/` — `(id, sh array<bigint>)`, the exact-jaccard
  *    verification sets (rolling k-gram hashes — same family as the
  *    batch operator, [[Dedup.shingleHashSet]]);
  *  - `config/`   — one row pinning (numHashes, bands, shingleSize,
  *    hash_family): a delta hashed under a different config would
  *    silently match nothing, so `query`/`append` read it back, hash
  *    the delta under the STORED config, and REFUSE a store written
  *    under a different hash family (rebuild instead).
  *
  * Query plan shape: the reference bands STREAM from disk while the
  * delta's band rows are spill-measured and broadcast (gated on exact
  * bytes) — the big side never shuffles; above the gate the join falls
  * back to a shuffle, still linear. Verification fetches only
  * candidate ids' shingle rows from the store.
  */
object NearDupIndex {

  private val B = "bands"
  private val S = "shingles"
  private val C = "config"

  /** Persisted hash-family version: one k-gram hash, one family. The
    * shingle sets are k-gram hash VALUES on disk
    * ([[Dedup.shingleHashSet]]) and the band rows are bands of the one
    * MinHash signature ([[graft.functions.MinHashSig]]), whose families
    * fold those same k-gram hashes. A store written under one family
    * intersected or band-joined with a delta hashed under another
    * matches (almost) nothing — every duplicate silently admitted. So
    * the family is pinned in `config/` alongside the LSH parameters,
    * and `query`/`append` refuse a store written under a different one
    * (rebuild the index instead). Bump this whenever the k-gram hash
    * or the signature's families change. `kgram_fnv_v1` stores carry
    * the same shingle sets but bands of the unreduced `h1 + k·h2`
    * families.
    */
  private val HashFamily = "kgram_fnv_v2"

  def build(reference: DataFrame, path: String,
      textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 16, shingleSize: Int = 5): Unit = {
    val spark = reference.sparkSession
    import spark.implicits._
    Seq((numHashes, bands, shingleSize, HashFamily))
      .toDF("num_hashes", "bands", "shingle_size", "hash_family")
      .write.mode("overwrite").parquet(s"$path/$C")
    // a same-path rebuild may change the id type — drop cached schemas
    schemaCache.remove(s"$path/$B")
    schemaCache.remove(s"$path/$S")
    // independent dirs, independent plans: concurrent (wall = max)
    Par.run(
      () => Dedup.capBuckets(
        Dedup.minhashBands(reference, textCol, idCol, numHashes, bands, shingleSize),
        Seq("band_id", "band_hash"), idCol)
        .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
        .write.mode("overwrite").parquet(s"$path/$B"),
      () => shingleStore(reference, textCol, idCol, shingleSize)
        .write.mode("overwrite").parquet(s"$path/$S"))
  }

  /** Index additional (already-admitted) documents. Appended band rows
    * are NOT re-capped against existing buckets — re-capping would
    * need a full-bucket recount; rebuild when append volume since the
    * last build rivals the base (the [[IvfIndex.append]] guidance).
    */
  def append(delta: DataFrame, path: String,
      textCol: String, idCol: String): Unit = {
    val (numHashes, bands, shingleSize) = readConfig(delta.sparkSession, path)
    Dedup.minhashBands(delta, textCol, idCol, numHashes, bands, shingleSize)
      .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
      .write.mode("append").parquet(s"$path/$B")
    shingleStore(delta, textCol, idCol, shingleSize)
      .write.mode("append").parquet(s"$path/$S")
  }

  /** Near-dup pairs `(id_delta, id_ref, jaccard)` between a delta
    * batch and the indexed reference — same contract as
    * [[Dedup.nearDuplicatesAgainst]], reference side read from the
    * store.
    */
  def query(spark: SparkSession, path: String, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    val (numHashes, bands, shingleSize) = readConfig(spark, path)
    val (dBands, dBandBytes) = Spill.roundTripSized(
      Dedup.minhashBands(delta, textCol, idCol, numHashes, bands, shingleSize)
        .select(col("band_id"), col("band_hash"), col(idCol).as("id_delta")))
    val bcLimit = Spill.broadcastLimit(spark)
    def maybeBc(small: DataFrame): DataFrame =
      if (dBandBytes <= bcLimit) broadcast(small) else small
    val rBands = readStore(spark, s"$path/$B")
    // ids are unique by contract, so an id-EQUAL collision means the
    // same document re-presented (an at-least-once replay after its
    // rows were appended) — matching it against itself would drop
    // every replayed doc, turning an idempotent batch rewrite into
    // silent data loss
    val (cands, candBytes) = Spill.roundTripSized(
      rBands.join(maybeBc(dBands), Seq("band_id", "band_hash"))
        .where(col("id_delta") =!= col("id"))
        .select(col("id_delta"), col("id").as("id_ref")).distinct())
    def bcCand(small: DataFrame): DataFrame =
      if (candBytes <= bcLimit) broadcast(small) else small
    // delta shingles recomputed (small side); reference shingles
    // fetched from the store, candidate ids only
    val dSh = shingleStore(
      delta.join(bcCand(cands.select(col("id_delta").as(idCol)).distinct()),
        Seq(idCol), "left_semi"), textCol, idCol, shingleSize)
      .select(col("id").as("id_delta"), col("sh").as("sh_d"))
    val rSh = readStore(spark, s"$path/$S")
      .join(bcCand(cands.select(col("id_ref").as("id")).distinct()),
        Seq("id"), "left_semi")
      .select(col("id").as("id_ref"), col("sh").as("sh_r"))
    bcCand(cands)
      .join(dSh, "id_delta")
      .join(rSh, "id_ref")
      .withColumn("jaccard", jaccard(col("sh_d"), col("sh_r")))
      .where(col("jaccard") >= threshold)
      .select("id_delta", "id_ref", "jaccard")
  }

  /** Ordered self-dedup losers over the index's OWN store: every id
    * with a >= `threshold` match to a SMALLER indexed id. Candidates
    * come from the persisted (already bucket-capped) band rows and
    * verification sets from the persisted shingle store, so the
    * build's signature and shingle passes are REUSED — the previous
    * bootstrap composition ([[build]] then
    * [[Dedup.dropNearDuplicatesOrdered]]) paid the full-corpus
    * signature scan twice. Same loser set as the recomputing operator
    * over the same corpus and config (the spec pins equality).
    */
  def orderedLosers(spark: SparkSession, path: String,
      threshold: Double): DataFrame = {
    readConfig(spark, path) // validates the hash family
    // one Spark action ([[decideAdmission]]'s budget discipline): the
    // candidate pairs and verification sets are persisted — computed
    // once inside the loser materialization, shared across the legs —
    // with join strategies left to AQE's runtime shuffle statistics
    val cands = Dedup.candidatePairs(
      readStore(spark, s"$path/$B"), Seq("band_id", "band_hash"), "id")
      .persist()
    val candIds = cands.select(col("id_a").as("id"))
      .unionByName(cands.select(col("id_b").as("id"))).distinct()
    val sh = readStore(spark, s"$path/$S")
      .join(candIds, Seq("id"), "left_semi").persist()
    try Spill.roundTrip(cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .where(jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_b").as("id")).distinct())
    finally Seq(cands, sh).foreach(_.unpersist())
  }

  /** The full one-pass admission step for a delta: compute the delta's
    * band rows ONCE, decide ordered admission (drop a delta doc
    * matching ANY indexed doc, or a smaller-id doc within the delta
    * itself — [[Dedup.dropNearDuplicatesOrdered]] semantics with the
    * index as the smaller-id history), then append the delta's band
    * and shingle rows to the store, reusing the spilled bands. The
    * previous composition ([[query]] + `minhashNearDuplicates` +
    * [[append]]) computed the delta's signatures three times.
    *
    * Returns the loser ids (`id`). The decision is MATERIALIZED before
    * anything is appended — a lazy plan evaluated after the append
    * would find every delta doc matching itself.
    */
  def admit(spark: SparkSession, path: String, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      exclude: Option[DataFrame] = None): DataFrame = {
    val (losers, dBands) =
      decideAdmission(spark, path, delta, textCol, idCol, threshold, exclude,
        deltaRowsHint = None)
    admitAppend(spark, path, delta, dBands, textCol, idCol)
    losers
  }

  /** [[admit]] split for callers that overlap the index appends with
    * their own independent writes ([[IncrementalCuration]] runs the
    * merge-log version write concurrently): the DECISION — materialized
    * before anything is appended. `deltaRowsHint` is an upper bound on
    * the delta's row count a caller already knows (the refresh's
    * monotone-id bounds aggregate counts for free) — it saves the
    * decision's own count action. */
  private[operators] def admitDecide(spark: SparkSession, path: String,
      delta: DataFrame, textCol: String, idCol: String, threshold: Double,
      exclude: Option[DataFrame] = None,
      deltaRowsHint: Option[Long] = None): (DataFrame, DataFrame) =
    decideAdmission(spark, path, delta, textCol, idCol, threshold, exclude,
      deltaRowsHint)

  /** [[admit]]'s append leg: band rows reuse the decision's spill,
    * shingles are the refresh's single full-delta shingle pass; the two
    * dirs are independent, so the writes run concurrently. MUST be
    * called only after [[admitDecide]] returned (the decision is
    * already materialized — a lazy plan evaluated after the append
    * would find every delta doc matching itself). */
  private[operators] def admitAppend(spark: SparkSession, path: String,
      delta: DataFrame, dBands: DataFrame, textCol: String,
      idCol: String): Unit = {
    val (_, _, shingleSize) = readConfig(spark, path)
    try Par.run(
      () => dBands.write.mode("append").parquet(s"$path/$B"),
      () => shingleStore(delta, textCol, idCol, shingleSize)
        .write.mode("append").parquet(s"$path/$S"))
    finally dBands.unpersist()
  }

  /** The [[admit]] DECISION without the append — the dry-run surface
    * ([[IncrementalCuration.previewRefresh]]): which delta docs WOULD
    * the store reject, with no state touched. Identical candidate
    * generation, strictly-ordered matching, and verification as
    * admit — they share [[decideAdmission]], so the preview cannot
    * drift from the real admission.
    */
  def previewLosers(spark: SparkSession, path: String, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      exclude: Option[DataFrame] = None,
      deltaRowsHint: Option[Long] = None): DataFrame = {
    val (losers, dBands) =
      decideAdmission(spark, path, delta, textCol, idCol, threshold, exclude,
        deltaRowsHint)
    dBands.unpersist() // dry run: nothing appends, release the cache
    losers
  }

  /** Decision-plan action budget: the lifecycle wall at small scale is
    * JOB COUNT × fixed scheduling overhead, not kernels (r13 verdict),
    * so this runs exactly TWO Spark actions — a delta COUNT (cheap on
    * the caller's persisted entrants; band rows are exactly
    * bands-per-doc, so it sizes the one broadcast whose mis-guess
    * would reshuffle the BIG stored band table) and the final loser
    * materialization. The band, candidate, and delta-shingle
    * intermediates that previously each paid a spill round-trip for
    * broadcast sizing are instead `persist()`ed (computed once inside
    * the loser job, shared across the verification legs and
    * [[admitAppend]]) with the remaining join strategies left to AQE,
    * which reads ACTUAL shuffle sizes at runtime — the same
    * information the spill measurement bought, without the extra job
    * per frame.
    */
  private def decideAdmission(spark: SparkSession, path: String,
      delta: DataFrame, textCol: String, idCol: String,
      threshold: Double, exclude: Option[DataFrame],
      deltaRowsHint: Option[Long]): (DataFrame, DataFrame) = {
    val (numHashes, bands, shingleSize) = readConfig(spark, path)
    // the delta row count sizes the broadcast gate (band rows are
    // exactly bands-per-doc, so bytes ≈ nDelta × bands × row width — a
    // conservative over-estimate vs the compressed spill size the gate
    // used to measure): free when the caller already counted, one cheap
    // count otherwise; the band rows themselves stay LAZY + persisted,
    // computed once inside the loser materialization and reused by the
    // append — the signature pass never round-trips through parquet
    val nDelta = deltaRowsHint.getOrElse(delta.count())
    val dBandBytes = nDelta * bands * 48L
    val dBands =
      Dedup.minhashBands(delta, textCol, idCol, numHashes, bands, shingleSize)
        .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
        .persist()
    // ownership of the persisted dBands passes to admitAppend /
    // previewLosers on SUCCESS; on any failure below it is released
    // here (a long-lived session retrying failing refreshes must not
    // accumulate orphaned cached frames)
    try {
    def maybeBcD(small: DataFrame): DataFrame =
      if (dBandBytes <= Spill.broadcastLimit(spark)) broadcast(small) else small

    // cross candidates: delta bands against the stored reference bands
    // (the big side streams); internal candidates: capped self-pairs
    // within the delta's own bands
    val rBands = readStore(spark, s"$path/$B")
    // STRICTLY-ORDERED cross match: a delta doc is dropped only for a
    // stored entrant with a SMALLER id. Under the monotone-id
    // invariant every genuine prior entrant IS smaller, so this
    // changes nothing on a first run — but on a crash replay the
    // store also holds the delta itself, and a mere self-exclusion
    // (id inequality) would let an ADMITTED doc match its own
    // dropped-sibling's appended rows and vanish from the rewritten
    // version (found by review: delta {10, 11} near-dups, first run
    // admits 10, replay matched 10 against stored 11)
    // forgotten stored entrants must not influence any post-forget
    // admission (the right-to-be-forgotten contract): their candidate
    // rows are anti-joined out BEFORE verification. The filter runs on
    // the candidate set (already band-bucket-bounded), not the full
    // stored-band scan, and the exclusion list broadcasts — cost is
    // O(candidates), independent of both index and corpus size.
    val crossCands0 =
      rBands.join(maybeBcD(dBands.select(col("band_id"), col("band_hash"),
          col("id").as("id_delta"))), Seq("band_id", "band_hash"))
        .where(col("id") < col("id_delta"))
        .select(col("id_delta"), col("id").as("id_ref")).distinct()
    val crossCands = exclude match {
      case Some(ex) => crossCands0.join(
        broadcast(ex.select(col(ex.columns.head).as("id_ref"))),
        Seq("id_ref"), "left_anti")
      case None => crossCands0
    }
    val intCands = Dedup.candidatePairs(
      Dedup.capBuckets(dBands, Seq("band_id", "band_hash"), "id"),
      Seq("band_id", "band_hash"), "id")
    // ONE fused candidate spill (cross + internal, tagged): it measures
    // the exact bytes the verification-leg broadcast gates need, and it
    // truncates the plan at its natural midpoint — AQE re-optimizes the
    // running plan at every finished shuffle stage, so one giant
    // candidates-plus-verification tree pays superlinear driver time
    // where two modest trees don't. The loser is the pair's LARGER id
    // on both legs (stored entrants are smaller by the monotone-id
    // invariant; internal pairs come ordered id_a < id_b).
    val (cands, candBytes) = Spill.roundTripSized(
      crossCands.select(col("id_delta"), col("id_ref"),
        lit(true).as("__cross"))
        .unionByName(intCands.select(col("id_b").as("id_delta"),
          col("id_a").as("id_ref"), lit(false).as("__cross"))))
    def bcCand(small: DataFrame): DataFrame =
      if (candBytes <= Spill.broadcastLimit(spark)) broadcast(small) else small
    val cCross = cands.where(col("__cross"))
    val cInt = cands.where(!col("__cross"))

    // one candidate-bounded shingle pass over the delta; reference
    // sets come from the store (semi joins dedup their right side —
    // no distinct needed)
    val needIds = cands.select(col("id_delta").as("id"))
      .unionByName(cInt.select(col("id_ref").as("id")))
    val dSh = shingleStore(
      delta.join(needIds.select(col("id").as(idCol)), Seq(idCol), "left_semi"),
      textCol, idCol, shingleSize).persist()
    val rSh = readStore(spark, s"$path/$S")
      .join(cCross.select(col("id_ref").as("id")), Seq("id"), "left_semi")

    val crossMatched = bcCand(cCross)
      .join(dSh.select(col("id").as("id_delta"), col("sh").as("sh_d")),
        "id_delta")
      .join(rSh.select(col("id").as("id_ref"), col("sh").as("sh_r")), "id_ref")
      .where(jaccard(col("sh_d"), col("sh_r")) >= threshold)
      .select(col("id_delta").as("id"))
    val intMatched = bcCand(cInt)
      .join(dSh.select(col("id").as("id_delta"), col("sh").as("sh_d")),
        "id_delta")
      .join(dSh.select(col("id").as("id_ref"), col("sh").as("sh_r")), "id_ref")
      .where(jaccard(col("sh_d"), col("sh_r")) >= threshold)
      .select(col("id_delta").as("id"))
    val losers =
      try Spill.roundTrip(crossMatched.unionByName(intMatched).distinct())
      finally dSh.unpersist()
    (losers, dBands)
    } catch { case t: Throwable => dBands.unpersist(); throw t }
  }

  /** Physically erase `ids`' band and shingle rows from the store —
    * the completion of a logical forget ([[admit]]'s `exclude` keeps
    * forgotten entrants out of decisions immediately; this removes
    * their DATA, which is what an erasure obligation actually
    * requires: shingle sets are content-derived and band rows leak
    * membership). One linear rewrite of the store, run in a
    * maintenance window, not per delta.
    *
    * Crash-safe swap protocol (single writer, like every mutation
    * here): (1) the purged copies are written COMPLETELY to side dirs,
    * (2) a `__purge_ready` marker commits the intent, (3) live dirs
    * are replaced by rename, marker removed. A crash before (2) leaves
    * the live store untouched (stray side dirs are garbage-collected
    * by the next purge); a crash after (2) is finished by
    * [[recover]], which every read path runs first — readers never
    * see a half-swapped store.
    */
  def purge(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    readConfig(spark, path) // validates family AND finishes a prior swap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
    Seq(s"$B$PurgeSuffix", s"$S$PurgeSuffix").foreach(d => fs.delete(p(d), true))
    val ex = broadcast(ids.select(col(ids.columns.head).as("id")).distinct())
    Par.run(
      () => spark.read.parquet(s"$path/$B").join(ex, Seq("id"), "left_anti")
        .write.parquet(s"$path/$B$PurgeSuffix"),
      () => spark.read.parquet(s"$path/$S").join(ex, Seq("id"), "left_anti")
        .write.parquet(s"$path/$S$PurgeSuffix"))
    fs.create(p(PurgeMarker), false).close()
    swapPurged(spark, path)
  }

  /** Finish an interrupted [[purge]] swap: idempotent, called from
    * every read path via [[readConfig]]. */
  private def swapPurged(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
    if (!fs.exists(p(PurgeMarker))) return
    Seq(B, S).foreach { d =>
      val side = p(s"$d$PurgeSuffix")
      if (fs.exists(side)) { // already-swapped dirs skip idempotently
        fs.delete(p(d), true)
        require(fs.rename(side, p(d)),
          s"purge swap: rename of $side into place failed")
      }
    }
    fs.delete(p(PurgeMarker), false)
  }

  private val PurgeSuffix = "__purged"
  private val PurgeMarker = "__purge_ready"

  /** Store reads with a per-dir schema cache: a band/shingle dir's
    * schema is fixed at [[build]] (appends and purges preserve it), so
    * re-inferring it — a footer-read job plus a driver listing on
    * every read — is pure overhead in a lifecycle that reads each
    * store 2-3 times per phase.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  private def readStore(spark: SparkSession, dir: String): DataFrame = {
    val s = schemaCache.computeIfAbsent(dir,
      _ => spark.read.parquet(dir).schema)
    spark.read.schema(s).parquet(dir)
  }

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  private def shingleStore(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"),
      Dedup.shingleHashSet(col(textCol), shingleSize).as("sh"))

  /** Config reads, cached per (path, config-dir mtime): the lifecycle
    * calls [[readConfig]] 2-4 times per phase (query, admit, preview,
    * purge each validate the family), and a one-row config parquet has
    * no business costing a Spark job per call. The mtime key makes a
    * same-path rebuild (which rewrites `config/`) a cache miss, so a
    * stale config can never band a delta; [[swapPurged]] still runs on
    * every call — it is crash recovery, not configuration.
    */
  private val configCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Int, Int, Int)]

  private def readConfig(spark: SparkSession, path: String): (Int, Int, Int) = {
    swapPurged(spark, path) // finish an interrupted purge before reading
    val cPath = new org.apache.hadoop.fs.Path(s"$path/$C")
    val fs = cPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing store falls through to the parquet read's named error
    val mtime =
      if (fs.exists(cPath)) fs.getFileStatus(cPath).getModificationTime else -1L
    configCache.computeIfAbsent((path, mtime), _ => {
      val df = spark.read.parquet(s"$path/$C")
      val r = df.head()
      // pre-versioning stores (r9 and earlier) carried xxhash64'd
      // shingle strings and no family column
      val family =
        if (df.columns.contains("hash_family")) r.getAs[String]("hash_family")
        else "xxhash64_str_v0"
      require(family == HashFamily,
        s"near-dup index at $path was written under hash family '$family', " +
          s"this engine uses '$HashFamily' — stored shingle sets would " +
          "silently match nothing; rebuild the index with NearDupIndex.build")
      (r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"), r.getAs[Int]("shingle_size"))
    })
  }
}
