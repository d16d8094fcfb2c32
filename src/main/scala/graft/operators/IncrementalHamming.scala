package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An incrementally-maintained 64-bit HAMMING admission index — the
  * steady-state form of [[Dedup.hamming64NearDuplicates]] /
  * [[Dedup.simhashNearDuplicates]], shared by every signature family
  * that compresses a document to one 64-bit code: SimHash over text
  * tokens ([[Dedup.simhash64]]) and perceptual dHash over images
  * ([[Multimodal.dHash64]]). The batch operators recompute every
  * signature and re-block the whole corpus per call; signatures are
  * pure per-document state, so the store keeps exactly `(id, sig)`
  * in the version-partitioned [[Publish]] generation layout every
  * incremental store shares, and each delta pays only its own side.
  *
  * Candidate generation is the classic pigeonhole blocking: split the
  * signature into `blocks` equal bit ranges — two signatures within
  * hamming distance `blocks − 1` agree on at least one whole block, so
  * for `maxHamming < blocks` the banded join is EXACT (complete recall,
  * verified by full [[Dedup.hamming64]]), not approximate. A
  * `maxHamming >= blocks` query is refused by name rather than served
  * with silent recall loss.
  *
  * Admission contract (the [[NearDupIndex]] / [[IncrementalCuration]]
  * discipline, r11's replay-idempotence lesson):
  *   - STRICTLY-ORDERED matching: a delta doc is dropped iff some
  *     entrant with a SMALLER id (stored history, or an earlier doc of
  *     the same delta) lies within `maxHamming`. ALL entrants are
  *     indexed — admitted and dropped alike — so a later replay or a
  *     near-dup of a dropped doc decides identically.
  *   - APPEND-ONLY over monotone ids, guarded by [[AppendOnlyMeta]]
  *     (null-id refusal, strictly-increasing versions, fingerprinted
  *     replay idempotence); a replayed version overwrites its own
  *     partition and — because matching is strict-ordered — reaches the
  *     same decision against its previously-appended sibling rows.
  *   - `forgetIds` / `compact` ride [[VersionLog.compactFold]]'s
  *     atomic generation flip; [[admittedIds]] with `asOfVersion`
  *     replays any pre-compaction decision boundary and refuses rebased
  *     history by name.
  *
  * Scale posture: the stored side STREAMS — block rows are a narrow
  * explode over the `(id, sig)` scan, never shuffled when the delta's
  * block rows fit the byte-gated broadcast; above the gate the join
  * falls back to a shuffle, still linear in state. No bucket caps: a
  * hot 16-bit block value (unlike a hot minhash band, whose bucket IS
  * mutually near-duplicate boilerplate) shares only `64/blocks` of 64
  * bits, so dropping its candidates would silently mis-admit — the
  * verification stays exact and skew is AQE's to split.
  */
object IncrementalHamming {
  import VersionLog.{Live, VCol}

  case class Config(idCol: String = "doc_id", sigCol: String = "sig64",
      blocks: Int = 4) {
    require(idCol.nonEmpty && sigCol.nonEmpty, "empty column name")
    require(blocks >= 2 && 64 % blocks == 0,
      s"blocks must divide 64 (and be >= 2): $blocks")
  }

  private def idxDir(root: String) = s"$root/sigs"
  private def metaDir(root: String) = s"$root/meta"

  private def requireExact(cfg: Config, maxHamming: Int): Unit = {
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    require(maxHamming < cfg.blocks,
      s"maxHamming $maxHamming needs at least ${maxHamming + 1} pigeonhole " +
        s"blocks for exact recall but the store is blocked at " +
        s"${cfg.blocks} — rebuild with more blocks (a lossy candidate " +
        "join would silently mis-admit near-duplicates)")
  }

  /** `(block_id, block_val, <id>, <sig>)` rows — one per signature
    * block, the pigeonhole candidate key. A narrow explode: no shuffle,
    * no state beyond the scan.
    */
  private def blockRows(sigs: DataFrame, cfg: Config): DataFrame = {
    val bits = 64 / cfg.blocks
    // a STATIC array of per-block structs, not transform(sequence(...)):
    // the block count is a plan-time constant, and Catalyst HOF lambdas
    // evaluate interpreted per row (the axis-17 lesson) where the plain
    // array of shift/mask expressions stays inside whole-stage codegen
    val blocks = (0 until cfg.blocks).map { b =>
      struct(lit(b).as("block_id"),
        call_function("shiftright", col("__sig"), lit(b * bits))
          .bitwiseAND((1L << bits) - 1).as("block_val"))
    }
    sigs.select(col("__id"), col("__sig"),
        explode(array(blocks: _*)).as("__b"))
      .select(col("__b.block_id"), col("__b.block_val"),
        col("__id"), col("__sig"))
  }

  private def normalized(delta: DataFrame, cfg: Config): DataFrame =
    delta.select(col(cfg.idCol).cast("long").as("__id"),
      col(cfg.sigCol).cast("long").as("__sig"))

  /** Stored `(__id, __sig)` rows of `live`, optionally truncated to
    * `asOfVersion`. `allowEmpty` (the bootstrap [[admit]] write path
    * only) returns a typed empty frame for a store with no versions
    * yet; READ paths must not pass it — a mistyped or not-yet-ingested
    * path serving an empty index would silently admit everything
    * downstream, so reads fail by name instead.
    */
  private def stored(spark: SparkSession, live: Live,
      asOfVersion: Option[Long], allowEmpty: Boolean = false): DataFrame =
    if (live.versions.isEmpty) {
      require(allowEmpty, s"no hamming index state at ${live.dir} — " +
        "ingest or admit at least one delta first (reads never create " +
        "stores, and an empty index would silently match nothing)")
      spark.range(0).select(col("id").as("__id"), col("id").as("__sig"))
    } else asOfVersion.fold(live.state(spark))(live.asOf(spark, _))
      .select(col("__id"), col("__sig"))

  /** Append pre-admitted signatures as `version` with NO admission
    * decision — the bulk path for a corpus already deduplicated (or
    * whose duplicates the caller decides to keep). Same meta guard and
    * idempotent-replay contract as [[admit]].
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config,
      version: Long): Unit = {
    val spark = delta.sparkSession
    val d = normalized(delta, cfg).persist()
    try append(spark, d, dir, version)((_, _) => ())
    finally d.unpersist()
  }

  /** The one-pass admission step: decide ordered losers for the delta
    * (against stored history AND the delta's own smaller ids), append
    * ALL entrants as `version`, return the loser ids (one `<idCol>`
    * column). The decision is MATERIALIZED before anything is appended.
    *
    * Action budget (the [[NearDupIndex.decideAdmission]] discipline):
    * THREE Spark actions — the meta bounds aggregate (which also
    * materializes the persisted delta, signature computation included:
    * a dHash delta pays its codec once), the loser spill, and the
    * entrant write. The bounds' row count sizes the delta-blocks
    * broadcast for free (block rows are exactly `blocks` per doc).
    */
  def admit(delta: DataFrame, dir: String, cfg: Config, maxHamming: Int,
      version: Long): DataFrame = {
    val spark = delta.sparkSession
    requireExact(cfg, maxHamming)
    val d = normalized(delta, cfg).persist()
    try append(spark, d, dir, version) { (live, rows) =>
      Spill.roundTrip(losersAgainst(spark,
        stored(spark, live, None, allowEmpty = true), d, cfg, maxHamming,
        deltaRowsHint = rows))
    }.select(col("__id").as(cfg.idCol))
    finally d.unpersist()
  }

  /** Appends the normalized delta `d` as `version`
    * ([[VersionLog.append]] under the signature meta guard); `decide`
    * runs between the guard and the write, given the live generation
    * and the delta's row count.
    */
  private def append[A](spark: SparkSession, d: DataFrame, dir: String,
      version: Long)(decide: (Live, Option[Long]) => A): A =
    VersionLog.append(spark, idxDir(dir), version,
      Some(AppendOnlyMeta.Check(metaDir(dir), d, "__id", Seq("__id", "__sig"),
        "signature"))) { (live, bounds) =>
      val decided = decide(live, bounds.map(_.rows))
      gen => {
        d.sortWithinPartitions("__id")
          .write.mode("overwrite").parquet(s"$gen/$VCol=$version")
        decided
      }
    }

  /** Delta ids with a strictly-smaller-id entrant (in `refs` ∪ the
    * delta itself) within `maxHamming`. The delta's block rows are
    * byte-gated for broadcast — sized from `deltaRowsHint` when the
    * caller already counted (block rows are exactly `blocks` per doc),
    * by one spill round-trip otherwise; the refs side streams.
    */
  private def losersAgainst(spark: SparkSession, refs: DataFrame,
      d: DataFrame, cfg: Config, maxHamming: Int,
      deltaRowsHint: Option[Long]): DataFrame = {
    val bcLimit = Spill.broadcastLimit(spark)
    // ~24 bytes per (block_id, block_val, id, sig) row, division form
    // so a state-sized hint cannot overflow the product
    val perRow = cfg.blocks * 24L
    val dBlocks = blockRows(d, cfg).withColumnsRenamed(
      Map("__id" -> "__id_d", "__sig" -> "__sig_d"))
    val dSide = deltaRowsHint match {
      case Some(n) => if (n <= bcLimit / perRow) broadcast(dBlocks) else dBlocks
      case None =>
        val (db, bytes) = Spill.roundTripSized(dBlocks)
        if (bytes <= bcLimit) broadcast(db) else db
    }
    blockRows(refs.unionByName(d), cfg)
      .join(dSide, Seq("block_id", "block_val"))
      .where(col("__id") < col("__id_d") &&
        Dedup.hamming64(col("__sig"), col("__sig_d")) <= maxHamming)
      .select(col("__id_d").as("__id")).distinct()
  }

  /** Near-dup pairs `(<idCol>_probe, <idCol>, hamming)` between a
    * probe batch of signatures and the indexed state — the lookup
    * surface ([[NearDupIndex.query]]'s contract shape). Probe ids are
    * NOT required monotone (nothing is written); an id-equal store row
    * is excluded as the same document re-presented.
    */
  def pairs(spark: SparkSession, dir: String, cfg: Config,
      probe: DataFrame, maxHamming: Int): DataFrame = {
    requireExact(cfg, maxHamming)
    val st = stored(spark, VersionLog.live(spark, idxDir(dir)), None)
    val bcLimit = Spill.broadcastLimit(spark)
    val (pBlocks, pBytes) = Spill.roundTripSized(
      blockRows(normalized(probe, cfg), cfg).withColumnsRenamed(
        Map("__id" -> "__id_p", "__sig" -> "__sig_p")))
    val pSide = if (pBytes <= bcLimit) broadcast(pBlocks) else pBlocks
    // hamming filter BEFORE the distinct: a hot block value produces
    // candidate rows up to hamming 48, and deduping matches is a
    // match-sized shuffle where deduping candidates is candidate-sized
    blockRows(st, cfg)
      .join(pSide, Seq("block_id", "block_val"))
      .where(col("__id") =!= col("__id_p"))
      .select(col("__id_p"), col("__id"),
        Dedup.hamming64(col("__sig"), col("__sig_p")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .select(col("__id_p").as(s"${cfg.idCol}_probe"),
        col("__id").as(cfg.idCol), col("hamming").cast("int").as("hamming"))
  }

  /** The admitted set as the state stands (or stood at `asOfVersion`):
    * every indexed id with NO strictly-smaller-id entrant within
    * `maxHamming`, as `(<idCol>, <sigCol>)`. Because ids are monotone
    * append-only, this equals the union of every [[admit]] call's
    * survivors — unless [[forgetIds]] erased a dominating entrant,
    * after which its former losers are admitted again: the set is a
    * pure function of CURRENT state (erasure means gone, not masked).
    */
  def admittedIds(spark: SparkSession, dir: String, cfg: Config,
      maxHamming: Int, asOfVersion: Option[Long] = None): DataFrame = {
    requireExact(cfg, maxHamming)
    val st = stored(spark, VersionLog.live(spark, idxDir(dir)), asOfVersion)
    // the state is its own "delta" for the self-decision (the refs
    // argument contributes nothing extra); both join sides are
    // state-sized, so the hint forces the shuffle plan — no broadcast,
    // no spill: the state parquet is rescanned per leg, which at scale
    // is strictly cheaper than one full state rewrite
    val losers = losersAgainst(spark, st.limit(0), st, cfg, maxHamming,
      deltaRowsHint = Some(Long.MaxValue))
    st.join(losers, Seq("__id"), "left_anti")
      .select(col("__id").as(cfg.idCol), col("__sig").as(cfg.sigCol))
  }

  /** Fold the version tail into one partition behind the atomic
    * [[Publish]] pointer flip; reads after are served from the fold.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    VersionLog.compactFold(spark, idxDir(dir), identity, sortCol = "__id")

  /** The dashboard read for the signature store —
    * [[IncrementalSwa.describe]] at this index's state dir. */
  def describe(spark: SparkSession, dir: String): IncrementalSwa.StoreInfo =
    IncrementalSwa.describe(spark, idxDir(dir))

  /** One-call nightly maintenance ([[VersionLog.maintainStore]]):
    * fold when live versions exceed the threshold, gc superseded
    * generations. Returns whether a fold ran.
    */
  def maintain(spark: SparkSession, dir: String, cfg: Config,
      compactWhenVersionsExceed: Int = 8,
      gcKeepGenerations: Int = 2): Boolean =
    VersionLog.maintainStore(spark, idxDir(dir),
      compactWhenVersionsExceed, gcKeepGenerations)(
      () => { compact(spark, dir, cfg); () })

  /** GDPR erasure: one anti-join fold removes the ids' signatures —
    * they stop influencing every later admission decision. Forgotten
    * ids stay BURNED for re-ingest (the high-water meta is untouched):
    * re-admitting content must use a fresh id.
    */
  def forgetIds(spark: SparkSession, dir: String, cfg: Config,
      ids: DataFrame): Long = {
    val keys = ids.select(col(ids.columns.head).cast("long").as("__id"))
    VersionLog.compactFold(spark, idxDir(dir),
      _.join(keys, Seq("__id"), "left_anti"), sortCol = "__id")
  }
}
