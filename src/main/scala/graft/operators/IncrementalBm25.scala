package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An incrementally-maintained BM25 index — [[Retrieval.bm25TopK]]'s
  * retrieval semantics without re-tokenizing the corpus per query
  * load. The batch operator scans and tokenizes every document on
  * every call; at a nightly-growing 100 TB corpus the tokenization
  * pass dwarfs the (query-bounded) scoring work, and it is also pure
  * per-document state: per-(doc, term) tf counts, per-doc lengths,
  * and the corpus totals are all ADDITIVE over ingested documents.
  * The store therefore keeps exactly the scan's intermediate —
  * posting rows (id, dl, term, tf) plus one null-term SENTINEL row
  * per document carrying (id, dl) so zero-token documents still count
  * toward N/avgdl — in the same version-partitioned [[Publish]]
  * generation layout as every incremental store, and a serve is the
  * batch operator's scoring tail ([[Retrieval.rankPostings]] — ONE
  * shared code path, so the two cannot drift an ulp apart) over
  * query-pruned state instead of a corpus scan.
  *
  * Contract (the [[IncrementalCuration]] discipline):
  *   - APPEND-ONLY over monotone doc ids: df/N are additive only when
  *     a document enters once. Each ingest validates `min(delta id) >
  *     high-water` against a driver-side meta row and records its own
  *     max — a crash-replay of the same version re-validates against
  *     the same prior state and overwrites its partition idempotently;
  *     a DIFFERENT delta claiming a written version is refused.
  *   - `serveAsOf(version)` replays any pre-compaction index state;
  *     compaction folds the version tail into one partition and
  *     refuses rebased reads after ([[VersionLog]]).
  *   - `forgetDocs(ids)` is the GDPR fold: one anti-join removes a
  *     document's postings AND sentinel, so its content stops
  *     influencing scores and its length stops influencing avgdl —
  *     erasure, not masking.
  *
  * Scale posture: ingest shuffles O(delta tokens) once; serve shuffles
  * Σ df(query terms) (the state is pruned by the broadcast query-term
  * set BELOW any aggregation — axis 11's bound, now without the
  * corpus-sized tokenization pass in front of it).
  */
object IncrementalBm25 {
  import VersionLog.VCol

  case class Config(idCol: String = "doc_id", textCol: String = "text") {
    require(idCol.nonEmpty && textCol.nonEmpty, "empty column name")
  }

  private def idxDir(root: String) = s"$root/idx"
  private def metaDir(root: String) = s"$root/meta"

  /** Tokenize and fold one document delta into the index as
    * `version`: per-(doc, term) tf posting rows plus one null-term
    * sentinel per document. O(delta tokens), the existing index never
    * rescanned. Validation is [[AppendOnlyMeta]]'s shared guard:
    * monotone append-only ids, null-id refusal, strictly-increasing
    * versions, and fingerprinted replay idempotence.
    */
  def ingest(delta: DataFrame, dir: String, cfg: Config,
      version: Long): Unit = {
    val spark = delta.sparkSession
    val missing = Seq(cfg.idCol, cfg.textCol).filterNot(delta.columns.contains)
    require(missing.isEmpty, s"delta is missing columns $missing")
    VersionLog.append(spark, idxDir(dir), version,
      Some(AppendOnlyMeta.Check(metaDir(dir), delta, cfg.idCol,
        Seq(cfg.idCol, cfg.textCol), "document"))) { (_, _) => gen =>
      // spilled ONCE: the postings leg and the sentinel leg of the
      // union would otherwise each re-run the delta scan +
      // tokenization — the cost this store exists to pay once
      val base = Spill.roundTrip(
        delta.select(col(cfg.idCol).cast("long").as("__id"),
            Retrieval.bm25Toks(col(cfg.textCol)).as("__w"))
          .select(col("__id"), size(col("__w")).as("__dl"), col("__w")))
      val postings = base
        .select(col("__id"), col("__dl"), explode(col("__w")).as("__term"))
        .groupBy(col("__id"), col("__dl"), col("__term"))
        .agg(count(lit(1)).as("__tf"))
      val sentinels = base.select(col("__id"), col("__dl"),
        lit(null).cast("string").as("__term"), lit(0L).as("__tf"))
      postings.unionByName(sentinels)
        .sortWithinPartitions("__term")
        .write.mode("overwrite")
        .parquet(s"$gen/$VCol=$version")
    }
  }

  /** Top-k BM25 over the maintained index — the batch operator's
    * output shape and scoring tail over state instead of a corpus
    * scan. Parameters mirror [[Retrieval.bm25TopK]].
    */
  def serve(spark: SparkSession, dir: String, cfg: Config,
      queries: DataFrame, k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0, qidCol: String = "q_id",
      qtextCol: String = "q_text"): DataFrame =
    serveFiltered(spark, dir, cfg, queries, k, k1, b, maxDfFrac,
      qidCol, qtextCol, None)

  /** [[serve]] as the index stood at `asOfVersion` — time travel with
    * the shared rebased-history refusal.
    */
  def serveAsOf(spark: SparkSession, dir: String, cfg: Config,
      queries: DataFrame, asOfVersion: Long, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, maxDfFrac: Double = 1.0, qidCol: String = "q_id",
      qtextCol: String = "q_text"): DataFrame =
    serveFiltered(spark, dir, cfg, queries, k, k1, b, maxDfFrac,
      qidCol, qtextCol, Some(asOfVersion))

  private def serveFiltered(spark: SparkSession, dir: String, cfg: Config,
      queries: DataFrame, k: Int, k1: Double, b: Double, maxDfFrac: Double,
      qidCol: String, qtextCol: String,
      asOfVersion: Option[Long]): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1 b=$b")
    require(maxDfFrac > 0 && maxDfFrac <= 1, s"bad maxDfFrac: $maxDfFrac")
    val bcLimit = Spill.broadcastLimit(spark)
    val live = VersionLog.live(spark, idxDir(dir))
    val st = asOfVersion.fold(live.state(spark))(live.asOf(spark, _))
    val stats = st.where(col("__term").isNull)
      .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl"))
    val (qt, qBytes) = Spill.roundTripSized(
      queries.select(col(qidCol).as("__qid"),
        explode(Retrieval.bm25Toks(col(qtextCol))).as("__term"))
        .distinct())
    val qtH = if (qBytes <= bcLimit) broadcast(qt) else qt
    val qTerms = qt.select(col("__term")).distinct()
    val qTermsH = if (qBytes <= bcLimit) broadcast(qTerms) else qTerms
    val tfQ = Spill.roundTrip(st.where(col("__term").isNotNull)
      .join(qTermsH, Seq("__term"))
      .select(col("__id"), col("__term"), col("__dl"), col("__tf")))
    Retrieval.rankPostings(tfQ, stats, qtH, k, k1, b, maxDfFrac, bcLimit)
  }

  /** Fold the version tail into one partition — rows are unique per
    * (doc, term) under the append-only contract, so the fold is a
    * plain rewrite behind the atomic [[Publish]] pointer flip.
    */
  def compact(spark: SparkSession, dir: String, cfg: Config): Long =
    VersionLog.compactFold(spark, idxDir(dir), identity, sortCol = "__term")

  /** The dashboard read for the postings store —
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

  /** GDPR erasure: remove `ids`' postings and sentinels in one
    * anti-join fold — the documents' content stops influencing scores
    * and their lengths stop influencing avgdl. Forgotten ids remain
    * BURNED for re-ingest (the high-water meta is untouched): index
    * ids are append-only identities, and re-admitting content must
    * use a fresh id.
    */
  def forgetDocs(spark: SparkSession, dir: String, cfg: Config,
      ids: DataFrame): Long = {
    val keys = ids.select(col(ids.columns.head).cast("long").as("__id"))
    VersionLog.compactFold(spark, idxDir(dir),
      _.join(keys, Seq("__id"), "left_anti"), sortCol = "__term")
  }
}
