package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregator

/** Sparse lexical retrieval — BM25 top-k over the engine's token
  * stack (SURVEY.md §2.11). The training-data use cases are retrieval
  * for RAG corpus construction, query-based corpus audits ("which
  * documents answer this eval question" — the lexical complement of
  * `TextAnalysis.contaminatedWith`), and hard-negative mining.
  *
  * Model: Robertson/Spärck-Jones BM25 with the +1 idf smoothing
  * (Lucene's formulation, always non-negative):
  *
  *   idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
  *   score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))
  *
  * summed over DISTINCT query terms (unit query-term weight).
  *
  * Scale posture (the 100 TB shape):
  *   - Tokenization is a zero-shuffle projection (`TextAnalysis.words`,
  *     the one normalization shared by dedup/langID/winnow, so CJK text
  *     segments here too).
  *   - The corpus side is a zero-shuffle scan+explode: tokens join the
  *     broadcast query-term set (spilled, exact-bytes gate) BELOW the
  *     tf aggregation, so only query-matched tokens ever enter an
  *     exchange — under a fixed query load the shuffle stays bounded
  *     by Σ df(query terms) while the corpus grows (SCALE.md axis 11),
  *     and df() aggregates only the pruned postings.
  *   - Per-query top-k uses the bounded map-side [[TopKAggregator]] —
  *     the shuffle carries ≤ partitions·k candidate rows per query and
  *     nothing is globally sorted (no Window/row_number over the full
  *     candidate set).
  *   - Worst case is a query full of stopwords: candidates ≈ Σ df(t)
  *     approaches the corpus. `maxDfFrac` drops query terms whose df
  *     exceeds the fraction (their idf ≈ 0 contributes nothing but
  *     cost); 1.0 disables the prune.
  *
  * Float discipline (cross-engine hashes): per-(q,d,t) contributions
  * mirror the oracle's expression tree operation-for-operation (IEEE
  * ops are deterministic given operand order), the only divergence is
  * the Σ fold order and ln's last ulp, both absorbed by ranking on the
  * score ROUNDED to the 1e-5 grid (ties broken by doc id), the
  * q_sim_topk convention.
  */
object Retrieval {

  /** Top-k BM25 retrieval: one output row per (query, rank ≤ k) with
    * the rounded score. Queries with no surviving terms return no rows.
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, maxDfFrac: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "q_id", qtextCol: String = "q_text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1 b=$b")
    require(maxDfFrac > 0 && maxDfFrac <= 1, s"bad maxDfFrac: $maxDfFrac")
    val bcLimit = Spill.broadcastLimit(corpus.sparkSession)

    def toks(text: org.apache.spark.sql.Column) = bm25Toks(text)

    // ONE tokenization pass over the corpus (r15): the corpus-size /
    // avgdl statistics and the query-pruned postings previously each
    // tokenized the whole corpus (the stats subtree re-ran words()
    // inside the final action's broadcast build — 2× the call's
    // dominant kernel). The tokenized projection is persisted for the
    // two consumers and released before ranking; the stats — two
    // integers — are collected once and re-enter the plan as literals,
    // bit-identical to the lazy one-row frame they replace (avgdl =
    // sumdl/N on the same integer operands).
    // serialized MEMORY_AND_DISK_SER: the tokenized corpus is
    // corpus-sized — under memory pressure it must degrade to compact
    // spilled blocks, not evict-and-recompute the tokenization pass the
    // persist exists to save (r15 advice).
    val tokd = corpus
      .select(col(idCol).as("__id"), toks(col(textCol)).as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    val sr = tokd
      .agg(count(lit(1)).as("__n"), sum(size(col("__w"))).as("__sumdl"))
      .head()
    val stats = corpus.sparkSession.range(1).select(
      lit(sr.getLong(0)).as("__n"),
      lit(if (sr.isNullAt(1)) 0L else sr.getLong(1)).as("__sumdl"))

    // distinct query terms, spilled for an exact-bytes broadcast call
    val (qt, qBytes) = Spill.roundTripSized(
      queries
        .select(col(qidCol).as("__qid"), explode(toks(col(qtextCol))).as("__term"))
        .distinct())
    val qtH = if (qBytes <= bcLimit) broadcast(qt) else qt
    val qTerms = qt.select(col("__term")).distinct()
    val qTermsH = if (qBytes <= bcLimit) broadcast(qTerms) else qTerms

    // postings for QUERY terms only: the prune sits below the tf
    // aggregation, so the corpus contributes a zero-shuffle
    // scan+explode and only matching tokens ever shuffle — under a
    // fixed query load the exchange stays bounded by Σ df(query
    // terms) as the corpus grows (measured, SCALE.md axis 11).
    // Spilled ONCE: the postings feed both the df() aggregation and
    // the scoring join, and a lazy plan would re-run the corpus
    // tokenization pass for each (measured 2× the call's corpus work
    // at sf0.1); the spill payload is the same bounded Σ df(query
    // terms) row set, never the corpus.
    val tfQ = Spill.roundTrip(tokd
      .select(col("__id"), size(col("__w")).as("__dl"),
        explode(col("__w")).as("__term"))
      .join(qTermsH, Seq("__term"))
      .groupBy(col("__id"), col("__term"), col("__dl"))
      .agg(count(lit(1)).as("__tf")))
    rankPostings(tfQ, stats, qtH, k, k1, b, maxDfFrac, bcLimit)
    } finally tokd.unpersist()
  }

  /** Query tokenization shared with [[IncrementalBm25]] — the engine's
    * one normalization ([[TextAnalysis.words]]), empties dropped.
    */
  private[operators] def bm25Toks(text: org.apache.spark.sql.Column) =
    filter(TextAnalysis.words(text), t => t =!= lit(""))

  /** The BM25 scoring + ranking tail over QUERY-PRUNED postings —
    * shared verbatim by [[bm25TopK]] (postings from the corpus scan)
    * and [[IncrementalBm25.serve]] (postings from maintained state),
    * so the two paths cannot drift an ulp apart: the per-(q, d, t)
    * contribution tree, the 1e-5 score round, and the doc-id tiebreak
    * are one code path.
    *
    * `tfQ`: (__id, __term, __dl, __tf), already pruned to query terms;
    * `stats`: one row (__n, __sumdl); `qtH`: (__qid, __term) distinct,
    * broadcast-wrapped by the caller.
    */
  private[operators] def rankPostings(tfQ: DataFrame, stats: DataFrame,
      qtH: DataFrame, k: Int, k1: Double, b: Double, maxDfFrac: Double,
      bcLimit: Long): DataFrame = {
    val (dfT, dfBytes) = Spill.roundTripSized(
      tfQ.groupBy(col("__term")).agg(count(lit(1)).as("__df")))
    val dfH = if (dfBytes <= bcLimit) broadcast(dfT) else dfT

    val avgdl = col("__sumdl").cast("double") / col("__n")
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val contrib = idf * (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl))

    // the postings arrive as a SMALL flat parquet (an aggregated,
    // query-pruned spill — a few MB even when the corpus is huge), so
    // the scan yields ~1 input split (one parquet row group cannot be
    // split across tasks), yet the query join below FANS OUT to one
    // row per (query, matching doc, term) — in the stopword regime
    // |queries|·df(term) rows from that one task. Measured at the
    // sf1 probe: 66 s of an 83 s gate in a near-single-task stage,
    // 8→32 cores moving the gate only 1.6×. An explicit repartition
    // spreads the fan-out across the session's shuffle parallelism
    // (guide §2.5 input skew / §2.2): the shuffled bytes are only the
    // bounded postings themselves, the partition count follows
    // spark.sql.shuffle.partitions (scale-adaptive conf, not a local
    // constant), and the explicit count keeps AQE from re-coalescing
    // the exchange back to one partition before the fan-out happens.
    val numPart = tfQ.sparkSession.sessionState.conf.numShufflePartitions
    val scored = tfQ
      .repartition(numPart, col("__id"))
      .join(dfH, Seq("__term"))
      .join(qtH, Seq("__term"))
      .crossJoin(broadcast(stats))
      .where(col("__df") <= lit(maxDfFrac) * col("__n"))
      .select(col("__qid"), col("__id"), contrib.as("__c"))
      .groupBy(col("__qid"), col("__id"))
      .agg(round(sum(col("__c")), 5).as("score"))

    // bounded map-side top-k on the ROUNDED score (cross-engine-stable
    // order), then unpack to (rank, doc, score) rows
    scored
      .groupBy(col("__qid").as("q_id"))
      .agg(TopKAggregator(k)(col("score"), col("__id").cast("long")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__hit")))
      .select(col("q_id"),
        col("__hit").getField("_2").as("doc_id"),
        (col("__pos") + 1).as("rank"),
        col("__hit").getField("_1").as("score"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher) of two ranked
    * lists — the standard hybrid-retrieval combiner (BM25 ⊕ dense
    * cosine for RAG corpus construction, or any ranker pair: the
    * inputs are just `(q_id, doc_id, rank)` tables).
    *
    *   rrf(q, d) = Σ_lists 1 / (rrfK + rank_list(q, d))
    *
    * missing-from-a-list contributes 0. Output is the fused top-k per
    * query with `rrf_i = floor(rrf · 1e9)` — floor of a bit-identical
    * IEEE double (the two-term sum has a FIXED operand order, unlike
    * an aggregate fold), so the integer is reproducible cross-engine
    * where a decimal round of the quotient would sit on half-point
    * hazards.
    *
    * Scale posture: both inputs are already top-k lists, so the fusion
    * joins ≤ |queries|·k rows per side — cost is independent of corpus
    * size (the rankers upstream own the corpus-shaped work) and the
    * join/agg shuffles only fused candidates. Ties (a doc in only one
    * list at the same rank as another doc in only the other) break by
    * doc id via the same bounded [[TopKAggregator]] as every top-k in
    * the engine.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 10, rrfK: Int = 60,
      qidCol: String = "q_id", idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rrfK >= 1, s"rrfK must be >= 1: $rrfK")
    def side(df: DataFrame, rc: String) = df.select(
      col(qidCol).as("__qid"), col(idCol).as("__id"),
      col(rankCol).as(rc))
    val joined = side(a, "__ra").join(side(b, "__rb"),
      Seq("__qid", "__id"), "full_outer")
    // fixed two-term sum: each term one double division on integer
    // operands, mirrored operation-for-operation by the oracle
    val rrf = coalesce(lit(1.0) / (lit(rrfK) + col("__ra")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(rrfK) + col("__rb")), lit(0.0))
    joined
      .select(col("__qid"), col("__id"), rrf.as("__rrf"))
      .groupBy(col("__qid").as(qidCol))
      .agg(TopKAggregator(k)(col("__rrf"), col("__id").cast("long")).as("__top"))
      .select(col(qidCol), posexplode(col("__top")).as(Seq("__pos", "__hit")))
      .select(col(qidCol),
        col("__hit").getField("_2").as(idCol),
        (col("__pos") + 1).as(rankCol),
        floor(col("__hit").getField("_1") * lit(1e9)).as("rrf_i"))
  }
}
