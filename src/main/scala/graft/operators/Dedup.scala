package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.11). All formulations are shuffle-conscious:
  *  - exact dedup is one hash-groupBy (map-side combinable);
  *  - MinHash/LSH emits `bands` rows per doc and shuffles by band
  *    signature — candidate generation is linear in corpus size, never
  *    all-pairs; only same-bucket pairs are verified;
  *  - SimHash is a pure projection (no shuffle) — near-dup buckets come
  *    from grouping on the 64-bit signature or its rotated prefixes.
  */
object Dedup {

  /** The largest spilled shingle-set frame ([[Spill.roundTripSized]]) that
    * exact-jaccard verification broadcasts into its pair joins: 32 MB. */
  private val BroadcastShinglesBytes = 32L << 20

  /** Normalized text used by all fingerprints: lowercase, CJK-segmented,
    * collapsed whitespace.
    *
    * Space-free scripts (Han, hiragana, katakana) carry no word
    * boundaries, so an unsegmented Chinese/Japanese document would
    * otherwise normalize to ONE giant "word" — language ID could never
    * hit the zh stopword list (its entries are single characters),
    * winnow/repetition k-grams would degenerate to nothing, and the
    * token count would collapse to ceil(len/4) of the whole text. The
    * segmentation pass space-delimits every CJK codepoint (the
    * standard character-level tokenization for these scripts — real
    * BPE vocabularies also sit near 1 token/char for CJK), after which
    * the whole downstream text stack works unchanged. Java `\p{IsHan}`
    * and RE2 `\p{Han}` (the DuckDB oracle mirror,
    * [[graft.SparkEntry]]'s `sqlNt`) define identical codepoint sets,
    * so cross-engine value parity holds. Pure-ASCII text is untouched
    * (the class matches nothing), keeping all ASCII fingerprints
    * stable.
    */
  def normText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text),
        "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}])", " $1 "),
      "\\s+", " "))

  /** Exact dedup: canonical row id + duplicate count per distinct
    * normalized text. `md5` keys the shuffle so arbitrarily long texts
    * move as 32-byte digests.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(normText(col(textCol))).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Drop all but the canonical (min id) row per distinct text. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val groups = exactGroups(df, textCol, idCol)
      .select(col("canonical_id").as(idCol))
    df.join(groups, Seq(idCol), "left_semi")
  }

  /** The distinct shingle-HASH set of a document as a zero-shuffle
    * projection (codegen'd rolling k-gram hashes,
    * [[graft.functions.KGramHashes64Expr]]) — shingle EQUALITY is all
    * its consumers need (exact-Jaccard verification, the persisted
    * index): no exchange, 8-byte elements. These are the same k-gram
    * hashes the MinHash signature folds. Edge parity with the DuckDB
    * oracles' `string_split` shingles: < n tokens → one truncated
    * shingle, token-less text → the empty-token shingle (two empty
    * documents still Jaccard-match at 1.0).
    */
  def shingleHashSet(text: Column, n: Int): Column =
    array_distinct(
      graft.functions.KGramHashes64Expr.kgramHashes64(normText(text), n))

  /** LSH band rows `(idCol, band_id, band_hash)` of every non-null
    * text: the [[graft.functions.MinHashSigExpr]] signature, computed
    * inside the scan projection, banded by [[lshBandsFromSig]]. The
    * only corpus-wide shuffle in candidate generation then moves
    * (id, band) rows, never shingles.
    */
  private[operators] def minhashBands(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame =
    lshBandsFromSig(
      df.select(col(idCol), graft.functions.MinHashSigExpr.minhashSig(
          normText(col(textCol)), numHashes, shingleSize).as("sig"))
        .where(col("sig").isNotNull),
      idCol, numHashes, bands)

  /** LSH banding: split the signature into `bands` groups of
    * `numHashes / bands` values each; docs agreeing on any full band
    * become candidates. Input is a precomputed (id, sig) signature
    * frame; returns (idCol, band_id, band_hash).
    */
  def lshBandsFromSig(sig: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes, "bands must divide numHashes")
    sig
      .select(col(idCol), explode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_id"),
          xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b).as("band_hash"))))
        .as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))
  }

  /** Hot-bucket guard shared by every LSH candidate generator (minhash
    * bands, simhash blocks, hyperplane buckets): a bucket of B members
    * emits B² candidate pairs from the self-join, and real corpora have
    * degenerate clusters (boilerplate, empty docs, near-constant
    * embeddings) where one bucket holds 10⁵⁺ members — quadratic
    * explosion before any `distinct()` can help. Membership of each
    * bucket is capped at `spark.graft.lsh.maxBucket` (default 1000;
    * <= 0 disables) keeping the `cap` smallest ids — deterministic, and
    * a planted duplicate of a *normal* document still collides with its
    * original. Rows over the cap lose LSH recall for that bucket only
    * (they are precisely the rows exact-dedup or a dedicated boilerplate
    * pass should own).
    *
    * `dropOverCap = true` drops an over-cap bucket ENTIRELY instead of
    * keeping its `cap` smallest ids. LSH bands keep the truncation
    * (any bounded member subset still collides a planted duplicate with
    * its original); pair-level recall contracts (winnow shared-chunk
    * pairs) use the whole-bucket drop, because a biased low-id subset
    * would deterministically evict high-id members and silently break
    * "these two docs share a chunk" — while a fingerprint shared by
    * more than `cap` documents is boilerplate with no pair-level signal
    * in the first place.
    */
  private[operators] def capBuckets(df: DataFrame, bucketCols: Seq[String],
      ordCol: String, dropOverCap: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = df.sparkSession.conf.get("spark.graft.lsh.maxBucket", "1000").toInt
    if (cap <= 0) df
    else {
      val byBucket = Window.partitionBy(bucketCols.map(col): _*)
      val ranked =
        if (dropOverCap) df.withColumn("__graft_bn", count(lit(1)).over(byBucket))
        else df.withColumn("__graft_bn",
          row_number().over(byBucket.orderBy(col(ordCol).asc)))
      ranked.where(col("__graft_bn") <= cap).drop("__graft_bn")
    }
  }

  /** Candidate pairs (id_a < id_b) within each bucket of an
    * already-capped bucket-membership frame: one aggregation collects
    * each bucket's (≤ cap, so bounded by construction) sorted member
    * list, then a higher-order-function expansion emits every i<j pair
    * — one plan branch, no self-join, no second scan of the bucket
    * frame. The groupBy reuses the capBuckets window's partitioning, so
    * no extra exchange.
    */
  private[operators] def candidatePairs(capped: DataFrame,
      bucketCols: Seq[String], idCol: String): DataFrame = {
    val ids = "__graft_ids"
    // NOT repartitioned before the expansion, measured twice (r16): an
    // explicit repartition of the packed bucket rows (the rankPostings
    // fan-out remedy) was prototyped against the cap²/2 worst case,
    // but (a) the sf10 boilerplate-probe profile showed the expansion's
    // heavy stages are EVEN task waves, not one straggler — the
    // groupBy's hash partitioning already spreads buckets — and (b) the
    // added exchange cost a same-window-measured ~0.2-0.3 s per
    // pair-heavy gate at bench scale. If a real corpus ever
    // concentrates its capped buckets onto few partitions, the lever
    // is `spark.sql.shuffle.partitions` (the groupBy key space is
    // (band_id, band_hash) — plenty of spread), not a second exchange.
    capped.groupBy(bucketCols.map(col): _*)
      .agg(array_sort(collect_list(col(idCol))).as(ids))
      .where(size(col(ids)) >= 2)
      .select(explode(flatten(transform(col(ids), (x, i) =>
        transform(slice(col(ids), i + 2, size(col(ids))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Candidate near-duplicate pairs (id_a < id_b) from LSH buckets,
    * verified with exact shingle-set Jaccard >= threshold. Candidates
    * come from capped bucket membership ([[capBuckets]]) via the
    * in-bucket pair expansion ([[candidatePairs]]) — no all-pairs, no
    * self-join.
    */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val capped = capBuckets(
      minhashBands(df, textCol, idCol, numHashes, bands, shingleSize),
      Seq("band_id", "band_hash"), idCol)
    // the candidate set is bounded (bucket-capped pairs, not corpus):
    // spill it to parquet NOW — the downstream consumers analyze a
    // flat scan instead of re-optimizing the signature→band lineage
    val (cands, candBytes) = Spill.roundTripSized(
      candidatePairs(capped, Seq("band_id", "band_hash"), idCol))
    // exact-jaccard verification shingles ONLY candidate documents: a
    // second corpus scan, but semi-join-filtered before the explode —
    // at scale far cheaper than shuffling every doc's shingle set.
    // The semi-join's small side is explicitly broadcast while the
    // just-spilled candidate file proves it bounded (SCALE.md measured
    // this join falling off Catalyst's 10 MB ESTIMATED-size cliff at
    // 320k docs and shuffling the corpus once — still linear, but 1.7×
    // the bytes; the exact on-disk size is a better gate than the
    // estimate).
    val bcLimit = Spill.broadcastLimit(df.sparkSession)
    def maybeBc(small: DataFrame): DataFrame =
      if (candBytes <= bcLimit) broadcast(small) else small
    val candIds = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    val candDocs = df.select(col(idCol), col(textCol))
      .join(maybeBc(candIds), Seq(idCol), "left_semi")
    // Shingle sets are spilled (not persisted) so their EXACT on-disk
    // size gates a broadcast hint, like the candidate frame's. Plan
    // regimes, all measured in SCALE.md axis 2:
    //  - cands and sh both under their limits → both pair-joins
    //    broadcast, the verification adds ZERO shuffle (the per-pair
    //    expanded arrays never cross the wire);
    //  - only cands small → sh streams through one broadcast join, the
    //    second join shuffles (linear, ~1.7× bytes);
    //  - both large (the true 100 TB regime) → shuffled joins, still
    //    linear in candidate volume.
    // Catalyst's own ESTIMATE fell off the broadcast cliff at 320k docs
    // (10 MB threshold vs actual); exact spill bytes decide correctly.
    // (An inverted-index intersection-count formulation was measured
    // WORSE here: per-pair row expansion with per-row overhead shuffles
    // ~1.8× the packed-array bytes.)
    val (sh, shBytes) = Spill.roundTripSized(
      candDocs.select(col(idCol),
        shingleHashSet(col(textCol), shingleSize).as("sh")))
    def bcSh(p: DataFrame): DataFrame =
      if (shBytes <= BroadcastShinglesBytes) broadcast(p) else p
    val result = maybeBc(cands)
      .join(bcSh(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))), "id_a")
      .join(bcSh(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    materialize(result)
  }

  /** Eagerly materialize `result` (bounded: near-dup pairs, not the
    * corpus) so the operator-internal caches can be released before
    * returning. The result spills to parquet under
    * `spark.graft.spillDir` (default: the JVM temp dir, deleted on
    * exit) and is read back — the returned frame no longer references
    * the unpersisted intermediates, holds NO block-manager storage
    * (`localCheckpoint` blocks squat in executor memory until GC +
    * ContextCleaner, taxing every later query in the session), and is
    * recoverable after executor loss when the spill dir is a shared
    * filesystem (point it at HDFS/S3 on a real cluster).
    */
  private[operators] def materialize(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = Spill.roundTrip(result)
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Connected components over near-duplicate pairs → (member,
    * canonical) where canonical = the component's minimum id — the
    * final step of corpus dedup (keep the canonical, drop the rest).
    *
    * Iterative min-label propagation: each round every vertex takes the
    * minimum of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds, and near-dup clusters are shallow
    * (a duplicate family is a near-clique). Each round runs one join +
    * one aggregation and exactly ONE action: a `count(__chg)` aggregate
    * over the round's persisted frame, which both materializes the cache
    * COMPLETELY (a `limit(1).isEmpty` probe stops at the first hit,
    * leaving uncached partitions whose lineage points at the
    * already-unpersisted previous round — a recomputation cascade) and
    * answers convergence. The FINAL labels spill once to cut the whole
    * loop's lineage before returning.
    *
    * If `maxIters` rounds pass without convergence (a >maxIters-deep
    * label chain — adversarial, but possible in boilerplate-heavy
    * corpora) the partial labeling is returned with a warning rather
    * than aborting the job: every label is still a genuine member of the
    * vertex's component (labels only ever move down through edges), the
    * labeling is just not yet fully canonical.
    *
    * Small-graph fast path: when the pair set (already bounded by the
    * LSH bucket caps and spilled to parquet, so the count is a metadata
    * read) is at most `spark.graft.cc.localThreshold` edges (default
    * 500k) with integer-typed ids, the edges are collected and resolved
    * by exact driver-side union-find in one action — the iterative
    * plan's per-round job launches are pure overhead on a graph this
    * size. Near-dup pair sets are SMALL relative to the corpus (they
    * are the duplicates), but the distributed path remains the default
    * contract: above the threshold, or for non-integer ids, nothing
    * changes.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val localThreshold = spark.conf
      .get("spark.graft.cc.localThreshold", "500000").toLong
    val idType = pairs.schema("id_a").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    if (integral && localThreshold > 0 && localThreshold < Int.MaxValue &&
        pairs.limit(localThreshold.toInt + 1).count() <= localThreshold)
      return localConnectedComponents(pairs, idType)
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist()
    var cached = edges.select(col("src").as("member")).distinct()
      .withColumn("canonical", col("member")).persist()
    var labels = cached
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("member").as("dst"), col("canonical").as("__nc")), "dst")
        .groupBy(col("src").as("member")).agg(min(col("__nc")).as("__nbr"))
      val next = labels.join(nbrMin, Seq("member"), "left_outer")
        .select(col("member"),
          least(col("canonical"), coalesce(col("__nbr"), col("canonical")))
            .as("canonical"),
          (col("__nbr") < col("canonical")).as("__chg"))
        .persist()
      // one full-scan job: materializes every cached partition AND
      // counts the changed rows (count(when(...)) skips the nulls)
      val changed = next.agg(count(when(col("__chg"), lit(1)))).head().getLong(0)
      converged = changed == 0
      cached.unpersist(false)
      cached = next
      labels = next.drop("__chg")
      iter += 1
      // the LOGICAL plan doubles per round (labels feeds both join
      // inputs), so a deep component would grow it exponentially even
      // though execution reads the cache — cut lineage to a flat
      // parquet scan every few rounds; shallow near-dup clusters
      // (diameter ≤ 3) never pay the spill
      if (!converged && iter % 5 == 0) {
        labels = Spill.roundTrip(labels)
        cached.unpersist(false)
        cached = labels.persist()
      }
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponents: not converged after " +
        s"$maxIters rounds — returning the partial labeling (labels are valid " +
        "component members, not yet fully canonical)")
    val out = Spill.roundTrip(labels)
    cached.unpersist(false)
    edges.unpersist(false)
    out
  }

  /** Exact driver-side union-find over a bounded edge list (the
    * [[connectedComponents]] small-graph fast path): union-by-minimum
    * with path compression, so every root IS the component minimum and
    * the output contract (member, canonical=min) holds by construction.
    */
  private def localConnectedComponents(pairs: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    edges.foreach { e =>
      val a = e.getLong(0); val b = e.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val rows = new java.util.ArrayList[Row](parent.size())
    parent.keySet().forEach(m => rows.add(Row(m, find(m))))
    spark.createDataFrame(rows, StructType(Seq(
        StructField("member", LongType), StructField("canonical", LongType))))
      .select(col("member").cast(idType).as("member"),
        col("canonical").cast(idType).as("canonical"))
  }

  /** Keep exactly one row (the minimum id) per cluster of the given
    * near-duplicate pairs — [[connectedComponents]] → anti-join of the
    * non-canonical members. Works with ANY (id_a, id_b) pair source:
    * [[minhashNearDuplicates]], [[simhashNearDuplicates]],
    * [[Similarity.embeddingNearDuplicates]], or precomputed pairs.
    */
  def dropDuplicatesByPairs(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val nonCanonical = connectedComponents(pairs)
      .where(col("member") =!= col("canonical"))
      .select(col("member").as(idCol))
    df.join(nonCanonical, Seq(idCol), "left_anti")
  }

  /** The user-facing near-dup dedup composition: keep exactly one
    * document (the minimum id) per near-duplicate cluster —
    * [[minhashNearDuplicates]] → [[dropDuplicatesByPairs]].
    */
  def dropNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 16,
      shingleSize: Int = 5): DataFrame =
    dropDuplicatesByPairs(df,
      minhashNearDuplicates(df, textCol, idCol, threshold, numHashes, bands,
        shingleSize),
      idCol)

  /** ADMISSION-ORDER near-dup drop: a document is dropped iff SOME
    * smaller-id document within `threshold` exists — whether or not
    * that document itself survived. This is the semantics an
    * incremental admission loop implements by construction (every doc
    * is judged against everything ingested before it), and unlike
    * [[dropNearDuplicates]]'s connected-component min-id it DECOMPOSES
    * exactly: with monotone id assignment (delta ids > base ids),
    * ordered-drop(base ∪ delta) ≡ ordered-drop(base) then
    * delta-vs-index + delta-internal ordered drop — the
    * [[IncrementalCuration]] contract, gated by `q_curate_incremental`
    * whose oracle IS the batch rerun. (CC semantics cannot compose: a
    * delta doc bridging two base clusters would retroactively drop an
    * already-admitted base doc.)
    *
    * Same plan shape as [[dropNearDuplicates]]: LSH candidates,
    * exact-jaccard verification, then one anti-join of the `id_b`
    * (larger) sides — no component propagation at all, so this is
    * strictly cheaper than the CC variant.
    */
  def dropNearDuplicatesOrdered(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val losers = minhashNearDuplicates(df, textCol, idCol, threshold,
        numHashes, bands, shingleSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware drop policy: keep the HIGHEST-`scoreCol` member of
    * each duplicate cluster (ties → smallest id), instead of
    * [[dropDuplicatesByPairs]]'s smallest-id canonical — the policy a
    * training pipeline actually wants (keep the cleanest / longest /
    * best-scored copy). Documents in no pair keep themselves.
    *
    * Scale shape: every join after [[connectedComponents]] is
    * cluster-MEMBERSHIP-sized (ids + scores), never corpus-sized; one
    * groupBy(canonical) picks winners via `max_by` on
    * (score, -member), then the loser id set anti-joins the corpus.
    */
  def dropDuplicatesByPairsKeepBest(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val scored = connectedComponents(pairs).join(
      df.select(col(idCol).as("member"), col(scoreCol).as("__score")),
      Seq("member"))
    val winners = scored.groupBy(col("canonical"))
      .agg(max_by(col("member"),
        struct(col("__score"), -col("member"))).as("__keep"))
    val losers = scored.join(winners, Seq("canonical"))
      .where(col("member") =!= col("__keep"))
      .select(col("member").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity for given candidate id pairs.
    *
    * Shingles are hashed to 64-bit (`xxhash64`) BEFORE set-collection:
    * the two pair-joins below shuffle each doc's shingle set twice, and
    * over raw strings that payload is ~2× the corpus text per join side
    * — the dominant shuffle at scale. Jaccard over the hashed sets is
    * value-identical (a set-size ratio is invariant under injective
    * mapping; 64-bit collisions within one doc pair are negligible),
    * while the shuffled arrays shrink to 8 bytes/element.
    */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    // zero-shuffle shingle-set projection; persisted because both join
    // sides read it (released on return)
    val sh = df.select(col(idCol),
      shingleHashSet(col(textCol), n).as("sh")).persist()
    val result = pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
    materialize(result, sh)
  }

  /** 64-bit SimHash over word tokens: bit i of the signature is the
    * sign of `sum over tokens of (bit i of xxhash64(token) ? +1 : -1)`.
    * Columnar expression (64 folds over the token array); at 100 TB a
    * single-pass native `Expression` would cut this 64×, but the plan
    * shape (projection, zero shuffle) is already right.
    */
  def simhash64(text: Column): Column = {
    val tokens = split(normText(text), " ")
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(aggregate(tokens, lit(0L),
        (acc, t) => acc + when(call_function("shiftright", xxhash64(t), i)
          .bitwiseAND(1) === 1, 1L).otherwise(-1L)
      ) > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(zip_with(bits, sequence(lit(0), lit(63)),
        (b, i) => call_function("shiftleft", b, i)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs between a DELTA corpus and a REFERENCE
    * corpus — the continuous-ingestion shape (today's crawl against
    * the accumulated corpus): candidates come from joining the delta's
    * LSH band buckets against the reference's, so the reference is
    * NEVER self-paired — incremental cost is O(delta) band rows joined
    * into the reference's bucket structure, not O(reference²) — and
    * verification shingles only candidate docs from each side.
    * Returns `(id_delta, id_ref, jaccard)` for exact jaccard ≥
    * `threshold`.
    *
    * Only the REFERENCE side is bucket-capped: its accumulated
    * boilerplate mass is the degenerate-bucket hazard, while capping
    * the delta would silently drop a fresh document's only chance to
    * match. Same exact-bytes broadcast gating as
    * [[minhashNearDuplicates]]. At steady state the reference's band
    * rows are a pure function of (text, numHashes, bands) — persist
    * them once and reuse across deltas (the [[IvfIndex]] posture);
    * this entry point recomputes them for a self-contained call.
    */
  def nearDuplicatesAgainst(
      delta: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      numHashes: Int = 128, bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val dBands = minhashBands(delta, textCol, idCol, numHashes, bands, shingleSize)
      .select(col("band_id"), col("band_hash"), col(idCol).as("id_delta"))
    val rBands = capBuckets(
      minhashBands(reference, textCol, idCol, numHashes, bands, shingleSize),
      Seq("band_id", "band_hash"), idCol)
      .select(col("band_id"), col("band_hash"), col(idCol).as("id_ref"))
    val (cands, candBytes) = Spill.roundTripSized(
      dBands.join(rBands, Seq("band_id", "band_hash"))
        .select(col("id_delta"), col("id_ref")).distinct())
    val bcLimit = Spill.broadcastLimit(delta.sparkSession)
    def maybeBc(small: DataFrame): DataFrame =
      if (candBytes <= bcLimit) broadcast(small) else small
    // exact-jaccard verification: shingle ONLY the candidate docs of
    // each side (semi-join-filtered before the explode)
    def shingleSets(df: DataFrame, ids: DataFrame, as: String): (DataFrame, Long) =
      Spill.roundTripSized(
        df.select(col(idCol), col(textCol))
          .join(maybeBc(ids), Seq(idCol), "left_semi")
          .select(col(idCol), shingleHashSet(col(textCol), shingleSize).as(as)))
    val (dSh, dShBytes) = shingleSets(delta,
      cands.select(col("id_delta").as(idCol)).distinct(), "sh_d")
    val (rSh, rShBytes) = shingleSets(reference,
      cands.select(col("id_ref").as(idCol)).distinct(), "sh_r")
    def bcSh(p: DataFrame, bytes: Long): DataFrame =
      if (bytes <= BroadcastShinglesBytes) broadcast(p) else p
    val result = maybeBc(cands)
      .join(bcSh(dSh.select(col(idCol).as("id_delta"), col("sh_d")), dShBytes), "id_delta")
      .join(bcSh(rSh.select(col(idCol).as("id_ref"), col("sh_r")), rShBytes), "id_ref")
      .withColumn("jaccard",
        size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_d"), col("sh_r"))))
      .where(col("jaccard") >= threshold)
      .select("id_delta", "id_ref", "jaccard")
    materialize(result)
  }

  /** Keep only the delta documents that are NOT near-duplicates of the
    * reference corpus — the ingest-time admission filter. */
  def dropNearDuplicatesAgainst(
      delta: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      numHashes: Int = 128, bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val dup = nearDuplicatesAgainst(delta, reference, textCol, idCol,
      threshold, numHashes, bands, shingleSize)
      .select(col("id_delta").as(idCol)).distinct()
    delta.join(dup, Seq(idCol), "left_anti")
  }

  /** Paragraph-level boilerplate removal (the RefinedWeb/FineWeb
    * pipeline stage): a paragraph appearing VERBATIM in at least
    * `minDocFreq` distinct documents is boilerplate (headers, cookie
    * notices, newsletter prompts) and is excised from every document;
    * the surviving paragraphs are reassembled in their original order.
    * Documents whose every paragraph was boilerplate are DROPPED (the
    * pipeline contract: nothing left to train on), so the output row
    * set can shrink.
    *
    * Matching is exact on the raw paragraph string — boilerplate
    * repeats verbatim; fuzzy paragraph matching is what the
    * document-level near-dup operators are for. `sep` splits literally
    * (regex-quoted). Spark's `split` KEEPS trailing empty strings
    * (unlike `java.lang.String.split`), so a document ending in `sep`
    * carries an empty trailing paragraph through the pipeline; it
    * counts toward doc frequency like any other paragraph, and when
    * frequent enough it is excised — i.e. trailing separators are then
    * stripped from the reassembled text. Oracle SQL must mirror this
    * (duckdb `string_split` also keeps trailing empties).
    *
    * Scale shape: paragraphs shuffle ONCE keyed by md5 digest (long
    * paragraphs travel as 32-byte digests) for the doc-frequency
    * count, the (small) boilerplate digest set comes back
    * spill-measured and broadcast-gated on EXACT bytes
    * (`spark.graft.dedup.broadcastCandidatesBytes`, the established
    * cliff-proof discipline), and reassembly is one shuffle by doc id.
    * Nothing is quadratic; no driver materialization.
    */
  def dropRepeatedParagraphs(df: DataFrame, textCol: String, idCol: String,
      minDocFreq: Long, sep: String = "\n\n"): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq must be >= 2 (1 would drop everything)")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), sepRe)).as(Seq("__pos", "__para")))
      .withColumn("__ph", md5(col("__para")))
    // doc frequency per distinct paragraph: dedupe (id, digest) first
    // so a paragraph repeated WITHIN one document counts once
    val boiler0 = paras.select(col(idCol), col("__ph")).distinct()
      .groupBy(col("__ph")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocFreq).select(col("__ph"))
    val (boiler, boilerBytes) = Spill.roundTripSized(boiler0)
    val bcLimit = Spill.broadcastLimit(df.sparkSession)
    val boilerHinted = if (boilerBytes <= bcLimit) broadcast(boiler) else boiler
    paras.join(boilerHinted, Seq("__ph"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          x => x.getField("__para")), sep).as(textCol))
  }

  /** SimHash near-dup candidates: group by signature prefix blocks
    * (docs within hamming distance d share at least one of d+1 blocks —
    * the classic pigeonhole blocking), verify with full hamming. Pairs
    * come from the same in-bucket expansion as minhash
    * ([[candidatePairs]] shape, carrying the signature alongside the
    * id so the hamming verification happens inside the expansion) —
    * one plan branch, no self-join, no operator-internal cache, and
    * the returned frame is LAZY (nothing to release, so nothing to
    * spill).
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame =
    // the native codegen'd expression: one pass per row, zero shuffle
    hamming64NearDuplicates(
      df.select(col(idCol),
        graft.functions.SimHash64Expr.simhash64(
          normText(col(textCol))).as("sig")),
      idCol, "sig", maxHamming, blocks)

  /** Near-dup pairs over ANY 64-bit signature column (SimHash, image
    * dHash/pHash, audio fingerprints): pigeonhole block-join
    * candidates + exact-hamming verification. The signature's
    * provenance is the caller's business — this is the generic
    * "hamming ≤ d over longs" join. */
  def hamming64NearDuplicates(sigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    val bitsPerBlock = 64 / blocks
    val sig = sigs.select(col(idCol), col(sigCol).as("sig"))
    val blocked = capBuckets(
      sig.select(col(idCol), col("sig"), explode(
        transform(sequence(lit(0), lit(blocks - 1)), b =>
          struct(b.as("block_id"),
            call_function("shiftright", col("sig"), b * bitsPerBlock)
              .bitwiseAND((1L << bitsPerBlock) - 1).as("block_val")))).as("blk"))
        .select(col(idCol), col("sig"), col("blk.block_id"), col("blk.block_val")),
      Seq("block_id", "block_val"), idCol)
    val ms = "__graft_ms"
    blocked.groupBy(col("block_id"), col("block_val"))
      .agg(array_sort(collect_list(struct(col(idCol).as("id"), col("sig"))))
        .as(ms))
      .where(size(col(ms)) >= 2)
      .select(explode(flatten(transform(col(ms), (x, i) =>
        transform(slice(col(ms), i + 2, size(col(ms))),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            hamming64(x.getField("sig"), y.getField("sig")).as("hamming"))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
