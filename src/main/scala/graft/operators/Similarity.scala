package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`) — SURVEY.md §2.11.
  *
  * Scale design: queries are the small side and are always broadcast;
  * the corpus is never collected or crossed with itself. Brute force is
  * the exact baseline (one pass over the corpus per query batch, then a
  * per-query top-k); IVF cuts the scanned fraction to the probed cells.
  */
object Similarity {

  /** int8 rescoring pushes the candidate ids into the corpus scan only
    * from this estimated corpus size on (256 MB), and only up to this
    * many distinct ids (1 << 20); see [[bruteForceTopKInt8]]. */
  private val RescorePushdownMinCorpusBytes = 256L << 20
  private val RescoreIdPushdownMax = 1 << 20

  /** Dot product of two equal-length float/double arrays — a native
    * codegen'd Catalyst expression ([[graft.functions.DotProductExpr]];
    * the HOF `aggregate`/`zip_with` formulation is CodegenFallback and
    * runs interpreted, unacceptable on the 100 TB scoring path).
    * Elements are widened to double BEFORE multiplying and summed in a
    * sequential left fold, so the result is bit-deterministic and
    * engine-portable (oracle parity).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  def l2Norm(a: Column): Column =
    graft.functions.DotProductExpr.l2Norm(a)

  /** Prefer scoring against per-side precomputed norms (see
    * [[bruteForceTopK]]) — this convenience form recomputes both norms
    * for every pair.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Per-query top-k of a (qId, id, score) frame. Integral ids go
    * through the bounded map-side-combinable
    * [[graft.functions.TopKAggregator]] — the shuffle carries at most
    * partitions × k rows per query and nothing is globally sorted.
    * (A Window `row_number` would shuffle and fully sort EVERY scored
    * pair; it remains only as the fallback for non-integral id
    * columns.) Both paths rank by (score desc, id asc) — identical
    * rows out.
    */
  private[operators] def perQueryTopK(scored: DataFrame, k: Int,
      qIdCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = scored.schema(idCol).dataType
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        scored
          .groupBy(col(qIdCol))
          .agg(graft.functions.TopKAggregator(k)(
            col("score"), col(idCol).cast("long")).as("__tk"))
          .select(col(qIdCol), posexplode(col("__tk")).as(Seq("__r", "__p")))
          .select(col(qIdCol), col("__p._2").cast(idType).as(idCol),
            col("__p._1").as("score"), (col("__r") + 1).cast("int").as("rank"))
      case _ =>
        val w = Window.partitionBy(qIdCol).orderBy(col("score").desc, col(idCol).asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
          .select(col(qIdCol), col(idCol), col("score"), col("rank"))
    }
  }

  /** Exact brute-force top-k by cosine: broadcast the query set, score
    * every (corpus row, query) pair map-side with the codegen'd dot
    * kernel — norms are computed ONCE per corpus row / per query before
    * the join, not per pair — then keep k per query via the bounded
    * partial top-k aggregate. Deterministic tie-break: higher score,
    * then lower corpus id.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(qIdCol), col(qVecCol), l2Norm(col(qVecCol)).as("__qn"))
    val scored = c.join(broadcast(q))
      .select(col(qIdCol), col(idCol),
        (dot(col(vecCol), col(qVecCol)) / (col("__cn") * col("__qn"))).as("score"))
    perQueryTopK(scored, k, qIdCol, idCol)
  }

  /** Int8-scored brute-force top-k with float32 rescoring — the
    * memory-bandwidth shape for corpus-scale search: the scan pass
    * reads 4×-smaller packed quantized vectors and scores them with the
    * SWAR integer dot kernel ([[graft.functions.DotProduct.dotPP]]; the
    * per-vector scales CANCEL in per-query cosine ranking, so the
    * int8 stage needs no dequantization at all), keeps the top
    * `rescoreFactor · k` candidates per query via the bounded map-side
    * top-k aggregate, then rescores ONLY those pairs with exact float
    * cosine — identical scoring to [[bruteForceTopK]], so when the
    * candidate pool contains the true top-k (the overwhelmingly common
    * case: int8 cosine error at unit scale is ~1/254 per element pair)
    * the output is bit-identical to the exact baseline.
    *
    * Plan shape: one pass over the quantized corpus (broadcast
    * quantized queries), one bounded aggregation, then a second
    * corpus access that fetches only candidate rows via a broadcast
    * semi-structure (candidates ≪ corpus). If a pre-packed
    * `<vecCol>_b8` BINARY column (ingest-time
    * [[graft.functions.DotProductExpr.quantizePackInt8]] — the 100 TB
    * posture: store packed int8, scan packed int8) or a pre-quantized
    * `<vecCol>_q8` array<int> ([[quantizeInt8]]) is present, it is
    * used as-is; otherwise quantization is planted inline as a pure
    * projection.
    */
  def bruteForceTopKInt8(
      corpus: DataFrame, queries: DataFrame, k: Int,
      rescoreFactor: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    // int8 ranking score: dotPP(c8, q8) / (‖c8‖·‖q8‖) — the quantized
    // cosine over SWAR-packed vectors (`array<bigint>`, 8 int8 lanes
    // per long — [[graft.functions.Int8PackedLongsExpr]]): 1 B/element
    // density like a BINARY vector, but read as a zero-copy
    // UnsafeArrayData view like the float path — `getBinary` COPIES per
    // access, which in this nested-loop scoring join meant one fresh
    // byte[] per PAIR and measured slower than float32 (SCALE.md
    // axis 7, first revision). Norms computed once per side, never per
    // pair. Input forms: a pre-PACKED `<vecCol>_b8` BINARY column (the
    // 100 TB storage shape — build at ingest with
    // [[graft.functions.DotProductExpr.quantizePackInt8]]), a
    // pre-quantized `<vecCol>_q8` array<int> ([[quantizeInt8]]), or a
    // raw float column (fused quantize inside the packing expression —
    // one tight codegen'd loop, no interpreted HOFs); all three
    // project to the lane layout once per row at scan, zero-copy
    // thereafter. The norm floor keeps a quantized zero vector at
    // score 0, not NaN.
    def pdot(a: Column, b: Column): Column =
      graft.functions.DotProductExpr.int8PackedDot(a, b)
    def packedLongs(df: DataFrame, vec: String, id: String, out: String): DataFrame = {
      val b8 = s"${vec}_b8"; val q8 = s"${vec}_q8"
      val src = if (df.columns.contains(b8)) col(b8)
        else if (df.columns.contains(q8)) col(q8)
        else col(vec)
      df.select(col(id),
        graft.functions.DotProductExpr.int8PackedLongs(src).as(out))
    }
    val c8 = packedLongs(corpus, vecCol, idCol, "__c8")
      .withColumn("__c8n", greatest(sqrt(pdot(col("__c8"), col("__c8"))), lit(1e-30)))
    val q8 = packedLongs(queries, qVecCol, qIdCol, "__q8")
      .withColumn("__q8n", greatest(sqrt(pdot(col("__q8"), col("__q8"))), lit(1e-30)))
    val scored8 = c8.join(broadcast(q8))
      .select(col(qIdCol), col(idCol),
        (pdot(col("__c8"), col("__q8")) / (col("__c8n") * col("__q8n")))
          .as("score"))
    val cand0 = perQueryTopK(scored8, rescoreFactor * k, qIdCol, idCol)
      .select(col(qIdCol), col(idCol))
    // Exact float rescore of the candidate pairs only. The corpus must
    // contribute just the candidate ROWS — at 100 TB a full
    // float-column scan to rescore a few thousand pairs would read the
    // whole table a second time. Two regimes on the corpus plan's
    // stats (file-backed plans estimate from file sizes, cached plans
    // report exact materialized bytes — and a wrong call costs little
    // in either direction: a small corpus mis-flagged big pays ~two
    // fixed-latency driver jobs, a big one mis-flagged small pays one
    // extra scan):
    //  - big corpus: spill the candidate pairs (stage 1 executes
    //    exactly once; the pair set feeds two consumers), collect the
    //    BOUNDED id set (≤ |queries| · rescoreFactor · k, capped —
    //    same discipline as the union-find gate) and PUSH it into the
    //    corpus scan as an InSet predicate: parquet prunes via
    //    dictionary/column-index/bloom where present, and at minimum
    //    rows short-circuit at the scan instead of flowing into the
    //    join. Over the id cap: plain broadcast-join fallback.
    //  - small corpus: the lazy skinny-broadcast plan — the second
    //    scan is bounded by the (small) corpus, and skipping the spill
    //    + collect jobs keeps the operator's fixed latency at
    //    interactive scale.
    // The candidate pairs and query vectors broadcast SEPARATELY (both
    // skinny) — pre-joining them would replicate each query vector
    // rescoreFactor·k times in the broadcast. Corpus-side l2Norm is
    // computed after the join, over candidates ≪ corpus.
    val corpusBytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val (cand, corpusSrc) =
      if (corpusBytes < RescorePushdownMinCorpusBytes) (cand0, corpus)
      else {
        val spilled = Spill.roundTrip(cand0)
        val ids = spilled.select(col(idCol)).distinct()
          .limit(RescoreIdPushdownMax + 1).collect().map(_.get(0))
        if (ids.length <= RescoreIdPushdownMax) {
          // a single InSet node, NOT isInCollection — the latter builds
          // an In with |ids| Literal children and the analyzer/optimizer
          // walk all of them on every rule pass (measured: seconds of
          // driver CPU at 16k ids). InSet holds one hash set of
          // INTERNAL values (hence the catalyst converter — external
          // String ≠ internal UTF8String).
          import org.apache.spark.sql.catalyst.CatalystTypeConverters
          import org.apache.spark.sql.catalyst.expressions.InSet
          import org.apache.spark.sql.graft.ColumnBridge
          val toInternal = CatalystTypeConverters
            .createToCatalystConverter(corpus.schema(idCol).dataType)
          val pred = ColumnBridge.column(InSet(
            ColumnBridge.expression(col(idCol)), ids.map(toInternal).toSet))
          (spilled, corpus.where(pred))
        } else (spilled, corpus)
      }
    val qf = queries.select(col(qIdCol), col(qVecCol), l2Norm(col(qVecCol)).as("__qn"))
    val rescored = corpusSrc.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .withColumn("__cn", l2Norm(col(vecCol)))
      .join(broadcast(qf), Seq(qIdCol))
      .select(col(qIdCol), col(idCol),
        (dot(col(vecCol), col(qVecCol)) / (col("__cn") * col("__qn"))).as("score"))
    perQueryTopK(rescored, k, qIdCol, idCol)
  }

  /** IVF (inverted-file) index: centroids := the `nCells` corpus rows
    * with the smallest `xxhash64(id)` (a deterministic pseudo-random
    * sample, fetched as a per-partition top-k — no driver-side
    * `count()`, no full sort); each corpus row is assigned to its
    * nearest centroid via one map-side-combinable `max_by` aggregation;
    * a query scans only `nProbe` nearest cells. Optional Lloyd
    * iterations refine the centroids at the driver over a bounded
    * training sample (≤ `trainSampleCap` vectors, FAISS-style) — the
    * corpus feeds exactly one distributed pass regardless of iteration
    * count. Deterministic end to end: same data + same config ⇒
    * identical output.
    *
    * Returns the same schema as [[bruteForceTopK]]; recall < 1 by
    * construction — verify against the brute-force baseline in tests.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      kmeansIters: Int = 0, kmeansTol: Double = 1e-6,
      trainSampleCap: Int = 1 << 16): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, idCol, vecCol,
      kmeansIters, kmeansTol, trainSampleCap)
    val assigned = assignCells(corpus, centroids, idCol, vecCol)
    val probed = probeCells(queries, centroids, nProbe, qIdCol, qVecCol)
    scoreProbed(assigned, probed, k, idCol, vecCol, qIdCol, qVecCol)
  }

  /** The IVF centroid set as a LocalRelation DataFrame
    * `(cell_id int, centroid array<float>)` — see [[ivfTopK]] for the
    * training contract (deterministic bounded driver-side sample).
    */
  private[operators] def trainCentroids(
      corpus: DataFrame, nCells: Int,
      idCol: String, vecCol: String,
      kmeansIters: Int, kmeansTol: Double, trainSampleCap: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
    val normed = corpus.select(col(idCol), col(vecCol),
      l2Norm(col(vecCol)).as("__vn"))

    // Deterministic pseudo-random total order over the corpus: the
    // first nCells rows seed the centroids, the first trainSampleCap
    // rows are the k-means training sample. TakeOrderedAndProject —
    // per-partition top-k, driver merge of a BOUNDED row set, no full
    // sort, no driver-side count().
    val ordered = normed.orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)

    // K-means training runs at the DRIVER over a once-collected sample
    // of ≤ max(trainSampleCap, nCells) vectors — the FAISS posture
    // (train on ~256 samples/cell, never the corpus): at 100 TB the
    // corpus feeds exactly ONE distributed pass (the assignment below),
    // while each Lloyd iteration as a distributed job would re-scan +
    // re-shuffle the whole corpus to refine what a bounded sample fixes
    // equally well. Bounded + deterministic: the sample is a fixed-size
    // prefix of a stable total order, local float math is
    // order-deterministic, so same data + config ⇒ identical centroids.
    // Collected through the PRIMITIVE float-array encoder
    // (Dataset[Array[Float]] deserializes via UnsafeArrayData →
    // float[], no per-element boxing), so the transient driver heap is
    // the flat trainSampleCap × dim × 4 B — e.g. 64 Ki × 1024 dims =
    // 256 MiB — not the multi-GiB boxed-Row shape. Size
    // `trainSampleCap` (and driver memory) to that product at high
    // dims: 64 Ki × 1536 ≈ 384 MiB flat.
    import corpus.sparkSession.implicits._
    val centVecs: IndexedSeq[IndexedSeq[Float]] =
      if (kmeansIters <= 0) {
        ordered.limit(nCells).select(col(vecCol)).as[Array[Float]].collect()
          .map(_.toIndexedSeq).toIndexedSeq
      } else {
        val sample: Array[Array[Float]] = ordered
          .limit(math.max(trainSampleCap, nCells))
          .select(col(vecCol)).as[Array[Float]].collect()
        var cents: Vector[Array[Float]] =
          sample.take(nCells).map(_.clone).toVector
        def norm(v: Array[Float]): Double = {
          var n = 0.0; var i = 0
          while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
          math.sqrt(n)
        }
        def dotd(a: Array[Float], b: Array[Float]): Double = {
          var d = 0.0; var i = 0
          while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
          d
        }
        // norms are loop-invariant: sample norms once for the whole
        // run, centroid norms once per iteration — not per (sample,
        // centroid) pair
        val sampleNorms = sample.map(norm)
        var iter = 0
        var converged = false
        while (iter < kmeansIters && !converged) {
          val centNorms = cents.map(norm)
          val sums = Array.fill(cents.size)(null: Array[Double])
          val cnts = new Array[Long](cents.size)
          var si = 0
          while (si < sample.length) {
            val v = sample(si)
            var best = 0; var bs = Double.NegativeInfinity
            var c = 0
            while (c < cents.size) {
              val s = dotd(v, cents(c)) / (sampleNorms(si) * centNorms(c))
              if (s > bs) { bs = s; best = c }
              c += 1
            }
            if (sums(best) == null) sums(best) = new Array[Double](v.length)
            var i = 0
            while (i < v.length) { sums(best)(i) += v(i); i += 1 }
            cnts(best) += 1
            si += 1
          }
          // empty cells are dropped (the distributed formulation's
          // groupBy dropped them identically)
          val next = cents.indices.collect {
            case c if cnts(c) > 0 =>
              val a = new Array[Float](sums(c).length)
              var i = 0
              while (i < a.length) { a(i) = (sums(c)(i) / cnts(c)).toFloat; i += 1 }
              a
          }.toVector
          converged = next.size == cents.size &&
            next.indices.forall { c =>
              cents(c).indices.forall(i =>
                math.abs(next(c)(i) - cents(c)(i)) <= kmeansTol)
            }
          cents = next
          iter += 1
        }
        cents.map(_.toIndexedSeq)
      }
    // the (bounded) centroid set ships as a LocalRelation: the
    // assignment and the query probe below each broadcast a DIFFERENT
    // projection of it for free (two non-identical broadcast exchanges
    // over a distributed centroid plan would run it twice)
    val centSchema = StructType(Seq(
      StructField("cell_id", IntegerType, nullable = false),
      StructField("centroid", ArrayType(FloatType, containsNull = false))))
    corpus.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        centVecs.zipWithIndex.map { case (v, i) => Row(i, v): Row }).asJava,
      centSchema)
  }

  /** Nearest-centroid assignment: broadcast centroids (norms computed
    * once per centroid / per corpus row, not per pair), fold per id
    * with min_by over (-cscore, cell_id) — partial-aggregable, no
    * Window (which would sort the whole corpus by id). Ties: higher
    * cscore, then lower cell_id; only the always-numeric score is
    * negated, so string id columns work (negating cell_id would bind
    * the operator to numeric ids). The corpus norm rides through the
    * fold so the scoring join never recomputes it. Output:
    * `(idCol, vecCol, __vn, cell_id)`.
    */
  private[operators] def assignCells(
      corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val normed = corpus.select(col(idCol), col(vecCol),
      l2Norm(col(vecCol)).as("__vn"))
    val cn = cents.select(col("cell_id"), col("centroid"),
      l2Norm(col("centroid")).as("__cen"))
    normed
      .join(broadcast(cn))
      .select(col(idCol), col(vecCol), col("__vn"), col("cell_id"),
        (dot(col(vecCol), col("centroid")) / (col("__vn") * col("__cen")))
          .as("cscore"))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("cell_id"), col(vecCol).as("__v"),
          col("__vn").as("__n")),
        struct(-col("cscore"), col("cell_id"))).as("__a"))
      .select(col(idCol), col("__a.__v").as(vecCol),
        col("__a.__n").as("__vn"), col("__a.cell_id").as("cell_id"))
  }

  /** The nProbe nearest cells per query: `(qIdCol, qVecCol, cell_id)`. */
  private[operators] def probeCells(
      queries: DataFrame, centroids: DataFrame, nProbe: Int,
      qIdCol: String, qVecCol: String): DataFrame = {
    val wProbe = Window.partitionBy(qIdCol).orderBy(col("cscore").desc, col("cell_id").asc)
    queries.join(broadcast(centroids))
      .select(col(qIdCol), col(qVecCol), col("cell_id"),
        cosine(col(qVecCol), col("centroid")).as("cscore"))
      .withColumn("r", row_number().over(wProbe)).where(col("r") <= nProbe)
      .select(col(qIdCol), col(qVecCol), col("cell_id"))
  }

  /** Score each query against its probed cells' members and keep k.
    * `assigned` must carry `(idCol, vecCol, __vn, cell_id)`.
    */
  private[operators] def scoreProbed(
      assigned: DataFrame, probed: DataFrame, k: Int,
      idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String): DataFrame = {
    val scored = assigned
      .join(probed.withColumn("__qn", l2Norm(col(qVecCol))), "cell_id")
      .select(col(qIdCol), col(idCol),
        (dot(col(vecCol), col(qVecCol)) / (col("__vn") * col("__qn"))).as("score"))
    perQueryTopK(scored, k, qIdCol, idCol)
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression an embedding pipeline applies before writing vectors
    * at corpus scale (4× smaller than float32; dot products on int8
    * dequantize through the per-vector scale). Per vector:
    * `scale = 127 / max|x|`, `q_i = floor(x_i·scale + ½)` — the
    * floor(x+½) construction instead of decimal round() keeps the
    * result reproducible across engines (pure IEEE ops on identical
    * inputs; |q_i| ≤ 127 by construction, no clamp needed). Zero
    * vectors quantize to zeros via the absmax floor. Pure projection —
    * zero shuffle, linear at any corpus size.
    * Emits `<vecCol>_scale` (double) and `<vecCol>_q8` (array<int>,
    * values in [-127, 127]).
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val absmax = greatest(
      array_max(transform(col(vecCol), x => abs(x))).cast("double"), lit(1e-30))
    val scale = lit(127.0) / absmax
    df.withColumn(s"${vecCol}_scale", scale)
      .withColumn(s"${vecCol}_q8", transform(col(vecCol),
        x => floor(x.cast("double") * col(s"${vecCol}_scale") + lit(0.5))
          .cast("int")))
  }

  /** Inverse of [[quantizeInt8]]: `x̂_i = q_i / scale`; per-element
    * error is bounded by `max|x| / 254` (half a quantization step).
    */
  def dequantizeInt8(qCol: Column, scaleCol: Column): Column =
    transform(qCol, q => q.cast("double") / scaleCol)

  /** Per-dimension corpus statistics of an embedding column — the
    * feature-scaling / drift-baseline pass ("is dimension 17 dead?
    * what normalizer do we ship?"). Returns `dim, n, sum_q, sumsq_q,
    * mean, std` where `sum_q`/`sumsq_q` are EXACT integer sufficient
    * statistics of the values on a 1e-4 grid (`q = floor(x·10⁴ + ½)`):
    * float partial aggregation is summation-order-dependent across
    * partitions, so the exact sums come from LONGs and mean/std are
    * single IEEE divisions of exact operands — reproducible
    * bit-for-bit at any partitioning and on any engine. Overflow:
    * |q| ≤ 10⁴·max|x|; sumsq per dim ≤ n·10⁸·max|x|² — fine to ~10¹⁰
    * unit-norm rows per dimension. One posexplode + one groupBy(dim):
    * shuffle bounded by dims × partitions (map-side combine).
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val q = floor(col("__x").cast("double") * 10000d + lit(0.5)).cast("long")
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(q).as("sum_q"),
        sum(q * q).as("sumsq_q"))
      .withColumn("mean", col("sum_q").cast("double") / 10000d /
        col("n").cast("double"))
      .withColumn("std", sqrt(greatest(lit(0.0),
        (col("sumsq_q").cast("double") / col("n").cast("double") -
          (col("sum_q").cast("double") / col("n").cast("double")) *
            (col("sum_q").cast("double") / col("n").cast("double"))))) / 10000d)
  }

  /** Exact distributed group centroids over int8-quantized vectors
    * (cluster means, per-class embedding prototypes): per-dimension
    * sums accumulate in LONGs — order-free exact, unlike float partial
    * aggregation, so the result is reproducible bit-for-bit at any
    * partitioning — and the centroid is `sum/n` per dimension (a single
    * deterministic division of exact operands). One shuffle on the
    * group key with map-side combine; buffer O(dim) per group.
    * Emits `(groupCol, sum_q8 array<bigint>, n, centroid array<double>)`.
    */
  def int8Centroids(df: DataFrame, groupCol: String, qCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        graft.functions.LongVectorSumAggregator
          .longVecSum(col(qCol).cast("array<bigint>")).as("sum_q8"),
        count(lit(1)).as("n"))
      .withColumn("centroid",
        transform(col("sum_q8"), x => x.cast("double") / col("n")))

  /** Random-hyperplane LSH bucketing for cosine: bit i of the bucket id
    * is the sign of `dot(v, h_i)` where the `h_i` are deterministic
    * seeded hyperplanes materialized as LITERAL arrays — computed once
    * at plan build, not re-derived per row (the hash-per-element
    * formulation re-evaluated nBits×dim hash calls per row).
    * Same-bucket rows are near-duplicate candidates.
    */
  /** Deterministic ±1 sign matrix for [[randomProject]] on the repo's
    * md5 grid: `sign(i,j) = +1` iff the first 8 hex chars of
    * `md5("i_j_seed")` parse even — exactly reproducible in any engine
    * with md5, no RNG state.
    */
  def signProjectionMatrix(inDim: Int, outDim: Int,
      seed: String): Array[Array[Double]] = {
    require(inDim >= 1 && outDim >= 1, s"bad dims: $inDim -> $outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, i) =>
      val hex = md.digest(s"${i}_${j}_$seed".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Johnson–Lindenstrauss sign random projection: `out_j = Σ_i x_i ·
    * sign(i,j)` — the cheap, deterministic dimensionality reduction in
    * front of clustering / LSH / ANN when the raw dim is large.
    * Long-format output `(id, out_dim, value)` with values on the 1e-5
    * grid (the per-component sum is a SEQUENTIAL array fold, so
    * cross-engine divergence is last-ulp only and round(5) absorbs
    * it).
    *
    * Scale: a pure zero-shuffle projection; the matrix is `outDim ·
    * inDim` ±1 literals baked into the plan — fine to ~10⁵ entries;
    * past that, move the matrix into a broadcast and a custom
    * Expression (the [[graft.functions.DotProductExpr]] pattern)
    * rather than growing the plan.
    */
  def randomProject(df: DataFrame, vecCol: String, idCol: String,
      inDim: Int, outDim: Int, seed: String = "jl"): DataFrame = {
    val mat = signProjectionMatrix(inDim, outDim, seed)
    val comps = array((0 until outDim).map { j =>
      val signs = array(mat(j).map(lit): _*)
      round(aggregate(
        zip_with(col(vecCol), signs, (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v), 5)
    }: _*)
    df.select(col(idCol), posexplode(comps).as(Seq("out_dim", "value")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): drop all but one member (the minimum id) of
    * every transitive group of embedding-cosine near-duplicates —
    * the embedding-space complement of the lexical
    * [[Dedup.dropNearDuplicates]], catching paraphrases and
    * re-encodings that share no n-grams.
    *
    * Composition of independently-tested pieces:
    * [[embeddingNearDuplicates]] (LSH-bucketed candidates, exact
    * cosine verify — never all-pairs) → [[Dedup.dropDuplicatesByPairs]]
    * (connected components → anti-join of non-canonical members).
    * Scale posture is inherited: the corpus shuffles once by bucket
    * id, buckets are capped against degenerate hot spots, and the
    * pair set — bounded by the caps — is the only input to the CC
    * step, whose driver fast path is gated at
    * `spark.graft.cc.localThreshold` edges.
    */
  def semDedup(corpus: DataFrame, threshold: Double, dim: Int,
      nBits: Int = 12, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Dedup.dropDuplicatesByPairs(corpus,
      embeddingNearDuplicates(corpus, threshold, dim, nBits, idCol, vecCol)
        .select("id_a", "id_b"),
      idCol)

  def cosineLshBucket(vec: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(nBits, dim)(rng.nextGaussian())
    val bits = planes.zipWithIndex.map { case (h, i) =>
      val hLit = array(h.map(lit): _*)
      when(dot(vec, hLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: candidates
    * share a bucket (shuffle by bucket id only), verified by exact
    * cosine >= threshold. Bucket membership is capped against
    * degenerate hot buckets (near-constant embeddings) — see
    * [[Dedup.capBuckets]] — and pairs come from one in-bucket
    * expansion over the collected (bounded) member list, so the corpus
    * — and the nBits-dot-product hashing — is scanned ONCE, not once
    * per self-join side.
    */
  def embeddingNearDuplicates(
      corpus: DataFrame, threshold: Double, dim: Int, nBits: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = Dedup.capBuckets(
      corpus.select(col(idCol), col(vecCol),
        cosineLshBucket(col(vecCol), dim, nBits).as("bucket"),
        l2Norm(col(vecCol)).as("__n")),
      Seq("bucket"), idCol)
    val ms = "__graft_ms"
    b.groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(
        col(idCol).as("id"), col(vecCol).as("v"), col("__n").as("n")))).as(ms))
      .where(size(col(ms)) >= 2)
      .select(explode(flatten(transform(col(ms), (x, i) =>
        transform(slice(col(ms), i + 2, size(col(ms))),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            (dot(x.getField("v"), y.getField("v")) /
              (x.getField("n") * y.getField("n"))).as("cos"))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.cos"))
      .where(col("cos") >= threshold)
      .distinct()
  }
}
