package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md
  * §2.11): quality stats, language ID, token counting, fingerprinting.
  * All pure columnar projections — zero shuffle, fully codegen'd, so
  * they stream at scan speed over 100 TB.
  */
object TextAnalysis {

  /** Whitespace word tokens of the normalized text. */
  def words(text: Column): Column = split(Dedup.normText(text), " ")

  /** Overlapping token-window chunking — the retrieval/RAG prep
    * primitive: each document becomes `ceil`-strided windows of
    * `chunkTokens` tokens with `overlapTokens` shared between
    * neighbors, so no span longer than the overlap is ever split
    * across a chunk boundary without appearing whole in one chunk.
    *
    * Chunk starts are `0, stride, 2·stride, …` (stride = chunk −
    * overlap); a final start is kept only while `start < n − overlap`,
    * so the tail chunk always contributes ≥1 NEW token (no chunk fully
    * contained in its predecessor). Zero-token documents emit no
    * chunks. Pure projection (`transform` + `posexplode`): zero
    * shuffle at any corpus size, chunk identity (`doc, chunk_idx`) is
    * stable across runs/engines.
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 32): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got $overlapTokens/$chunkTokens")
    val stride = chunkTokens - overlapTokens
    val w = filter(words(col(textCol)), _ =!= "")
    df.select(col(idCol), w.as("__w"), size(w).as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol), posexplode(
        transform(
          sequence(lit(0),
            // last kept start s satisfies s < n - overlap (or s = 0):
            // count = 1 + floor((n - overlap - 1) / stride) when
            // n > overlap, else 1
            when(col("__n") > overlapTokens,
              (col("__n") - overlapTokens - 1) / stride)
              .otherwise(lit(0)).cast("int")),
          i => slice(col("__w"), i * stride + 1, lit(chunkTokens)))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).as("n_tokens"))
  }

  /** Basic quality statistics. Deterministic, oracle-friendly
    * definitions (documented inline).
    */
  def stats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    df.withColumn("n_chars_calc", length(t))
      .withColumn("n_words", size(ws))
      .withColumn("avg_word_len",
        round(aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") /
          size(ws), 4))
      .withColumn("n_punct", size(split(t, "[\\p{Punct}]")) - 1)
      .withColumn("n_digits", size(split(t, "[0-9]")) - 1)
      .withColumn("distinct_word_ratio",
        round(size(array_distinct(ws)).cast("double") / size(ws), 4))
  }

  /** Heuristic quality score in [0, 1]: long-enough docs with diverse
    * words and few digits score high. The exact formula is arbitrary
    * but fixed (reproducible across engines).
    */
  def qualityScore(text: Column): Column = {
    val ws = words(text)
    val lenScore = least(size(ws).cast("double") / 100.0d, lit(1.0d))
    val diversity = size(array_distinct(ws)).cast("double") / greatest(size(ws), lit(1))
    val digitPenalty = (size(split(text, "[0-9]")) - 1).cast("double") /
      greatest(length(text), lit(1))
    round(greatest(least(lenScore * diversity - digitPenalty, lit(1.0d)), lit(0.0d)), 4)
  }

  /** Tiny stopword lists per language for n-gram/stopword language ID.
    * Real pipelines plug in larger lists; the operator shape (count
    * word-set hits per language, argmax) is what matters. The single
    * canonical copy lives in [[graft.functions.TextLangTokens]] (the
    * native expression that does the counting) — this view can never
    * desynchronize from it.
    */
  val stopwords: Map[String, Seq[String]] = {
    import graft.functions.TextLangTokens
    TextLangTokens.langs.zip(TextLangTokens.stopwordSets.map(_.toSeq)).toMap
  }

  /** The whole langID/stopword/token stack in one native codegen'd
    * pass over the normalized text ([[graft.functions.TextLangTokensExpr]]).
    * Multiple `getField`s of the same call are one evaluation
    * (subexpression elimination), so `languageId` + `approxTokenCount`
    * + `stopwordHits` in one projection walk the text once — the HOF
    * formulation they replaced ran 6 interpreted array traversals.
    */
  private def langTok(text: Column, maxLen: Int = 4): Column =
    graft.functions.TextLangTokensExpr.textLangTokens(Dedup.normText(text), maxLen)

  /** Count of tokens that are stopwords of the given language. */
  def stopwordHits(text: Column, lang: String): Column = {
    require(stopwords.contains(lang), s"unknown language: $lang")
    langTok(text).getField(s"${lang}_hits")
  }

  /** Language ID: argmax of per-language stopword hit counts; `und`
    * when no list matches at all. Deterministic tie-break by language
    * code order (lexicographically greatest wins ties).
    */
  def languageId(text: Column): Column = langTok(text).getField("lang_pred")

  /** BPE-ish subword token count: splits words longer than `maxLen`
    * chars into ceil(len/maxLen) pieces — the standard cheap proxy for
    * LLM token budgeting when the real tokenizer is out of process.
    */
  def approxTokenCount(text: Column, maxLen: Int = 4): Column =
    langTok(text, maxLen).getField("approx_tokens")

  /** Stable document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(Dedup.normText(text))

  /** Rolling polynomial hash over word tokens (base 31, mod 2^61-1) —
    * shift-invariant prefix hashing primitive for chunk-level dedup.
    */
  def rollingHash(text: Column): Column = {
    val mod = lit(2305843009213693951L) // 2^61 - 1
    aggregate(words(text), lit(0L),
      (acc, w) => pmod(acc * 31L + pmod(xxhash64(w), mod), mod))
  }

  def analyze(df: DataFrame, textCol: String): DataFrame =
    stats(df, textCol)
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", languageId(col(textCol)))
      .withColumn("approx_tokens", approxTokenCount(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A;
    * C4's heuristics, Raffel et al. 2020) — the shape filters LLM
    * corpus pipelines apply before training, in deterministic
    * cross-engine formulations:
    *  - `rule_word_count`: word count within [minWords, maxWords];
    *  - `rule_mean_word_len`: mean word length within [3, 10] — computed
    *    arithmetically from the normalized text ((chars − spaces) /
    *    words), no per-word lambda, fully codegen'd;
    *  - `rule_symbol_ratio`: symbols per word ≤ 0.1, where a symbol is
    *    '#', an ASCII '...' run (every 3 dots count one ellipsis), or a
    *    Unicode '…' (the common web form);
    *  - `rule_alpha_words`: fraction of words containing a letter ≥ 0.8;
    *  - `rule_stopwords`: at least `minStopwords` English stopwords
    *    (Gopher's "stop word" sanity check).
    * Emits the numeric diagnostics, each rule boolean, and `passes` =
    * the conjunction. Pure projection — zero shuffle.
    */
  def gopherRules(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    val t = col(textCol)
    val norm = Dedup.normText(t)
    val ws = words(t)
    val nw = size(ws)
    val meanLen = (length(norm) - (nw - 1)).cast("double") / nw
    val hashes = length(norm) - length(regexp_replace(norm, "#", ""))
    val ellipses = (length(norm) -
      length(regexp_replace(norm, "\\.\\.\\.", ""))) / 3 +
      (length(norm) - length(regexp_replace(norm, "…", "")))
    val symRatio = (hashes + ellipses).cast("double") / nw
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]"))).cast("double") / nw
    val stopHits = stopwordHits(t, "en")
    val rWords = nw >= minWords && nw <= maxWords
    val rMean = meanLen >= 3.0 && meanLen <= 10.0
    val rSym = symRatio <= 0.1
    val rAlpha = alphaFrac >= 0.8
    val rStop = stopHits >= minStopwords
    df.withColumn("n_words", nw)
      .withColumn("mean_word_len", round(meanLen, 4))
      .withColumn("symbol_ratio", round(symRatio, 4))
      .withColumn("alpha_word_frac", round(alphaFrac, 4))
      .withColumn("stopword_hits", stopHits)
      .withColumn("rule_word_count", rWords)
      .withColumn("rule_mean_word_len", rMean)
      .withColumn("rule_symbol_ratio", rSym)
      .withColumn("rule_alpha_words", rAlpha)
      .withColumn("rule_stopwords", rStop)
      .withColumn("passes", rWords && rMean && rSym && rAlpha && rStop)
  }

  /** Gopher's repetition filter: the fraction of a document's word
    * n-gram OCCURRENCES that belong to duplicated n-grams (a gram
    * appearing c > 1 times contributes all c occurrences). Boilerplate,
    * chorus-like spam, and degenerate generations score high; Gopher
    * drops documents with duplicate-2-gram fraction above ~0.2.
    * Plan shape: the gram stream is a zero-shuffle codegen'd
    * projection ([[graft.functions.KGramHashes64Expr]]); the only
    * exchange is the (id, gram) occurrence count.
    * Returns (idCol, n_grams, dup_frac: double, rule_repetition).
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String,
      n: Int = 2, maxDupFraction: Double = 0.2): DataFrame = {
    val counts = df.select(col(idCol),
        explode(graft.functions.KGramHashes64Expr.kgramHashes64(
          Dedup.normText(col(textCol)), n)).as("__s"))
      .groupBy(col(idCol), col("__s")).agg(count(lit(1)).as("__c"))
    val dupFrac = sum(when(col("__c") > 1, col("__c")).otherwise(0L))
      .cast("double") / sum(col("__c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_grams"),
        round(dupFrac, 4).as("dup_frac"),
        (dupFrac <= maxDupFraction).as("rule_repetition"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every word k-gram, slide a window of `w`
    * consecutive k-gram hashes, select each window's minimum. Output is
    * (idCol, fp) — the distinct selected fingerprints per document.
    *
    * Detection guarantee: two documents sharing any run of at least
    * `w + k - 1` consecutive words select at least one IDENTICAL
    * fingerprint (a shared run that long contains a full shared window;
    * the minimum of identical window contents is the same value), so a
    * VALUE-join on `fp` finds every long-enough shared chunk — quotes,
    * boilerplate, benchmark contamination — while storing only
    * ~1/w of the k-gram hashes.
    *
    * Plan shape: a ZERO-SHUFFLE projection — the whole pipeline
    * (tokenize → k-gram rolling hashes → sliding-min deque → per-doc
    * dedupe) runs in one codegen'd pass per row
    * ([[graft.functions.WinnowFps64Expr]]), replacing the posexplode +
    * three-ordering-windows formulation that exchanged and sorted
    * every token in the corpus by doc id (measured: SCALE.md axis 14).
    * Documents shorter than w + k - 1 words emit their prefix-window
    * minima, so every tokenized document carries at least one
    * fingerprint; token-less (null/empty) documents emit none.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    df.select(col(idCol), explode(coalesce(
      graft.functions.WinnowFps64Expr.winnowFps64(
        Dedup.normText(col(textCol)), k, w),
      array().cast("array<bigint>"))).as("fp"))
  }

  /** PII patterns with IDENTICAL semantics under Java regex and RE2
    * (no alternation ambiguity, greedy character-class quantifiers
    * only; `\b`/`\d` are ASCII in both), so redaction is reproducible
    * across engines. Order matters — broad container shapes run before
    * the digit shapes they could contain (an email may embed SSN-shaped
    * digits) — and is part of the contract. Phone is E.164-ish
    * (+CC-NNN-NNN-NNNN); credit cards are the separated 4×4 form (a
    * bare 16-digit run or a Luhn check is not expressible without
    * alternation / procedural logic, so it is out of contract).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}\\b", "<PHONE>"),
    ("cc", "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b", "<CC>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** Redact common PII (emails, E.164-ish phones, separated credit
    * cards, IPv4 addresses, SSN-shaped ids) with typed placeholders —
    * the scrub pass an LLM corpus pipeline runs before training. Pure
    * projection (regexp_replace + regexp_count): zero shuffle, linear
    * at any corpus size. Emits `<textCol>_redacted` plus per-type
    * REPLACEMENT counts for audit: each `n_<type>` is counted on the
    * progressively-redacted intermediate (after all earlier patterns
    * have replaced), so digits consumed by an earlier pattern — an
    * SSN-shaped run inside a matched email — are never double-counted,
    * and Σ n_* is exactly the number of placeholders in the output.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val start: (Column, Seq[(String, Column)]) = (col(textCol), Nil)
    val (redacted, counts) = piiPatterns.foldLeft(start) {
      case ((c, cs), (name, pat, repl)) =>
        (regexp_replace(c, pat, repl), cs :+ (name -> regexp_count(c, lit(pat))))
    }
    counts.foldLeft(df) { case (d, (name, cnt)) =>
      d.withColumn(s"n_$name", cnt)
    }.withColumn(s"${textCol}_redacted", redacted)
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * winnowed fingerprint with a REFERENCE set (eval prompts, test
    * answers, held-out benchmarks) — the pass an LLM pipeline runs so
    * training data cannot leak evaluation content. Same detection
    * guarantee as [[winnowFingerprints]]: any shared run of
    * ≥ `w + k - 1` words is caught. Returns (idCol, n_shared) per
    * contaminated corpus document.
    *
    * Plan shape: both sides reduce to (id, fp) — one doc-id exchange
    * each — then a value-join on `fp`. The reference side (eval sets:
    * thousands of rows, not corpora) is spilled and an explicit
    * `broadcast()` hint is gated on its EXACT on-disk bytes (Catalyst's
    * pre-execution ESTIMATE of a post-window aggregate is exactly the
    * class of guess SCALE.md records flipping small-side joins to
    * corpus-wide shuffles), so the corpus never shuffles by `fp` while
    * the reference genuinely fits; an oversize reference falls back to
    * the shuffled semi-join. The corpus side aggregates by its own id
    * afterwards.
    */
  def contaminatedWith(df: DataFrame, textCol: String, idCol: String,
      reference: DataFrame, refTextCol: String, refIdCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val corpusFps = winnowFingerprints(df, textCol, idCol, k, w)
    val (ref, broadcastable) =
      referenceFpsHinted(df, reference, refTextCol, refIdCol, k, w)
    val probe =
      if (broadcastable) corpusFps else bloomPrefilter(corpusFps, ref)
    probe.join(ref, Seq("fp"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** The reference set reduced to its distinct fingerprints, spilled
    * and broadcast-hinted iff its EXACT on-disk bytes fit (the
    * engine's standard gate — see [[contaminatedWith]]'s plan notes);
    * the flag tells callers whether the broadcast engaged (false →
    * apply [[bloomPrefilter]] to the probe side before the shuffle).
    */
  private def referenceFpsHinted(session: DataFrame, reference: DataFrame,
      refTextCol: String, refIdCol: String, k: Int, w: Int): (DataFrame, Boolean) = {
    val (refFps, refBytes) = Spill.roundTripSized(
      winnowFingerprints(reference, refTextCol, refIdCol, k, w)
        .select(col("fp")).distinct())
    val bcLimit = Spill.broadcastLimit(session.sparkSession)
    if (refBytes <= bcLimit) (broadcast(refFps), true) else (refFps, false)
  }

  /** Semi-join reduction for an oversize reference: one pass over the
    * reference fingerprints builds a Bloom summary (collected once,
    * ≤16 MiB of bits, task-broadcast), and only probe rows that PASS
    * it enter the shuffled join — true matches plus an ~0.24 % false-
    * positive residue instead of the whole corpus fingerprint stream.
    * No false negatives, and the exact join still runs downstream, so
    * the answer is unchanged (spec-asserted against the broadcast
    * path).
    */
  private def bloomPrefilter(probeFps: DataFrame, refFps: DataFrame,
      fpCol: String = "fp"): DataFrame = {
    import graft.functions.BloomFilter
    val numHashes = 4
    val nKeys = refFps.count()
    val numBits = BloomFilter.sizeFor(nKeys)
    val bits = refFps
      .agg(BloomFilter.agg(numBits, numHashes)(col(fpCol)))
      .head().getSeq[Long](0).toArray
    val bc = probeFps.sparkSession.sparkContext.broadcast(bits)
    val member = udf((fp: Long) => BloomFilter.contains(bc.value, numHashes, fp))
    probeFps.where(member(col(fpCol)))
  }

  /** What [[decontaminate]] does with contaminated documents. */
  sealed trait DecontaminateAction
  object DecontaminateAction {
    /** Remove contaminated documents from the corpus. */
    case object Drop extends DecontaminateAction
    /** Keep every document, attach the audit columns. */
    case object Flag extends DecontaminateAction
  }

  /** Per-document contamination accounting against a reference set:
    * `n_fps` (the document's distinct winnowed fingerprints),
    * `n_shared` (how many also occur in the reference set),
    * `contamination_frac` = n_shared / n_fps — the auditable "how much
    * of this document is eval content" number a removal decision needs
    * (a full copy scores exactly 1.0; a disjoint document 0.0) — and
    * `contaminated` = frac > `maxSharedFraction`. Every corpus
    * document gets a row.
    *
    * Plan shape: the corpus reduces to (id, fp) — one doc-id exchange —
    * then a LEFT OUTER join against the broadcast-gated reference
    * fingerprints (the same exact-spilled-bytes gate as
    * [[contaminatedWith]]; an oversize reference falls back to the
    * shuffled join) feeds one aggregation by document id. Linear in
    * corpus size; the corpus never shuffles by `fp` while the
    * reference fits.
    */
  def decontaminationStats(df: DataFrame, textCol: String, idCol: String,
      reference: DataFrame, refTextCol: String, refIdCol: String,
      k: Int = 5, w: Int = 4, maxSharedFraction: Double = 0.0): DataFrame = {
    val corpusFps = winnowFingerprints(df, textCol, idCol, k, w)
    val (refHinted, broadcastable) =
      referenceFpsHinted(df, reference, refTextCol, refIdCol, k, w)
    val perDoc = if (broadcastable) {
      corpusFps
        .join(refHinted.withColumn("__hit", lit(1L)), Seq("fp"), "left_outer")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_fps"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_shared"))
    } else {
      // oversize reference: n_fps needs every corpus fingerprint but
      // n_shared only the true matches — count n_fps in a doc-id agg
      // (no fp shuffle), bloom-prefilter the fp join to matches + ε
      val nFps = corpusFps.groupBy(col(idCol)).agg(count(lit(1)).as("n_fps"))
      val shared = bloomPrefilter(corpusFps, refHinted)
        .join(refHinted, Seq("fp"), "left_semi")
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
      nFps.join(shared, Seq(idCol), "left_outer")
        .select(col(idCol), col("n_fps"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
    }
    // a document too short to emit any fingerprint (< k + w - 1 tokens)
    // shares nothing, but must still get a row — n_fps = 0, frac = 0.0,
    // contaminated = false — not vanish and resurface as nulls through
    // Flag mode's outer join
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contamination_frac",
        when(col("n_fps") === 0, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_fps")))
      .withColumn("contaminated", col("contamination_frac") > maxSharedFraction)
  }

  /** Benchmark decontamination as a pipeline step: `Drop` returns the
    * surviving corpus (contaminated documents removed via an anti-join
    * on the — typically tiny — contaminated id set, spilled and
    * broadcast-gated on exact bytes); `Flag` returns every row with
    * the [[decontaminationStats]] audit columns attached. Reference
    * contract: feathr-rs has no decontamination stage; this is graft's
    * LLM-pipeline extension over [[winnowFingerprints]].
    */
  def decontaminate(df: DataFrame, textCol: String, idCol: String,
      reference: DataFrame, refTextCol: String, refIdCol: String,
      k: Int = 5, w: Int = 4,
      action: DecontaminateAction = DecontaminateAction.Drop,
      maxSharedFraction: Double = 0.0): DataFrame = {
    val stats = decontaminationStats(df, textCol, idCol,
      reference, refTextCol, refIdCol, k, w, maxSharedFraction)
    action match {
      case DecontaminateAction.Flag =>
        df.join(stats, Seq(idCol), "left_outer")
      case DecontaminateAction.Drop =>
        val (bad, badBytes) = Spill.roundTripSized(
          stats.where(col("contaminated")).select(col(idCol)))
        val bcLimit = Spill.broadcastLimit(df.sparkSession)
        df.join(if (badBytes <= bcLimit) broadcast(bad) else bad,
          Seq(idCol), "left_anti")
    }
  }

  /** Documents sharing at least one winnowed fingerprint, as (id_a <
    * id_b, n_shared) pairs — chunk-level near-dup/contamination
    * candidates. Reuses the LSH bucket machinery: a fingerprint shared
    * by more than `spark.graft.lsh.maxBucket` documents is dropped
    * WHOLE ([[Dedup.capBuckets]] with `dropOverCap` — such a chunk is
    * boilerplate with no pair-level signal, and a boilerplate
    * fingerprint shared by 10⁵ docs must not emit 10¹⁰ pairs; a biased
    * keep-lowest-ids subset would instead silently evict high-id
    * members from the recall contract). Pairs come from the in-bucket
    * expansion, never a self-join.
    */
  def sharedChunkPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val fps = winnowFingerprints(df, textCol, idCol, k, w)
    val capped = Dedup.capBuckets(fps, Seq("fp"), idCol, dropOverCap = true)
    val ids = "__graft_ids"
    capped.groupBy(col("fp"))
      .agg(array_sort(collect_list(col(idCol))).as(ids))
      .where(size(col(ids)) >= 2)
      .select(explode(flatten(transform(col(ids), (x, i) =>
        transform(slice(col(ids), i + 2, size(col(ids))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus vocabulary by document frequency — the builder for
    * tokenizer vocabularies / derived stopword lists: terms appearing
    * in ≥ `minDf` documents, top `topK` by document frequency with the
    * term itself as tiebreak, so the cutoff set is deterministic under
    * ties. A term repeated within one document counts ONCE.
    *
    * Scale: (id, term) distinct + term count are token-keyed shuffles
    * of the exploded corpus (linear); the top-k executes as Spark's
    * distributed TakeOrderedAndProject (per-partition heaps, no global
    * sort materialization).
    */
  def buildVocab(df: DataFrame, textCol: String, idCol: String,
      minDf: Long = 2, topK: Int = 10000): DataFrame = {
    require(minDf >= 1 && topK >= 1, s"bad vocab bounds: $minDf/$topK")
    df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy(col("df").desc, col("term"))
      .limit(topK)
  }

  /** Lower-cased host parts of http(s) URL mentions. Alternation-free
    * greedy-char-class pattern (the [[piiPatterns]] Java ≡ RE2
    * discipline) so engines agree on every match.
    */
  val urlHostPattern: String = "https?://([a-z0-9.-]+)"

  /** All URL hosts mentioned in `text`, lower-cased, in order. */
  def urlDomains(text: Column): Column =
    regexp_extract_all(lower(text), lit(urlHostPattern), lit(1))

  /** The dot-suffix chain of a host — `cdn0.assets.net` →
    * `[cdn0.assets.net, assets.net, net]`. Blocklist matching joins
    * EQUI on these (bounded fan-out: one row per label, realistically
    * ≤5), which stays a hash join at any blocklist size — the naive
    * `host = d OR endswith(host, '.'||d)` predicate forces a
    * nested-loop join that only survives while the blocklist
    * broadcasts.
    */
  def domainSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels) - i + lit(1)), "."))
  }

  /** Per-document URL-blocklist audit (the C4/RefinedWeb URL-filter
    * shape): `n_urls` mentions, `n_blocked` of them matching the
    * blocklist exactly or as a dot-suffix (`assets.net` blocks
    * `cdn0.assets.net`). Blocklist is DATA (a `domain` column) — ship
    * the list, not code.
    *
    * Scale: URL extraction is a zero-shuffle projection; the suffix
    * expansion is a ≤labels-per-host fan-out; the blocklist side is
    * spilled (exact bytes) and broadcast under the configured gate,
    * falling back to a suffix-keyed hash shuffle join — linear either
    * way. One groupBy(doc) with map-side partial agg folds it back.
    */
  def domainBlocklistStats(df: DataFrame, textCol: String, idCol: String,
      blocklist: DataFrame, domainCol: String = "domain"): DataFrame = {
    val bcLimit = Spill.broadcastLimit(df.sparkSession)
    val (bl, blBytes) = Spill.roundTripSized(
      blocklist.select(col(domainCol).as("__bd")))
    val blH = if (blBytes <= bcLimit) broadcast(bl) else bl
    df.select(col(idCol),
        posexplode_outer(urlDomains(col(textCol))).as(Seq("__pos", "__d")))
      .select(col(idCol), col("__pos"), col("__d"),
        explode_outer(when(col("__d").isNotNull,
          domainSuffixes(col("__d")))).as("__sfx"))
      .join(blH, col("__sfx") === col("__bd"), "left_outer")
      // collapse the suffix fan-out: one row per URL INSTANCE, blocked
      // iff any suffix level matched
      .groupBy(col(idCol), col("__pos"), col("__d"))
      .agg((count(col("__bd")) > 0).as("__blocked"))
      .groupBy(col(idCol))
      .agg(count(col("__d")).as("n_urls"),
        sum(when(col("__blocked"), 1L).otherwise(0L)).as("n_blocked"))
  }

  /** Drop documents mentioning any blocklisted domain (exact or
    * dot-suffix match); documents with no URLs survive.
    */
  def dropBlockedDomains(df: DataFrame, textCol: String, idCol: String,
      blocklist: DataFrame, domainCol: String = "domain"): DataFrame = {
    val blocked = domainBlocklistStats(df, textCol, idCol, blocklist, domainCol)
      .where(col("n_blocked") > 0).select(col(idCol))
    df.join(blocked, Seq(idCol), "left_anti")
  }

  /** Corpus composition report — the "dataset card" numbers, grouped
    * by arbitrary dimension columns (lang, source, split, …): document
    * / token / char totals, exact-duplicate count (docs minus distinct
    * normalized fingerprints), empty-text count. All INTEGER columns —
    * engine-invariant by construction.
    *
    * Scale: one groupBy over the dimensions with map-side partial
    * aggregation; the `countDistinct` is Spark's standard two-phase
    * distinct-aggregate expansion. Nothing is collected.
    */
  def corpusReport(df: DataFrame, textCol: String,
      byCols: Seq[String]): DataFrame = {
    require(byCols.nonEmpty, "corpusReport needs at least one dimension")
    df.groupBy(byCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(approxTokenCount(col(textCol))), lit(0L)).as("n_tokens"),
      coalesce(sum(length(col(textCol))), lit(0L)).as("n_chars"),
      (count(lit(1)) - countDistinct(fingerprint(col(textCol)))).as("n_dup_docs"),
      sum(when(col(textCol).isNull || length(col(textCol)) === 0, 1L)
        .otherwise(0L)).as("n_empty"))
  }

  /** Token n-grams over a MATERIALIZED token-array column, as
    * space-joined strings; empty array when the document has fewer
    * than `n` tokens. (The `sequence` guard matters: Spark's
    * `sequence(1, 0)` DESCENDS instead of returning empty.)
    *
    * `w` must be a bound column (projected in a child), NOT an inline
    * `words(text)` expression: HOF lambdas are interpreted and get no
    * common-subexpression elimination, so an inline token array means
    * the whole normText regex chain re-runs per GRAM POSITION —
    * measured 8 s instead of 0.5 s to build 265k bigrams at sf0.1.
    * A multiply-referenced non-trivial alias is safe: CollapseProject
    * declines to inline it back.
    */
  private def ngramsOf(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - lit(n - 1)),
        i => array_join(slice(w, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The token-array projection [[ngramsOf]] expects: non-empty
    * normalized tokens of `textCol`. */
  private def tokArr(textCol: String): Column =
    filter(words(col(textCol)), t => t =!= lit(""))

  /** n-gram language-model table from a reference corpus: one row per
    * gram appearing ≥ `minCount` times (token-level occurrences, not
    * document frequency). This is the trained artifact the CCNet-style
    * coverage filter scores against — build it on the trusted slice,
    * score everything.
    *
    * Scale: gram explode is n× the token count, then ONE gram-keyed
    * shuffle for the count — linear in corpus tokens.
    */
  def buildNgramLm(df: DataFrame, textCol: String, n: Int = 2,
      minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 1, s"bad LM bounds: n=$n minCount=$minCount")
    df.select(tokArr(textCol).as("__w"))
      .select(explode(ngramsOf(col("__w"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("count"))
      .where(col("count") >= minCount)
  }

  /** CCNet-style LM coverage scoring, INTEGER-EXACT: per document, how
    * much of its n-gram stream the reference LM has seen — `n_grams`
    * (total grams), `n_matched` (grams present in the LM), `lm_hits`
    * (Σ LM counts of matched grams, occurrence-weighted). The usual
    * formulation scores mean log-probability (perplexity); these
    * integer sufficient statistics carry the same signal (a
    * gibberish/OCR-noise/wrong-language doc has low coverage) with
    * none of the cross-engine transcendental hazard — thresholds are
    * exact integer cross-multiplications (see [[filterByLmCoverage]]).
    *
    * Documents with fewer than `n` tokens emit `n_grams = 0` (and
    * survive — deciding on no evidence is the caller's policy knob).
    *
    * Scale posture: gram projection is zero-shuffle; the LM side is
    * vocabulary-sized (≪ corpus), spilled for its EXACT bytes and
    * broadcast under the configured gate so the corpus never shuffles
    * on gram — above the gate it falls back to a gram-keyed shuffle
    * join, still linear. One groupBy(id) with map-side partial agg.
    */
  def lmCoverage(df: DataFrame, textCol: String, idCol: String,
      lm: DataFrame, n: Int = 2, gramCol: String = "gram",
      countCol: String = "count"): DataFrame = {
    require(n >= 1, s"bad n: $n")
    val bcLimit = Spill.broadcastLimit(df.sparkSession)
    val (lmS, lmBytes) = Spill.roundTripSized(
      lm.select(col(gramCol).as("__gram"), col(countCol).as("__lmc")))
    val lmH = if (lmBytes <= bcLimit) broadcast(lmS) else lmS
    df.select(col(idCol), tokArr(textCol).as("__w"))
      .select(col(idCol), explode_outer(ngramsOf(col("__w"), n)).as("__gram"))
      .join(lmH, Seq("__gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(col("__gram")).as("n_grams"),
        count(col("__lmc")).as("n_matched"),
        coalesce(sum(col("__lmc")), lit(0L)).as("lm_hits"))
  }

  /** Keep documents whose LM coverage clears `minNum/minDen` (exact
    * integer cross-multiply — no float threshold). Zero-gram documents
    * are kept iff `keepEmpty`.
    */
  def filterByLmCoverage(df: DataFrame, textCol: String, idCol: String,
      lm: DataFrame, minNum: Long, minDen: Long, n: Int = 2,
      keepEmpty: Boolean = true): DataFrame = {
    require(minDen > 0 && minNum >= 0, s"bad threshold: $minNum/$minDen")
    // the threshold is vacuously true at n_grams = 0 (0 ≥ 0), so the
    // empty case must be split out and decided by keepEmpty alone
    val cov = lmCoverage(df, textCol, idCol, lm, n)
      .select(col(idCol),
        (col("n_grams") > 0 &&
          col("n_matched") * minDen >= col("n_grams") * minNum).as("__covered"),
        (col("n_grams") === 0).as("__empty"))
    val keep = cov.where(col("__covered") || (if (keepEmpty) col("__empty") else lit(false)))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Sliding-window span hashes of a NORMALIZED string: one 64-bit
    * hash per window of `n` whitespace tokens, computed by the
    * codegen'd Rabin-Karp rolling expression
    * ([[graft.functions.RollingSpanHash64Expr]] — O(tokens) total,
    * vs O(tokens·n) for the HOF `transform` + `xxhash64(array_join)`
    * formulation; measured on SCALE.md axis 13). The exploded stream
    * carries 8-byte longs, not n-token strings. EMPTY for documents
    * shorter than `n` tokens (null text included, via the coalesce).
    * 64-bit birthday bound: spurious hash equality needs ~2^32
    * distinct spans in one counting domain; shard the corpus before
    * that.
    */
  private def spanHashesOf(normStr: Column, n: Int): Column =
    coalesce(
      graft.functions.RollingSpanHash64Expr.spanHashes64(normStr, n),
      array().cast("array<bigint>"))

  /** Span-level exact-duplicate accounting — the repeated-substring
    * modality of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (2021): every sliding window of
    * `spanTokens` normalized tokens is a span; a span occurring in at
    * least `minDocFreq` DISTINCT documents is repeated (cross-doc
    * boilerplate), and every window of every document is scored
    * against the repeated set. Emits per-doc integer sufficient
    * statistics — `n_windows`, `n_repeated`, `has_repeat` — the
    * exact-window analogue of [[decontaminationStats]] (winnowing
    * SAMPLES fingerprints; this counts EVERY window). Documents
    * shorter than `spanTokens` tokens emit `n_windows = 0` and
    * `has_repeat = false`.
    *
    * Scale posture: the window stream (8-byte hashes, see
    * [[spanHashesOf]]) spills ONCE and feeds both consumers — the
    * doc-frequency count and the per-doc scoring — instead of
    * re-tokenizing the corpus per consumer (the BM25 discipline).
    * Doc frequency dedupes (id, hash) first so a span repeated WITHIN
    * one document is not counted as boilerplate; one hash-keyed
    * shuffle. The repeated set is spilled for its EXACT bytes and
    * broadcast under `spark.graft.dedup.broadcastCandidatesBytes`,
    * falling back to a shuffled join — linear in corpus tokens
    * either way.
    */
  def repeatedSpanStats(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 50, minDocFreq: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"bad spanTokens: $spanTokens")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val (spans, _) = Spill.roundTripSized(
      df.select(col(idCol),
        explode_outer(spanHashesOf(Dedup.normText(col(textCol)), spanTokens))
          .as("__h")))
    val repH = repeatedSpanSet(spans, idCol, minDocFreq)
    spans.join(repH, Seq("__h"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(col("__h")).as("n_windows"),
        count(col("__rep")).as("n_repeated"))
      .withColumn("has_repeat", col("n_repeated") > 0)
  }

  /** The cross-doc repeated span-hash set, broadcast-gated on exact
    * spilled bytes (shared by [[repeatedSpanStats]] and
    * [[dropRepeatedSpans]]). Input must carry (`idCol`, `__h`).
    */
  private def repeatedSpanSet(spans: DataFrame, idCol: String,
      minDocFreq: Int): DataFrame = {
    val rep0 = spans.where(col("__h").isNotNull)
      .select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocFreq)
      .select(col("__h"), lit(1L).as("__rep"))
    val bcLimit = Spill.broadcastLimit(spans.sparkSession)
    val (rep, repBytes) = Spill.roundTripSized(rep0)
    if (repBytes <= bcLimit) broadcast(rep) else rep
  }

  /** Remove every repeated span occurrence from every document (the
    * Lee et al. CUT policy — both copies lose the span; the document
    * survives with its remaining tokens): a token is dropped iff ANY
    * repeated window covers its position, survivors reassemble in
    * original order, single-space joined. Output is (`idCol`,
    * `textCol`) over the NORMALIZED token stream — span matching is
    * definitionally on normalized tokens, so the reassembly is too
    * (same contract as [[Dedup.dropRepeatedParagraphs]] reassembling
    * split paragraphs). A fully-covered document survives as an empty
    * string — dropping it is the caller's policy.
    *
    * Scale shape: all-relational (explode → anti-join → re-collect,
    * the dropRepeatedParagraphs idiom), no per-token membership scans:
    * covered positions come from exploding `sequence(p, p+span-1)` off
    * the (typically tiny) repeated-window position set, tokens
    * anti-join them on (id, pos), and one groupBy(id) reassembles.
    * Linear in corpus tokens; two id-keyed shuffles.
    */
  def dropRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 50, minDocFreq: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"bad spanTokens: $spanTokens")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val (toks, _) = Spill.roundTripSized(
      df.select(col(idCol), tokArr(textCol).as("__w")))
    // span hashes from the REJOINED token array (equivalent to the
    // normalized string — normText collapses whitespace), so the
    // spilled tokens feed both the hash pass and the reassembly and
    // window position k aligns with token position k
    val (spans, _) = Spill.roundTripSized(
      toks.select(col(idCol),
        posexplode_outer(spanHashesOf(array_join(col("__w"), " "), spanTokens))
          .as(Seq("__pos", "__h"))))
    val repH = repeatedSpanSet(spans, idCol, minDocFreq)
    val covered = spans.join(repH, Seq("__h"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(spanTokens - 1)))
          .as("__j"))
      .distinct()
    val kept = toks
      .select(col(idCol), posexplode(col("__w")).as(Seq("__j", "__t")))
      .join(covered, Seq(idCol, "__j"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__j"), col("__t")))),
          x => x.getField("__t")), " ").as(textCol))
    // fully-covered (and token-less) documents still get a row
    df.select(col(idCol)).join(kept, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Model-based quality scoring — the serving plumbing for an
    * EXPORTED linear text classifier (the fastText-style quality
    * filters of the big corpus pipelines): `score(doc) = bias +
    * Σ_token tf(token) · weight(token)`, with the weights table as
    * DATA (term, weight) — train anywhere, score here.
    *
    * Scale posture: tokenization is a zero-shuffle projection; the
    * weights side is vocabulary-sized (≪ corpus), spill-measured and
    * broadcast iff its EXACT bytes fit the configured gate, so the
    * corpus never shuffles on token — above the gate the join falls
    * back to a token-keyed shuffle, still linear. One groupBy(id) to
    * fold scores (map-side partial agg on the doc id).
    *
    * Float discipline: weights on a fixed decimal grid (e.g. 0.01
    * steps) keep tf-weighted sums grid-aligned, so a `round(score, 4)`
    * is cross-engine-safe (the established events.value convention).
    */
  def scoreLinear(df: DataFrame, textCol: String, idCol: String,
      weights: DataFrame, termCol: String = "term",
      weightCol: String = "weight", bias: Double = 0.0): DataFrame = {
    val bcLimit = Spill.broadcastLimit(df.sparkSession)
    val (wts, wBytes) = Spill.roundTripSized(
      weights.select(col(termCol).as("__term"), col(weightCol).as("__w")))
    val wHinted = if (wBytes <= bcLimit) broadcast(wts) else wts
    // left join: a document whose tokens all miss the vocabulary
    // scores `bias`, it does not disappear (docs with EMPTY text have
    // no token rows and do drop — score of nothing is not 0)
    df.select(col(idCol), explode(words(col(textCol))).as("__term"))
      .where(col("__term") =!= "") // split("") yields one empty token
      .join(wHinted, Seq("__term"), "left_outer")
      .groupBy(col(idCol))
      .agg((sum(coalesce(col("__w"), lit(0.0))) + bias).as("score"))
  }
}
