package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One stage of a corpus-curation funnel. The ADT is the declarative
  * mirror of the hand-composable operators in [[TextAnalysis]] /
  * [[Dedup]] / [[Sampling]] — configs are data (the feature-DSL
  * posture, SURVEY.md §1.1), so a pipeline can live in version
  * control, travel through the registry, and be rebuilt bit-for-bit.
  */
sealed trait CurationStage
object CurationStage {
  /** Gopher/C4 quality rules — keep documents passing every rule. */
  case class Quality(minWords: Int = 50, maxWords: Int = 100000,
      minStopwords: Int = 2) extends CurationStage
  /** Gopher repetition filter — keep documents with duplicate-n-gram
    * occurrence fraction ≤ `maxDupFraction`. */
  case class Repetition(n: Int = 2, maxDupFraction: Double = 0.2)
      extends CurationStage
  /** MinHash/LSH near-duplicate drop at the given Jaccard threshold.
    * `ordered = false` (default) keeps one doc per connected CLUSTER
    * (min id — [[Dedup.dropNearDuplicates]]); `ordered = true` drops a
    * doc iff ANY smaller-id entrant matches
    * ([[Dedup.dropNearDuplicatesOrdered]]) — the semantic an
    * incremental refresh can maintain exactly, so
    * [[IncrementalCuration]] requires it DECLARED rather than silently
    * reinterpreting the stage. The choice is config data: a pipeline's
    * meaning must not depend on which runner executes it.
    */
  case class NearDupDrop(threshold: Double = 0.8,
      ordered: Boolean = false) extends CurationStage
  /** Replace the text with its PII-redacted form. */
  case object PiiRedact extends CurationStage
  /** Drop documents sharing winnowed fingerprints with the run-time
    * reference set beyond `maxSharedFraction`. */
  case class Decontaminate(k: Int = 5, w: Int = 4,
      maxSharedFraction: Double = 0.0) extends CurationStage
  /** Excise paragraphs appearing verbatim in ≥ `minDocFreq` documents
    * (boilerplate); documents reduced to nothing drop. */
  case class ParagraphDedup(minDocFreq: Long, sep: String = "\n\n")
      extends CurationStage
  /** Drop documents mentioning a blocklisted domain (exact or
    * dot-suffix). The blocklist travels IN the config — a curation
    * run's exclusions are part of its provenance. */
  case class DomainBlock(domains: Seq[String]) extends CurationStage
  /** Keep documents whose bigram-LM coverage (trained on the run-time
    * reference corpus — the CCNet trusted-slice posture, shared with
    * Decontaminate's reference) clears `minNum/minDen`. */
  case class LmCoverage(n: Int = 2, minCount: Long = 2,
      minNum: Long = 1, minDen: Long = 2, keepEmpty: Boolean = true)
      extends CurationStage
  /** Keep the top `fraction` of documents by an integer score —
    * `by` ∈ {"tokens" (approx token count), "quality" (the heuristic
    * quality score's 1e-4 grid × 10⁴)}. Exact histogram cutoff under
    * the (score desc, id asc) total order, no global sort
    * ([[Sampling.topFractionByScore]]). */
  case class TopFraction(fraction: Double, by: String = "tokens")
      extends CurationStage {
    require(Seq("tokens", "quality").contains(by), s"unknown scorer: $by")
  }
  /** Deterministic hash downsample — keep `fraction` of documents. */
  case class Sample(fraction: Double, salt: String = "")
      extends CurationStage
  /** Token-weighted PPS downsample — keep each document with
    * p = min(1, tokens·num/den), tokens = the ceil(chars/4) proxy
    * shared with [[PackTokens]] ([[Sampling.sampleByHashWeighted]]'s
    * integer grid). */
  case class SampleWeighted(num: Long, den: Long, salt: String = "")
      extends CurationStage
  /** Resample to a target domain mixture (integer ratios; the scarcest
    * domain binds). `domainCol` must exist on the input corpus — the
    * runner threads it through every upstream stage. */
  case class Mix(domainCol: String, parts: Seq[(String, Long)],
      salt: String = "") extends CurationStage
  /** Deterministic epoch shuffle into `nShards` training shards —
    * must be the LAST stage (downstream drops would invalidate the
    * within-shard positions). */
  case class Shuffle(nShards: Int, salt: String = "")
      extends CurationStage
  /** Assign contiguous ~`budget`-token shard ids (`bin_id`) in id
    * order; tokens approximated as ceil(chars/4), matching
    * `approxTokenCount`'s ASCII heuristic. Keeps the corpus columns. */
  case class PackTokens(budget: Long) extends CurationStage
  /** Deterministic hash split — must be the LAST stage (its output is
    * the (id, split) assignment, not a corpus). */
  case class Split(splits: Seq[(String, Double)], salt: String = "")
      extends CurationStage
  /** Overlapping token-window chunking (retrieval/RAG export) — must
    * be the LAST stage (it replaces document identity with
    * (id, chunk_idx) rows). */
  case class Chunk(chunkTokens: Int = 128, overlapTokens: Int = 32)
      extends CurationStage
}

/** A declarative corpus-curation funnel: an ordered stage list over a
  * `(idCol, textCol)` corpus, with a JSON round-trip
  * ([[CurationPipeline.toJson]]/[[CurationPipeline.fromJson]]) and one
  * [[run]] that builds the same filtered-first / spill-once plan the
  * hand-composed funnel gate uses (q_corpus_curate rebuilds FROM this
  * config with its oracle hash unchanged):
  *  - pure-projection filters (Quality, PiiRedact) stay zero-shuffle
  *    and run wherever the author ordered them — cheap-first ordering
  *    is the author's choice and the config makes it explicit;
  *  - Repetition spills its surviving id set and broadcast-hints the
  *    semi-join iff the EXACT on-disk bytes fit
  *    (`spark.graft.dedup.broadcastCandidatesBytes` — Catalyst's
  *    estimate of a post-aggregate is the documented broadcast-cliff
  *    hazard, SCALE.md axis 4);
  *  - the corpus is spilled ONCE at the entry of the multi-scan
  *    NearDupDrop stage (signature scan, verification semi-join, final
  *    anti-join would each recompute the upstream funnel otherwise);
  *  - Decontaminate takes its reference corpus at run time (data, not
  *    config).
  */
case class CurationPipeline(textCol: String, idCol: String,
    stages: Seq[CurationStage]) {
  require(stages.nonEmpty, "a curation pipeline needs at least one stage")
  private def isTerminal(st: CurationStage): Boolean = st match {
    case _: CurationStage.Split | _: CurationStage.PackTokens |
         _: CurationStage.Shuffle | _: CurationStage.Chunk => true
    case _ => false
  }
  require(!stages.dropRight(1).exists(isTerminal),
    "Split/PackTokens/Shuffle must be the last stage: Split replaces " +
      "the corpus with the (id, split) assignment, and downstream " +
      "filters would invalidate bin_id / shard positions")

  import CurationStage._

  private def checkedInput(df: DataFrame,
      reference: Option[(DataFrame, String, String)]): DataFrame = {
    require(reference.isDefined ||
      !stages.exists(st => st.isInstanceOf[Decontaminate] ||
        st.isInstanceOf[LmCoverage]),
      "Decontaminate/LmCoverage stages need a run-time reference corpus")
    // columns threaded through the funnel: the corpus pair plus any
    // domain column a Mix stage will need downstream
    val keep = (Seq(idCol, textCol) ++
      stages.collect { case Mix(d, _, _) => d }).distinct
    keep.foreach(c => require(df.columns.contains(c),
      s"pipeline input is missing required column '$c'"))
    df.select(keep.map(col): _*)
  }

  /** Run the configured funnel. `reference` supplies the
    * (frame, textCol, idCol) for a [[CurationStage.Decontaminate]]
    * stage and is required iff one is configured.
    */
  def run(df: DataFrame,
      reference: Option[(DataFrame, String, String)] = None): DataFrame =
    stages.foldLeft(checkedInput(df, reference))(applyStage(_, _, reference))

  /** Per-document disposition audit — the "why is doc X not in the
    * corpus?" answer a 100-TB curation run must give WITHOUT a rerun.
    * Runs the same funnel as [[run]] but records, for every input
    * document, the FIRST stage that removed it. Returns
    * `(idCol, disposition)` with disposition `"kept"` or
    * `"<stageIdx>:<stageName>"` (indices disambiguate repeated stage
    * types; names match the JSON config, so the audit joins back to
    * the pipeline provenance).
    *
    * Cost shape: the funnel itself plus, per stage, one id-projection
    * spill and one id-only anti-join — ids are narrow, so the stages'
    * own corpus-sized work dominates. Each stage output is spilled
    * (lineage cut), so no stage's upstream is ever recomputed: audit
    * is O(funnel), not O(stages × funnel). Text-rewriting stages
    * (PiiRedact; ParagraphDedup excision short of emptiness) keep ids
    * and correctly audit as non-drops; identity-reshaping terminals
    * (Chunk) audit on distinct ids.
    */
  def audit(df: DataFrame,
      reference: Option[(DataFrame, String, String)] = None): DataFrame = {
    var cur = Spill.roundTrip(checkedInput(df, reference))
    val dropped = scala.collection.mutable.ListBuffer.empty[DataFrame]
    stages.zipWithIndex.foreach { case (st, i) =>
      val next = Spill.roundTrip(applyStage(cur, st, reference))
      // distinct on BOTH sides: the audit is a partition of the
      // input's distinct ids even if the caller's corpus carries
      // duplicate ids (which would otherwise inflate dropped counts
      // but not kept ones — an asymmetric lie in the report)
      dropped += cur.select(col(idCol)).distinct()
        .join(next.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        .withColumn("disposition",
          lit(s"$i:${CurationPipeline.stageName(st)}"))
      cur = next
    }
    val kept = cur.select(col(idCol)).distinct()
      .withColumn("disposition", lit("kept"))
    (dropped :+ kept).reduce(_ unionByName _)
  }

  /** True iff the stage is a pure per-document PREDICATE on the
    * unmodified (id, text): it drops rows, never rewrites them, and
    * its verdict for a document is independent of every other
    * document's presence. Exactly these stages commute, so
    * [[optimized]] may reorder them freely. Set-dependent stages
    * (NearDupDrop, TopFraction, Mix — their output depends on WHICH
    * other docs survive) and text-rewriting stages (PiiRedact,
    * ParagraphDedup) are fences the optimizer never crosses.
    */
  private def isPureFilter(st: CurationStage): Boolean = st match {
    case _: Quality | _: Repetition | _: DomainBlock | _: Sample |
         _: SampleWeighted => true
    // pure per-doc predicates too, GIVEN the fixed run-time reference
    // (the LM / fingerprint set is a constant of the run, so one
    // doc's verdict never depends on another doc's presence)
    case _: Decontaminate | _: LmCoverage => true
    case _ => false
  }

  /** Predicate-order optimization — the System-R filter-ordering rule
    * applied at the pipeline level, where Catalyst can't see it (each
    * stage is an opaque operator composition, not a conjunct it may
    * reorder): within every maximal contiguous run of commuting pure
    * filters (including the reference-dependent Decontaminate and
    * LmCoverage — their verdicts are per-doc against a constant of
    * the run), measure each stage's per-row cost and selectivity on a
    * deterministic hash-sample probe and sort by the classic rank
    * cost/(1 − selectivity) ascending — cheapest-most-selective
    * first, so expensive stages (Repetition's shuffle above all) see
    * the fewest rows. The authored order is still the author's
    * choice: this returns a NEW pipeline, result-identical by the
    * commuting property (spec- and oracle-gated), for the author to
    * adopt.
    *
    * Probe cost: one footer-count of the input, one spilled ~probeRows
    * sample, one sample-sized pass per reorderable stage — bounded by
    * config, independent of corpus size.
    */
  def optimized(df: DataFrame,
      reference: Option[(DataFrame, String, String)] = None,
      probeRows: Long = 20000L): CurationPipeline = {
    if (!stages.exists(isPureFilter)) return this
    val input = checkedInput(df, reference)
    val n = input.count()
    val frac = math.min(1.0, probeRows.toDouble / math.max(1L, n))
    val probe = Spill.roundTrip(
      Sampling.sampleByHash(input, idCol, frac, "optprobe"))
    val pn = math.max(1L, probe.count())
    def rank(st: CurationStage): Double = {
      val t0 = System.nanoTime()
      val kept = applyStage(probe, st, reference).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val sel = kept.toDouble / pn
      (sec / pn) / math.max(1e-9, 1.0 - sel)
    }
    val out = scala.collection.mutable.ListBuffer.empty[CurationStage]
    var i = 0
    while (i < stages.length) {
      if (isPureFilter(stages(i))) {
        val j = stages.indexWhere(st => !isPureFilter(st), i) match {
          case -1 => stages.length
          case k => k
        }
        val run = stages.slice(i, j)
        out ++= (if (run.length > 1) run.map(st => st -> rank(st))
          .sortBy(_._2).map(_._1)
        else run)
        i = j
      } else {
        out += stages(i); i += 1
      }
    }
    copy(stages = out.toSeq)
  }

  private def applyStage(cur: DataFrame, st: CurationStage,
      reference: Option[(DataFrame, String, String)]): DataFrame = {
    val extras = cur.columns.toSeq.filterNot(c => c == idCol || c == textCol)
    st match {
        case Quality(minW, maxW, minS) =>
          TextAnalysis.gopherRules(cur, textCol, minW, maxW, minS)
            .where(col("passes")).select(cur.columns.map(col): _*)
        case Repetition(n, maxDup) =>
          val (rep, repBytes) = Spill.roundTripSized(
            TextAnalysis.repetitionStats(cur, textCol, idCol, n, maxDup)
              .where(col("rule_repetition")).select(idCol))
          val hinted =
            if (repBytes <= Spill.broadcastLimit(cur.sparkSession)) broadcast(rep) else rep
          cur.join(hinted, Seq(idCol), "left_semi")
        case NearDupDrop(threshold, ordered) =>
          val spilled = Spill.roundTrip(cur)
          if (ordered)
            Dedup.dropNearDuplicatesOrdered(spilled, textCol, idCol, threshold)
          else
            Dedup.dropNearDuplicates(spilled, textCol, idCol, threshold)
        case PiiRedact =>
          TextAnalysis.redactPii(cur, textCol)
            .select(col(idCol) +: col(s"${textCol}_redacted").as(textCol) +:
              extras.map(col): _*)
        case Decontaminate(k, w, maxFrac) =>
          val (ref, refText, refId) = reference.get
          TextAnalysis.decontaminate(cur, textCol, idCol, ref, refText,
            refId, k, w, TextAnalysis.DecontaminateAction.Drop, maxFrac)
        case ParagraphDedup(minDocFreq, sep) =>
          // the paragraph pipeline reprojects to (id, cleaned text);
          // re-attach threaded columns by id (co-partitioned equi-join,
          // only paid when a downstream stage needs them)
          val cleaned =
            Dedup.dropRepeatedParagraphs(cur, textCol, idCol, minDocFreq, sep)
          if (extras.isEmpty) cleaned
          else cleaned.join(cur.select(idCol, extras: _*), Seq(idCol))
        case DomainBlock(domains) =>
          val bl = cur.sparkSession
            .createDataset(domains)(org.apache.spark.sql.Encoders.STRING)
            .toDF("domain")
          TextAnalysis.dropBlockedDomains(cur, textCol, idCol, bl)
        case LmCoverage(n, minCount, minNum, minDen, keepEmpty) =>
          val (ref, refText, _) = reference.get
          val lm = TextAnalysis.buildNgramLm(ref, refText, n, minCount)
          TextAnalysis.filterByLmCoverage(cur, textCol, idCol, lm,
            minNum, minDen, n, keepEmpty)
        case TopFraction(fraction, by) =>
          val score = by match {
            case "tokens" => TextAnalysis.approxTokenCount(col(textCol))
            case "quality" =>
              // quality lives on the 1e-4 grid; ×10⁴ + ½-floor lands
              // each value on its exact integer despite double ulps
              floor(TextAnalysis.qualityScore(col(textCol)) * 10000
                + lit(0.5)).cast("long")
          }
          Sampling.topFractionByScore(
            cur.withColumn("__tf_score", score), idCol, "__tf_score", fraction)
            .drop("__tf_score")
        case Sample(fraction, salt) =>
          Sampling.sampleByHash(cur, idCol, fraction, salt)
        case SampleWeighted(num, den, salt) =>
          Sampling.sampleByHashWeighted(
            cur.withColumn("__w", TextAnalysis.approxTokenCount(col(textCol))),
            idCol, "__w", num, den, salt).drop("__w")
        case Mix(domainCol, parts, salt) =>
          Sampling.resampleToMixture(cur, idCol, domainCol, parts, salt)
        case Shuffle(nShards, salt) =>
          Sampling.shuffleShards(cur, idCol, nShards, salt)
        case PackTokens(budget) =>
          Sampling.packByTokenBudget(
            cur.withColumn("__tok", ceil(length(col(textCol)) / 4.0).cast("long")),
            idCol, "__tok", budget).drop("__tok")
        case Split(splits, salt) =>
          Sampling.splitByHash(cur.select(idCol), idCol, splits, salt)
        case Chunk(ct, ot) =>
          TextAnalysis.chunkDocuments(cur, textCol, idCol, ct, ot)
    }
  }
}

object CurationPipeline {
  import CurationStage._

  private val mapper = new ObjectMapper()

  /** The stage's JSON config name — audit dispositions use these, so
    * an audit row joins straight back to the pipeline's provenance
    * record. Keep in lock-step with [[toJson]]/[[fromJson]].
    */
  def stageName(st: CurationStage): String = st match {
    case _: Quality => "quality"
    case _: Repetition => "repetition"
    case _: NearDupDrop => "near_dup_drop"
    case PiiRedact => "pii_redact"
    case _: Decontaminate => "decontaminate"
    case _: ParagraphDedup => "paragraph_dedup"
    case _: DomainBlock => "domain_block"
    case _: LmCoverage => "lm_coverage"
    case _: TopFraction => "top_fraction"
    case _: Sample => "sample"
    case _: SampleWeighted => "sample_weighted"
    case _: Mix => "mix"
    case _: Shuffle => "shuffle"
    case _: PackTokens => "pack_tokens"
    case _: Split => "split"
    case _: Chunk => "chunk"
  }

  def toJson(p: CurationPipeline): String = {
    val root = mapper.createObjectNode()
    root.put("text_col", p.textCol)
    root.put("id_col", p.idCol)
    val arr = root.putArray("stages")
    p.stages.foreach { st =>
      val n = arr.addObject()
      st match {
        case Quality(a, b, c) =>
          n.put("stage", "quality")
          n.put("min_words", a); n.put("max_words", b)
          n.put("min_stopwords", c)
        case Repetition(g, f) =>
          n.put("stage", "repetition")
          n.put("n", g); n.put("max_dup_fraction", f)
        case NearDupDrop(t, ordered) =>
          n.put("stage", "near_dup_drop"); n.put("threshold", t)
          n.put("ordered", ordered)
        case PiiRedact =>
          n.put("stage", "pii_redact")
        case Decontaminate(k, w, f) =>
          n.put("stage", "decontaminate")
          n.put("k", k); n.put("w", w); n.put("max_shared_fraction", f)
        case ParagraphDedup(minDf, sep) =>
          n.put("stage", "paragraph_dedup")
          n.put("min_doc_freq", minDf); n.put("sep", sep)
        case DomainBlock(domains) =>
          n.put("stage", "domain_block")
          val da = n.putArray("domains")
          domains.foreach(da.add)
        case LmCoverage(g, minCount, minNum, minDen, keepEmpty) =>
          n.put("stage", "lm_coverage")
          n.put("n", g); n.put("min_count", minCount)
          n.put("min_num", minNum); n.put("min_den", minDen)
          n.put("keep_empty", keepEmpty)
        case TopFraction(f, by) =>
          n.put("stage", "top_fraction")
          n.put("fraction", f); n.put("by", by)
        case Sample(f, salt) =>
          n.put("stage", "sample")
          n.put("fraction", f); n.put("salt", salt)
        case SampleWeighted(num, den, salt) =>
          n.put("stage", "sample_weighted")
          n.put("num", num); n.put("den", den); n.put("salt", salt)
        case Mix(domainCol, parts, salt) =>
          n.put("stage", "mix")
          n.put("domain_col", domainCol); n.put("salt", salt)
          val pa = n.putArray("parts")
          parts.foreach { case (d, p) =>
            val o = pa.addObject()
            o.put("domain", d); o.put("p", p)
          }
        case Shuffle(nShards, salt) =>
          n.put("stage", "shuffle")
          n.put("n_shards", nShards); n.put("salt", salt)
        case PackTokens(budget) =>
          n.put("stage", "pack_tokens"); n.put("budget", budget)
        case Split(splits, salt) =>
          n.put("stage", "split"); n.put("salt", salt)
          val sa = n.putArray("splits")
          splits.foreach { case (name, frac) =>
            val o = sa.addObject()
            o.put("name", name); o.put("fraction", frac)
          }
        case Chunk(ct, ot) =>
          n.put("stage", "chunk")
          n.put("chunk_tokens", ct); n.put("overlap_tokens", ot)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(s: String): CurationPipeline = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(s)
    val stages = root.get("stages").elements().asScala.map { n =>
      n.get("stage").asText() match {
        case "quality" => Quality(n.get("min_words").asInt,
          n.get("max_words").asInt, n.get("min_stopwords").asInt)
        case "repetition" => Repetition(n.get("n").asInt,
          n.get("max_dup_fraction").asDouble)
        case "near_dup_drop" => NearDupDrop(n.get("threshold").asDouble,
          // absent in pre-r11 configs -> the historical CC semantics
          Option(n.get("ordered")).exists(_.asBoolean))
        case "pii_redact" => PiiRedact
        case "decontaminate" => Decontaminate(n.get("k").asInt,
          n.get("w").asInt, n.get("max_shared_fraction").asDouble)
        case "paragraph_dedup" => ParagraphDedup(
          n.get("min_doc_freq").asLong, n.get("sep").asText)
        case "domain_block" => DomainBlock(
          n.get("domains").elements().asScala.map(_.asText()).toSeq)
        case "lm_coverage" => LmCoverage(n.get("n").asInt,
          n.get("min_count").asLong, n.get("min_num").asLong,
          n.get("min_den").asLong, n.get("keep_empty").asBoolean)
        case "top_fraction" => TopFraction(n.get("fraction").asDouble,
          n.get("by").asText)
        case "sample" => Sample(n.get("fraction").asDouble,
          n.get("salt").asText)
        case "sample_weighted" => SampleWeighted(n.get("num").asLong,
          n.get("den").asLong, n.get("salt").asText)
        case "mix" => Mix(n.get("domain_col").asText,
          n.get("parts").elements().asScala.map(o =>
            o.get("domain").asText -> o.get("p").asLong).toSeq,
          n.get("salt").asText)
        case "shuffle" => Shuffle(n.get("n_shards").asInt,
          n.get("salt").asText)
        case "pack_tokens" => PackTokens(n.get("budget").asLong)
        case "split" => Split(
          n.get("splits").elements().asScala.map(o =>
            o.get("name").asText -> o.get("fraction").asDouble).toSeq,
          n.get("salt").asText)
        case "chunk" => Chunk(n.get("chunk_tokens").asInt,
          n.get("overlap_tokens").asInt)
        case other =>
          throw new IllegalArgumentException(s"unknown curation stage: $other")
      }
    }.toSeq
    CurationPipeline(root.get("text_col").asText, root.get("id_col").asText,
      stages)
  }
}
