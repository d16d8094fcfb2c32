package graft.streaming

import graft.sources.{DataLocation, Internal, TimestampParser, TimeWindowParameters}
import graft.operators.{Materializer, OutputSink}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest (SURVEY.md §2.7): `readStream` → the same row-level
  * transforms as batch → `writeStream.foreachBatch` into any sink, with
  * the reference's run-for-`timeoutMs`-then-stop contract
  * (`RedisSink::with_timeout`, materialization.rs:30-54).
  */
object StreamingIngest {

  /** Open a streaming scan of a source location. Kafka maps to the
    * Kafka source (value decoded downstream); file locations map to the
    * file stream source (schema required).
    */
  def readStream(spark: SparkSession, loc: DataLocation,
      schema: Option[StructType] = None): DataFrame = loc match {
    case DataLocation.Kafka(brokers, topics, avroSchemaJson) =>
      val raw = spark.readStream.format(graft.sources.SourceResolver.kafkaFormat)
        .option("kafka.bootstrap.servers", brokers.mkString(","))
        .option("subscribe", topics.mkString(","))
        .load()
      // Avro value schema → typed struct, same decoder as batch
      if (avroSchemaJson.trim.isEmpty) raw
      else graft.sources.AvroCodec.decode(raw, "value", avroSchemaJson)
    case DataLocation.Hdfs(path, fmtOpt, opts) =>
      val fmt = fmtOpt.getOrElse(DataLocation.inferFormat(path))
      val r = spark.readStream.options(opts)
      schema.foreach(r.schema)
      r.format(fmt).load(path)
    case other =>
      throw new IllegalArgumentException(s"not streamable: $other")
  }

  /** Event-time normalization, same grammar as batch (S7). */
  def withEventTime(df: DataFrame, tw: TimeWindowParameters): DataFrame =
    df.withColumn(Internal.SrcTs,
      TimestampParser.toTimestampColOf(df, tw.timestampColumn,
        tw.timestampColumnFormat))

  /** T2: watermarked sliding/tumbling window aggregation. */
  def windowedAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDuration: String, slide: Option[String], groupCols: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDuration, s)
      case None => window(col(tsCol), windowDuration)
    }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(win +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming exact dedup — the ingest-side re-delivery guard (at-
    * least-once sources deliver duplicates; an LLM ingest pipeline
    * must drop them before they enter the corpus). Uses
    * `dropDuplicatesWithinWatermark`: state is BOUNDED by the
    * watermark horizon, unlike streaming `dropDuplicates` whose state
    * grows with all-time distinct keys — the unbounded-growth hazard
    * at 100 TB ingest rates. A duplicate arriving later than
    * `watermarkDelay` after the original is NOT suppressed (the
    * standard contract: size the horizon to the source's re-delivery
    * window).
    */
  def dedupStream(df: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-side feature enrichment — the online-scoring shape: a
    * STREAMING observation left-joins batch-computed feature tables
    * (stream-static joins, which Structured Streaming executes
    * natively per micro-batch). Snapshot (J1) and passthrough (S5)
    * features reuse the exact batch planner, so stream and batch
    * enrichment cannot diverge. Time-aware features (as-of / SWA) need
    * the distinct-pair window machinery streams can't run — they are
    * rejected here with direction: materialize them to a snapshot
    * first (M2) and enrich from the snapshot.
    */
  def enrichStream(spark: SparkSession, project: graft.project.FeatureProject,
      stream: DataFrame, queries: Seq[graft.project.FeatureQuery]): DataFrame = {
    for {
      q <- queries
      f <- q.featureList
      (g, _) <- graft.operators.PointInTimeJoin.anchorOf(project, f)
    } require(g.source.timeWindow.isEmpty,
      s"enrichStream: feature $f is time-aware (as-of/SWA); materialize a " +
        "snapshot (Materializer.snapshot) and enrich from that instead")
    graft.operators.PointInTimeJoin.run(spark, project, stream, None, queries)
  }

  /** Stream-STREAM event-time interval join — the clickstream
    * attribution shape: each spine event (purchase) pairs with the
    * other stream's events (views) for the same key whose timestamp
    * falls in `[spineTs − lookbackSeconds, spineTs]` (inclusive both
    * ends, matching SQL BETWEEN). Both sides carry the same watermark
    * delay; Spark derives each side's state-eviction watermark from
    * the interval bounds in the join condition, so state is bounded by
    * `watermarkDelay + lookback` of event-time per key — NOT by stream
    * length — which is what makes the join runnable forever at ingest
    * scale. Inner joins emit as matches arrive; `leftOuter` emits the
    * unmatched-spine row only once the watermark passes the spine
    * event (the null side is known complete then).
    *
    * Column names must be disjoint across the two inputs (rename the
    * event side before calling) — the condition references both
    * unambiguously.
    */
  def intervalJoin(spine: DataFrame, events: DataFrame,
      joinKeys: Seq[(String, String)], spineTs: String, eventTs: String,
      lookbackSeconds: Long, watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    require(joinKeys.nonEmpty, "interval join needs at least one equi-key")
    val l = spine.withWatermark(spineTs, watermarkDelay)
    val r = events.withWatermark(eventTs, watermarkDelay)
    val keyCond = joinKeys.map { case (a, b) => col(a) === col(b) }
      .reduce(_ && _)
    val cond = keyCond &&
      col(eventTs) >= col(spineTs) - expr(s"INTERVAL $lookbackSeconds SECOND") &&
      col(eventTs) <= col(spineTs)
    l.join(r, cond, joinType)
  }

  /** Continuous keyed upsert into a [[graft.operators.MergeLog]] — the
    * streaming CDC-materialization shape: each micro-batch dedupes to
    * its latest row per key (by `orderCol` desc, remaining columns
    * desc as the deterministic tiebreak — the [[graft.operators.Upsert]]
    * discipline) and appends as version = batchId, O(batch) work per
    * batch with no base rewrite. Replayed batches overwrite their own
    * version partition, so at-least-once delivery cannot double-apply.
    *
    * Cross-batch arbitration is by batch id: the source must deliver
    * in `orderCol` order across batches (a CDC/changelog source's
    * contract). Within a batch, `orderCol` arbitrates.
    */
  def upsertStream(stream: DataFrame, dir: String, keyCols: Seq[String],
      orderCol: String, timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    val q = stream.writeStream.outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tie = batch.columns.toSeq
          .filterNot(keyCols.contains).filterNot(_ == orderCol)
          .map(col(_).desc)
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(orderCol).desc +: tie: _*)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        graft.operators.MergeLog.append(latest, dir, batchId, keyCols)
      }
      .start()
    q.awaitTermination(timeoutMs)
    if (q.isActive) q.stop()
    q
  }

  /** T1 × [[graft.operators.IncrementalSwa]]: continuous maintenance
    * of the additive window-aggregate state. Each micro-batch folds to
    * per-(key, bucket) partials and lands as version = batchId —
    * O(batch) work, replay-idempotent (a replayed batch overwrites its
    * own version), so at-least-once foreachBatch yields exactly-once
    * state. Because the state is ADDITIVE, the result is invariant to
    * how the source happens to split rows across micro-batches — late
    * or out-of-order arrivals need no watermark here; they are simply
    * partials in a later version. Compaction is an out-of-band
    * maintenance action (single writer per store: do not compact while
    * the stream runs — a replayed batch at or below the fold is
    * refused loudly).
    *
    * Crash-restart latency: each ingest runs under the store's
    * [[graft.operators.WriterLease]]. A restarted stream is a NEW
    * Spark application, so under the default (application-id) lease
    * owner a batch that died mid-ingest leaves a lease the successor
    * must wait out (`spark.graft.lease.ttlSeconds`). A streaming
    * deployment that wants immediate replay after a crash sets
    * `spark.graft.lease.owner` to a stable writer identity (e.g. the
    * checkpoint path) — same-owner leases reclaim without waiting,
    * under the one-live-writer-per-owner contract.
    */
  def swaStateStream(stream: DataFrame, dir: String,
      cfg: graft.operators.IncrementalSwa.Config, timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val q = stream.writeStream.outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.IncrementalSwa.ingest(batch, dir, cfg, batchId)
      }
      .start()
    q.awaitTermination(timeoutMs)
    if (q.isActive) q.stop()
    q
  }

  /** T1 × [[graft.operators.IncrementalMaterializer]]: continuous
    * O(batch) maintenance of DSL-defined window-aggregate features.
    * Each micro-batch refreshes every measure store at
    * version = batchId — the same replay-idempotent, split-invariant
    * contract as [[swaStateStream]], lifted to the feature-definition
    * surface. Snapshot/publish is the caller's (out-of-band, like
    * compaction).
    */
  def materializeStream(stream: DataFrame, root: String,
      features: Seq[graft.project.AnchorFeature], keyCols: Seq[String],
      tsCol: String, bucketUs: Long, timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow(),
      graftFeatures: Seq[graft.operators.IncrementalMaterializer.GraftFeature] =
        Nil): StreamingQuery = {
    require(features.nonEmpty || graftFeatures.nonEmpty,
      "no features to maintain")
    val q = stream.writeStream.outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one refresh of both surfaces at version batchId: a replayed
        // micro-batch re-presents the same delta to every store
        // (reference-enum and extension alike), so the stores'
        // version-rewrite tripwires see an idempotent write, not a
        // conflict
        graft.operators.IncrementalMaterializer.refresh(batch, root,
          features, keyCols, tsCol, bucketUs, batchId,
          graftFeatures = graftFeatures)
      }
      .start()
    q.awaitTermination(timeoutMs)
    if (q.isActive) q.stop()
    q
  }

  /** T1 × [[graft.operators.IncrementalBm25]]: continuous maintenance
    * of the retrieval index. Each micro-batch's documents land at
    * version = `versionBase` + batchId — [[AppendOnlyMeta]]'s
    * fingerprint makes an at-least-once replay idempotent and an
    * imposter batch loud, and `versionBase` keeps a bootstrap ingest's
    * versions out of the stream's batchId sequence (the
    * [[graft.operators.IncrementalCuration]] offset discipline). The
    * stream's doc ids must be assigned monotonically (e.g. from source
    * offsets) — the index's append-only contract. EMPTY micro-batches
    * are skipped (the meta guard refuses empty deltas by design; the
    * skipped batchId just leaves a version hole, which the store
    * allows).
    */
  def bm25IndexStream(stream: DataFrame, dir: String,
      cfg: graft.operators.IncrementalBm25.Config, versionBase: Long = 0L,
      timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    indexStream(stream, versionBase, timeoutMs, trigger)(
      graft.operators.IncrementalBm25.ingest(_, dir, cfg, _))

  /** The shared index-stream choreography: foreachBatch at
    * version = versionBase + batchId, EMPTY micro-batches skipped (the
    * meta guard refuses empty deltas by design; a skipped batchId is a
    * version hole, which the stores allow), run-for-timeout-then-stop.
    * One copy so the timeout/stop and empty-batch contracts cannot
    * drift between the index families.
    */
  private def indexStream(stream: DataFrame, versionBase: Long,
      timeoutMs: Long, trigger: Trigger)(
      ingest: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream.outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingest(batch, versionBase + batchId)
      }
      .start()
    q.awaitTermination(timeoutMs)
    if (q.isActive) q.stop()
    q
  }

  /** T1 × [[graft.operators.IncrementalHamming]]: continuous
    * maintenance of a 64-bit signature index. Each micro-batch's
    * signatures are INDEXED whole at version = `versionBase` + batchId
    * — the hamming store keeps every entrant by contract, so streaming
    * maintenance needs no per-batch decision; the strictly-ordered
    * admission verdicts are reconstructed exactly, at any time and any
    * version boundary, by [[graft.operators.IncrementalHamming
    * .admittedIds]] (a foreachBatch sink would discard the per-batch
    * loser frames anyway). Same monotone-id / replay / empty-batch
    * contract as [[bm25IndexStream]].
    */
  def hammingIndexStream(stream: DataFrame, dir: String,
      cfg: graft.operators.IncrementalHamming.Config,
      versionBase: Long = 0L, timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    indexStream(stream, versionBase, timeoutMs, trigger)(
      graft.operators.IncrementalHamming.ingest(_, dir, cfg, _))

  /** T1 × [[graft.operators.IncrementalIvfPq]]: continuous vector
    * ingest into the frozen-quantizer index (the FAISS add() contract —
    * the stream ASSIGNS and ENCODES against the build-time codebooks;
    * it never re-trains, so drift under distribution shift is answered
    * by a periodic out-of-band re-build, loudly, not by a stream
    * silently mutating the quantizers). Same versionBase / replay /
    * empty-batch contract as [[bm25IndexStream]]; the store must
    * already be [[graft.operators.IncrementalIvfPq.build]]-ed — a
    * stream cannot bootstrap an index that needs trained quantizers.
    */
  def ivfPqIndexStream(stream: DataFrame, root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      versionBase: Long = 0L, timeoutMs: Long = 120000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    indexStream(stream, versionBase, timeoutMs, trigger)(
      graft.operators.IncrementalIvfPq.ingest(_, root, idCol, vecCol, _))

  /** K4/T3: run a streaming query into a sink via `foreachBatch`, stop
    * after `timeoutMs` (or when the source is exhausted, whichever is
    * first). Micro-batches go through [[Materializer.writeBatch]] —
    * the batchId-keyed IDEMPOTENT write, so foreachBatch's
    * at-least-once replay of a failed batch cannot double-write the
    * sink (file sinks overwrite their own `__graft_batch_id`
    * partition; online sinks are replace-on-write per key).
    */
  def runWithTimeout(df: DataFrame, keyColumns: Seq[String],
      sinks: Seq[OutputSink], timeoutMs: Long,
      outputMode: String = "update",
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val q = df.writeStream
      .outputMode(outputMode)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materializer.writeBatch(batch, batchId, keyColumns, sinks)
      }
      .start()
    q.awaitTermination(timeoutMs)
    if (q.isActive) q.stop()
    q
  }
}
