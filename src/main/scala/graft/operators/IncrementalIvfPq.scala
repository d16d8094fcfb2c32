package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An incrementally-maintained IVF-PQ index — [[IvfPqIndex]]'s serving
  * shape over a vector corpus that GROWS (nightly embedding runs) and
  * FORGETS (GDPR) without rebuilding. The FAISS `add()` contract: the
  * quantizers (IVF centroids + PQ codebooks) are TRAINED ONCE at
  * [[build]] and frozen — new vectors are assigned to the nearest
  * existing cell and encoded against the existing codebooks
  * ([[IvfPqIndex.encodeAssign]], the build pass's exact arithmetic),
  * appended as one version partition per ingest. Queries are the
  * static index's one code path ([[IvfPqIndex.queryVectors]]): probe →
  * partition-pruned ADC → bounded exact rescore — `cell_id` remains a
  * partition column inside every version, so pruning survives
  * maintenance.
  *
  * Honest drift caveat: frozen quantizers quantize a DRIFTED
  * distribution progressively worse (recall decays as new vectors fall
  * between trained centroids) — the remedy is a periodic re-[[build]]
  * from the served corpus, exactly as FAISS re-trains. Compaction here
  * folds the version tail (codes stay valid — they were computed
  * against the frozen codebooks); it never re-trains silently.
  *
  * Lifecycle discipline shared with [[IncrementalBm25]]: append-only
  * monotone ids with a driver-side high-water meta (replay idempotent,
  * imposter deltas refused), [[queryAsOf]] version truncation with the
  * rebased-fold refusal, [[forgetVectors]] as one anti-join fold.
  */
object IncrementalIvfPq {
  import VersionLog.VCol

  // the versioned store lives BESIDE the static build's flat vectors/
  // dir, never at it: the writer lease is a file INSIDE the store dir,
  // and the static build's overwrite-mode vectors write (or the
  // rebuild reset) would otherwise delete the very lease the rebuild
  // holds
  private def vecDir(root: String) = s"$root/vstore"
  private def metaDir(root: String) = s"$root/hwm"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The quantizer layout generation `gen` was encoded under: a
    * [[rebuild]] installs retrained quantizers INSIDE its generation
    * dir (`gen=<g>/_quantizers/`), so the atomic pointer flip swaps
    * codes and quantizers together — a reader can never pair one
    * generation's codes with another's codebooks, which would score
    * garbage silently. A store never rebuilt falls back to the static
    * [[IvfPqIndex.build]] flat layout at `root`. Plain [[compact]] /
    * [[forgetVectors]] CARRY the quantizers into their new generation
    * (codes stay valid — folds move rows, they never re-encode).
    * Lock-free readers take `gen` from the one resolution their codes
    * come from; writers resolve it under the writer lease.
    */
  private def quantPath(spark: SparkSession, root: String,
      gen: Option[String]): String =
    gen.map(g => s"$g/_quantizers")
      .filter(p => fs(spark, p).exists(new Path(p))).getOrElse(root)

  /** The [[VersionLog.compactFold]] install hook that carries the
    * live generation's quantizers into the fold's new generation —
    * resolved INSIDE the publish callback (the pointer still names the
    * OLD generation there, and the whole fold runs under the writer
    * lease, so the copy source is stable).
    */
  private def carryQuantizers(spark: SparkSession, root: String)(
      gen: String): Unit =
    VersionLog.live(spark, vecDir(root)).path.foreach { live =>
      val f = fs(spark, root)
      val src = new Path(s"$live/_quantizers")
      if (f.exists(src))
        require(org.apache.hadoop.fs.FileUtil.copy(f, src, f,
            new Path(s"$gen/_quantizers"), /* deleteSource = */ false,
            spark.sparkContext.hadoopConfiguration),
          s"could not carry quantizers from $src into $gen")
    }

  /** Train the quantizers over `initial` (the [[IvfPqIndex.build]]
    * training pass, writing `centroids/`, `codebooks/`, `meta/` under
    * `root`) and install it as version 0. Re-building over an
    * EXISTING root is the documented drift remedy and is supported:
    * the whole reset — quantizer rewrite, versioned-store replacement,
    * stale high-water meta removal — runs inside the writer lease, so
    * a concurrent leased ingest either completes before the rebuild
    * or fails its own acquisition loudly; the initial vectors are
    * installed through [[Publish.publish]] (data fully written, THEN
    * the generation marker), so a crash mid-build leaves no committed
    * empty index for later ingests to silently extend.
    */
  def build(initial: DataFrame, root: String, nCells: Int, m: Int = 8,
      kCodes: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", kmeansIters: Int = 3, pqIters: Int = 5,
      trainSampleCap: Int = 1 << 16): Unit = {
    val spark = initial.sparkSession
    WriterLease.locked(spark, vecDir(root)) {
      val f = fs(spark, root)
      // the re-build reset: a previous lifetime's generations and
      // high-water rows are stale against the new quantizers. The
      // store dir itself survives (the held lease is a file inside
      // it) — only its non-lease children go
      val storeP = new Path(vecDir(root))
      if (f.exists(storeP))
        f.listStatus(storeP).foreach { s =>
          if (s.getPath.getName != "_writer_lease")
            f.delete(s.getPath, true)
        }
      AppendOnlyMeta.clear(spark, metaDir(root))
      val bounds = AppendOnlyMeta.boundsOf(initial, idCol,
        Seq(idCol, vecCol))
      // meta before the data install ([[VersionLog]]'s order): a crash
      // after the record leaves reserved ids and no committed
      // generation — loud (reads fail by name) and repaired by
      // re-running build, which clears the meta first. The reset has
      // no replay, so any build failure removes the record.
      AppendOnlyMeta.record(spark, metaDir(root), 0L, bounds)
      try {
        // the static build trains the quantizers and encodes the
        // initial corpus at $root/vectors; that flat dir becomes the
        // versioned store's version 0 by RENAME inside the publish
        // callback (parquet files are self-contained — re-encoding the
        // corpus a second time would double the build's dominant cost)
        IvfPqIndex.build(initial, root, nCells, m, kCodes, idCol, vecCol,
          kmeansIters, pqIters, trainSampleCap)
        Publish.publish(spark, vecDir(root)) { gen =>
          f.mkdirs(new Path(gen))
          require(f.rename(new Path(s"$root/vectors"),
              new Path(s"$gen/$VCol=0")),
            s"could not install the built vectors as version 0 at $root")
        }
      } catch { case t: Throwable =>
        AppendOnlyMeta.unrecord(spark, metaDir(root), 0L)
        throw t
      }
    }
  }

  /** Encode one vector delta against the frozen quantizers and append
    * it as `version` — O(delta) (the existing index is never
    * rescanned), `cell_id`-partitioned inside the version so query
    * pruning holds. Validation is [[AppendOnlyMeta]]'s shared guard:
    * monotone append-only ids, null-id refusal, strictly-increasing
    * versions, fingerprinted replay idempotence.
    */
  def ingest(delta: DataFrame, root: String, idCol: String = "vec_id",
      vecCol: String = "embedding", version: Long): Unit = {
    val spark = delta.sparkSession
    val missing = Seq(idCol, vecCol).filterNot(delta.columns.contains)
    require(missing.isEmpty, s"delta is missing columns $missing")
    VersionLog.append(spark, vecDir(root), version,
      Some(AppendOnlyMeta.Check(metaDir(root), delta, idCol,
        Seq(idCol, vecCol), "vector"))) { (live, _) =>
      // quantizers resolved INSIDE the lock: a concurrent rebuild could
      // flip the generation (and with it the quantizer epoch) between
      // an unlocked read and the encode
      val qp = quantPath(spark, root, live.path)
      IvfPqIndex.requireEncoding(spark, qp)
      gen => IvfPqIndex.encodeAssign(delta,
          spark.read.parquet(s"$qp/centroids"),
          IvfPqIndex.loadCodebooks(spark, qp), idCol, vecCol)
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$gen/$VCol=$version")
    }
  }

  /** Top-k over the maintained index — the static index's one query
    * path over the live generation.
    */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nProbe: Int, rescoreFactor: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    // the generation pointer is resolved ONCE: codes and quantizers
    // both derive from it, so a rebuild committing mid-query can never
    // pair this generation's codes with another's codebooks
    val live = VersionLog.live(spark, vecDir(root))
    IvfPqIndex.queryVectors(spark, quantPath(spark, root, live.path),
      live.state(spark),
      queries, k, nProbe, rescoreFactor, idCol, vecCol, qIdCol, qVecCol)
  }

  /** [[query]] as the index stood at `asOfVersion` — time travel with
    * the shared rebased-history refusal.
    */
  def queryAsOf(spark: SparkSession, root: String, queries: DataFrame,
      asOfVersion: Long, k: Int, nProbe: Int, rescoreFactor: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    // ONE pointer resolution for the fold check, the codes, and the
    // quantizers (see [[query]])
    val live = VersionLog.live(spark, vecDir(root))
    IvfPqIndex.queryVectors(spark, quantPath(spark, root, live.path),
      live.asOf(spark, asOfVersion),
      queries, k, nProbe, rescoreFactor, idCol, vecCol, qIdCol, qVecCol)
  }

  /** Fold the version tail into one `cell_id`-partitioned partition —
    * [[VersionLog.compactFold]]'s shared choreography (codes stay
    * valid: the quantizers are frozen, a fold moves rows, it never
    * re-encodes).
    */
  def compact(spark: SparkSession, root: String): Long =
    VersionLog.compactFold(spark, vecDir(root), identity,
      sortCol = "cell_id", partitionCols = Seq("cell_id"),
      install = carryQuantizers(spark, root))

  /** GDPR erasure: one anti-join fold removes the vectors — absent
    * from every later query; their ids stay burned for re-ingest.
    */
  def forgetVectors(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String = "vec_id"): Long = {
    val keys = ids.select(col(ids.columns.head).cast("long").as(idCol))
    VersionLog.compactFold(spark, vecDir(root),
      _.join(keys, Seq(idCol), "left_anti"),
      sortCol = "cell_id", partitionCols = Seq("cell_id"),
      install = carryQuantizers(spark, root))
  }

  /** The dashboard read for the vector store —
    * [[IncrementalSwa.describe]] at this index's state dir. */
  def describe(spark: SparkSession, root: String): IncrementalSwa.StoreInfo =
    IncrementalSwa.describe(spark, vecDir(root))

  /** One-call nightly maintenance ([[VersionLog.maintainStore]]):
    * fold when live versions exceed the threshold, gc superseded
    * generations. Quantizer drift is NOT a maintenance decision — a
    * [[rebuild]] re-scores history and is the operator's own call.
    * Returns whether a fold ran.
    */
  def maintain(spark: SparkSession, root: String,
      compactWhenVersionsExceed: Int = 8,
      gcKeepGenerations: Int = 2): Boolean =
    VersionLog.maintainStore(spark, vecDir(root),
      compactWhenVersionsExceed, gcKeepGenerations)(
      () => { compact(spark, root); () })

  /** The drift remedy as an API — the FAISS `train()`+`add()` retrain
    * cycle: re-train the quantizers over the CURRENT surviving corpus
    * (raw vectors ride in the store for exact rescore, so nothing is
    * lost to PQ), re-encode every survivor, and swap codes AND
    * quantizers atomically under one new [[Publish]] generation. The
    * frozen-quantizer recall decay this store documents is thereby
    * repaired on the operator's schedule — never silently.
    *
    * Shape (`nCells`/`m`/`kCodes`) defaults to the live quantizers' own
    * (the retrain-in-place posture); override to resize. History below
    * the rebuild is REBASED: the fold marker makes [[queryAsOf]] refuse
    * pre-rebuild versions with the shared rebased-history error
    * (pre-rebuild answers came from the OLD quantizers — replaying them
    * from re-encoded state would be a reproducibility lie). The
    * high-water id meta is UNTOUCHED: forgotten ids stay burned, and
    * the next [[ingest]] continues the version lineage above the fold.
    * Returns the new generation number.
    */
  def rebuild(spark: SparkSession, root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Option[Int] = None, m: Option[Int] = None,
      kCodes: Option[Int] = None, kmeansIters: Int = 3, pqIters: Int = 5,
      trainSampleCap: Int = 1 << 16): Long = {
    val staging = s"$root/_rebuild_q"
    val f = fs(spark, root)
    // training runs INSIDE the fold thunk (under the writer lease —
    // the survivors listing, the retrain, and the re-encode must all
    // pin one state); the staged quantizers are renamed into the new
    // generation by the install hook, so a crash anywhere leaves the
    // old generation (old codes + old quantizers) fully live
    VersionLog.compactFold(spark, vecDir(root),
      state => {
        val qpOld = quantPath(spark, root,
          VersionLog.live(spark, vecDir(root)).path)
        val oldCb = IvfPqIndex.loadCodebooks(spark, qpOld)
        val survivors = Spill.roundTrip(state.select(col(idCol), col(vecCol)))
        f.delete(new Path(staging), true)
        val q = IvfPqIndex.trainQuantizersTo(survivors, staging,
          nCells.getOrElse(
            spark.read.parquet(s"$qpOld/centroids").count().toInt),
          m.getOrElse(oldCb.length), kCodes.getOrElse(oldCb.head.length),
          idCol, vecCol, kmeansIters, pqIters, trainSampleCap)
        IvfPqIndex.encodeResiduals(q.residuals, q.cb, idCol, vecCol)
      },
      sortCol = "cell_id", partitionCols = Seq("cell_id"),
      install = gen => require(
        f.rename(new Path(staging), new Path(s"$gen/_quantizers")),
        s"could not install rebuilt quantizers into $gen"),
      // the re-encode changes what EVERY prior version's scores would
      // be (new quantizers) — fold into a fresh slot so queryAsOf
      // refuses all of them as rebased instead of silently answering
      // under quantizers those versions never had
      bumpVersion = true)
  }
}
