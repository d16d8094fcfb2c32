package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** The append-only ingest discipline shared by the maintained index
  * stores ([[IncrementalBm25]], [[IncrementalHamming]],
  * [[IncrementalIvfPq]], each through [[VersionLog.append]]): one
  * driver-side text row per version recording the delta's id bounds,
  * row count, and an order-independent content fingerprint. The guard
  * enforces, by name:
  *
  *   - NO NULL ids — a null id would bypass the monotone check
  *     (min/max ignore nulls) and be permanently unerasable (anti-join
  *     equality never matches null);
  *   - NEW versions are strictly above every recorded version — a
  *     version backfilled beneath the current max would pass a
  *     "strictly before me" high-water read and double-enter its
  *     documents;
  *   - monotone ids: the delta's min id exceeds every prior version's
  *     max;
  *   - REPLAYS re-present the same delta: bounds, count, AND the
  *     xxhash64 content fingerprint must match the recorded row — a
  *     same-id-range delta with different content is an imposter
  *     rewriting committed history, not a replay.
  *
  * The fingerprint is `bit_xor(xxhash64(id, content...))` — xor is
  * order- and partitioning-independent, and it rides the same single
  * aggregation job as the bounds.
  */
private[operators] object AppendOnlyMeta {

  case class Bounds(minId: Long, maxId: Long, rows: Long, fp: Long)

  /** One ingest's check: `delta`'s ids and its fingerprint over
    * `fpCols` ([[boundsOf]]) against the version rows under `dir`;
    * `what` names the store's entries in refusals.
    */
  final case class Check(dir: String, delta: DataFrame, idCol: String,
      fpCols: Seq[String], what: String) {
    /** The delta's bounds, and whether `version` is a replay
      * ([[AppendOnlyMeta.guard]]).
      */
    def guard(spark: SparkSession, version: Long): (Bounds, Boolean) = {
      val b = boundsOf(delta, idCol, fpCols)
      (b, AppendOnlyMeta.guard(spark, dir, version, b, what))
    }
  }

  /** One job over the delta: id bounds, row count, null-id count,
    * distinct-id count, and the content fingerprint over `fpCols` (the
    * id first, then whatever columns define the row's identity for
    * replay purposes — resolved through the Column API, so names that
    * need quoting — dots, spaces, hyphens — fingerprint exactly like
    * the rest of the store handles them). Refuses empty deltas, null
    * ids, and INTRA-delta
    * duplicate ids by name: the stores' statistics are additive per
    * document (df/N/avgdl, signature decisions, code rows), so an id
    * entering twice in one delta double-counts exactly like an id
    * re-presented across deltas — which the monotone check already
    * refuses; this closes the within-delta half (a join fan-out
    * upstream, or within-batch duplication from an at-least-once
    * source).
    */
  def boundsOf(delta: DataFrame, idCol: String,
      fpCols: Seq[String]): Bounds = {
    val id: Column = col(idCol)
    val r = delta.agg(
      min(id.cast("long")), max(id.cast("long")), count(lit(1)),
      count(when(id.isNull, 1)),
      coalesce(bit_xor(xxhash64(fpCols.map(col): _*)), lit(0L)),
      countDistinct(id)).head()
    require(r.getLong(2) > 0, "ingest called with an empty delta")
    require(r.getLong(3) == 0,
      s"delta holds ${r.getLong(3)} NULL ids — null ids bypass the " +
        "monotone append-only check and can never be erased by an " +
        "anti-join fold; assign real ids")
    require(r.getLong(5) == r.getLong(2),
      s"delta holds ${r.getLong(2) - r.getLong(5)} duplicate ids " +
        s"(${r.getLong(2)} rows over ${r.getLong(5)} distinct) — " +
        "per-document state is additive, so a doc entering twice in " +
        "one delta double-counts; dedup the delta upstream")
    Bounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))
  }

  def readAll(spark: SparkSession, dir: String): Seq[(Long, Bounds)] = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.collect {
      case s if s.isFile && s.getPath.getName.startsWith("v_") =>
        val in = f.open(s.getPath)
        val parts = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          .trim.split(':')
        finally in.close()
        (s.getPath.getName.stripPrefix("v_").toLong,
          Bounds(parts(0).toLong, parts(1).toLong, parts(2).toLong,
            parts(3).toLong))
    }
  }

  /** The guard — run INSIDE the writer lease, before the version
    * write. Returns whether `version` was ALREADY recorded (a replay),
    * which decides whether a failed write may [[unrecord]] it
    * ([[VersionLog]]'s meta-before-data order).
    */
  def guard(spark: SparkSession, dir: String, version: Long,
      b: Bounds, what: String): Boolean = {
    val meta = readAll(spark, dir)
    val recorded = meta.collectFirst { case (`version`, m) => m }
    if (recorded.isEmpty) {
      val maxVer = meta.map(_._1).foldLeft(Long.MinValue)(math.max)
      require(meta.isEmpty || version > maxVer,
        s"version $version is not above the latest recorded version " +
          s"$maxVer at $dir: versions are append-only — a version " +
          "backfilled beneath the max would double-enter its " +
          s"$what against high-water reads that only look below it")
    }
    val priorMax = meta.collect { case (v, m) if v < version => m.maxId }
      .foldLeft(Long.MinValue)(math.max)
    require(b.minId > priorMax,
      s"delta id ${b.minId} <= already-indexed max id $priorMax: the " +
        s"index is append-only over monotone ids (statistics are " +
        s"additive only when each $what enters once); assign fresh ids " +
        "above the high-water mark")
    recorded.foreach(m =>
      require(m == b,
        s"version $version at $dir was already written with a different " +
          s"delta (recorded ids [${m.minId}, ${m.maxId}] × ${m.rows} " +
          s"rows, fingerprint ${m.fp}; this delta [${b.minId}, " +
          s"${b.maxId}] × ${b.rows}, fingerprint ${b.fp}) — a replay " +
          "must re-present the same data; an imposter delta would " +
          "silently rewrite committed history"))
    recorded.isDefined
  }

  /** Compensation for a FAILED (non-crash) data write after a fresh
    * [[record]]: remove the version's meta row so a corrected delta
    * can claim the slot — run inside the same lease as the record.
    */
  def unrecord(spark: SparkSession, dir: String, version: Long): Unit = {
    val p = new Path(s"$dir/v_$version")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, false)
  }

  def record(spark: SparkSession, dir: String, version: Long,
      b: Bounds): Unit = {
    val p = new Path(s"$dir/v_$version")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(s"${b.minId}:${b.maxId}:${b.rows}:${b.fp}"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Remove every recorded version — the re-build reset, run inside
    * the caller's lease.
    */
  def clear(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
  }
}
